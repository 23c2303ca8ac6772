"""Seeded input generators for the benchmark workloads.

Each generator takes only the seed and an output directory; every property
of the generated data (size, duplicate shares, skew, variant mix) is fixed
here, per workload. The same seed writes byte-identical parquet files.

The tables follow FIXTURES.md: documents carry sources ``src0``..``src19``
and ``n_chars = length(text)``; customer names end in a digit. The
medicines site is raw listing + detail HTML, and its planted ground truth
(the reference output rows) is returned alongside.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from etl_data_processor_spark.ops.scalar import DANISH_MONTHS

# Sizes are below fixture-like ones (sf0.1 has 5,000 documents and 15,000
# customers; a site of that scale, ~40,000 cards) so that a run holds more
# than one timed job; perfbench/README.md gives the reasons. A share that
# was not measured on the fixtures of FIXTURES.md is marked unverified: it
# was chosen so that the layer it feeds has work to do.

MEDICINES = {
    "cards": 3000,
    # every share below is unverified (the reference site's own mix is not
    # recorded in this repo)
    "cards_per_page": 8,
    # status text -> share of cards; the last one matches no pattern
    "status_mix": {
        "Anbefalet": 0.45,
        "Delvist anbefalet": 0.15,
        "Ikke anbefalet": 0.25,
        "Under vurdering": 0.15,
    },
    # heading separator -> share ("" = no separator, indication comes from
    # the detail page's Anvendelse label)
    "separators": {" - ": 0.4, " – ": 0.2, " — ": 0.2, "": 0.2},
    # approval date form -> share
    "dates": {"danish": 0.5, "numeric": 0.3, "none": 0.2},
    "atc_share": 0.8,
    # share of cards that reuse an earlier card's drug name (enrichment
    # deduplicates these before calling the client)
    "duplicate_name_share": 0.3,
    "relative_url_share": 0.5,
}

DOCUMENTS = {
    # the fixture has 500 at sf0.01 and 5,000 at sf0.1; its texts are
    # word soup of 44-577 characters (median ~300, ~50 words), with 8
    # exact duplicates in 5,000 and no planted near-duplicates, so every
    # share below is unverified
    "docs": 1000,
    "vocab": 200,  # uniform: unrelated docs share almost no word 3-shingle
    "words_median": 60,
    # share of docs that are near-copies (1-2 substituted words) of an
    # earlier training doc -> connected components in the dedup graph
    "near_dup_share": 0.15,
    # share of training docs (src4..src19) copied from a benchmark doc
    # (src0..src3) -> decontamination removes them
    "contaminated_share": 0.05,
    # low-entropy docs ("aa aa ...")
    "gibberish_share": 0.03,
    # share of docs 4x longer / 6x shorter than the median
    "long_tail_share": 0.03,
    "short_tail_share": 0.03,
}

CUSTOMER = {
    # the fixture has 15,000 at sf0.1; 4,000 keeps two jobs inside a run
    "rows": 4000,
    # names are Customer#<9-digit key> over keys 0..rows-1, as in the
    # fixture (sf0.1: keys 0..14999, every name distinct), so a name has as
    # many one- and two-digit spelling neighbours as there, and every seed
    # the same
    # share of rows that reuse one of `hot_names` names (skewed key
    # multiplicity: the linkage candidate count grows with its square).
    # Not from the fixture, whose names are all distinct; the share is
    # unverified
    "hot_row_share": 0.1,
    "hot_names": 15,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_LANGS = ["en", "es", "zh", "de", "fr"]
APPROVED = ("Anbefalet", "Delvist anbefalet")


def _pick(rng: random.Random, shares: dict):
    return rng.choices(list(shares), weights=list(shares.values()))[0]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{stream}:{seed}")


# ---------------------------------------------------------------- medicines

_SYL = ["ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pa", "ri",
        "sa", "te", "vo", "xa", "zo"]


def _word(rng: random.Random, n: int) -> str:
    return "".join(rng.choice(_SYL) for _ in range(n))


def medicines(seed: int, out_dir: str) -> list[tuple]:
    """Write ``listing.parquet`` (page, html) and ``details.parquet``
    (url, html); return the expected output rows of the medicines
    pipeline as 5-tuples of strings ('' for a missing value)."""
    p = MEDICINES
    rng = _rng(seed, "medicines")
    months = list(DANISH_MONTHS)
    names: list[str] = []
    cards, details, expected = [], [], []
    for i in range(p["cards"]):
        if names and rng.random() < p["duplicate_name_share"]:
            drug = rng.choice(names)
        else:
            drug = f"{_word(rng, 3).capitalize()} {_word(rng, 2).capitalize()}"
            names.append(drug)
        status = _pick(rng, p["status_mix"])
        card_text = f"{status} af Medicinraadet i sag {i}"
        href = f"/anbefalinger-og-vejledninger/med-{i}"
        if rng.random() >= p["relative_url_share"]:
            href = "https://ext.example" + href
        sep = _pick(rng, p["separators"])
        indication = f"Behandling af {_word(rng, 3)} {_word(rng, 2)}"
        heading = f"{drug}{sep}{indication}" if sep else drug
        bits = []
        form = _pick(rng, p["dates"])
        day, month, year = rng.randint(1, 28), rng.randint(1, 12), rng.randint(2015, 2025)
        date = ""
        if form == "danish":
            bits.append(f"Godkendt den {day}. {months[month - 1]} {year}.")
            date = f"{year}-{month:02d}-{day:02d}"
        elif form == "numeric":
            date = f"{day}.{month}.{year}"
            bits.append(f"Beslutning truffet {date}.")
        atc = ""
        if rng.random() < p["atc_share"]:
            atc = (f"{rng.choice('ABCDGHJLMNPRSV')}{rng.randint(0, 99):02d}"
                   f"{rng.choice('ABCDEFGHX')}{rng.choice('ABCDEFGHX')}"
                   f"{rng.randint(0, 99):02d}")
            bits.append(f"Kode {atc} registreret.")
        if not sep:
            bits.append(f"Anvendelse: {indication}.")
        cards.append((href, card_text))
        details.append((href, (
            f"<html><body>\n<h1>{heading}</h1>\n"
            f'<div class="detail">{" ".join(bits)}</div>\n</body></html>'
        )))
        if status in APPROVED:
            toks = drug.split()
            expected.append((toks[0].upper(), toks[1], atc, date, indication))
    per = p["cards_per_page"]
    pages = []
    for page in range(0, len(cards), per):
        tier = (page // per) % 3
        items = []
        for href, text in cards[page : page + per]:
            if tier == 0:
                items.append(f'<div class="card"><a href="{href}">Laes mere</a><p>{text}</p></div>')
            elif tier == 1:
                items.append(f'<article><a href="{href}">Laes mere</a><span>{text}</span></article>')
            else:
                items.append(f'<p><a href="{href}">{text}</a></p>')
        pages.append("<html><body>\n" + "\n".join(items) + "\n</body></html>")
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({"page": pa.array(range(len(pages)), pa.int64()),
                     "html": pages}), os.path.join(out_dir, "listing.parquet"))
    _write(pa.table({"url": [u for u, _ in details],
                     "html": [h for _, h in details]}),
           os.path.join(out_dir, "details.parquet"))
    return expected


# ---------------------------------------------------------------- documents

def documents(seed: int, out_dir: str) -> dict:
    """Write ``documents.parquet``; return the planted counts."""
    p = DOCUMENTS
    rng = _rng(seed, "documents")
    vocab = sorted({_word(rng, rng.randint(1, 3)) for _ in range(p["vocab"] * 2)})[: p["vocab"]]
    bench = {f"src{i}" for i in range(4)}
    rows: list[tuple] = []
    # originals only: near-copies are made of originals, never of copies,
    # so every cluster is a star (closure depth 1)
    by_group: dict[bool, list[str]] = {True: [], False: []}  # is bench -> texts
    planted = {"near_dup": 0, "contaminated": 0, "gibberish": 0}
    for doc_id in range(p["docs"]):
        source = f"src{doc_id % 20}"
        u = rng.random()
        n_words = p["words_median"] + rng.randint(-20, 20)
        if u < p["long_tail_share"]:
            n_words *= 4
        elif u < p["long_tail_share"] + p["short_tail_share"]:
            n_words = max(4, n_words // 6)
        r = rng.random()
        is_bench = source in bench
        copied = None
        if not is_bench and by_group[True] and r < p["contaminated_share"]:
            copied = words = _perturb(rng, rng.choice(by_group[True]).split(), vocab)
            planted["contaminated"] += 1
        elif (not is_bench and by_group[False]
              and r < p["contaminated_share"] + p["near_dup_share"]):
            copied = words = _perturb(rng, rng.choice(by_group[False]).split(), vocab)
            planted["near_dup"] += 1
        elif r > 1 - p["gibberish_share"]:
            words = [rng.choice(["a", "aa", "aaa"]) for _ in range(n_words)]
            planted["gibberish"] += 1
        else:
            words = rng.choices(vocab, k=n_words)
        text = " ".join(words)
        rows.append((doc_id, source, text))
        if copied is None:
            by_group[is_bench].append(text)
    os.makedirs(out_dir, exist_ok=True)
    texts = [t for _, _, t in rows]
    _write(pa.table({
        "doc_id": pa.array([d for d, _, _ in rows], pa.int64()),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in rows],
        "source": [s for _, s, _ in rows],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    return planted


def _perturb(rng: random.Random, words: list[str], vocab: list[str]) -> list[str]:
    """Near-copy: substitute 1-2 words, keeping word-3-shingle Jaccard high."""
    out = list(words)
    for _ in range(rng.randint(1, 2)):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


# ----------------------------------------------------------------- customer

def customer(seed: int, out_dir: str) -> dict:
    """Write ``customer.parquet`` with skewed name multiplicity; return
    the planted hot-name row count."""
    p = CUSTOMER
    rng = _rng(seed, "customer")
    n = p["rows"]
    hot = [rng.randrange(n) for _ in range(p["hot_names"])]
    names, hot_rows = [], 0
    for i in range(n):
        if rng.random() < p["hot_row_share"]:
            key = rng.choice(hot)
            hot_rows += 1
        else:
            key = i
        names.append(f"Customer#{key:09d}")
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": names,
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)], pa.int32()),
        "c_acctbal": pa.array([round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)], pa.float64()),
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n)],
    }), os.path.join(out_dir, "customer.parquet"))
    return {"hot_rows": hot_rows}
