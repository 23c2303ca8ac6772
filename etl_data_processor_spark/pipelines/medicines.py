"""The reference pipeline, end-to-end, as one Spark job (golden test target).

Replicates every semantic stage of the reference's run_pipeline
(main.py:333-361) on a synthetic `medicines` fixture (FIXTURES.md §2),
with the network/LLM stages replaced by deterministic equivalents:

  scan cards          -> input DataFrame (url, card_text, heading, detail_text)
  A4  url normalize   -> conditional base-URL concat (main.py:114-118)
  A5  classify        -> first-match-wins regex w/ lookbehind (main.py:121-131)
  A12 filter          -> status IN (Anbefalet, Delvist anbefalet) (main.py:258-260);
                         unmatched rows (status NULL, main.py:127-133) drop too
  A7  split heading   -> (raw_drug_text, indication head) (main.py:147-156)
  A8  indication fb   -> coalesce with detail-text label (main.py:161-169)
  A9/A10 date         -> Danish month normalize, then d.m.yyyy fallback
                         (main.py:217-232, 246-256)
  A11 ATC code        -> regex token extract (main.py:234-244)
  A13+A14+A15 enrich  -> batch_enrich: distinct raw texts -> chunked stub
                         client -> left join back, miss => (raw_text, '')
                         (main.py:262-305)
  A16 project         -> display-name rename + fixed column order
                         (main.py:307-327)
  A17 sink            -> write_csv (main.py:329-331; BOM dropped)

Every stage is a Column expression or an Arrow-batched Python pass. Driven
from raw HTML (``cards_from_html``) the job has three Python passes: the
listing-page card extraction, the detail-page extraction and the enrichment.
Each runs once per job: batch_enrich caches its narrowed input, which both
the distinct keys and the join back read. The pipeline would run unchanged
over a 100 TB card dump.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from etl_data_processor_spark.ops import scalar as S
from etl_data_processor_spark.ops.enrich import batch_enrich

BASE_URL = "https://medicinraadet.dk"

OUTPUT_COLUMNS = [
    "Active Ingredient",
    "Trade Name",
    "ATC Code",
    "Decision Date",
    "Indication",
]

_ENRICH_SCHEMA = StructType(
    [
        StructField("raw_drug_text", StringType()),
        StructField("active_ingredient", StringType()),
        StructField("trade_name", StringType()),
    ]
)


def run_pipeline(cards: DataFrame, client_factory=None) -> DataFrame:
    """cards: (url, card_text, heading, detail_text) -> reference output
    schema (5 display-named string columns, nulls allowed).

    ``client_factory``: enrichment-client factory for A14/A15; defaults to
    the env-gated :func:`~..ops.enrich.resolve_enrich_client` seam (the
    deterministic stub unless ``ETL_LLM_GENERATE`` names a live SDK
    generate function — main.py:178-215 semantics), so the composed
    pipeline exercises the same factory path in tests and production."""
    from etl_data_processor_spark.ops.enrich import resolve_enrich_client

    if client_factory is None:
        client_factory = resolve_enrich_client(
            ["active_ingredient", "trade_name"]
        )
    # A4: absolutize relative urls
    df = cards.withColumn("url", S.conditional_concat(F.col("url"), BASE_URL))

    # A5: classify, first-match-wins incl. negative lookbehind
    df = df.withColumn(
        "status", S.classify_first_match(F.col("card_text"), S.DECISION_PATTERNS)
    )

    # A12: approved-only filter. It also drops the unmatched rows
    # (extract_decision_from_card returns None -> skipped), since isin(NULL)
    # is NULL; one filter evaluates the classifier chain once per card.
    df = df.filter(F.col("status").isin("Anbefalet", "Delvist anbefalet"))

    # A7: split heading on first separator -> (raw drug text, indication head)
    head, tail = S.split_first_separator(F.col("heading"))
    df = df.withColumn("raw_drug_text", head).withColumn("indication_head", tail)

    # A8: indication fallback chain — heading tail, else detail-text label
    label_ind = F.nullif(
        F.trim(F.regexp_extract(F.col("detail_text"), r"Anvendelse:\s*([^.]+)", 1)),
        F.lit(""),
    )
    df = df.withColumn(
        "indication", S.coalesce_chain(F.col("indication_head"), label_ind)
    )

    # A9 then A10: date normalization with fallback
    df = df.withColumn(
        "decision_date",
        F.coalesce(
            S.normalize_danish_date(F.col("detail_text")),
            S.fallback_date(F.col("detail_text")),
        ),
    )

    # A11: ATC code
    df = df.withColumn("atc_code", S.extract_atc_code(F.col("detail_text")))

    # A13+A14+A15: distinct -> chunked stub enrichment -> left join back with
    # the reference's miss defaults (active_ingredient=raw text, trade_name='').
    # batch_enrich caches its input, so pass only the columns the output uses.
    df = batch_enrich(
        df.select("raw_drug_text", "indication", "decision_date", "atc_code"),
        key_col="raw_drug_text",
        result_schema=_ENRICH_SCHEMA,
        client_factory=client_factory,
        chunk_size=200,
        defaults={
            "active_ingredient": F.col("raw_drug_text"),
            "trade_name": F.lit(""),
        },
    )

    # A16: display-name rename + fixed order (missing columns would backfill
    # as NULL literals — all five exist here)
    return df.select(
        F.col("active_ingredient").alias("Active Ingredient"),
        F.col("trade_name").alias("Trade Name"),
        F.col("atc_code").alias("ATC Code"),
        F.col("decision_date").alias("Decision Date"),
        F.col("indication").alias("Indication"),
    )


def synthetic_cards(spark, n: int = 40) -> DataFrame:
    """Deterministic medicines fixture (FIXTURES.md §2): exercises every
    branch — relative/absolute urls, all three statuses + no-match, all three
    separators + none, Danish dates / fallback dates / no date, ATC presence."""
    months = list(S.DANISH_MONTHS)
    rows = []
    for i in range(n):
        url = f"/anbefalinger/med-{i}" if i % 2 == 0 else f"https://ext.example/med-{i}"
        status_text = [
            f"Anbefalet af Medicinrådet sag {i}",
            f"Ikke anbefalet i sag {i}",
            f"Delvist anbefalet beslutning {i}",
            f"Under vurdering sag {i}",  # no match -> dropped
        ][i % 4]
        sep = [" - ", " – ", " — ", ""][i % 4]
        heading = (
            f"Drug{i}{sep}Behandling af tilstand {i}" if sep else f"Drug{i}"
        )
        detail_bits = []
        if i % 3 == 0:
            detail_bits.append(
                f"Godkendt den {1 + i % 28}. {months[i % 12]} {2020 + i % 5}"
            )
        elif i % 3 == 1:
            detail_bits.append(f"Beslutning {1 + i % 28}.{1 + i % 12}.{2020 + i % 5}")
        if i % 5 != 0:
            detail_bits.append(f"Kode A{i % 10}0BC{10 + i % 80:02d}")
        if not sep:
            detail_bits.append(f"Anvendelse: behandling af sygdom {i}.")
        rows.append((url, status_text, heading, " ".join(detail_bits)))
    return spark.createDataFrame(
        rows,
        "url string, card_text string, heading string, detail_text string",
    )


def synthetic_html_site(spark, n: int = 40):
    """Render the synthetic_cards fixture as RAW HTML — one listing page per
    8 cards (tier rotating through the 3-tier card-selector fallback,
    main.py:85-97) plus one detail page per card — so the pipeline can be
    driven from actual markup instead of pre-extracted columns.

    Listing hrefs carry the decision-link marker the reference's selector
    requires (main.py:90-92), alternating relative/absolute to keep both A4
    branches live; the href (pre-absolutization) is the listing<->detail
    join key, exactly as the reference fetches each card's url
    (main.py:266-270). Returns (listing_pages_df, detail_pages_df)."""
    cards = synthetic_cards(spark, n)
    i = F.regexp_extract("url", r"med-(\d+)$", 1).cast("long")
    href = F.when(
        i % 2 == 0, F.format_string("/anbefalinger-og-vejledninger/med-%d", i)
    ).otherwise(
        F.format_string("https://ext.example/anbefalinger-og-vejledninger/med-%d", i)
    )
    page = F.floor(i / 8)
    tier = (page % 3).cast("int")
    card_html = (
        F.when(
            tier == 0,
            F.format_string(
                '<div class="card"><a href="%s">Laes mere</a><p>%s</p></div>',
                href,
                F.col("card_text"),
            ),
        )
        .when(
            tier == 1,
            F.format_string(
                '<article><a href="%s">Laes mere</a><span>%s</span></article>',
                href,
                F.col("card_text"),
            ),
        )
        .otherwise(
            F.format_string('<p><a href="%s">%s</a></p>', href, F.col("card_text"))
        )
    )
    keyed = cards.select(
        i.alias("i"), page.alias("page"), href.alias("href"),
        card_html.alias("card_html"), "heading", "detail_text",
    )
    listing = keyed.groupBy("page").agg(
        F.concat(
            F.lit("<html><body>\n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "card_html"))),
                    lambda s: s["card_html"],
                ),
                "\n",
            ),
            F.lit("\n</body></html>"),
        ).alias("html")
    )
    details = keyed.select(
        F.col("href").alias("url"),
        F.format_string(
            '<html><body>\n<h1>%s</h1>\n<div class="detail">%s</div>\n</body></html>',
            F.col("heading"),
            F.col("detail_text"),
        ).alias("html"),
    )
    return listing, details


def cards_from_html(listing: DataFrame, details: DataFrame) -> DataFrame:
    """Raw HTML -> the (url, card_text, heading, detail_text) frame
    run_pipeline consumes: DOM card extraction over the listing pages
    (3-tier fallback, per-card skip), DOM detail extraction (h1 heading,
    full page text as the regex scope — the reference's soup.get_text()
    scope, main.py:241-256), joined on the card href."""
    from etl_data_processor_spark.ops import html as H

    extracted = H.extract_cards(listing, html_col="html")
    det = H.extract_details(details, html_col="html")
    return extracted.join(det, "url", "left").select(
        "url",
        "card_text",
        "heading",
        F.col("full_text").alias("detail_text"),
    )
