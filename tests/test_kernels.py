"""The hash-kernel primitives of ops/kernels.py against plain Python
folds. numpy only (no Spark session); any numpy warning fails a test."""

from __future__ import annotations

import random
import warnings

import numpy as np
import pytest

from etl_data_processor_spark.ops import kernels as K

FNV64 = 0x100000001B3


@pytest.fixture(autouse=True)
def _warnings_are_errors():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        yield


def _tokens():
    rnd = random.Random(7)
    alphabet = (
        "abcxyzABC019-_"  # ASCII
        "æøåÆØÅéïçñß"  # Latin-1 / BMP
        "лджΩ中文字東京한국"  # BMP beyond Latin-1
        "😀🎉𝔘𐍈"  # astral (above U+FFFF)
    )
    fixed = ["", "a", "Ærø", "中文", "😀", "a😀b", "z" * 40, "é" * 33]
    rand = [
        "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(0, 25)))
        for _ in range(2000)
    ]
    return fixed + rand


@pytest.mark.parametrize("bits", [32, 64])
@pytest.mark.parametrize("base", [31, 37, 1000003, FNV64])
def test_segment_poly_hash_matches_horner(base, bits):
    toks = _tokens()
    units, lens = K.code_units(toks)
    assert lens.tolist() == [len(t) for t in toks]
    got = K.segment_poly_hash(units, lens, base, bits).tolist()
    m = 1 << bits
    want = []
    for t in toks:
        h = 0
        for c in t:
            h = (h * base + ord(c)) % m
        want.append(h)
    assert got == want


def test_powers_and_empty_input():
    assert K.powers(FNV64, 70, 64).tolist() == [
        pow(FNV64, i, 1 << 64) for i in range(70)
    ]
    assert K.powers(31, 9, 32).tolist() == [pow(31, i, 1 << 32) for i in range(9)]
    units, lens = K.code_units([])
    assert K.segment_poly_hash(units, lens, 31, 32).tolist() == []
    units, lens = K.code_units(["", ""])
    assert K.segment_poly_hash(units, lens, 31, 32).tolist() == [0, 0]


def _py_vote(hs, nbits):
    sig = 0
    for b in range(nbits):
        ones = sum((h >> b) & 1 for h in hs)
        if 2 * ones > len(hs):
            sig |= 1 << b
    return sig


@pytest.mark.parametrize("nbits", [32, 64])
def test_majority_bits_matches_python_vote(nbits):
    rnd = random.Random(11)
    mask = (1 << nbits) - 1
    h = rnd.getrandbits(nbits)
    segs = [
        [],  # empty document: no bit set
        [h, h ^ mask],  # every bit ties: no bit set
        [h],
        [h, h, h ^ mask],
        [],
    ]
    segs += [
        [rnd.getrandbits(64) for _ in range(rnd.randrange(0, 12))]
        for _ in range(300)
    ]
    lens = np.array([len(s) for s in segs], dtype=np.int64)
    flat = np.array([x for s in segs for x in s], dtype=np.uint64)
    got = K.majority_bits(flat, lens, nbits).tolist()
    assert got == [_py_vote(s, nbits) for s in segs]
    assert got[0] == 0 and got[1] == 0 and got[2] == h


def test_segments_cover_in_order_within_cap():
    rnd = random.Random(3)
    lens = np.array(
        [rnd.choice([0, 0, 1, 3, 7, 20]) for _ in range(500)], dtype=np.int64
    )
    cap = 16
    ends = np.cumsum(lens)
    nxt_seg = nxt_elem = 0
    for segs, elems in K.segments(lens, cap):
        assert segs.start == nxt_seg and elems.start == nxt_elem
        assert elems.stop - elems.start == int(lens[segs].sum())
        assert elems.stop - elems.start <= cap or segs.stop - segs.start == 1
        nxt_seg, nxt_elem = segs.stop, elems.stop
    assert nxt_seg == len(lens) and nxt_elem == int(ends[-1])


def test_segment_reduce_skips_empty_runs():
    vals = np.array([[5], [3], [9], [1]], dtype=np.int64)
    lens = np.array([0, 2, 0, 1, 1, 0], dtype=np.int64)
    assert K.segment_reduce(np.minimum, vals, lens).ravel().tolist() == [3, 9, 1]
    assert K.segment_reduce(np.add, vals[:0], np.zeros(3, np.int64)).shape == (0, 1)
