"""Vectorised hash primitives shared by the Arrow passes of ``ops.text``
and ``ops.dedup``.

Tokens travel in one ragged form: a flat ``uint64`` array of UTF-32 code
points (``code_units``) plus an ``int64`` length per token, so a batch of
tokens is hashed by a handful of numpy calls whatever its alphabet.

Invariant: every hash value is exact mod 2^bits for every code point —
ASCII, BMP and astral alike. Products and sums wrap mod 2^64 in uint64
arithmetic; because 2^bits divides 2^64, masking the wrapped value to
``bits`` gives the exact mod-2^bits result (the Horner fold of the code
points that a Python ``ord(c)`` loop would compute).
"""

from __future__ import annotations

import functools

import numpy as np

# elements per chunk of a per-bit vote: (2^18, 64) uint64 lanes ~ 128 MB
_VOTE_CAP = 1 << 18


def code_units(strings: list) -> tuple:
    """``(units, lens)``: the UTF-32 code points of ``strings`` joined, as
    ``uint64``, and each string's length in code points (``int64``)."""
    lens = np.fromiter(map(len, strings), dtype=np.int64, count=len(strings))
    units = np.frombuffer(
        "".join(strings).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.uint64)
    return units, lens


def powers(base: int, n: int, bits: int) -> np.ndarray:
    """``[base^0, ..., base^(n-1)] mod 2^bits`` as ``uint64``. Built in
    Python ints: numpy warns on a wrapping scalar product."""
    mask = (1 << bits) - 1
    out, acc = [], 1
    for _ in range(n):
        out.append(acc)
        acc = (acc * base) & mask
    return np.array(out, dtype=np.uint64)


def segment_reduce(ufunc, values: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """``ufunc`` folded over consecutive runs of ``lens[i]`` rows of
    ``values``: one row per NON-EMPTY run, in order."""
    return ufunc.reduceat(values, (np.cumsum(lens) - lens)[lens > 0], axis=0)


def segment_poly_hash(
    units: np.ndarray, lens: np.ndarray, base: int, bits: int
) -> np.ndarray:
    """Per segment of ``lens`` units, the Horner fold ``h = h*base + u``
    mod 2^bits, evaluated as ``sum(u_j * base^(len-1-j))``; an empty
    segment hashes to 0."""
    out = np.zeros(len(lens), dtype=np.uint64)
    if len(units) == 0:
        return out
    exp = np.repeat(np.cumsum(lens) - 1, lens) - np.arange(len(units))
    contrib = units * powers(base, int(lens.max()), bits)[exp]
    out[lens > 0] = segment_reduce(np.add, contrib, lens)
    if bits < 64:
        out &= np.uint64((1 << bits) - 1)
    return out


def splitmix64(z: np.ndarray) -> np.ndarray:
    """The splitmix64 finaliser over a ``uint64`` array."""
    z = z ^ (z >> np.uint64(30))
    z = z * np.uint64(0xBF58476D1CE4E5B9)
    z = z ^ (z >> np.uint64(27))
    z = z * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def segments(lens: np.ndarray, cap: int):
    """Chunk consecutive segments so each chunk holds at most ``cap``
    elements (a longer segment is a chunk of its own). Yields
    ``(segs, elems)``: the chunk's slice of ``lens`` and of the flat
    element array."""
    ends = np.cumsum(lens)
    lo, n = 0, len(lens)
    while lo < n:
        first = int(ends[lo - 1]) if lo else 0
        hi = max(int(np.searchsorted(ends, first + cap, side="right")), lo + 1)
        yield slice(lo, hi), slice(first, int(ends[hi - 1]))
        lo = hi


def majority_bits(hashes: np.ndarray, seg_lens: np.ndarray, nbits: int) -> np.ndarray:
    """Per segment of ``seg_lens`` ``uint64`` hashes, the SimHash word:
    bit b (b < ``nbits``) is set iff more than half of the segment's
    hashes have bit b set. Ties and empty segments leave bits clear."""
    shifts = np.arange(nbits, dtype=np.uint64)
    out = np.zeros(len(seg_lens), dtype=np.uint64)
    for segs, elems in segments(seg_lens, _VOTE_CAP):
        ln = seg_lens[segs]
        bits = ((hashes[elems, None] >> shifts) & np.uint64(1)).astype(np.int32)
        ones = segment_reduce(np.add, bits, ln)
        win = 2 * ones.astype(np.int64) > ln[ln > 0, None]
        out[segs][ln > 0] = (win.astype(np.uint64) << shifts).sum(
            axis=1, dtype=np.uint64
        )
    return out


def map_batches(df, ddl: str, fn):
    """``df.mapInArrow`` where ``fn(batch)`` returns a dict of output
    columns; the Arrow schema is derived once, from ``ddl``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    schema = to_arrow_schema(DataType.fromDDL(ddl))

    def emit(batches):
        for batch in batches:
            yield pa.RecordBatch.from_pydict(fn(batch), schema=schema)

    return df.mapInArrow(emit, ddl)


@functools.cache
def pandas_udf(fn, ddl: str, *args):
    """The scalar pandas UDF ``col -> fn(col, *args)`` returning ``ddl``,
    built once per ``(fn, ddl, args)``. Built on first use: the return
    type is parsed against a live session."""
    from pyspark.sql.functions import pandas_udf as _pandas_udf

    def run(col):
        return fn(col, *args)

    return _pandas_udf(run, ddl)
