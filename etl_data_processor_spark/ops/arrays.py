"""Array / map / JSON column operators + JVM-side vector math.

The reference touches semi-structured data twice: the LLM's map-of-structs
reply (main.py:200, 210-211, flattened at 291-296) and JSON chunk parsing
(main.py:210). The engine generalizes to first-class ARRAY/MAP/JSON columns;
embeddings (``array<float>``) get dot/cosine built from ``zip_with`` +
``aggregate`` so similarity math runs inside codegen, not Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def json_get(col: Column, field: str) -> Column:
    """Extract a scalar from a JSON string column (B30) — stays JVM-side."""
    return F.get_json_object(col, f"$.{field}")


def map_lookup(keys_values: dict, key: Column) -> Column:
    """Literal-map lookup (B29) — the reference's month map (main.py:29-42)
    as a broadcastable ``create_map`` expression."""
    m = F.create_map(*[F.lit(x) for kv in keys_values.items() for x in kv])
    return m[key]  # NULL for a missing key


# ---------------------------------------------------------------- vector math
# All pure Column expressions: at 100 TB these run in whole-stage codegen over
# the array values with zero Python/Arrow boundary.

def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0).cast("double"),
            lambda acc, x: acc + x,
        )
    )
