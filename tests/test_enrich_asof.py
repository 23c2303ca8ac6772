"""Tests for the batch-enrichment operator (B34) and as-of/range joins."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from etl_data_processor_spark.ops.asof import asof_join_backward, range_join
from etl_data_processor_spark.ops.enrich import batch_enrich

SCHEMA = StructType(
    [
        StructField("text", StringType()),
        StructField("active_ingredient", StringType()),
        StructField("trade_name", StringType()),
    ]
)


def test_batch_enrich_distinct_and_joinback(spark):
    """Distinct-before-expensive (A13): the client must see each distinct key
    once even when the fact side repeats it, and the input's upstream (here
    a row-counting mapInPandas) must run once per row for one action, though
    both the distinct keys and the join back read it."""
    sc = spark.sparkContext
    keys_seen = {t: sc.accumulator(0) for t in ("drug one", "drug two")}
    upstream_rows = sc.accumulator(0)

    rows = [(i, "drug one") if i % 2 == 0 else (i, "drug two") for i in range(10)]
    df = spark.createDataFrame(rows, ["row_id", "text"])

    def count_rows(batches):
        for pdf in batches:
            upstream_rows.add(len(pdf))
            yield pdf

    def factory():
        def client(texts):
            for t in texts:
                keys_seen[t].add(1)
            return {t: {"active_ingredient": t.split()[0].upper(), "trade_name": t.split()[1]} for t in texts}
        return client

    out = batch_enrich(
        df.mapInPandas(count_rows, df.schema), "text", SCHEMA, client_factory=factory
    ).collect()
    assert len(out) == 10
    by_text = {r.text: (r.active_ingredient, r.trade_name) for r in out}
    assert by_text["drug one"] == ("DRUG", "one")
    assert by_text["drug two"] == ("DRUG", "two")
    assert {t: a.value for t, a in keys_seen.items()} == {"drug one": 1, "drug two": 1}
    assert upstream_rows.value == 10


def test_batch_enrich_error_isolation_and_defaults(spark):
    """A failing chunk degrades to fallback rows (main.py:213-214 semantics),
    filled by the miss defaults (main.py:297-300)."""
    df = spark.createDataFrame([(1, "aaa bbb"), (2, "ccc ddd")], ["row_id", "text"])

    def factory():
        def client(texts):
            raise RuntimeError("enrichment service down")
        return client

    out = batch_enrich(
        df,
        "text",
        SCHEMA,
        client_factory=factory,
        defaults={
            "active_ingredient": F.col("text"),
            "trade_name": F.lit(""),
        },
    ).collect()
    by_text = {r.text: (r.active_ingredient, r.trade_name) for r in out}
    assert by_text == {"aaa bbb": ("aaa bbb", ""), "ccc ddd": ("ccc ddd", "")}


@pytest.mark.slow
def test_batch_enrich_chunking(spark):
    """Chunk size bounds each client call (A14, chunk loop main.py:188-193)."""
    sc = spark.sparkContext
    keys_seen = {f"text {i}": sc.accumulator(0) for i in range(10)}
    oversized_calls = sc.accumulator(0)

    df = spark.createDataFrame([(i, f"text {i}") for i in range(10)], ["row_id", "text"])

    def factory():
        def client(texts):
            oversized_calls.add(int(len(texts) > 3))
            for t in texts:
                keys_seen[t].add(1)
            return {t: {"active_ingredient": t.upper(), "trade_name": ""} for t in texts}
        return client

    out = batch_enrich(
        df.coalesce(1), "text", SCHEMA, client_factory=factory, chunk_size=3
    ).collect()
    assert len(out) == 10
    assert all(r.active_ingredient == r.text.upper() for r in out)
    assert oversized_calls.value == 0
    assert all(a.value == 1 for a in keys_seen.values())


def test_asof_backward_basic(spark):
    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "v", 150)],
        ["event_id", "user", "t"],
    )
    right = spark.createDataFrame(
        [(10, "u", 100, 1.0), (11, "u", 200, 2.0), (12, "w", 50, 9.0)],
        ["event_id", "user", "t", "value"],
    )
    out = asof_join_backward(
        left, right, key="user", ts="t", value_cols=["value"], tiebreak="event_id"
    ).collect()
    got = {r.event_id: r.value_asof for r in out}
    # t=100: right row at t=100 included (inclusive <=); t=205 -> t=200 row;
    # user v has no right rows -> NULL
    assert got == {1: 1.0, 2: 2.0, 3: None}


def test_asof_tie_largest_tiebreak_wins(spark):
    left = spark.createDataFrame([(1, "u", 100)], ["event_id", "user", "t"])
    right = spark.createDataFrame(
        [(10, "u", 100, 1.0), (11, "u", 100, 2.0)], ["event_id", "user", "t", "value"]
    )
    out = asof_join_backward(
        left, right, key="user", ts="t", value_cols=["value"], tiebreak="event_id"
    ).collect()
    assert out[0].value_asof == 2.0


def test_range_join_band(spark):
    left = spark.createDataFrame(
        [(1, "u", "2024-01-01 00:00:00")], ["id", "user", "t"]
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [
            (10, "u", "2024-01-01 00:10:00"),
            (11, "u", "2024-01-01 00:40:00"),
            (12, "v", "2024-01-01 00:05:00"),
        ],
        ["id", "user", "t"],
    ).withColumn("t", F.col("t").cast("timestamp"))
    out = range_join(
        left,
        right.select(F.col("id").alias("rid"), "user", F.col("t").alias("rt")),
        key="user",
        left_ts="t",
        right_ts="rt",
        lower="'0' SECOND",
        upper="'30' MINUTE",
    ).collect()
    assert [r.rid for r in out] == [10]


def test_asof_forward_basic_and_tie(spark):
    from etl_data_processor_spark.ops.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 205), (3, "v", 150)],
        ["event_id", "user", "t"],
    )
    right = spark.createDataFrame(
        [(10, "u", 100, 1.0), (11, "u", 300, 2.0), (12, "w", 500, 9.0)],
        ["event_id", "user", "t", "value"],
    )
    out = asof_join_forward(
        left, right, key="user", ts="t", value_cols=["value"], tiebreak="event_id"
    ).collect()
    got = {r.event_id: r.value_next for r in out}
    # t=100: same-ts right row included (inclusive >=); t=205 -> t=300 row;
    # user v has no right rows -> NULL
    assert got == {1: 1.0, 2: 2.0, 3: None}

    # among several right rows at one ts, the SMALLEST tiebreak wins
    ties = spark.createDataFrame(
        [(20, "u", 100, 5.0), (21, "u", 100, 6.0)], ["event_id", "user", "t", "value"]
    )
    out2 = asof_join_forward(
        left.filter(F.col("event_id") == 1),
        ties, key="user", ts="t", value_cols=["value"], tiebreak="event_id",
    ).collect()
    assert out2[0].value_next == 5.0


def test_asof_matched_row_null_value_stays_null(spark):
    """merge_asof parity: when the MATCHED right row has a NULL value
    column, the result is NULL — never an older row's value (which under
    tolerance could also be outside the window: ADVICE r3 medium)."""
    from etl_data_processor_spark.ops.asof import asof_join_forward

    left = spark.createDataFrame([(1, "u", 100)], ["event_id", "user", "t"])
    right = spark.createDataFrame(
        [(10, "u", 10, 7.0), (11, "u", 90, None)],
        "event_id long, user string, t long, value double",
    )
    out = asof_join_backward(
        left, right, key="user", ts="t", value_cols=["value"],
        tiebreak="event_id",
    ).collect()
    assert out[0].value_asof is None  # matched row (t=90) has NULL value

    # with tolerance=20: match at t=90 is in window but its value is NULL;
    # the t=10 value (7.0) is 90 units stale and must NOT leak through
    out_tol = asof_join_backward(
        left, right, key="user", ts="t", value_cols=["value"],
        tiebreak="event_id", tolerance=20,
    ).collect()
    assert out_tol[0].value_asof is None

    # forward mirror: earliest right row >= t has NULL value -> NULL
    fwd_right = spark.createDataFrame(
        [(20, "u", 110, None), (21, "u", 200, 3.0)],
        "event_id long, user string, t long, value double",
    )
    out_fwd = asof_join_forward(
        left, fwd_right, key="user", ts="t", value_cols=["value"],
        tiebreak="event_id",
    ).collect()
    assert out_fwd[0].value_next is None


def test_asof_nearest_matches_pandas(spark):
    """asof_join_nearest vs pandas merge_asof(direction='nearest') on a
    deterministic numeric-ts fixture with no exact-distance ties (the tie
    rule differs only there and is pinned separately below)."""
    import pandas as pd

    from etl_data_processor_spark.ops.asof import asof_join_nearest

    lrows = [(i, i % 3, float(7 * i % 100)) for i in range(40)]  # rid shared w/ right
    rrows = [(100 + j, j % 3, float((13 * j + 3) % 101), float(j)) for j in range(60)]
    left = spark.createDataFrame(lrows, "rid long, k long, t double")
    right = spark.createDataFrame(rrows, "rid long, k long, t double, v double")
    got = {
        r["rid"]: r["v_near"]
        for r in asof_join_nearest(
            left, right, key="k", ts="t", value_cols=["v"], tiebreak="rid"
        ).collect()
    }
    lp = pd.DataFrame(lrows, columns=["lid", "k", "t"]).sort_values("t")
    rp = pd.DataFrame(rrows, columns=["rid", "k", "t", "v"]).sort_values("t")
    exp = pd.merge_asof(lp, rp, on="t", by="k", direction="nearest")
    for _, row in exp.iterrows():
        assert got[row["lid"]] == (None if pd.isna(row["v"]) else row["v"]), row


def test_asof_nearest_tie_prefers_backward_and_tolerance(spark):
    from etl_data_processor_spark.ops.asof import asof_join_nearest

    left = spark.createDataFrame([(1, 0, 10.0)], "rid long, k long, t double")
    right = spark.createDataFrame(
        [(1, 0, 8.0, 100.0), (2, 0, 12.0, 200.0)],
        "rid long, k long, t double, v double",
    )
    out = asof_join_nearest(
        left, right, key="k", ts="t", value_cols=["v"], tiebreak="rid"
    ).collect()
    assert out[0]["v_near"] == 100.0  # equal distance -> backward
    out = asof_join_nearest(
        left, right, key="k", ts="t", value_cols=["v"], tiebreak="rid",
        tolerance=1.0,
    ).collect()
    assert out[0]["v_near"] is None  # both candidates outside tolerance
