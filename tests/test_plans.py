"""Physical-plan audits: the scale-critical plan properties must hold.

These assertions pin the optimizer behavior the engine relies on at 100 TB:
filters reach the parquet scan, projections prune the read schema, small
dims broadcast, top-k avoids global sorts, aggregates are partial+final.
A regression here is a silent 100× cost at scale even though results stay
correct — so it's tested like correctness.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_data_processor_spark.flagship import flagship_q3
from etl_data_processor_spark.io import Catalog

QUERIES = entry_mod.queries()


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    plan = plan_of(QUERIES["q_filter_range"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1].split("\n")[0]


def test_column_pruning(spark, sf_dir):
    plan = plan_of(QUERIES["q_project_compute"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema
    # unused columns must not be read
    assert "l_returnflag" not in read_schema
    assert "l_shipdate" not in read_schema


def test_small_dims_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["q_join_broadcast"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    plan = plan_of(flagship_q3(spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # customer side is broadcast-small


def test_topk_plans_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["q_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    # a global Sort exchange must NOT appear
    assert "Sort [" not in plan or "TakeOrderedAndProject" in plan


def test_aggregate_is_partial_plus_final(spark, sf_dir):
    plan = plan_of(QUERIES["q_agg_group"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_whole_stage_codegen_active(spark, sf_dir):
    # codegen spans show as "*(n)" markers once AQE finalizes the plan,
    # so execute first and then read the final adaptive plan
    df = QUERIES["q_agg_group"](spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    plan = buf.getvalue()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_salted_join_and_agg(spark):
    from etl_data_processor_spark.ops.relational import (
        partial_then_final_agg,
        salted_join,
    )

    left = spark.createDataFrame(
        [(1, i) for i in range(100)] + [(2, 0)], ["k", "v"]
    )
    right = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "tag"])
    out = salted_join(left, right, "k")
    assert out.count() == 101
    agg = {r.k: (r.n, r.sum_v) for r in partial_then_final_agg(left, "k", "v").collect()}
    assert agg[1] == (100, sum(range(100)))
    assert agg[2] == (1, 0)


def test_tfidf_df_side_broadcasts(spark, sf_dir):
    """The document-frequency (vocabulary) side of TF-IDF must broadcast —
    at 100 TB the tf table is corpus-sized and must not shuffle for this
    join."""
    plan = plan_of(QUERIES["q_text_tfidf"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # per-doc top-k must plan WindowGroupLimit (per-partition rank heaps),
    # not a full window sort of every doc's terms
    assert "WindowGroupLimit" in plan


def test_sample_filter_is_pre_shuffle(spark, sf_dir):
    """Hash sampling must evaluate before the aggregation exchange (narrow
    filter in the scan stage), so the shuffle only carries sampled rows."""
    plan = plan_of(QUERIES["q_sample_hash"](spark, sf_dir))
    # printed tree is top-down: the filter must sit BELOW the exchange
    # (printed after it), in the same stage as the scan
    below_exchange = plan.split("Exchange", 1)[1]
    assert "Filter" in below_exchange and "Scan parquet" in below_exchange


def test_corpus_curation_single_dedup_shuffle(spark, sf_dir):
    """The curation pipeline shuffles once for the dedup window and once for
    the final aggregate — quality scoring and split labels must stay narrow
    (no extra exchanges)."""
    import re

    plan = plan_of(QUERIES["q_corpus_curation"](spark, sf_dir))
    # formatted output lists each node twice (tree + details); count the
    # detail headers "(n) Exchange" for the true exchange count
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges <= 2


def test_tpch_q10_take_ordered_and_dims_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["q_tpch_q10"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # both scan-level predicates reach parquet
    assert "PushedFilters" in plan and "l_returnflag" in plan


def test_tpch_q5_pushes_date_filter(spark, sf_dir):
    plan = plan_of(QUERIES["q_tpch_q5"](spark, sf_dir))
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in p for p in pushed)
    assert "BroadcastHashJoin" in plan


def test_sessionize_single_exchange(spark, sf_dir):
    """Both sessionization windows AND the per-session aggregate must reuse
    one hash partition on user_id (HashPartitioning(user) satisfies the
    (user, session_seq) clustered distribution) — one exchange total."""
    import re

    plan = plan_of(QUERIES["q_sessionize"](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 2


def test_dedup_signature_stages_are_narrow(spark, sf_dir):
    """MinHash and SimHash signatures are nested higher-order expressions
    over per-doc arrays: no aggregate and no exchange beyond the explicit
    parallelism repartition — at 100 TB signature computation stays
    embarrassingly parallel and the only dedup shuffle is the bucket join."""
    import re

    from etl_data_processor_spark.ops import dedup as D

    # The audit pins the COLD plan. A prior dedup query in the same session
    # leaves its shingle/signature DataFrames cached, and Spark substitutes a
    # matching cached subplan as InMemoryTableScan — whose stored plan (own
    # Exchange included) is printed by explain("formatted"), skewing counts.
    spark.catalog.clearCache()

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for sig_df in (D.minhash_signatures(docs), D.simhash_signatures(docs)):
        plan = plan_of(sig_df)
        assert "HashAggregate" not in plan and "ObjectHashAggregate" not in plan
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1


def test_parallelize_is_noop_for_wide_inputs(spark, sf_dir):
    """VERDICT r2 finding 1: `_parallelize` must NOT insert a
    RoundRobinPartitioning exchange when the input already has >=
    defaultParallelism partitions — at 100 TB that would be a full shuffle
    of the raw text corpus before a narrow signature stage. The guard
    returns the frame untouched (identity), so the signature plan carries
    only the input's own exchange, never an extra one."""
    import re

    from etl_data_processor_spark.ops import dedup as D

    spark.catalog.clearCache()
    parallelism = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # Wide input: guard triggers, identity return — no added exchange.
    wide = docs.select("doc_id", "text").repartition(parallelism + 4)
    assert D._parallelize(wide) is wide
    plan = plan_of(D.minhash_signatures(wide))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1  # input's own

    # Narrow input (small parquet arrives as few partitions): widened once.
    narrow = docs.select("doc_id", "text").coalesce(1)
    widened = D._parallelize(narrow)
    assert widened is not narrow
    assert widened.rdd.getNumPartitions() == parallelism


def test_tpch_q6_predicates_all_push_to_scan(spark, sf_dir):
    """Q6 is the pushdown litmus test: the shipdate range (written over
    CAST(ts AS DATE), which Catalyst rewrites into a pushable timestamp
    range), both discount bounds, and the quantity bound must ALL reach the
    parquet scan — at 100 TB these prune row groups before any CPU work."""
    plan = plan_of(QUERIES["q_tpch_q6"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    assert "Join" not in plan


def test_tpch_ratio_queries_broadcast_all_dims(spark, sf_dir):
    """Q7/Q8: every dimension side (supplier, nation x2, region, filtered
    part) must broadcast — no nested-loop join, no global sort, and the only
    shuffles left are fact-fact joins and the final aggregate."""
    import re

    for name in ("q_tpch_q7", "q_tpch_q8"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
        assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 5
        assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 0


def test_tpch_q15_caches_rev_instead_of_rescanning(spark, sf_dir):
    """Q15's rev table feeds two consumers and ReuseExchange does not fire
    across them; the operator caches the post-aggregation (supplier-sized)
    rev so the fact table is scanned once. The audit pins: exactly one
    lineitem parquet scan in the plan, and no single-partition global
    Window/Sort for the max."""
    import re

    spark.catalog.clearCache()  # cold plan: prior runs leave rev cached
    plan = plan_of(QUERIES["q_tpch_q15"](spark, sf_dir))
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 0


def test_tpch_q18_single_exchange_semi_shape(spark, sf_dir):
    """Q18 rewrite: the grouped quantity sums are computed once (one
    orderkey exchange) and joined — no second lineitem pass for the IN
    subquery, no sort."""
    import re

    plan = plan_of(QUERIES["q_tpch_q18"](spark, sf_dir))
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2


def test_tpch_q19_disjunction_stays_hash_join(spark, sf_dir):
    """Q19's OR-of-ANDs references both join sides, but the common partkey
    equi-key must still be extracted into a HASH join with the disjunction
    as a post-join filter — degenerating into BroadcastNestedLoopJoin here
    is the classic optimizer failure this shape exists to catch."""
    plan = plan_of(QUERIES["q_tpch_q19"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan


def test_tpch_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """Q22: the NOT EXISTS must plan as a (hash) anti join, and the scalar
    average must arrive via a broadcast of one aggregated row — no
    per-row subquery, no nested loop against orders."""
    plan = plan_of(QUERIES["q_tpch_q22"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_ts_rollup_cascade_exchanges_shrink(spark, sf_dir):
    """The cascade is exactly three aggregations (minute/hour/day), each
    with partial+final hash agg so every exchange after the first carries
    rollup-sized data, and nothing collapses into a single-partition plan."""
    import re

    plan = plan_of(QUERIES["q_ts_rollup_cascade"](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 3
    assert "SinglePartition" not in plan
    assert plan.count("HashAggregate") >= 6  # 3 levels x (partial + final)


def test_tpch_q2_decorrelated_min_single_fact_scan(spark, sf_dir):
    """Q2's correlated-MIN decorrelation: cost and its per-part min both
    derive from ONE (partkey, suppkey) aggregate, so lineitem is scanned
    once per branch of the self-join — two scans max, never the naive
    three-plus — and every dimension side broadcasts (no nested loop)."""
    import re

    plan = plan_of(QUERIES["q_tpch_q2"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    assert len(re.findall(r"lineitem\.parquet", plan)) <= 2
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 2


def test_tpch_q4_exists_plans_as_semi_join(spark, sf_dir):
    """Q4's correlated EXISTS must plan as a LEFT SEMI join (one probe per
    order, no dedup aggregate), with the quarter filter pushed into the
    orders scan below the join."""
    plan = plan_of(QUERIES["q_tpch_q4"](spark, sf_dir))
    assert "LeftSemi" in plan
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("o_orderdate" in p for p in pushed)


def test_tpch_q9_dims_broadcast_one_fact_shuffle_join(spark, sf_dir):
    """Q9: part/supplier/nation broadcast; the only shuffle joins are
    fact-fact (lineitem-orders on orderkey). Each fact is scanned once."""
    import re

    plan = plan_of(QUERIES["q_tpch_q9"](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 3
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert len(re.findall(r"orders\.parquet", plan)) == 1


def test_tpch_q11_caches_val_single_fact_scan(spark, sf_dir):
    """Q11's per-part value frame feeds both the global-total scalar and
    the filter probe; it must be cached so the fact table is scanned once,
    and the scalar must arrive via broadcast (no single-partition sort)."""
    import re

    spark.catalog.clearCache()  # cold plan: prior runs leave val cached
    plan = plan_of(QUERIES["q_tpch_q11"](spark, sf_dir))
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert "BroadcastExchange" in plan


def test_tpch_q12_year_filter_pushes_below_join(spark, sf_dir):
    """Q12: the single-table year predicate must reach the lineitem scan
    (the cross-table lateness predicate can only be a join residual)."""
    plan = plan_of(QUERIES["q_tpch_q12"](spark, sf_dir))
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("l_shipdate" in p for p in pushed)


def test_tpch_q16_not_in_is_broadcast_anti(spark, sf_dir):
    """Q16's NOT IN over a non-nullable key must plan as a broadcast LEFT
    ANTI join, never a nested loop; the part dim also broadcasts."""
    plan = plan_of(QUERIES["q_tpch_q16"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "Cartesian" not in plan


def test_tpch_q20_nested_semi_chain(spark, sf_dir):
    """Q20: the qualifying-supplier IN must plan as a semi join, the part
    list must broadcast into the year-pruned fact scan, and the year filter
    must reach parquet."""
    plan = plan_of(QUERIES["q_tpch_q20"](spark, sf_dir))
    assert "LeftSemi" in plan
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]]
    assert any("l_shipdate" in p for p in pushed)
    assert "BroadcastHashJoin" in plan


def test_tpch_q21_single_fact_pass_via_cache(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS decorrelate into one per-order aggregate
    over the cached joined frame: lineitem and orders are each scanned ONCE
    (the naive plan scans lineitem three times), and the supplier dim
    broadcasts."""
    import re

    spark.catalog.clearCache()  # cold plan: prior runs leave lo cached
    plan = plan_of(QUERIES["q_tpch_q21"](spark, sf_dir))
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan
    assert len(re.findall(r"lineitem\.parquet", plan)) == 1
    assert len(re.findall(r"orders\.parquet", plan)) == 1


def test_medicines_single_html_pass_via_cache(spark, tmp_path):
    """The medicines job from raw HTML: batch_enrich's two consumers (the
    distinct keys and the join back) read one cached frame, so each HTML
    input is scanned, and DOM-parsed, once rather than once per consumer."""
    import re

    from etl_data_processor_spark.pipelines.medicines import (
        cards_from_html,
        run_pipeline,
        synthetic_html_site,
    )

    for name, frame in zip(("listing", "details"), synthetic_html_site(spark, 40)):
        frame.write.parquet(str(tmp_path / f"{name}.parquet"))
    listing = spark.read.parquet(str(tmp_path / "listing.parquet"))
    details = spark.read.parquet(str(tmp_path / "details.parquet"))
    plan = plan_of(run_pipeline(cards_from_html(listing, details)))
    spark.catalog.clearCache()
    assert "InMemoryRelation" in plan
    assert len(re.findall(r"Location:.*listing\.parquet", plan)) == 1
    assert len(re.findall(r"Location:.*details\.parquet", plan)) == 1


def test_tpch_q1_partial_final_agg_and_pushdown(spark, sf_dir):
    """Q1: the date cutoff must reach the parquet scan, the eight
    aggregates must plan partial+final (map-side combine collapses each
    partition to at most 4 group rows), and there is no join."""
    plan = plan_of(QUERIES["q_tpch_q1"](spark, sf_dir))
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "l_shipdate" in pushed
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan


def test_anti_nullaware_plans_null_aware_join(spark, sf_dir):
    """q_join_anti_nullaware: NOT IN must plan as a NULL-AWARE anti join
    (not a plain anti join — a plain one returns WRONG rows when the
    subquery can produce NULL). Spark's single-column form is a broadcast
    hash join flagged NullAwareAntiJoin; and under three-valued logic a
    NULL-bearing subquery empties the result entirely."""
    df = QUERIES["q_join_anti_nullaware"](spark, sf_dir)
    # must pin the null-aware flag itself — a plain LeftAnti would also
    # match a bare "LeftAnti" substring and make the assertion vacuous
    # (ADVICE r1). The formatted explain does not render the flag, so pin
    # the physical plan's toString, where BroadcastHashJoinExec prints its
    # isNullAwareAntiJoin argument as the trailing boolean:
    #   BroadcastHashJoin [...], LeftAnti, BuildRight, true
    import re

    phys = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"LeftAnti, BuildRight, true", phys), phys
    row = df.collect()[0]
    assert row["cnt_nullpoisoned"] == 0  # one NULL in the list → all UNKNOWN
    assert row["cnt_clean"] > 0


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark, sf_dir):
    """100 TB runtime filtering: when a shuffle join's build side carries a
    selective filter, Catalyst injects a bloom filter on the probe side
    (might_contain over a bloom aggregate of the build keys) so fact rows
    that cannot join are dropped BEFORE the shuffle. At cluster scale this
    triggers by itself (probe scan > 10 GB default); the test lowers the
    application-side threshold to fire at fixture scale and pins that the
    rewrite is active in this engine's sessions."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        cat = Catalog(spark, sf_dir)
        probe = cat.lineitem
        build = cat.orders.filter(F.col("o_totalprice") > 500000)
        j = probe.join(
            build, F.col("l_orderkey") == F.col("o_orderkey")
        ).select("l_orderkey", "o_totalprice")
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt
        assert j.count() >= 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_chunk_documents_is_shuffle_free(spark, sf_dir):
    """q_chunk_documents: the explode(sequence) fan-out must stay narrow —
    NO Exchange anywhere; chunking 100 TB is then a pure map over the
    scan."""
    plan = plan_of(QUERIES["q_chunk_documents"](spark, sf_dir))
    assert "Generate explode" in plan or "Generate" in plan
    assert "Exchange" not in plan


def test_pack_sequences_single_window_exchange(spark, sf_dir):
    """q_pack_sequences (reworked r8 per VERDICT r7 item 1): the running
    token sum goes through chunked_cumsum, so the corpus-sized window
    partitions by (source, __chunk) — a source-only window may appear
    ONLY over the bounded chunk-offsets frame, never the corpus."""
    plan = plan_of(QUERIES["q_pack_sequences"](spark, sf_dir))
    assert "Window" in plan
    assert "__chunk" in plan  # the chunked two-phase path is live
    assert "HashAggregate" in plan


def test_topk_per_group_plans_window_group_limit(spark, sf_dir):
    """q_topk_per_group: the rank<=k filter must plan as WindowGroupLimit in
    BOTH Partial (before the exchange) and Final mode — the partial pass is
    what makes per-group top-k scale: each map task forwards at most k rows
    per group instead of the group's full contents."""
    phys = (
        QUERIES["q_topk_per_group"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in phys
    assert "Partial" in phys and "Final" in phys
    assert "TakeOrdered" not in phys  # no global sort path


def test_ext_broadcast_pins(spark, sf_dir):
    """Round-2 extension ops: the bounded side must broadcast — the
    vocabulary-sized LM in q_text_lm_score, the rare-token set in
    q_tfidf_cosine_pairs, and the 1-row totals frame in q_skew_diagnose.
    If any of these degrade to a shuffle join, the corpus-sized side
    starts moving at 100 TB."""
    for name in ("q_text_lm_score", "q_tfidf_cosine_pairs", "q_skew_diagnose"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "BroadcastExchange" in plan, name


def test_emb_quantize_plan_is_narrow(spark, sf_dir):
    """q_emb_quantize is a pure recompression map: NO exchange of any kind
    may appear — the only acceptable shape for a 100 TB corpus pass."""
    import re

    plan = plan_of(QUERIES["q_emb_quantize"](spark, sf_dir))
    assert not re.findall(r"^\(\d+\) Exchange", plan, re.M), plan


def test_phrase_search_single_scan(spark, sf_dir):
    """The posting-list merge must read the corpus ONCE: term filtering +
    lead-window adjacency, not a two-branch self-join (which plans two
    full scans of the text column — 2x the dominant cost at 100 TB)."""
    import re

    plan = plan_of(QUERIES["q_phrase_search"](spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew-join handling, demonstrated live: a hot key that dwarfs
    every other partition must be split by OptimizeSkewedJoin (the
    runtime answer to skew that salting handles manually — SCALE.md).
    Thresholds are lowered so the fixture-sized hot partition qualifies;
    the finalized adaptive plan must carry the skew marker."""
    import io as _io
    from contextlib import redirect_stdout

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        # 32-way shuffle: at the fixture's 8 partitions the hot key's
        # partition is only ~1.8x the median and never qualifies
        "spark.sql.shuffle.partitions": "32",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).selectExpr(
            "CASE WHEN id % 10 = 0 THEN 0 ELSE id END AS k",
            # row-dependent pad: a pure literal would constant-fold out of
            # the exchange and the hot partition would weigh ~nothing
            "CAST(id AS STRING) || repeat('x', 64) AS pad",
        )
        right = spark.range(0, 1000).selectExpr("id AS k", "id AS v")
        joined = left.join(right, "k")
        joined.collect()  # execute THIS plan (a count would re-plan)
        buf = _io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_join_has_no_exchange_on_join_inputs(spark, sf_dir):
    """q_join_bucketed: both sides written bucketed by the join key → the
    sort-merge join must read bucket i ⋈ bucket i with NO Exchange on
    either input; the only Exchange allowed is the final aggregation."""
    df = QUERIES["q_join_bucketed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") == 2, plan[:3000]
    assert "SortMergeJoin" in plan
    # exactly one Exchange: the groupBy(c_mktsegment) agg — none on the join
    assert plan.count("Exchange") == 1, plan[:3000]


def test_asof_nearest_is_single_shuffle(spark, sf_dir):
    """Both directional candidates of the nearest as-of come from ONE
    union + exchange + sort: exactly one shuffle in the whole plan."""
    df = QUERIES["q_join_asof_nearest"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    # ... and one Window op evaluates BOTH directional carries
    assert plan.count("Window") == 1, plan


def test_cidr_join_is_equi_not_theta(spark, sf_dir):
    """The IP⋈CIDR join must plan as an equi-join on the /16 grid cell
    (hash-joinable), never BroadcastNestedLoop/cartesian on the BETWEEN."""
    plan = plan_of(QUERIES["q_ip_cidr_join"](spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_semantic_dedup_pair_fanout_is_width_guarded(spark, sf_dir):
    """VERDICT r5 item 2: `semantic_dedup_kept` must NOT round-robin-exchange
    the pivot x member pair frame (two embedding arrays per row — the widest
    intermediate in the operator) when the clustered input is already wide:
    the adaptive ~n/32 bucket keys spread the equi-join across every reducer
    on their own. Narrow inputs (a small parquet arriving as one partition)
    still get the fan-out before the CPU-heavy cosine."""
    from etl_data_processor_spark.ops import similarity as SIM

    spark.catalog.clearCache()
    par = spark.sparkContext.defaultParallelism
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def clustered(e):
        return e.select(
            "vec_id",
            F.expr(
                "array_join(transform(slice(embedding, 1, 6), "
                "x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
            ).alias("bucket"),
            "embedding",
        )

    wide = clustered(emb.repartition(par + 4, "vec_id"))
    assert "RoundRobinPartitioning" not in plan_of(
        SIM.semantic_dedup_kept(wide, tau=0.5)
    )
    narrow = clustered(emb.coalesce(1))
    assert "RoundRobinPartitioning" in plan_of(
        SIM.semantic_dedup_kept(narrow, tau=0.5)
    )


def test_symdelete_evaluates_levenshtein_once(spark, sf_dir):
    """VERDICT r5 item 8: the verified edit distance is projected once per
    candidate and carried through the pair-dedup aggregate — the plan must
    contain exactly ONE levenshtein call (the old form evaluated it in the
    join condition and again per surviving pair)."""
    from etl_data_processor_spark.ops import text as T

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plan = plan_of(T.fuzzy_key_pairs_symdelete(part, "p_name", max_dist=2))
    assert plan.count("levenshtein") == 1, plan


def test_inverted_index_two_exchanges_single_scan(spark, sf_dir):
    """B66 q_inverted_index: one corpus scan; exactly the two designed
    hash exchanges ((token,block,doc) tf then (token,block) assembly),
    both with map-side partials (partial_collect_list); no Window, no
    Python boundary — the posting-list build must stay a pure two-level
    hash aggregation at any scale."""
    import re

    plan = plan_of(QUERIES["q_inverted_index"](spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 2
    assert "partial_collect_list" in plan
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_unigram_viterbi_codegen_no_python(spark, sf_dir):
    """B66 q_unigram_viterbi: the DP + backtrace folds must be JVM-side
    lambda aggregates — no Python eval, no Window; the corpus collapses
    to the distinct-word table via hash aggregation."""
    plan = plan_of(QUERIES["q_unigram_viterbi"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "Window" not in plan
    # the forward-DP fold (the empty-word guard wraps the index sequence
    # in a CASE, ADVICE r6 — match the fold-over-positions shape, not the
    # exact literal)
    import re as _re

    assert _re.search(r"aggregate\(.*sequence\(1, length", plan)


def test_hybrid_rrf_broadcast_legs_no_cartesian(spark, sf_dir):
    """B66 q_hybrid_rrf: query-side frames (query tokens, df, corpus
    stats, query vectors) broadcast into both legs; no cartesian
    product, no Python boundary — corpus cost is ONE tf explode+agg
    pass plus the query-partitioned top-k windows. Exactly one
    round-robin exchange is allowed and required: the query-bounded
    candidate frame is repartitioned DOWN before caching (caching at
    the tf shuffle's width pins 32 near-empty partitions past AQE's
    reach — the per-task fixed cost the r6 scale stress flagged as
    21x CPU at 10x data); the cached candidate frame is the only
    corpus-explode subtree — df and the scoring join both read it."""
    import re

    plan = plan_of(QUERIES["q_hybrid_rrf"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"RoundRobinPartitioning", plan)) == 1
    assert "InMemoryRelation" in plan


def test_fs_em_driver_em_bounded_output_plan(spark, sf_dir):
    """B66 q_linkage_fs_em: the corpus-scale work (the candidate-pattern
    count via the hinted shuffle-hash symmetric-delete join — the
    q_record_linkage plan family, pinned there) runs ONCE during
    construction and collapses to the <=8-row pattern table; the EM is
    driver-held bounded state (the BPE-training discipline — the earlier
    all-DataFrame EM chained ~8 one-row aggregate jobs and was the
    slowest bench key). The RETURNED plan is therefore a tiny local
    projection: Python-free, cartesian-free, and crucially SCAN-free —
    consuming the result never re-reads the corpus."""
    plan = plan_of(QUERIES["q_linkage_fs_em"](spark, sf_dir))
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "Scan parquet" not in plan


def test_topk_ranking_keys_plan_take_ordered_no_window(spark, sf_dir):
    """VERDICT r6 #1: the three selection-layer top-k keys must rank via
    TakeOrderedAndProject (per-partition heaps + a k-row merge), never an
    unpartitioned row_number Window — that plans Exchange SinglePartition
    + a one-task sort of EVERY scored row, corpus-sized at 100 TB. The
    rank column is recovered on the <=k-row result by a broadcast
    self-join count, so NO WindowExec may appear anywhere in these
    plans."""
    import re

    for name in ("q_dsir_select", "q_collocations_pmi",
                 "q_selection_pipeline"):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, name
        assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 0, name


def test_cache_skinny_width_adapts_to_probe():
    """cache_skinny (VERDICT r6 #3): a skinny derived frame caches at the
    small fixed width when the raw scan is narrow (test scale) and keeps
    its shuffle width untouched when the scan is wide — corpus-cardinality
    doc-id sets must not collapse to 8 tasks at 100 TB. The cached plan is
    an InMemoryRelation, so the width shows as the RoundRobin exchange in
    its stored physical plan."""
    from pyspark.sql import SparkSession

    from etl_data_processor_spark.ops.dedup import cache_skinny

    spark = SparkSession.getActiveSession()
    narrow_probe = spark.range(10)  # tiny -> _parallelize would widen it
    wide_probe = spark.range(10).repartition(64)  # explicit wide node
    try:
        derived = spark.range(100).groupBy("id").count()
        out_n = cache_skinny(derived, narrow_probe)
        plan_n = out_n._jdf.queryExecution().optimizedPlan().toString()
        assert "RoundRobinPartitioning(8)" in plan_n

        derived2 = spark.range(100).groupBy("id").agg(F.count(F.lit(1)))
        out_w = cache_skinny(derived2, wide_probe)
        plan_w = out_w._jdf.queryExecution().optimizedPlan().toString()
        assert "RoundRobinPartitioning" not in plan_w
    finally:
        spark.catalog.clearCache()
