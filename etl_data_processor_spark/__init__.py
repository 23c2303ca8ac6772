"""etl_data_processor_spark — a PySpark-native ETL/analytics engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of the reference ETL pipeline (Mitkobochev/etl-data-processor,
surveyed in SURVEY.md), generalized into a tested operator library:

- ``session``     — SparkSession factory tuned for scale (AQE, Arrow, broadcast,
                    INT64 timestamp writes, LTZ parquet reads).
- ``io``          — batch sources/sinks (parquet/csv/json) + table catalog +
                    ``write_clustered`` (range-clustered layout for row-group skipping).
- ``ops.scalar``  — pure Column-expression functions (classify, dates, regex,
                    string/math/null handling) mirroring reference semantics.
- ``ops.relational`` — joins, aggregates, windows, set ops, sort/top-k, dedup,
                    salted skew joins.
- ``ops.arrays``  — array/map/JSON functions and vector math.
- ``ops.text``    — text analysis: tokenization, language-ID, quality,
                    fingerprints, PII scrubbing, context-window chunking,
                    fuzzy key matching.
- ``ops.dedup``   — exact + MinHash-LSH + SimHash + n-gram-Jaccard near-dup,
                    cross-corpus decontamination.
- ``ops.graph``   — connected components, exact-integer PageRank (iterative
                    patterns for cluster resolution and ranking).
- ``ops.similarity`` — embedding cosine top-k (exact + LSH/IVF scale paths).
- ``ops.sampling`` — deterministic hash/stratified/weighted sampling, splits.
- ``ops.sketches`` — mergeable HLL distinct-count partials.
- ``ops.profile`` — one-scan data profiling + portable histograms.
- ``ops.cdc``     — MERGE-style upsert and SCD2 history (shuffle-free snapshot).
- ``ops.enrich``  — chunked, rate-limited, error-isolated batch enrichment
                    (distinct → mapInPandas → left-join-back) with pluggable client;
                    the input is cached because both the distinct keys and the
                    join back read it (released by ``spark.catalog.clearCache()``
                    or ``unpersist``).
- ``ops.asof``    — as-of / range joins.
- ``ops.multimodal`` — binary-blob column plumbing (decode stubbed).
- ``streaming``   — Structured Streaming windows/watermark/session/dedup + CDC sink.
- ``pipelines.medicines`` — the reference's end-to-end pipeline semantics on a
                    synthetic fixture (golden test).

Everything is public-Spark-surface only: DataFrame/SQL + Catalyst; no custom
optimizer rules, no RDDs in hot paths, no collect() inside operators.
"""

__version__ = "0.1.0"

from etl_data_processor_spark.session import get_spark  # noqa: F401
from etl_data_processor_spark.io import Catalog  # noqa: F401
