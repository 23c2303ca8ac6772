"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query; ``queries()`` / ``oracle_sql()``
expose the oracle-checked operator registry
(etl_data_processor_spark/queries.py). See SURVEY.md §2 for the inventory.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_data_processor_spark.flagship import flagship_q3
from etl_data_processor_spark import registry as _registry

_registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H-Q3-shaped: customer ⋈ orders ⋈ lineitem, segment + date filters,
    grouped revenue, top-10 (SURVEY.md §7 step 1).
    """
    return flagship_q3(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query key; keys absent here get the
    driver's weaker rows-only check (non-SQL-expressible ops)."""
    return dict(_registry.ORACLE)
