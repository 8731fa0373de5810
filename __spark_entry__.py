"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over the engine's query catalog
(``svdmovie_lens_parallel_apache_spark_spark.catalog``): every implemented
operator from SURVEY.md §2 is registered there as a (PySpark builder,
DuckDB oracle SQL) pair; rows-only entries (ML / LSH / streaming) carry no
oracle and get the driver's weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Importing these modules populates the shared REGISTRY; a broken
# catalog module must fail loudly, not silently drop its queries.
from svdmovie_lens_parallel_apache_spark_spark import (  # noqa: F401
    catalog as _catalog,
    catalog_ml,
    catalog_pipeline,
    catalog_stream,
    catalog_text,
)

REGISTRY = _catalog.REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q3-shaped
    join+agg+top-k (scan → broadcast dim join → hash agg → ordered limit)."""
    return REGISTRY["q03_shipping_priority"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.builder for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
