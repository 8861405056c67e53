"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (geotagged pages zonal statistics
— the reference's `zonal(mean, raster; of=polygons)` re-expressed as a
cell-prefix hash join + PIP refinement + groupBy) on sf0.001.

``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the training-data pipeline ops — 176 queries, ALL with
a DuckDB oracle; see `rasters_jl_spark/registry.py` (the first 50
REGISTRY entries are the driver correctness window, controlled by the
``_DRIVER_WINDOW`` list: changed + new + stalest records).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from rasters_jl_spark.queries_core import q_zonal_pages

    return q_zonal_pages(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from rasters_jl_spark.registry import queries as _queries

    return _queries()


def oracle_sql() -> dict[str, str]:
    from rasters_jl_spark.registry import oracle_sql as _oracle

    return _oracle()
