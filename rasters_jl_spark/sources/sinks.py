"""Sinks: partitioned parquet writers (the engine's `write`, replacing the
reference's per-format backends, `src/write.jl`).

At production scale these are Iceberg `writeTo(...).append()` calls with
partition specs; in the sandbox, parquet directories with the same layout:

- rasters partition by a tile column (`iy // tile` blocks) so extent
  predicates prune files (the reference's chunked IO, DiskArrays);
- pages bucket by `tile_id` so tile joins and roll-ups read the buckets
  as their partitioning and skip the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_raster(raster: DataFrame, path: str, tile: int = 8, mode: str = "overwrite") -> None:
    """Write a long raster partitioned by tile block for extent pruning."""
    # floor (not truncate): negative indices from extend() must land in
    # tile -1, not share tile 0 with non-negative neighbours.
    out = raster.withColumn(
        "tile_iy", F.floor(F.col("iy") / tile).cast("int")
    ).withColumn("tile_ix", F.floor(F.col("ix") / tile).cast("int"))
    out.write.mode(mode).partitionBy("tile_iy").parquet(path)


def read_raster(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).select("ix", "iy", "value")


def write_pages_bucketed(
    pages: DataFrame, table: str, n_buckets: int = 64, mode: str = "overwrite"
) -> None:
    """Bucketed pages table: ``bucketBy(tile_id)`` + in-bucket sort.

    Bucketing pre-shuffles ONCE at write time; every later
    groupBy/join keyed on ``tile_id`` reads the buckets as its
    partitioning and skips the exchange entirely (verified by
    `tests/test_extras.py::test_bucketed_rollup_has_no_exchange`). At
    10¹² rows this is the difference between re-shuffling the corpus per
    query and never shuffling it again — Iceberg's bucket partition
    transform plays this role in production.
    """
    (
        pages.write.mode(mode)
        .bucketBy(n_buckets, "tile_id")
        .sortBy("tile_id")
        .format("parquet")
        .saveAsTable(table)
    )
