"""Streaming stateful zonal — per-geometry RUNNING statistics.

The flagship operator's streaming form: on a continuously-ingesting page
stream, per-geometry stats are maintained as STREAM STATE instead of being
recomputed per batch (the zonal analogue of `dedup_stream.py`):

    readStream pages
      → geotag (per-row column math, stream-safe)
      → broadcast polygon-cover equi-join + PIP refine (stream-static
        inner join — the same single-scan shape as batch
        `operators/zonal.py::spatial_join_pages`)
      → groupBy(geom_id).agg(count, sum, min, max) in update mode:
            Spark's own streaming aggregate keeps the running tuple
            and emits the UPDATED running-stats row each micro-batch
      → foreachBatch append (geom_id, stats, batch_id)

The state is JVM rows in Spark's state store, one partial-aggregate row of
4 scalars per geometry, so it stays metadata-sized at any page volume and
no Python worker runs. The latest row per geometry equals the
batch `zonal_pages` result over everything ingested so far — asserted by
the `stream_zonal_stats` registry oracle and the 2-micro-batch state test.

Reference: `zonal` (`src/methods/zonal.jl:67-165`); streaming/incremental
execution is engine-native (north-rule requirement), not a reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark.functions.geometry import Polygon

STATS_SCHEMA = "geom_id long, n_pages long, sum_val double, min_val double, max_val double"


def zonal_stats_stream(
    pages: DataFrame, polys: list[Polygon], value_col: str = "n_chars"
) -> DataFrame:
    """Stateful running zonal stats from a (streaming) pages DataFrame.

    The polygon cover + edge tables are STATIC broadcast sides (geometry is
    metadata-scale); the stream side only computes per-row cells and the
    PIP predicate, so the only stateful shuffle is the groupBy(geom_id) —
    geometry-count-sized, not page-count-sized. Rows are in
    ``STATS_SCHEMA``."""
    from rasters_jl_spark.operators.zonal import spatial_join_pages

    joined = spatial_join_pages(pages, polys)
    v = F.col(value_col).cast("double")
    return joined.groupBy("geom_id").agg(
        F.count(v).alias("n_pages"),
        F.sum(v).alias("sum_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )


def start_zonal_stream(
    spark: SparkSession,
    input_dir: str,
    schema,
    polys: list[Polygon],
    out_dir: str,
    checkpoint_dir: str,
    value_col: str = "n_chars",
    max_files_per_trigger: int | None = None,
):
    """Launch the running-zonal stream (availableNow drain); returns the
    StreamingQuery. Input rows need doc_id/text/n_chars (geotag runs
    in-stream). ``max_files_per_trigger=1`` forces one micro-batch per
    input file for the state-persistence test."""
    from rasters_jl_spark.sources.pages import geotag_pages

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = geotag_pages(reader.parquet(input_dir))
    stats = zonal_stats_stream(pages, polys, value_col)

    def _write_batch(batch_df: DataFrame, batch_id: int):
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            out_dir
        )

    return (
        stats.writeStream.outputMode("update")
        .foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
