"""Cluster job: zonal statistics of geotagged pages over a polygon layer.

Run on a cluster (the engine's production entrypoint, north rule):

    spark-submit --py-files dist/rasters_jl_spark.zip jobs/zonal_job.py \
        --pages <pages_geo path/table> --out <output path> \
        [--ledger <lineage path>]

- resumable: with --ledger, tiles already marked done are skipped
  (per-partition lineage, `rasters_jl_spark/plans/lineage.py`);
- the polygon layer here is the fixture set; swap in any
  list[Polygon] or a GeoJSON loader at the call site.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.operators.zonal import merge_zonal_partials, zonal_pages
from rasters_jl_spark.plans.lineage import run_tiles_resumable


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ledger", default=None)
    ap.add_argument(
        "--merged",
        default=None,
        help="with --ledger: also write the final merged one-row-per-geom table here",
    )
    ap.add_argument("--tiles-per-batch", type=int, default=256)
    ap.add_argument(
        "--incremental",
        action="store_true",
        help=(
            "with --ledger: fingerprint tiles by input row count and"
            " (re)process only new/changed tiles; per-tile partials are"
            " replaced via dynamic partition overwrite (append-only input)"
        ),
    )
    args = ap.parse_args()

    spark = SparkSession.builder.appName("rasters_jl_spark.zonal").getOrCreate()
    # --pages accepts a parquet path or iceberg:<cat>.<db>.<table>; the
    # incremental branch passes the REF through (run_tiles_incremental_ref
    # reads it itself, snapshot-pinned), so only the other branches read here
    from rasters_jl_spark.sources.catalog import read_table

    if args.ledger and args.incremental:
        from pyspark.sql import functions as F

        from rasters_jl_spark.operators.zonal import spatial_join_pages
        from rasters_jl_spark.plans.lineage import run_tiles_incremental_ref

        def tile_partials(batch):
            j = spatial_join_pages(batch, FX.POLYS_GEO)
            v = F.col("n_chars")
            return j.groupBy("tile_id", "geom_id").agg(
                F.count(v).alias("n_pages"),
                F.sum(v).alias("sum_val"),
                F.avg(v).alias("mean_val"),
                F.min(v).alias("min_val"),
                F.max(v).alias("max_val"),
            )

        # ref-dispatching runner: iceberg: tables with the runtime jar use
        # the snapshot-diff changed-tile detector (O(appended)); parquet
        # paths keep the row-count fingerprint
        run_tiles_incremental_ref(
            args.pages,
            spark,
            args.ledger,
            tile_partials,
            args.out,
            tiles_per_batch=args.tiles_per_batch,
        )
        if args.merged:
            merged = merge_zonal_partials(spark.read.parquet(args.out))
            # fill zones no partial ever touched (parity with zonal_pages)
            all_geoms = spark.createDataFrame(
                [(p.geom_id,) for p in FX.POLYS_GEO], "geom_id int"
            )
            out = all_geoms.join(merged, "geom_id", "left").withColumn(
                "n_pages", F.coalesce(F.col("n_pages"), F.lit(0))
            )
            out.write.mode("overwrite").parquet(args.merged)
    elif args.ledger:
        pages = read_table(spark, args.pages)
        run_tiles_resumable(
            pages,
            spark,
            args.ledger,
            lambda batch: zonal_pages(batch, FX.POLYS_GEO),
            args.out,
            tiles_per_batch=args.tiles_per_batch,
        )
        if args.merged:
            merge_zonal_partials(spark.read.parquet(args.out)).write.mode(
                "overwrite"
            ).parquet(args.merged)
    else:
        pages = read_table(spark, args.pages)
        zonal_pages(pages, FX.POLYS_GEO).write.mode("overwrite").parquet(args.out)
    spark.stop()


if __name__ == "__main__":
    main()
