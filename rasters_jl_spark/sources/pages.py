"""Ingest: Common-Crawl-style pages → geotagged `pages_geo`.

Input shape (BASELINE.json input_hint):
``pages(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
The sandbox synthesises it deterministically from the driver's ``documents``
table; at production scale this is an Iceberg table scan.

Geotag rule (FIXTURES.md F1): a deterministic multiplicative integer hash
of ``doc_id`` → lat/lon on a 1e-4 degree lattice (:func:`lat_sql`,
:func:`lon_sql`). Like the web grid's cell math (:mod:`rasters_jl_spark.grid`)
it is one SQL text, run by Spark through ``F.expr`` and verbatim by the
DuckDB oracle (:func:`pages_geo_sql`).

Per-row invariant: ``text`` passes through every stage byte-identical
(verified by the ``text_identity`` query and tests).

Geotagging and cell assignment are pure column math (JVM, whole-stage
codegen; see :mod:`rasters_jl_spark.grid`): pages never leave the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark.grid import PAGES_RES, TILE_RES, WebGrid, dbl_sql, ref_sql


def _hash_sql(doc_id: str, mult: int, mod: int, offset: float) -> str:
    # (id * M) % L == ((id % L) * M) % L — the pre-reduction keeps the
    # product < 5e15, so int64 never overflows at 10¹²-row ids
    return f"((({doc_id} % {mod}) * {mult} % {mod}) / {dbl_sql(1e4)} - {dbl_sql(offset)})"


def lat_sql(doc_id: str) -> str:
    return _hash_sql(doc_id, 2654435761, 1800000, 90.0)  # Knuth's constant


def lon_sql(doc_id: str) -> str:
    return _hash_sql(doc_id, 40503, 3600000, 180.0)


def lat_col(doc_id: str | Column) -> Column:
    return F.expr(lat_sql(ref_sql(doc_id)))


def lon_col(doc_id: str | Column) -> Column:
    return F.expr(lon_sql(ref_sql(doc_id)))


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def warc_ts_col(doc_id: F.Column) -> F.Column:
    """Synthetic crawl timestamp: 2025-01-01 plus ``doc_id % 86400`` s."""
    return F.to_timestamp(F.lit("2025-01-01 00:00:00")) + F.make_interval(
        secs=(doc_id % 86400).cast("double")
    )


def with_geotag(df: DataFrame, res: int = PAGES_RES, tile_res: int = TILE_RES) -> DataFrame:
    """The one geotag rule, shared by the batch and streaming paths:
    lat/lon from ``doc_id``, the fine ``cell`` at ``res`` and its coarse
    ``tile_id`` at ``tile_res``."""
    g = WebGrid(res)
    out = df.withColumn("lat", lat_col("doc_id")).withColumn("lon", lon_col("doc_id"))
    out = out.withColumn("cell", g.cell_col("lon", "lat"))
    return out.withColumn("tile_id", g.parent_cell_col("cell", tile_res))


def geotag_pages(docs: DataFrame, res: int = PAGES_RES, tile_res: int = TILE_RES) -> DataFrame:
    """documents → pages_geo with url/warc_ts/html synthesised per F1 and
    lat/lon/cell/tile assigned deterministically.

    Columns: url, warc_ts, html, text, lang, doc_id, lat, lon, cell, tile_id.
    ``cell`` is the fine-resolution id, ``tile_id`` the coarse partition key
    (the engine's explicit partition column — the reference's RasterSeries
    dim, SURVEY.md §1.4).
    """
    doc_id = F.col("doc_id")
    out = (
        docs.withColumn("url", F.concat(F.lit("https://example.org/d/"), doc_id.cast("string")))
        .withColumn("warc_ts", warc_ts_col(doc_id))
        .withColumn("html", F.encode(F.concat(F.lit("<html>"), F.col("text"), F.lit("</html>")), "UTF-8"))
    )
    return with_geotag(out, res, tile_res)


def pages_geo(spark: SparkSession, sf_dir: str, res: int = PAGES_RES) -> DataFrame:
    return geotag_pages(load_documents(spark, sf_dir), res=res)


def pages_geo_sql(res: int = PAGES_RES, tile_res: int = TILE_RES, table: str = "documents") -> str:
    """DuckDB CTE body producing the same pages_geo relation (oracle side)."""
    g = WebGrid(res)
    lat, lon = lat_sql("doc_id"), lon_sql("doc_id")
    cell = g.cell_sql(lon, lat)
    return f"""
    SELECT
        'https://example.org/d/' || CAST(doc_id AS VARCHAR) AS url,
        TIMESTAMP '2025-01-01 00:00:00' + (doc_id % 86400) * INTERVAL 1 SECOND AS warc_ts,
        text, lang, doc_id, n_chars,
        {lat} AS lat,
        {lon} AS lon,
        {cell} AS cell,
        {g.parent_cell_sql(cell, tile_res)} AS tile_id
    FROM {table}
    """
