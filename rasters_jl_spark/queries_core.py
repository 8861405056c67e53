"""Core geo + raster queries with DuckDB oracle SQL.

Every entry is a pair: ``q_<name>(spark, sf_dir) -> DataFrame`` and
``SQL_<name>`` (DuckDB dialect, same tables, same column names, same
rounding) — consumed by the registry in `rasters_jl_spark/registry.py`.
Constants come from `rasters_jl_spark/fixtures.py`; SQL fragments come from
the same GridSpec/WebGrid/geometry objects the Spark side uses, so the two
dialects share one source of truth for every formula.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.functions.geometry import (
    crossing_sql,
    edges_values_sql,
    polys_values_sql,
)
from rasters_jl_spark.grid import PAGES_RES, TILE_RES, WebGrid
from rasters_jl_spark.operators import (
    aggregate,
    cellarea,
    classify,
    coverage_rect,
    coverage_subpixel,
    crop,
    disaggregate,
    extend,
    extract_points,
    focal_mean,
    knn_pages,
    mask_geom,
    mask_raster,
    mosaic,
    resample,
    trim,
)
from rasters_jl_spark.operators.core import boolmask
from rasters_jl_spark.operators.rasterize import rasterize_points, rasterize_polygons
from rasters_jl_spark.operators.zonal import spatial_join_pages, zonal_pages
from rasters_jl_spark.sources.pages import lat_col, lat_sql, lon_col, lon_sql, pages_geo, pages_geo_sql
from rasters_jl_spark.sources.raster_synth import (
    RASTER_GRID,
    synth_raster,
    synth_raster_sql,
)
from rasters_jl_spark.session import local_df

G = RASTER_GRID
PAGES_CTE = f"pages AS ({pages_geo_sql()})"
RAST_A_CTE = f"rast AS ({synth_raster_sql('a')})"
RAST_B_CTE = f"rast_b AS ({synth_raster_sql('b')})"


# ---------------------------------------------------------------- geotag
def q_geotag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pages_geo(spark, sf_dir).select("doc_id", "url", "lat", "lon", "cell", "tile_id")


SQL_geotag = f"WITH {PAGES_CTE} SELECT doc_id, url, lat, lon, cell, tile_id FROM pages"


# ------------------------------------------------------------ cell_count
def q_cell_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pages_geo(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count("*").alias("n_pages"), F.sum("n_chars").alias("sum_chars"))
    )


SQL_cell_count = f"""WITH {PAGES_CTE}
SELECT cell, COUNT(*) AS n_pages, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM pages GROUP BY cell"""


# ------------------------------------------------------------ tile_stats
def q_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        pages_geo(spark, sf_dir)
        .groupBy("tile_id")
        .agg(F.count("*").alias("n_pages"), F.sum("n_chars").alias("sum_chars"))
    )


SQL_tile_stats = f"""WITH {PAGES_CTE}
SELECT tile_id, COUNT(*) AS n_pages, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM pages GROUP BY tile_id"""


# ------------------------------------------------------- spatial_join_pip
def _sjoin_ctes() -> str:
    return f"""{PAGES_CTE},
polys AS ({polys_values_sql(FX.POLYS_GEO)}),
edges AS ({edges_values_sql(FX.POLYS_GEO)}),
cand AS (
    SELECT p.doc_id, p.n_chars, p.lat, p.lon, g.geom_id
    FROM pages p JOIN polys g
      ON p.lon >= g.xmin AND p.lon <= g.xmax AND p.lat >= g.ymin AND p.lat <= g.ymax
),
hits AS (
    SELECT c.doc_id, c.n_chars, c.geom_id
    FROM cand c JOIN edges e ON e.geom_id = c.geom_id
    WHERE {crossing_sql('c.lon', 'c.lat', 'e')}
    GROUP BY c.doc_id, c.n_chars, c.geom_id
    HAVING COUNT(*) % 2 = 1
)"""


def q_spatial_join_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_geo(spark, sf_dir)
    return spatial_join_pages(pages, FX.POLYS_GEO).select("doc_id", "geom_id")


SQL_spatial_join_pip = f"WITH {_sjoin_ctes()} SELECT doc_id, geom_id FROM hits"


# ----------------------------------------------------------- zonal_pages
_ZONAL_SELECT = """
SELECT g.geom_id,
       COALESCE(z.n_pages, 0) AS n_pages,
       z.sum_chars, z.mean_chars, z.min_chars, z.max_chars
FROM polys g LEFT JOIN (
    SELECT geom_id, COUNT(*) AS n_pages,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           ROUND(AVG(n_chars), 6) AS mean_chars,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM hits GROUP BY geom_id
) z USING (geom_id)"""


def _zonal_df(spark: SparkSession, sf_dir: str, n_salt: int) -> DataFrame:
    pages = pages_geo(spark, sf_dir)
    z = zonal_pages(pages, FX.POLYS_GEO, value_col="n_chars", n_salt=n_salt)
    return z.select(
        "geom_id",
        "n_pages",
        F.col("sum_val").alias("sum_chars"),
        F.round("mean_val", 6).alias("mean_chars"),
        F.col("min_val").alias("min_chars"),
        F.col("max_val").alias("max_chars"),
    )


def q_zonal_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _zonal_df(spark, sf_dir, n_salt=1)


def q_zonal_pages_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zonal_pages called with ``n_salt=8``, which ``zonal_pages`` accepts
    and ignores: the same plan and the same rows as ``zonal_pages``."""
    return _zonal_df(spark, sf_dir, n_salt=8)


SQL_zonal_pages = f"WITH {_sjoin_ctes()} {_ZONAL_SELECT}"
SQL_zonal_pages_salted = SQL_zonal_pages


# ------------------------------------------------------------------- knn
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_geo(spark, sf_dir).select("doc_id", "lat", "lon", "cell")
    ids = spark.range(FX.KNN_ID_BASE, FX.KNN_ID_BASE + FX.N_KNN_QUERIES)
    queries = ids.select(
        (F.col("id") - FX.KNN_ID_BASE).alias("q_id"),
        lat_col("id").alias("qlat"),
        lon_col("id").alias("qlon"),
    )
    out = knn_pages(queries, pages, k=FX.KNN_K, res=PAGES_RES)
    return out.select("q_id", "rank", "doc_id", F.round("dist2", 9).alias("dist2"))


SQL_knn = f"""WITH {PAGES_CTE},
q AS (
    SELECT t.qid - {FX.KNN_ID_BASE} AS q_id,
           {lat_sql("t.qid")} AS qlat,
           {lon_sql("t.qid")} AS qlon
    FROM generate_series({FX.KNN_ID_BASE}, {FX.KNN_ID_BASE + FX.N_KNN_QUERIES - 1}) t(qid)
),
cand AS (
    SELECT q.q_id, p.doc_id,
           (p.lat - q.qlat) * (p.lat - q.qlat) + (p.lon - q.qlon) * (p.lon - q.qlon) AS dist2
    FROM q CROSS JOIN pages p
)
SELECT q_id, CAST(rank AS INT) AS rank, doc_id, ROUND(dist2, 9) AS dist2
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist2, doc_id) AS rank FROM cand)
WHERE rank <= {FX.KNN_K}"""


# ------------------------------------------------------------------ crop
def q_crop(spark: SparkSession, sf_dir: str) -> DataFrame:
    xmin, xmax, ymin, ymax = FX.CROP_BOX
    return crop(synth_raster(spark, sf_dir, "a"), G, xmin, xmax, ymin, ymax)


SQL_crop = f"""WITH {RAST_A_CTE}
SELECT ix, iy, value FROM rast
WHERE {G.x_sql('ix')} >= {FX.CROP_BOX[0]!r} AND {G.x_sql('ix')} <= {FX.CROP_BOX[1]!r}
  AND {G.y_sql('iy')} >= {FX.CROP_BOX[2]!r} AND {G.y_sql('iy')} <= {FX.CROP_BOX[3]!r}"""


# ---------------------------------------------------------------- extend
def q_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    i0, i1, j0, j1 = FX.EXTEND_BOX
    return extend(synth_raster(spark, sf_dir, "a"), G, i0, i1, j0, j1)


SQL_extend = f"""WITH {RAST_A_CTE}
SELECT CAST(x.ix AS INT) AS ix, CAST(y.iy AS INT) AS iy, r.value
FROM generate_series({FX.EXTEND_BOX[0]}, {FX.EXTEND_BOX[1]}) x(ix)
CROSS JOIN generate_series({FX.EXTEND_BOX[2]}, {FX.EXTEND_BOX[3]}) y(iy)
LEFT JOIN rast r ON r.ix = x.ix AND r.iy = y.iy"""


# ------------------------------------------------------------------ trim
def q_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ix0, ix1, iy0, iy1 = FX.TRIM_KEEP
    r = synth_raster(spark, sf_dir, "a")
    banded = r.select(
        "ix",
        "iy",
        F.when(
            (F.col("ix") >= ix0) & (F.col("ix") <= ix1) & (F.col("iy") >= iy0) & (F.col("iy") <= iy1),
            F.col("value"),
        ).alias("value"),
    )
    return trim(banded, pad=0)


SQL_trim = f"""WITH {RAST_A_CTE},
m AS (
    SELECT ix, iy,
           CASE WHEN ix BETWEEN {FX.TRIM_KEEP[0]} AND {FX.TRIM_KEEP[1]}
                 AND iy BETWEEN {FX.TRIM_KEEP[2]} AND {FX.TRIM_KEEP[3]}
                THEN value END AS value
    FROM rast
),
b AS (SELECT MIN(ix) ix0, MAX(ix) ix1, MIN(iy) iy0, MAX(iy) iy1 FROM m WHERE value IS NOT NULL)
SELECT m.ix, m.iy, m.value FROM m, b
WHERE m.ix BETWEEN b.ix0 AND b.ix1 AND m.iy BETWEEN b.iy0 AND b.iy1"""


# ----------------------------------------------------------- mask_raster
def q_mask_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mask_raster(synth_raster(spark, sf_dir, "a"), synth_raster(spark, sf_dir, "b"))


def q_mask_raster_invert(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mask_raster(
        synth_raster(spark, sf_dir, "a"), synth_raster(spark, sf_dir, "b"), invert=True
    )


SQL_mask_raster = f"""WITH {RAST_A_CTE}, {RAST_B_CTE}
SELECT a.ix, a.iy, CASE WHEN b.value IS NOT NULL THEN a.value END AS value
FROM rast a LEFT JOIN rast_b b ON a.ix = b.ix AND a.iy = b.iy"""

SQL_mask_raster_invert = f"""WITH {RAST_A_CTE}, {RAST_B_CTE}
SELECT a.ix, a.iy, CASE WHEN b.value IS NULL THEN a.value END AS value
FROM rast a LEFT JOIN rast_b b ON a.ix = b.ix AND a.iy = b.iy"""


# ------------------------------------------------------------- mask_geom
def _pip_cells_cte(polys) -> str:
    """CTE 'pip' of (ix, iy, geom_id) raster cells whose center is inside."""
    return f"""gedges AS ({edges_values_sql(polys)}),
pip AS (
    SELECT r.ix, r.iy, e.geom_id
    FROM rast r JOIN gedges e
      ON {crossing_sql(G.x_sql('r.ix'), G.y_sql('r.iy'), 'e')}
    GROUP BY r.ix, r.iy, e.geom_id
    HAVING COUNT(*) % 2 = 1
)"""


def q_mask_geom(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mask_geom(synth_raster(spark, sf_dir, "a"), G, FX.RASTER_POLYS, boundary="center")


SQL_mask_geom = f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)}
SELECT r.ix, r.iy, CASE WHEN p.ix IS NOT NULL THEN r.value END AS value
FROM rast r LEFT JOIN (SELECT DISTINCT ix, iy FROM pip) p ON r.ix = p.ix AND r.iy = p.iy"""


# -------------------------------------------------------------- boolmask
def q_boolmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boolmask(synth_raster(spark, sf_dir, "a"), G, [FX.RASTER_POLYS[1]], boundary="center")


SQL_boolmask = f"""WITH {RAST_A_CTE}, {_pip_cells_cte([FX.RASTER_POLYS[1]])}
SELECT r.ix, r.iy, (p.ix IS NOT NULL) AS mask
FROM rast r LEFT JOIN (SELECT DISTINCT ix, iy FROM pip) p ON r.ix = p.ix AND r.iy = p.iy"""


# -------------------------------------------------------------- classify
def q_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return classify(synth_raster(spark, sf_dir, "a"), FX.CLASSIFY_BINS, others=0)


def _classify_case() -> str:
    whens = " ".join(
        f"WHEN value >= {lo!r} AND value < {hi!r} THEN {cls}" for lo, hi, cls in FX.CLASSIFY_BINS
    )
    return f"CASE WHEN value IS NULL THEN NULL {whens} ELSE 0 END"


SQL_classify = f"""WITH {RAST_A_CTE}
SELECT ix, iy, {_classify_case()} AS value FROM rast"""


# ------------------------------------------------------- replace_missing
def q_replace_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasters_jl_spark.operators import replace_missing

    return replace_missing(synth_raster(spark, sf_dir, "a"), -9999.0, to_null=False)


SQL_replace_missing = f"""WITH {RAST_A_CTE}
SELECT ix, iy, COALESCE(value, -9999.0) AS value FROM rast"""


# ------------------------------------------------------------- aggregate
def q_aggregate_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = aggregate(synth_raster(spark, sf_dir, "a"), FX.AGG_SCALE, "mean", skipmissing=True)
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


SQL_aggregate_mean = f"""WITH {RAST_A_CTE}
SELECT CAST(ix // {FX.AGG_SCALE} AS INT) AS ix, CAST(iy // {FX.AGG_SCALE} AS INT) AS iy,
       ROUND(AVG(value), 6) AS value
FROM rast GROUP BY 1, 2"""


def q_aggregate_truncated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference truncation semantics: aggregate(scale=3) of the 20×20
    raster with shape given drops the partial trailing blocks — output is
    floor(20/3)=6 blocks per axis (`src/methods/aggregate.jl:112,124`,
    golden `test/aggregate.jl:109`)."""
    from rasters_jl_spark.sources.raster_synth import RASTER_NX, RASTER_NY

    out = aggregate(
        synth_raster(spark, sf_dir, "a"), 3, "mean", skipmissing=True,
        shape=(RASTER_NX, RASTER_NY),
    )
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def _aggregate_truncated_sql() -> str:
    from rasters_jl_spark.sources.raster_synth import RASTER_NX, RASTER_NY

    kx, ky = (RASTER_NX // 3) * 3, (RASTER_NY // 3) * 3
    return f"""WITH {RAST_A_CTE}
SELECT CAST(ix // 3 AS INT) AS ix, CAST(iy // 3 AS INT) AS iy,
       ROUND(AVG(value), 6) AS value
FROM rast WHERE ix < {kx} AND iy < {ky} GROUP BY 1, 2"""


SQL_aggregate_truncated = _aggregate_truncated_sql()


def q_aggregate_sum_noskip(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = aggregate(synth_raster(spark, sf_dir, "a"), FX.AGG_SCALE, "sum", skipmissing=False)
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


SQL_aggregate_sum_noskip = f"""WITH {RAST_A_CTE}
SELECT CAST(ix // {FX.AGG_SCALE} AS INT) AS ix, CAST(iy // {FX.AGG_SCALE} AS INT) AS iy,
       ROUND(CASE WHEN MAX(CASE WHEN value IS NULL THEN 1 ELSE 0 END) = 1 THEN NULL
                  ELSE CAST(SUM(value) AS DOUBLE) END, 6) AS value
FROM rast GROUP BY 1, 2"""


def q_aggregate_med(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median per block (GDAL -r med surface)."""
    out = aggregate(synth_raster(spark, sf_dir, "a"), FX.AGG_SCALE, "med", skipmissing=True)
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


SQL_aggregate_med = f"""WITH {RAST_A_CTE}
SELECT CAST(ix // {FX.AGG_SCALE} AS INT) AS ix, CAST(iy // {FX.AGG_SCALE} AS INT) AS iy,
       ROUND(quantile_cont(value, 0.5), 6) AS value
FROM rast GROUP BY 1, 2"""


def q_aggregate_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per block (ties → smallest value)."""
    out = aggregate(synth_raster(spark, sf_dir, "a"), FX.AGG_SCALE, "mode", skipmissing=True)
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


SQL_aggregate_mode = f"""WITH {RAST_A_CTE},
blk AS (
    SELECT CAST(ix // {FX.AGG_SCALE} AS INT) AS ix, CAST(iy // {FX.AGG_SCALE} AS INT) AS iy, value
    FROM rast
),
cnt AS (
    SELECT ix, iy, value, COUNT(*) AS c FROM blk WHERE value IS NOT NULL GROUP BY 1, 2, 3
),
modal AS (
    SELECT ix, iy, value FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY ix, iy ORDER BY c DESC, value ASC) AS rn
        FROM cnt
    ) WHERE rn = 1
)
SELECT b.ix, b.iy, ROUND(m.value, 6) AS value
FROM (SELECT DISTINCT ix, iy FROM blk) b
LEFT JOIN modal m ON m.ix = b.ix AND m.iy = b.iy"""


# ---------------------------------------------------------- disaggregate
def q_disaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return disaggregate(synth_raster(spark, sf_dir, "a"), FX.DISAGG_SCALE)


SQL_disaggregate = f"""WITH {RAST_A_CTE}
SELECT CAST(r.ix * {FX.DISAGG_SCALE} + mx.m AS INT) AS ix,
       CAST(r.iy * {FX.DISAGG_SCALE} + my.m AS INT) AS iy, r.value
FROM rast r
CROSS JOIN generate_series(0, {FX.DISAGG_SCALE - 1}) mx(m)
CROSS JOIN generate_series(0, {FX.DISAGG_SCALE - 1}) my(m)"""


# ------------------------------------------------------ rasterize_points
def q_rasterize_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_geo(spark, sf_dir)
    return rasterize_points(pages, FX.POINTS_GRID, "n_chars", "sum", x_col="lon", y_col="lat")


SQL_rasterize_points = f"""WITH {PAGES_CTE}
SELECT {FX.POINTS_GRID.ix_of_x_sql('lon')} AS ix,
       {FX.POINTS_GRID.iy_of_y_sql('lat')} AS iy,
       CAST(SUM(n_chars) AS DOUBLE) AS value
FROM pages GROUP BY 1, 2"""


# ---------------------------------------------------- rasterize_polygons
def q_rasterize_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    universe = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    return rasterize_polygons(
        universe, G, FX.RASTER_POLYS, fills={1: 10.0, 2: 20.0}, reducer="last", boundary="center"
    )


SQL_rasterize_polygons = f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)}
SELECT ix, iy,
       CAST(CASE WHEN MAX(geom_id) = 2 THEN 20.0 ELSE 10.0 END AS DOUBLE) AS value
FROM pip GROUP BY ix, iy"""


# ---------------------------------------------------------------- mosaic
_REG1 = [(2, 5, 0.1), (2, 6, 0.2), (3, 5, 0.3), (3, 6, 0.4)]
_REG2 = [(3, 6, 1.1), (3, 7, 1.2), (4, 6, 1.3), (4, 7, 1.4)]


def _region_df(spark: SparkSession, rows) -> DataFrame:
    return local_df(spark, rows, "ix int, iy int, value double")


def _mosaic_df(spark: SparkSession, method: str) -> DataFrame:
    r1 = _region_df(spark, _REG1)
    r2 = _region_df(spark, _REG2)
    out = mosaic([r1, r2], method)
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def q_mosaic_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mosaic_df(spark, "first")


def q_mosaic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mosaic_df(spark, "mean")


def _region_values(rows) -> str:
    return ", ".join(f"({ix}, {iy}, {v!r})" for ix, iy, v in rows)


_MOSAIC_CTES = f"""r1(ix, iy, value) AS (VALUES {_region_values(_REG1)}),
r2(ix, iy, value) AS (VALUES {_region_values(_REG2)})"""

SQL_mosaic_first = f"""WITH {_MOSAIC_CTES}
SELECT COALESCE(r1.ix, r2.ix) AS ix, COALESCE(r1.iy, r2.iy) AS iy,
       ROUND(CAST(COALESCE(r1.value, r2.value) AS DOUBLE), 6) AS value
FROM r1 FULL OUTER JOIN r2 ON r1.ix = r2.ix AND r1.iy = r2.iy"""

SQL_mosaic_mean = f"""WITH {_MOSAIC_CTES}
SELECT COALESCE(r1.ix, r2.ix) AS ix, COALESCE(r1.iy, r2.iy) AS iy,
       ROUND((COALESCE(r1.value, 0) + COALESCE(r2.value, 0)) /
             ((CASE WHEN r1.value IS NOT NULL THEN 1 ELSE 0 END) +
              (CASE WHEN r2.value IS NOT NULL THEN 1 ELSE 0 END)), 6) AS value
FROM r1 FULL OUTER JOIN r2 ON r1.ix = r2.ix AND r1.iy = r2.iy"""


# --------------------------------------------------------------- extract
def q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = spark.range(FX.N_EXTRACT_PTS).select(
        F.col("id").alias("pt_id"),
        (((F.col("id") * 7919) % 200) / 10.0).alias("x"),
        (((F.col("id") * 104729) % 200) / 10.0).alias("y"),
    )
    r = synth_raster(spark, sf_dir, "a")
    return extract_points(pts, r, G, skipmissing=False, keep_geometry=True, keep_index=True)


SQL_extract = f"""WITH {RAST_A_CTE},
pts AS (
    SELECT t.pt_id, {FX.PX_SQL} AS x, {FX.PY_SQL} AS y
    FROM generate_series(0, {FX.N_EXTRACT_PTS - 1}) t(pt_id)
)
SELECT p.x, p.y, {G.ix_of_x_sql('p.x')} AS ix, {G.iy_of_y_sql('p.y')} AS iy,
       p.pt_id, r.value
FROM pts p LEFT JOIN rast r
  ON r.ix = {G.ix_of_x_sql('p.x')} AND r.iy = {G.iy_of_y_sql('p.y')}"""


# ----------------------------------------------- extract keyword tail
# name=/atol/id= (`src/methods/extract.jl:151-337`): layer-selected stack
# extraction with Points-sampling At(atol) matching and the sequential id.
EXTRACT_ATOL = 0.25


def q_extract_name_atol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract(stack; name=(:a,:b), atol=0.25) on Points sampling: a point
    matches only within atol of the nearest cell CENTER
    (`_at_or_contains`, `src/methods/burning/point.jl:47-50`), else it
    yields a missing row (skipmissing=false keeps it); one output column
    per selected layer."""
    from rasters_jl_spark.operators.extract import extract_points_stack

    pts = spark.range(FX.N_EXTRACT_PTS).select(
        F.col("id").alias("pt_id"),
        (((F.col("id") * 7919) % 200) / 10.0).alias("x"),
        (((F.col("id") * 104729) % 200) / 10.0).alias("y"),
    )
    stack = synth_raster(spark, sf_dir, "a").withColumn("layer", F.lit("a")).unionByName(
        synth_raster(spark, sf_dir, "b").withColumn("layer", F.lit("b"))
    )
    return extract_points_stack(
        pts, stack, G, names=("a", "b"), skipmissing=False,
        sampling="points", atol=EXTRACT_ATOL,
    )


def _extract_name_atol_sql() -> str:
    cx = G.x_sql(G.ix_of_x_sql("p.x"))
    cy = G.y_sql(G.iy_of_y_sql("p.y"))
    return f"""WITH {RAST_A_CTE}, {RAST_B_CTE},
pts AS (
    SELECT t.pt_id, {FX.PX_SQL} AS x, {FX.PY_SQL} AS y
    FROM generate_series(0, {FX.N_EXTRACT_PTS - 1}) t(pt_id)
),
m AS (
    SELECT p.pt_id, p.x, p.y,
           CASE WHEN abs(p.x - {cx}) <= {EXTRACT_ATOL!r}
                     AND abs(p.y - {cy}) <= {EXTRACT_ATOL!r}
                THEN {G.ix_of_x_sql('p.x')} END AS ix,
           CASE WHEN abs(p.x - {cx}) <= {EXTRACT_ATOL!r}
                     AND abs(p.y - {cy}) <= {EXTRACT_ATOL!r}
                THEN {G.iy_of_y_sql('p.y')} END AS iy
    FROM pts p
)
SELECT m.pt_id, m.x, m.y, ra.value AS a, rb.value AS b
FROM m LEFT JOIN rast ra ON ra.ix = m.ix AND ra.iy = m.iy
       LEFT JOIN rast_b rb ON rb.ix = m.ix AND rb.iy = m.iy"""


SQL_extract_name_atol = _extract_name_atol_sql()


def q_extract_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract(id=true): the reference's sequential 1-based geometry id,
    re-expressed as row_number over the input's column sort order (a
    distributed table has no input order) — computed scale-safe via
    ordered_id (range exchange + partition-offset numbering; the only
    single-partition work is one row per shuffle partition)."""
    pts = spark.range(FX.N_EXTRACT_PTS).select(
        F.col("id").alias("pt_id"),
        (((F.col("id") * 7919) % 200) / 10.0).alias("x"),
        (((F.col("id") * 104729) % 200) / 10.0).alias("y"),
    )
    r = synth_raster(spark, sf_dir, "a")
    return extract_points(
        pts, r, G, skipmissing=False, sampling="points", atol=EXTRACT_ATOL, with_id=True
    )


SQL_extract_id = f"""WITH {RAST_A_CTE},
pts AS (
    SELECT t.pt_id, {FX.PX_SQL} AS x, {FX.PY_SQL} AS y
    FROM generate_series(0, {FX.N_EXTRACT_PTS - 1}) t(pt_id)
),
m AS (
    SELECT p.pt_id, p.x, p.y,
           CAST(row_number() OVER (ORDER BY p.pt_id, p.x, p.y) AS INT) AS id,
           CASE WHEN abs(p.x - {G.x_sql(G.ix_of_x_sql('p.x'))}) <= {EXTRACT_ATOL!r}
                     AND abs(p.y - {G.y_sql(G.iy_of_y_sql('p.y'))}) <= {EXTRACT_ATOL!r}
                THEN {G.ix_of_x_sql('p.x')} END AS ix,
           CASE WHEN abs(p.x - {G.x_sql(G.ix_of_x_sql('p.x'))}) <= {EXTRACT_ATOL!r}
                     AND abs(p.y - {G.y_sql(G.iy_of_y_sql('p.y'))}) <= {EXTRACT_ATOL!r}
                THEN {G.iy_of_y_sql('p.y')} END AS iy
    FROM pts p
)
SELECT m.id, m.x, m.y, m.pt_id, r.value
FROM m LEFT JOIN rast r ON r.ix = m.ix AND r.iy = m.iy"""


# -------------------------------------------------------------- resample
def q_resample_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    return resample(synth_raster(spark, sf_dir, "a"), G, FX.RESAMPLE_TGT, "near")


_T = FX.RESAMPLE_TGT
SQL_resample_near = f"""WITH {RAST_A_CTE},
t AS (
    SELECT CAST(jx.j AS INT) AS ix, CAST(jy.j AS INT) AS iy,
           {G.ix_of_x_sql(_T.x_sql('jx.j'))} AS sx,
           {G.iy_of_y_sql(_T.y_sql('jy.j'))} AS sy
    FROM generate_series(0, {_T.nx - 1}) jx(j) CROSS JOIN generate_series(0, {_T.ny - 1}) jy(j)
)
SELECT t.ix, t.iy, r.value FROM t LEFT JOIN rast r ON r.ix = t.sx AND r.iy = t.sy"""


def q_resample_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resample(synth_raster(spark, sf_dir, "a"), G, FX.RESAMPLE_TGT, "bilinear")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def _bilinear_sql() -> str:
    fx = f"(({_T.x_sql('jx.j')} - {G.x0!r}) / {G.dx!r})"
    fy = f"(({_T.y_sql('jy.j')} - {G.y0!r}) / {G.dy!r})"
    terms_num = []
    terms_den = []
    for tag, (ddx, ddy) in {"00": (0, 0), "10": (1, 0), "01": (0, 1), "11": (1, 1)}.items():
        wx = "wx" if ddx else "(1 - wx)"
        wy = "wy" if ddy else "(1 - wy)"
        terms_num.append(f"CASE WHEN v{tag} IS NOT NULL THEN ({wx} * {wy}) * v{tag} ELSE 0.0 END")
        terms_den.append(f"CASE WHEN v{tag} IS NOT NULL THEN ({wx} * {wy}) ELSE 0.0 END")
    num = " + ".join(terms_num)
    den = " + ".join(terms_den)
    joins = "\n".join(
        f"LEFT JOIN rast r{tag} ON r{tag}.ix = t.x0 + {dd[0]} AND r{tag}.iy = t.y0 + {dd[1]}"
        for tag, dd in {"00": (0, 0), "10": (1, 0), "01": (0, 1), "11": (1, 1)}.items()
    )
    sel_v = ", ".join(f"r{tag}.value AS v{tag}" for tag in ("00", "10", "01", "11"))
    return f"""WITH {RAST_A_CTE},
t AS (
    SELECT CAST(jx.j AS INT) AS ix, CAST(jy.j AS INT) AS iy,
           CAST(FLOOR({fx}) AS INT) AS x0, CAST(FLOOR({fy}) AS INT) AS y0,
           {fx} - FLOOR({fx}) AS wx, {fy} - FLOOR({fy}) AS wy
    FROM generate_series(0, {_T.nx - 1}) jx(j) CROSS JOIN generate_series(0, {_T.ny - 1}) jy(j)
),
j AS (
    SELECT t.ix, t.iy, t.wx, t.wy, {sel_v}
    FROM t
    {joins}
)
SELECT ix, iy,
       ROUND(CASE WHEN ({den}) > 0 THEN ({num}) / ({den}) END, 6) AS value
FROM j"""


SQL_resample_bilinear = _bilinear_sql()


def q_resample_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resample(synth_raster(spark, sf_dir, "a"), G, FX.RESAMPLE_TGT, "cubic")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def q_resample_cubicspline(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resample(synth_raster(spark, sf_dir, "a"), G, FX.RESAMPLE_TGT, "cubicspline")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def _cubic_sql(method: str) -> str:
    """k×k-stencil kernel resample oracle — the weight text that
    `operators/resample.py::_sample` runs (gdalwarp cubic/lanczos family,
    `src/extensions.jl:59-75`; conformance style `test/resample.jl:16-27`)."""
    from rasters_jl_spark.operators.resample import KERNEL_OFFSETS, cubic_w_sql

    o0, o1 = KERNEL_OFFSETS[method][0], KERNEL_OFFSETS[method][-1]
    fx = f"(({_T.x_sql('jx.j')} - {G.x0!r}) / {G.dx!r})"
    fy = f"(({_T.y_sql('jy.j')} - {G.y0!r}) / {G.dy!r})"
    tx = "(CAST(di.d AS DOUBLE) - n.wx)"
    ty = "(CAST(dj.d AS DOUBLE) - n.wy)"
    wx = cubic_w_sql(method, tx)
    wy = cubic_w_sql(method, ty)
    return f"""WITH {RAST_A_CTE},
t AS (
    SELECT CAST(jx.j AS INT) AS ix, CAST(jy.j AS INT) AS iy,
           CAST(FLOOR({fx}) AS INT) AS x0, CAST(FLOOR({fy}) AS INT) AS y0,
           {fx} - FLOOR({fx}) AS wx, {fy} - FLOOR({fy}) AS wy
    FROM generate_series(0, {_T.nx - 1}) jx(j) CROSS JOIN generate_series(0, {_T.ny - 1}) jy(j)
),
j AS (
    SELECT n.ix, n.iy,
           CASE WHEN r.value IS NOT NULL THEN (({wx}) * ({wy})) * r.value ELSE 0.0 END AS wv,
           CASE WHEN r.value IS NOT NULL THEN (({wx}) * ({wy})) ELSE 0.0 END AS w,
           CASE WHEN r.value IS NOT NULL THEN 1 ELSE 0 END AS c
    FROM t n
    CROSS JOIN generate_series({o0}, {o1}) di(d) CROSS JOIN generate_series({o0}, {o1}) dj(d)
    LEFT JOIN rast r ON r.ix = n.x0 + di.d AND r.iy = n.y0 + dj.d
)
SELECT ix, iy,
       ROUND(CASE WHEN SUM(c) > 0 AND SUM(w) <> 0.0 THEN SUM(wv) / SUM(w) END, 6) AS value
FROM j GROUP BY ix, iy"""


SQL_resample_cubic = _cubic_sql("cubic")
SQL_resample_cubicspline = _cubic_sql("cubicspline")


def q_resample_lanczos(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resample(synth_raster(spark, sf_dir, "a"), G, FX.RESAMPLE_TGT, "lanczos")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


SQL_resample_lanczos = _cubic_sql("lanczos")


def q_resample_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resample(synth_raster(spark, sf_dir, "a"), G, FX.RESAMPLE_COARSE, "rms")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


SQL_resample_rms = f"""WITH {RAST_A_CTE}
SELECT {FX.RESAMPLE_COARSE.ix_of_x_sql(G.x_sql('ix'))} AS ix,
       {FX.RESAMPLE_COARSE.iy_of_y_sql(G.y_sql('iy'))} AS iy,
       ROUND(SQRT(AVG(value * value)), 6) AS value
FROM rast
WHERE {FX.RESAMPLE_COARSE.in_bounds_sql(FX.RESAMPLE_COARSE.ix_of_x_sql(G.x_sql('ix')), FX.RESAMPLE_COARSE.iy_of_y_sql(G.y_sql('iy')))}
GROUP BY 1, 2"""


def q_resample_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = resample(synth_raster(spark, sf_dir, "a"), G, FX.RESAMPLE_COARSE, "average")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


_C = FX.RESAMPLE_COARSE
SQL_resample_agg = f"""WITH {RAST_A_CTE}
SELECT {_C.ix_of_x_sql(G.x_sql('ix'))} AS ix,
       {_C.iy_of_y_sql(G.y_sql('iy'))} AS iy,
       ROUND(AVG(value), 6) AS value
FROM rast
WHERE {_C.in_bounds_sql(_C.ix_of_x_sql(G.x_sql('ix')), _C.iy_of_y_sql(G.y_sql('iy')))}
GROUP BY 1, 2"""


# -------------------------------------------------------------- cellarea
def q_cellarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = cellarea(spark, FX.CELLAREA_GRID)
    return out.select("ix", "iy", F.round("area_km2", 3).alias("area_km2"))


_CA = FX.CELLAREA_GRID
_TWO_PI_R2 = 2.0 * 3.141592653589793 * 6371.0088 * 6371.0088
SQL_cellarea = f"""
SELECT CAST(jx.j AS INT) AS ix, CAST(jy.j AS INT) AS iy,
       ROUND({_TWO_PI_R2!r} * (SIN(RADIANS({_CA.y_sql('jy.j')} + {_CA.dy / 2.0!r})) -
                               SIN(RADIANS({_CA.y_sql('jy.j')} - {_CA.dy / 2.0!r})))
             * {abs(_CA.dx) / 360.0!r}, 3) AS area_km2
FROM generate_series(0, {_CA.nx - 1}) jx(j) CROSS JOIN generate_series(0, {_CA.ny - 1}) jy(j)"""


def q_cellarea_planar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planar method: constant |dx|·|dy| per cell
    (`src/extensions.jl:242-245`)."""
    from rasters_jl_spark.operators.resample import cellarea_planar

    return cellarea_planar(spark, FX.CELLAREA_GRID)


SQL_cellarea_planar = f"""
SELECT CAST(jx.j AS INT) AS ix, CAST(jy.j AS INT) AS iy,
       CAST({abs(_CA.dx) * abs(_CA.dy)!r} AS DOUBLE) AS area
FROM generate_series(0, {_CA.nx - 1}) jx(j) CROSS JOIN generate_series(0, {_CA.ny - 1}) jy(j)"""


def q_cellarea_quad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical-quadrilateral method (Eriksson triangles over the corner
    ring, `ext/RastersProjExt/cellarea.jl:23-47`) — the oracle runs the
    IDENTICAL SQL expression text, so the two engines share one formula."""
    from rasters_jl_spark.operators.resample import cellarea_quad

    out = cellarea_quad(spark, FX.CELLAREA_GRID)
    return out.select("ix", "iy", F.round("area_km2", 5).alias("area_km2"))


def _cellarea_quad_sql() -> str:
    from rasters_jl_spark.operators.resample import (
        EARTH_R_KM,
        QUAD_AREA_EXPR,
        QUAD_CORNER_EXPRS,
    )

    g = _CA
    pts = ",\n           ".join(f"{expr} AS {name}" for name, expr in QUAD_CORNER_EXPRS)
    return f"""WITH cells AS (
    SELECT CAST(jx.j AS INT) AS ix, CAST(jy.j AS INT) AS iy,
           {g.x_sql('jx.j')} - {g.dx / 2.0!r} AS cx1,
           {g.x_sql('jx.j')} + {g.dx / 2.0!r} AS cx2,
           {g.y_sql('jy.j')} - {g.dy / 2.0!r} AS cy1,
           {g.y_sql('jy.j')} + {g.dy / 2.0!r} AS cy2
    FROM generate_series(0, {g.nx - 1}) jx(j) CROSS JOIN generate_series(0, {g.ny - 1}) jy(j)
),
pts AS (
    SELECT ix, iy,
           {pts}
    FROM cells
)
SELECT ix, iy, ROUND(({QUAD_AREA_EXPR}) * {EARTH_R_KM * EARTH_R_KM!r}, 5) AS area_km2
FROM pts"""


SQL_cellarea_quad = _cellarea_quad_sql()


# -------------------------------------------------------------- coverage
def q_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    universe = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    out = coverage_rect(universe, G, FX.COVERAGE_RECTS, mode="sum")
    return out.select("ix", "iy", F.round("coverage", 6).alias("coverage"))


def _coverage_sql() -> str:
    hdx, hdy = G.dx / 2.0, G.dy / 2.0
    terms = []
    for _gid, xmin, xmax, ymin, ymax in FX.COVERAGE_RECTS:
        ox = f"GREATEST(0.0, LEAST({G.x_sql('ix')} + {hdx!r}, {xmax!r}) - GREATEST({G.x_sql('ix')} - {hdx!r}, {xmin!r}))"
        oy = f"GREATEST(0.0, LEAST({G.y_sql('iy')} + {hdy!r}, {ymax!r}) - GREATEST({G.y_sql('iy')} - {hdy!r}, {ymin!r}))"
        terms.append(f"({ox} * {oy}) / {G.dx * G.dy!r}")
    total = " + ".join(terms)
    return f"""WITH {RAST_A_CTE}
SELECT ix, iy, ROUND({total}, 6) AS coverage FROM rast"""


SQL_coverage = _coverage_sql()


# ---------------------------------------------------------- zonal_stack
def q_zonal_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(geometry, layer) zonal over a 2-layer raster stack — the
    reference's RasterStack zonal (one NamedTuple entry per layer)."""
    from rasters_jl_spark.operators.zonal import zonal_stack

    a = synth_raster(spark, sf_dir, "a").withColumn("layer", F.lit("a"))
    b = synth_raster(spark, sf_dir, "b").withColumn("layer", F.lit("b"))
    out = zonal_stack(a.unionByName(b), G, FX.RASTER_POLYS)
    return out.select(
        "geom_id",
        "layer",
        "n_cells",
        F.round("sum_val", 6).alias("sum_val"),
        F.round("mean_val", 6).alias("mean_val"),
        F.round("min_val", 6).alias("min_val"),
        F.round("max_val", 6).alias("max_val"),
    )


def _zonal_stack_sql() -> str:
    gids = ", ".join(f"({p.geom_id})" for p in FX.RASTER_POLYS)
    return f"""WITH {RAST_A_CTE}, {RAST_B_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)},
stk AS (
    SELECT 'a' AS layer, ix, iy, value FROM rast
    UNION ALL
    SELECT 'b' AS layer, ix, iy, value FROM rast_b
),
hits AS (
    SELECT p.geom_id, s.layer,
           COUNT(s.value) AS n_cells,
           ROUND(SUM(s.value), 6) AS sum_val,
           ROUND(AVG(s.value), 6) AS mean_val,
           ROUND(MIN(s.value), 6) AS min_val,
           ROUND(MAX(s.value), 6) AS max_val
    FROM stk s JOIN pip p ON p.ix = s.ix AND p.iy = s.iy
    GROUP BY 1, 2
)
SELECT CAST(g.gid AS INT) AS geom_id, l.layer,
       COALESCE(h.n_cells, 0) AS n_cells, h.sum_val, h.mean_val, h.min_val, h.max_val
FROM (VALUES {gids}) g(gid)
CROSS JOIN (VALUES ('a'), ('b')) l(layer)
LEFT JOIN hits h ON h.geom_id = g.gid AND h.layer = l.layer"""


SQL_zonal_stack = _zonal_stack_sql()


# --------------------------------------------------------- zonal_extent
def q_zonal_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal over a bare extent (crop-only, no geometry mask) —
    `src/methods/zonal.jl:84-92`."""
    from rasters_jl_spark.operators.zonal import zonal_extent

    xmin, xmax, ymin, ymax = FX.CROP_BOX
    out = zonal_extent(synth_raster(spark, sf_dir, "a"), G, xmin, xmax, ymin, ymax)
    return out.select(
        F.round("sum_val", 6).alias("sum_val"),
        F.round("mean_val", 6).alias("mean_val"),
        "n_cells",
    )


SQL_zonal_extent = f"""WITH {RAST_A_CTE}
SELECT ROUND(SUM(value), 6) AS sum_val, ROUND(AVG(value), 6) AS mean_val,
       COUNT(value) AS n_cells
FROM rast
WHERE {G.x_sql('ix')} >= {FX.CROP_BOX[0]!r} AND {G.x_sql('ix')} <= {FX.CROP_BOX[1]!r}
  AND {G.y_sql('iy')} >= {FX.CROP_BOX[2]!r} AND {G.y_sql('iy')} <= {FX.CROP_BOX[3]!r}"""


# ------------------------------------------------------- coverage_union
def q_coverage_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact union coverage of overlapping rects via scale² subpixel
    counting (the reference's own algorithm, `src/methods/coverage.jl`)."""
    universe = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    out = coverage_subpixel(universe, G, FX.COVERAGE_RECTS, mode="union", scale=10)
    return out.select("ix", "iy", F.round("coverage", 6).alias("coverage"))


def _coverage_union_sql(scale: int = 10) -> str:
    sub_x, sub_y = G.dx / scale, G.dy / scale
    hdx, hdy = G.dx / 2.0, G.dy / 2.0
    px = f"({G.x_sql('ix')} - {hdx!r} + (CAST(u.j AS DOUBLE) + 0.5) * {sub_x!r})"
    py = f"({G.y_sql('iy')} - {hdy!r} + (CAST(v.j AS DOUBLE) + 0.5) * {sub_y!r})"
    conds = [
        f"({px} >= {xmin!r} AND {px} < {xmax!r} AND {py} >= {ymin!r} AND {py} < {ymax!r})"
        for _gid, xmin, xmax, ymin, ymax in FX.COVERAGE_RECTS
    ]
    anyrect = " OR ".join(conds)
    return f"""WITH {RAST_A_CTE}
SELECT ix, iy,
       ROUND(CAST(SUM(CASE WHEN {anyrect} THEN 1 ELSE 0 END) AS DOUBLE) / {float(scale * scale)!r}, 6) AS coverage
FROM rast
CROSS JOIN generate_series(0, {scale - 1}) u(j)
CROSS JOIN generate_series(0, {scale - 1}) v(j)
GROUP BY ix, iy"""


SQL_coverage_union = _coverage_union_sql()


# ------------------------------------------------------------ focal_mean
def q_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = focal_mean(synth_raster(spark, sf_dir, "a"), radius=1, stat="mean")
    return out.select("ix", "iy", F.round("focal_val", 6).alias("focal_val"))


SQL_focal_mean = f"""WITH {RAST_A_CTE}
SELECT r.ix, r.iy, ROUND(AVG(n.value), 6) AS focal_val
FROM rast r LEFT JOIN rast n
  ON n.ix BETWEEN r.ix - 1 AND r.ix + 1
 AND n.iy BETWEEN r.iy - 1 AND r.iy + 1
 AND n.value IS NOT NULL
GROUP BY r.ix, r.iy"""


def q_focal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated neighbourhood median (percentile pairing that
    matches DuckDB median() bit-for-bit after 6 dp)."""
    out = focal_mean(synth_raster(spark, sf_dir, "a"), radius=1, stat="median")
    return out.select("ix", "iy", F.round("focal_val", 6).alias("focal_val"))


SQL_focal_median = f"""WITH {RAST_A_CTE}
SELECT r.ix, r.iy, ROUND(MEDIAN(n.value), 6) AS focal_val
FROM rast r LEFT JOIN rast n
  ON n.ix BETWEEN r.ix - 1 AND r.ix + 1
 AND n.iy BETWEEN r.iy - 1 AND r.iy + 1
 AND n.value IS NOT NULL
GROUP BY r.ix, r.iy"""


def q_focal_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance²-kernel focal mean — the custom-weight window
    surface; kernel renormalises over missing/border neighbours."""
    from rasters_jl_spark.operators.focal import focal_weighted

    out = focal_weighted(synth_raster(spark, sf_dir, "a"), radius=1)
    return out.select("ix", "iy", F.round("focal_val", 6).alias("focal_val"))


SQL_focal_weighted = f"""WITH {RAST_A_CTE}
SELECT r.ix, r.iy,
       ROUND(SUM(n.value / (1.0 + (n.ix - r.ix) * (n.ix - r.ix) + (n.iy - r.iy) * (n.iy - r.iy)))
             / SUM(1.0 / (1.0 + (n.ix - r.ix) * (n.ix - r.ix) + (n.iy - r.iy) * (n.iy - r.iy))), 6) AS focal_val
FROM rast r LEFT JOIN rast n
  ON n.ix BETWEEN r.ix - 1 AND r.ix + 1
 AND n.iy BETWEEN r.iy - 1 AND r.iy + 1
 AND n.value IS NOT NULL
GROUP BY r.ix, r.iy"""


# ------------------------------------------------------ extract_polygons
def q_extract_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row per (geom, cell) covered by each polygon (skipmissing=True)."""
    from rasters_jl_spark.operators.extract import extract_polygons

    return extract_polygons(synth_raster(spark, sf_dir, "a"), G, FX.RASTER_POLYS)


SQL_extract_polygons = f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)}
SELECT CAST(p.geom_id AS INT) AS geom_id, r.ix, r.iy, r.value
FROM rast r JOIN pip p ON p.ix = r.ix AND p.iy = r.iy
WHERE r.value IS NOT NULL"""
