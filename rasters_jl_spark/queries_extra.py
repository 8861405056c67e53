"""Additional operator queries + oracles: missingmask, points, mosaic_last,
locus aggregate, fractional resample, create, line extract, embedding
near-dup, series slicing."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.functions import ann
from rasters_jl_spark.functions.geometry import (
    clip_area_edge_sql,
    crossing_sql,
    edges_values_sql,
    pip_sql,
    polys_values_sql,
    seg_rect_sql,
)
from rasters_jl_spark.grid import GridSpec, dbl_sql
from rasters_jl_spark.operators.aggregate import aggregate
from rasters_jl_spark.operators.core import classify, points
from rasters_jl_spark.operators.extras import (
    create_raster,
    extract_lines,
    fractional_resample,
    missingmask,
    slice_series,
)
from rasters_jl_spark.queries_core import RAST_A_CTE, _MOSAIC_CTES, _pip_cells_cte, _region_df, _REG1, _REG2
from rasters_jl_spark.operators.mosaic import mosaic
from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster, synth_raster_sql

G = RASTER_GRID


# ------------------------------------------------------------ missingmask
def q_missingmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    return missingmask(synth_raster(spark, sf_dir, "a"), G, [FX.RASTER_POLYS[1]], "center")


SQL_missingmask = f"""WITH {RAST_A_CTE}, {_pip_cells_cte([FX.RASTER_POLYS[1]])}
SELECT r.ix, r.iy, CASE WHEN p.ix IS NOT NULL THEN TRUE END AS mask
FROM rast r LEFT JOIN (SELECT DISTINCT ix, iy FROM pip) p ON r.ix = p.ix AND r.iy = p.iy"""


# ----------------------------------------------------------------- points
def q_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return points(synth_raster(spark, sf_dir, "a"), G, skipmissing=True)


SQL_points = f"""WITH {RAST_A_CTE}
SELECT {G.x_sql('ix')} AS x, {G.y_sql('iy')} AS y, value
FROM rast WHERE value IS NOT NULL"""


# ------------------------------------------------------------ mosaic_last
def q_mosaic_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = mosaic([_region_df(spark, _REG1), _region_df(spark, _REG2)], "last")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


SQL_mosaic_last = f"""WITH {_MOSAIC_CTES}
SELECT COALESCE(r1.ix, r2.ix) AS ix, COALESCE(r1.iy, r2.iy) AS iy,
       ROUND(CAST(COALESCE(r2.value, r1.value) AS DOUBLE), 6) AS value
FROM r1 FULL OUTER JOIN r2 ON r1.ix = r2.ix AND r1.iy = r2.iy"""


# -------------------------------------------------------- aggregate_locus
def q_aggregate_locus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return aggregate(synth_raster(spark, sf_dir, "a"), FX.AGG_SCALE, "center")


_OFF = FX.AGG_SCALE // 2
SQL_aggregate_locus = f"""WITH {RAST_A_CTE}
SELECT CAST(ix // {FX.AGG_SCALE} AS INT) AS ix, CAST(iy // {FX.AGG_SCALE} AS INT) AS iy, value
FROM rast WHERE ix % {FX.AGG_SCALE} = {_OFF} AND iy % {FX.AGG_SCALE} = {_OFF}"""


# --------------------------------------------------- fractional_resample
def q_fractional_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = classify(synth_raster(spark, sf_dir, "a"), FX.CLASSIFY_BINS, others=0)
    return fractional_resample(cat, FX.AGG_SCALE)


def _classify_case_sql() -> str:
    whens = " ".join(
        f"WHEN value >= {lo!r} AND value < {hi!r} THEN {cls}" for lo, hi, cls in FX.CLASSIFY_BINS
    )
    return f"CASE WHEN value IS NULL THEN NULL {whens} ELSE 0 END"


SQL_fractional_resample = f"""WITH {RAST_A_CTE},
cat AS (SELECT ix, iy, {_classify_case_sql()} AS value FROM rast),
cnt AS (
    SELECT CAST(ix // {FX.AGG_SCALE} AS INT) AS ix, CAST(iy // {FX.AGG_SCALE} AS INT) AS iy,
           value AS category, COUNT(*) AS n
    FROM cat WHERE value IS NOT NULL GROUP BY 1, 2, 3
),
tot AS (SELECT ix, iy, SUM(n) AS t FROM cnt GROUP BY ix, iy)
SELECT c.ix, c.iy, c.category, ROUND(CAST(c.n AS DOUBLE) / t.t, 6) AS frac
FROM cnt c JOIN tot t ON c.ix = t.ix AND c.iy = t.iy"""


# ----------------------------------------------------------------- create
_CREATE_GRID = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=12, ny=9)


def q_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    return create_raster(spark, _CREATE_GRID, fill=1.5, missing_every=7)


SQL_create = f"""
SELECT CAST(x.ix AS INT) AS ix, CAST(y.iy AS INT) AS iy,
       CAST(CASE WHEN (x.ix + y.iy) % 7 = 0 THEN NULL ELSE 1.5 END AS DOUBLE) AS value
FROM generate_series(0, {_CREATE_GRID.nx - 1}) x(ix)
CROSS JOIN generate_series(0, {_CREATE_GRID.ny - 1}) y(iy)"""


# ---------------------------------------------------------- extract_lines
_SEGS = [(1, 2.0, 3.0, 2.0, 15.0), (2, 0.0, 7.0, 19.0, 7.0)]


def q_extract_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = synth_raster(spark, sf_dir, "a")
    return extract_lines(spark, _SEGS, r, G, skipmissing=True)


SQL_extract_lines = f"""WITH {RAST_A_CTE},
cells AS (
    SELECT 1 AS geom_id, 2 AS cix, CAST(iy.i AS INT) AS ciy
    FROM generate_series(3, 15) iy(i)
    UNION ALL
    SELECT 2 AS geom_id, CAST(ix.i AS INT) AS cix, 7 AS ciy
    FROM generate_series(0, 19) ix(i)
)
SELECT c.cix AS ix, c.ciy AS iy, c.geom_id, r.value
FROM cells c JOIN rast r ON r.ix = c.cix AND r.iy = c.ciy
WHERE r.value IS NOT NULL"""


# --------------------------------------------------------- rasterize_lines
def q_rasterize_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line burn (`rasterize` shape=:line): DDA walk per segment on the
    geometry side, per-geometry cell dedup, reducer over overlaps — the
    crossing cell (2, 7) sums both fills (`src/methods/burning/line.jl`)."""
    from rasters_jl_spark.operators.rasterize import rasterize_lines

    segs = [(g, x1, y1, x2, y2, fill) for (g, x1, y1, x2, y2), fill in
            zip(_SEGS, (2.0, 5.0))]
    return rasterize_lines(spark, segs, G, reducer="sum")


SQL_rasterize_lines = """WITH cells AS (
    SELECT 1 AS geom_id, 2 AS cix, CAST(iy.i AS INT) AS ciy, 2.0 AS fill
    FROM generate_series(3, 15) iy(i)
    UNION ALL
    SELECT 2 AS geom_id, CAST(ix.i AS INT) AS cix, 7 AS ciy, 5.0 AS fill
    FROM generate_series(0, 19) ix(i)
)
SELECT cix AS ix, ciy AS iy, CAST(SUM(fill) AS DOUBLE) AS value
FROM cells GROUP BY 1, 2"""


# -------------------------------------------------------- dedup_embedding
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: planted duplicate vectors found through
    LSH bucket blocking + exact cosine verify ≥ 0.9999."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dups = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    aug = emb.unionByName(dups)
    withb = aug.select(
        "vec_id", F.col("embedding").alias("_v"), ann.lsh_bucket_col(F.col("embedding")).alias("bucket")
    )
    a = withb.select(F.col("vec_id").alias("vec_a"), F.col("_v").alias("_va"), "bucket")
    b = withb.select(F.col("vec_id").alias("vec_b"), F.col("_v").alias("_vb"), "bucket")
    sim = ann.cosine_col(F.col("_va"), F.col("_vb"))
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(sim, 6))
        .where(F.col("cosine") >= 0.9999)
        .select("vec_a", "vec_b", "cosine")
    )


from rasters_jl_spark.queries_text import _lsh_bucket_sql  # noqa: E402

SQL_dedup_embedding = f"""WITH aug AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 10000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 20 = 0
),
wb AS (SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM aug),
scored AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.v, b.v) /
                 (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.9999"""


# ------------------------------------------------------------ series_daily
def q_series_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    sliced = slice_series(events, "ts", "1 day")
    return sliced.groupBy(F.to_date("slice_ts").alias("slice_date")).agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )


SQL_series_daily = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS slice_date, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1"""


# -------------------------------------------------- series rolling / anomaly
def q_series_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell rolling mean along the series dimension (cell = hashed key
    playing the raster-cell role): one window pass over the whole series,
    row frame (3 preceding + current), deterministic tiebreak."""
    from rasters_jl_spark.operators.extras import series_rolling

    events = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "cell", (F.col("user_id") % 64).cast("int")
    )
    out = series_rolling(events, "cell", "ts", "value", n_preceding=3)
    return out.select("cell", "event_id", F.round("roll_mean", 6).alias("roll_mean"))


SQL_series_rolling = """
SELECT CAST(user_id % 64 AS INT) AS cell, event_id,
       ROUND(SUM(CAST(ROUND(value * 1000000) AS BIGINT)) OVER w / 1000000.0
             / (COUNT(*) OVER w), 6) AS roll_mean
FROM events
WINDOW w AS (PARTITION BY user_id % 64 ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"""


def q_series_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell anomaly vs the cell's whole-series mean (climatology
    baseline) — unbounded window, no self-join."""
    from rasters_jl_spark.operators.extras import series_anomaly

    events = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "cell", (F.col("user_id") % 64).cast("int")
    )
    out = series_anomaly(events, "cell", "value")
    return out.select("cell", "event_id", F.round("anomaly", 6).alias("anomaly"))


SQL_series_anomaly = """
SELECT CAST(user_id % 64 AS INT) AS cell, event_id,
       ROUND(value - SUM(CAST(ROUND(value * 1000000) AS BIGINT)) OVER w / 1000000.0
                     / (COUNT(*) OVER w), 6) AS anomaly
FROM events
WINDOW w AS (PARTITION BY user_id % 64)"""


# ------------------------------------------------------ multimodal_features
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode over binary payloads: deterministic codec-free
    images (P6 PPM + 24-bit BMP) decoded by a mapInPandas kernel that
    parses header dims and pixel arrays from the bytes
    (`functions/multimodal.py::decode_image`). Oracle recomputes the header
    dims and storage-order channel means from the same modular pixel rule
    (pure integer arithmetic — DuckDB-expressible), closing the round-2
    rows-only gap."""
    from rasters_jl_spark.functions.multimodal import decode_image_features, synth_images

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_image_features(synth_images(docs, limit=40))


SQL_multimodal_features = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 5
                     ELSE 4 + 4 * (doc_id % 3) END AS INT) AS width,
           CAST(3 + doc_id % 4 AS INT) AS height
    FROM base
),
px AS (
    -- generate_series can't take lateral column bounds in DuckDB: emit the
    -- max byte count (w<=12, h<=6 -> 216) and filter per image
    SELECT d.doc_id, d.fmt, d.width, d.height, s.k,
           CAST((d.doc_id * 7 + s.k) % 256 AS DOUBLE) AS v
    FROM dims d CROSS JOIN generate_series(0, 215) s(k)
    WHERE s.k < d.width * d.height * 3
)
SELECT doc_id AS media_id, fmt, width, height,
       ROUND(AVG(CASE WHEN k % 3 = 0 THEN v END), 6) AS c0_mean,
       ROUND(AVG(CASE WHEN k % 3 = 1 THEN v END), 6) AS c1_mean,
       ROUND(AVG(CASE WHEN k % 3 = 2 THEN v END), 6) AS c2_mean
FROM px GROUP BY doc_id, fmt, width, height"""


# --------------------------------------------------------- multimodal_png
def q_multimodal_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode: deterministic 8-bit truecolor PNGs
    (zlib-deflated IDAT, one of the five scanline filters per row) decoded
    by the same mapInPandas kernel via stdlib zlib inflate + defilter
    (`functions/multimodal.py::_decode_png`). Oracle recomputes header
    dims and channel means from the modular pixel rule — the decode must
    invert compression AND filtering exactly to match."""
    from rasters_jl_spark.functions.multimodal import decode_image_features, synth_png

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_image_features(synth_png(docs, limit=40))


SQL_multimodal_png = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id, 'png' AS fmt,
           CAST(4 + doc_id % 5 AS INT) AS width,
           CAST(3 + doc_id % 4 AS INT) AS height
    FROM base
),
px AS (
    -- w<=8, h<=6 -> max 144 pixel bytes; emit the max and filter per image
    SELECT d.doc_id, d.fmt, d.width, d.height, s.k,
           CAST((d.doc_id * 11 + s.k) % 256 AS DOUBLE) AS v
    FROM dims d CROSS JOIN generate_series(0, 143) s(k)
    WHERE s.k < d.width * d.height * 3
)
SELECT doc_id AS media_id, fmt, width, height,
       ROUND(AVG(CASE WHEN k % 3 = 0 THEN v END), 6) AS c0_mean,
       ROUND(AVG(CASE WHEN k % 3 = 1 THEN v END), 6) AS c1_mean,
       ROUND(AVG(CASE WHEN k % 3 = 2 THEN v END), 6) AS c2_mean
FROM px GROUP BY doc_id, fmt, width, height"""


# --------------------------------------------------------- multimodal_jpeg
def q_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-container decode: deterministic baseline grayscale JPEGs
    (stdlib-only encoder driving quantized DC coefficients from a modular
    rule) decoded by the full Huffman/DC-prediction/dequant/IDCT pipeline
    (`functions/multimodal.py::_decode_jpeg`). The entropy stage is
    lossless over quantized coefficients and a DC-only block IDCTs to the
    constant 128 + 2·DCq, so the oracle recomputes per-image means from
    the rule — the decoder must land on them exactly."""
    from rasters_jl_spark.functions.multimodal import decode_image_features, synth_jpeg

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_image_features(synth_jpeg(docs, limit=40))


SQL_multimodal_jpeg = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id, 'jpeg' AS fmt,
           CAST(8 * (1 + doc_id % 3) AS INT) AS width,
           CAST(8 * (1 + doc_id % 2) AS INT) AS height,
           (1 + doc_id % 3) * (1 + doc_id % 2) AS nb
    FROM base
),
px AS (
    -- <= 6 blocks per image; a DC-only block decodes to the constant
    -- 128 + 2*DCq, and equal-sized blocks make the image mean the mean
    -- of the block constants
    SELECT d.doc_id, d.fmt, d.width, d.height,
           CAST(128 + 2 * (((d.doc_id * 7 + s.b * 3) % 33) - 16) AS DOUBLE) AS v
    FROM dims d CROSS JOIN generate_series(0, 5) s(b)
    WHERE s.b < d.nb
)
SELECT doc_id AS media_id, fmt, width, height,
       ROUND(AVG(v), 6) AS c0_mean,
       ROUND(AVG(v), 6) AS c1_mean,
       ROUND(AVG(v), 6) AS c2_mean
FROM px GROUP BY doc_id, fmt, width, height"""


# ---------------------------------------------------- multimodal_jpeg_color
def q_multimodal_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:4:4 COLOR baseline JPEG decode: interleaved per-component MCUs
    with independent DC predictors, then the JFIF YCbCr→RGB transform.
    DC-only blocks decode to constant Y/Cb/Cr planes, so the oracle
    recomputes each block's RGB from the modular DC rules and the same
    transform arithmetic (every value ≥0.004 from a round-half boundary,
    checked exhaustively — NumPy half-even vs SQL half-away can't
    diverge)."""
    from rasters_jl_spark.functions.multimodal import (
        decode_image_features,
        synth_jpeg_color,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_image_features(synth_jpeg_color(docs, limit=40))


SQL_multimodal_jpeg_color = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id, 'jpeg' AS fmt,
           CAST(8 * (1 + doc_id % 3) AS INT) AS width,
           CAST(8 * (1 + doc_id % 2) AS INT) AS height,
           (1 + doc_id % 3) * (1 + doc_id % 2) AS nb
    FROM base
),
ycc AS (
    SELECT d.doc_id, d.fmt, d.width, d.height,
           CAST(128 + 2 * (((d.doc_id * 7 + s.b * 3) % 33) - 16) AS DOUBLE) AS y,
           CAST(2 * (((d.doc_id * 5 + s.b * 11) % 21) - 10) AS DOUBLE) AS cb,
           CAST(2 * (((d.doc_id * 13 + s.b * 17) % 25) - 12) AS DOUBLE) AS cr
    FROM dims d CROSS JOIN generate_series(0, 5) s(b)
    WHERE s.b < d.nb
),
px AS (
    SELECT doc_id, fmt, width, height,
           LEAST(GREATEST(ROUND(y + 1.402 * cr, 0), 0), 255) AS r,
           LEAST(GREATEST(ROUND(y - 0.344136 * cb - 0.714136 * cr, 0), 0), 255) AS g,
           LEAST(GREATEST(ROUND(y + 1.772 * cb, 0), 0), 255) AS bl
    FROM ycc
)
SELECT doc_id AS media_id, fmt, width, height,
       ROUND(AVG(r), 6) AS c0_mean,
       ROUND(AVG(g), 6) AS c1_mean,
       ROUND(AVG(bl), 6) AS c2_mean
FROM px GROUP BY doc_id, fmt, width, height"""


# ----------------------------------------------------- multimodal_jpeg_420
def q_multimodal_jpeg_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 SUBSAMPLED color JPEG decode: 2×2-Y MCUs with one chroma
    block each, per-component DC predictors, nearest-replication chroma
    upsample, JFIF YCbCr→RGB. The oracle walks Y blocks (4 per MCU) and
    recomputes each block's RGB from the modular DC rules — subsampling
    means chroma is shared across the MCU's four Y blocks, which the
    oracle expresses as m = b // 4."""
    from rasters_jl_spark.functions.multimodal import (
        decode_image_features,
        synth_jpeg_420,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_image_features(synth_jpeg_420(docs, limit=40))


SQL_multimodal_jpeg_420 = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id, 'jpeg' AS fmt,
           CAST(16 * (1 + doc_id % 2) AS INT) AS width,
           CAST(16 * (1 + doc_id % 3) AS INT) AS height,
           (1 + doc_id % 2) * (1 + doc_id % 3) AS nm
    FROM base
),
ycc AS (
    -- one row per Y block (4 per MCU, <= 24); chroma keyed on the MCU
    SELECT d.doc_id, d.fmt, d.width, d.height,
           CAST(128 + 2 * (((d.doc_id * 7 + s.b * 3) % 33) - 16) AS DOUBLE) AS y,
           CAST(2 * (((d.doc_id * 5 + (s.b // 4) * 11) % 21) - 10) AS DOUBLE) AS cb,
           CAST(2 * (((d.doc_id * 13 + (s.b // 4) * 17) % 25) - 12) AS DOUBLE) AS cr
    FROM dims d CROSS JOIN generate_series(0, 23) s(b)
    WHERE s.b < 4 * d.nm
),
px AS (
    SELECT doc_id, fmt, width, height,
           LEAST(GREATEST(ROUND(y + 1.402 * cr, 0), 0), 255) AS r,
           LEAST(GREATEST(ROUND(y - 0.344136 * cb - 0.714136 * cr, 0), 0), 255) AS g,
           LEAST(GREATEST(ROUND(y + 1.772 * cb, 0), 0), 255) AS bl
    FROM ycc
)
SELECT doc_id AS media_id, fmt, width, height,
       ROUND(AVG(r), 6) AS c0_mean,
       ROUND(AVG(g), 6) AS c1_mean,
       ROUND(AVG(bl), 6) AS c2_mean
FROM px GROUP BY doc_id, fmt, width, height"""


# ----------------------------------------------------- multimodal_jpeg_prog
def q_multimodal_jpeg_prog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode: T.81 Annex G spectral-selection +
    successive-approximation scans (`functions/multimodal.py::
    _decode_jpeg_progressive`) — DC first at Al=1 merged with a DC refine
    bit, and per-band AC scans whose all-zero bands are cross-block
    EOBRUN streams in both first and refine forms. Same geometry and
    quantized-DC modular rule as `multimodal_jpeg`, so the oracle
    arithmetic carries over: the decoder must reassemble the DC value
    from two scans and still land on 128 + 2·DCq exactly."""
    from rasters_jl_spark.functions.multimodal import (
        decode_image_features,
        synth_jpeg_prog,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_image_features(synth_jpeg_prog(docs, limit=40))


SQL_multimodal_jpeg_prog = SQL_multimodal_jpeg


# ------------------------------------------------------ multimodal_resize
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode → nearest-neighbour resize to 8×8 → per-channel means
    of the resized pixels. The floor index mapping (sy = ty*h // 8) lets
    the oracle address the surviving source bytes by modular arithmetic;
    BMP's bottom-up storage makes the row flip observable (storage row =
    h-1-sy), so the oracle genuinely checks the decoder's orientation."""
    from rasters_jl_spark.functions.multimodal import resize_image_features, synth_images

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return resize_image_features(synth_images(docs, limit=40), tw=8, th=8)


SQL_multimodal_resize = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'bmp' END AS fmt,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 4 + doc_id % 5
                     ELSE 4 + 4 * (doc_id % 3) END AS INT) AS width,
           CAST(3 + doc_id % 4 AS INT) AS height
    FROM base
),
tgt AS (
    SELECT d.doc_id, d.fmt, d.width, d.height, c.c,
           (ty.ty * d.height) // 8 AS sy,
           (tx.tx * d.width) // 8 AS sx
    FROM dims d
    CROSS JOIN generate_series(0, 7) ty(ty)
    CROSS JOIN generate_series(0, 7) tx(tx)
    CROSS JOIN generate_series(0, 2) c(c)
),
v AS (
    SELECT doc_id, fmt, c,
           CAST((doc_id * 7 +
                 ((CASE WHEN fmt = 'bmp' THEN height - 1 - sy ELSE sy END) * width + sx) * 3 + c)
                % 256 AS DOUBLE) AS v
    FROM tgt
)
SELECT doc_id AS media_id, fmt, CAST(8 AS INT) AS rw, CAST(8 AS INT) AS rh,
       ROUND(AVG(CASE WHEN c = 0 THEN v END), 6) AS c0_mean,
       ROUND(AVG(CASE WHEN c = 1 THEN v END), 6) AS c1_mean,
       ROUND(AVG(CASE WHEN c = 2 THEN v END), 6) AS c2_mean
FROM v GROUP BY doc_id, fmt"""


# ------------------------------------------------------ multimodal_frames
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling: parse the RVID header, byte-slice every 2nd
    raw frame (unsampled frames are never touched — the point of frame
    sampling), one row per sampled frame with its pixel mean."""
    from rasters_jl_spark.functions.multimodal import sample_video_frames, synth_video

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return sample_video_frames(synth_video(docs, limit=40), every=2)


SQL_multimodal_frames = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
par AS (
    SELECT doc_id, 6 + doc_id % 5 AS nf,
           (4 + doc_id % 3) * (2 + doc_id % 3) * 3 AS fsize
    FROM base
),
fr AS (
    SELECT p.doc_id, f.f, p.fsize
    FROM par p CROSS JOIN generate_series(0, 10) f(f)
    WHERE f.f < p.nf AND f.f % 2 = 0
),
b AS (
    -- max frame size is 6*4*3 = 72 bytes; filter per video
    SELECT fr.doc_id, fr.f,
           CAST((fr.doc_id * 11 + fr.f * fr.fsize + k.k) % 256 AS DOUBLE) AS v
    FROM fr CROSS JOIN generate_series(0, 71) k(k)
    WHERE k.k < fr.fsize
)
SELECT doc_id AS media_id, CAST(f AS INT) AS frame_idx, ROUND(AVG(v), 6) AS f_mean
FROM b GROUP BY doc_id, f"""


# ------------------------------------------------------- multimodal_audio
def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over binary payloads: deterministic RIFF/WAVE
    PCM16 files parsed by a mapInPandas kernel (chunk walk, fmt/data,
    int16 frames — `functions/multimodal.py::decode_audio`). The oracle
    recomputes channels/rate/frames/duration and per-channel mean/RMS from
    the same modular sample rule; integer sums are exact in float64, so
    the 6-dp rounds agree across engines."""
    from rasters_jl_spark.functions.multimodal import decode_audio_features, synth_audio

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_audio_features(synth_audio(docs, limit=40))


SQL_multimodal_audio = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
par AS (
    SELECT doc_id,
           CAST(1 + doc_id % 2 AS INT) AS channels,
           CAST(8000 AS INT) AS sample_rate,
           CAST(200 + (doc_id % 5) * 40 AS INT) AS n_frames
    FROM base
),
sm AS (
    -- generate_series can't take lateral column bounds: emit max frames
    -- (360) x max channels (2) and filter per file
    SELECT p.*, c.c,
           CAST((p.doc_id * 13 + (s.f * p.channels + c.c) * 7) % 4096 - 2048 AS DOUBLE) AS v
    FROM par p
    CROSS JOIN generate_series(0, 359) s(f)
    CROSS JOIN generate_series(0, 1) c(c)
    WHERE s.f < p.n_frames AND c.c < p.channels
)
SELECT doc_id AS media_id, channels, sample_rate, n_frames,
       CAST(n_frames * 1000 // sample_rate AS INT) AS duration_ms,
       ROUND(AVG(CASE WHEN c = 0 THEN v END), 6) AS c0_mean,
       ROUND(SQRT(AVG(CASE WHEN c = 0 THEN v * v END)), 6) AS c0_rms,
       ROUND(AVG(CASE WHEN c = 1 THEN v END), 6) AS c1_mean,
       ROUND(SQRT(AVG(CASE WHEN c = 1 THEN v * v END)), 6) AS c1_rms
FROM sm GROUP BY doc_id, channels, sample_rate, n_frames"""


# ------------------------------------------------------ boolmask_multipoly
from rasters_jl_spark.functions.geometry import Polygon as _Poly  # noqa: E402

# Disjoint multipolygon as ONE geometry: even-odd parity over the combined
# edge set classifies every disjoint component's interior as inside — the
# same combined-ring mechanism that implements holes (a ring is a "hole"
# only if it nests inside another ring).
MULTI_POLY = _Poly(
    8,
    ((1.5, 1.5), (7.5, 1.5), (7.5, 7.5), (1.5, 7.5)),
    holes=(((11.5, 11.5), (17.5, 11.5), (17.5, 17.5), (11.5, 17.5)),),
)


def q_boolmask_multipoly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasters_jl_spark.operators.core import boolmask

    return boolmask(synth_raster(spark, sf_dir, "a"), G, [MULTI_POLY], boundary="center")


def _multipoly_sql() -> str:
    # Polygon.bbox spans ALL rings, so the prefilter keeps both disjoint
    # components; mirrored here
    cx, cy = G.x_sql("r.ix"), G.y_sql("r.iy")
    xmin, xmax, ymin, ymax = MULTI_POLY.bbox

    return f"""WITH {RAST_A_CTE},
gedges AS ({edges_values_sql([MULTI_POLY])}),
pip AS (
    SELECT r.ix, r.iy
    FROM rast r JOIN gedges e
      ON {crossing_sql(cx, cy, 'e')}
    WHERE {cx} >= {xmin!r} AND {cx} <= {xmax!r} AND {cy} >= {ymin!r} AND {cy} <= {ymax!r}
    GROUP BY r.ix, r.iy
    HAVING COUNT(*) % 2 = 1
)
SELECT r.ix, r.iy, (p.ix IS NOT NULL) AS mask
FROM rast r LEFT JOIN pip p ON r.ix = p.ix AND r.iy = p.iy"""


SQL_boolmask_multipoly = _multipoly_sql()


# ------------------------------------------------------- stream_dedup_pairs
def q_stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming LSH candidate maintenance, checked against the
    BATCH candidate set: the corpus is split into two files and drained as
    two micro-batches (maxFilesPerTrigger=1) through
    `streaming/dedup_stream.py` — bucket membership persists as stream
    state between batches, so the union of emitted pairs must equal the
    batch LSH candidate pairs (the oracle)."""
    import tempfile

    from rasters_jl_spark.streaming.dedup_stream import start_dedup_stream

    base = tempfile.mkdtemp(prefix="stream_dedup_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(
        spark, src, docs.schema, out, ck, max_files_per_trigger=1
    )
    drained = q.awaitTermination(600)
    assert drained, "availableNow dedup stream did not finish draining"
    return spark.read.parquet(out).select("doc_a", "doc_b").distinct()


def q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination checked against the BATCH operator: the
    corpus drains as two micro-batches through a stream-static broadcast
    join vs the eval gram-hash set; the union of appended hits, re-grouped,
    must equal batch `decontaminate` (the oracle). Stateless streaming —
    flagging needs no cross-batch memory."""
    import tempfile

    from rasters_jl_spark.streaming.ingest import start_decontaminate_stream

    base = tempfile.mkdtemp(prefix="stream_decon_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    ev = docs.where(F.col("doc_id") % 50 == 0).select(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 2, 16)).alias("text")
    )
    q = start_decontaminate_stream(spark, src, docs.schema, ev, out, ck)
    drained = q.awaitTermination(600)
    assert drained, "availableNow decontaminate stream did not finish draining"
    return (
        spark.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_hit_grams"))
    )


SQL_stream_decontaminate = """WITH ev AS (
    SELECT array_to_string((string_split(text, ' '))[2:17], ' ') AS etext
    FROM documents WHERE doc_id % 50 = 0
),
eg AS (
    SELECT DISTINCT md5(array_to_string(t.toks[g.i:g.i+7], ' ')) AS gh
    FROM (SELECT string_split(etext, ' ') AS toks FROM ev) t,
         LATERAL unnest(range(1, len(t.toks) - 6)) AS g(i)
),
dg AS (
    SELECT t.doc_id, md5(array_to_string(t.toks[g.i:g.i+7], ' ')) AS gh
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
         LATERAL unnest(range(1, len(t.toks) - 6)) AS g(i)
)
SELECT dg.doc_id, COUNT(DISTINCT dg.gh) AS n_hit_grams
FROM dg JOIN eg ON eg.gh = dg.gh
GROUP BY dg.doc_id"""


def _stream_dedup_sql() -> str:
    from rasters_jl_spark.queries_text import minhash_cand_ctes

    return f"""WITH {minhash_cand_ctes('documents')}
SELECT doc_a, doc_b FROM cand"""


SQL_stream_dedup_pairs = _stream_dedup_sql()


# ------------------------------------------------------- stream_zonal_stats
def q_stream_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming zonal (running per-geometry stats in Spark's
    streaming aggregate state), checked against the BATCH zonal result: the
    corpus drains as two micro-batches; state carries (n, sum, min, max)
    across batches, so the LATEST emitted row per geometry must equal the
    batch aggregation over all pages."""
    import tempfile

    from pyspark.sql import Window

    from rasters_jl_spark.streaming.zonal_stream import start_zonal_stream

    base = tempfile.mkdtemp(prefix="stream_zonal_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q = start_zonal_stream(
        spark, src, docs.schema, FX.POLYS_GEO, out, ck, max_files_per_trigger=1
    )
    drained = q.awaitTermination(600)
    assert drained, "availableNow zonal stream did not finish draining"
    res = spark.read.parquet(out)
    w = Window.partitionBy("geom_id").orderBy(F.col("batch_id").desc())
    latest = res.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return latest.select(
        "geom_id",
        "n_pages",
        F.round("sum_val", 6).alias("sum_val"),
        F.round(F.col("sum_val") / F.col("n_pages"), 6).alias("mean_val"),
        "min_val",
        "max_val",
    )


def _stream_zonal_sql() -> str:
    from rasters_jl_spark.queries_core import _sjoin_ctes

    return f"""WITH {_sjoin_ctes()}
SELECT geom_id, COUNT(*) AS n_pages,
       ROUND(CAST(SUM(n_chars) AS DOUBLE), 6) AS sum_val,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_val,
       CAST(MIN(n_chars) AS DOUBLE) AS min_val,
       CAST(MAX(n_chars) AS DOUBLE) AS max_val
FROM hits GROUP BY geom_id"""


SQL_stream_zonal_stats = _stream_zonal_sql()


# ------------------------------------------------------------ boolmask_holed
from rasters_jl_spark.functions.geometry import Polygon as _Poly  # noqa: E402

HOLED_POLY = _Poly(
    7,
    ((2.5, 2.5), (16.5, 2.5), (16.5, 16.5), (2.5, 16.5)),
    holes=(((6.5, 6.5), (12.5, 6.5), (12.5, 12.5), (6.5, 12.5)),),
)


def q_boolmask_holed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-ring (holed) polygon mask: the even-odd ray cast over the
    combined outer+hole edge set classifies the hole interior as outside
    (reference accepts arbitrary GeoInterface polygons incl. holes)."""
    from rasters_jl_spark.operators.core import boolmask

    return boolmask(synth_raster(spark, sf_dir, "a"), G, [HOLED_POLY], boundary="center")


SQL_boolmask_holed = f"""WITH {RAST_A_CTE}, {_pip_cells_cte([HOLED_POLY])}
SELECT r.ix, r.iy, (p.ix IS NOT NULL) AS mask
FROM rast r LEFT JOIN (SELECT DISTINCT ix, iy FROM pip) p ON r.ix = p.ix AND r.iy = p.iy"""


# ---------------------------------------------------- replace_missing_stack
def q_replace_missing_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layer missingval via the layer-metadata table (SURVEY §1.4;
    reference per-layer missingval `src/stack.jl:31-32`, NamedTuple
    `replace_missing` form): NULL → per-layer sentinel → NULL round-trip
    over a two-layer stack, both directions through the broadcast meta
    join."""
    from rasters_jl_spark.sources.layers import layers_meta, replace_missing_stack

    a = synth_raster(spark, sf_dir, "a").withColumn("layer", F.lit("a"))
    b = synth_raster(spark, sf_dir, "b").withColumn("layer", F.lit("b"))
    stack = a.unionByName(b).select("ix", "iy", "layer", "value")
    meta = layers_meta(
        spark, [("a", -9999.0, "double", "chars"), ("b", -1.0, "double", "ids")]
    )
    filled = replace_missing_stack(stack, meta, to_null=False)
    return replace_missing_stack(filled, meta, to_null=True)


from rasters_jl_spark.queries_core import RAST_B_CTE  # noqa: E402

SQL_replace_missing_stack = f"""WITH {RAST_A_CTE}, {RAST_B_CTE},
stack AS (
    SELECT ix, iy, 'a' AS layer, value FROM rast
    UNION ALL SELECT ix, iy, 'b', value FROM rast_b
),
filled AS (
    SELECT ix, iy, layer,
           CASE WHEN value IS NULL THEN (CASE layer WHEN 'a' THEN -9999.0 ELSE -1.0 END)
                ELSE value END AS value
    FROM stack
)
SELECT ix, iy, layer,
       CASE WHEN (layer = 'a' AND value = -9999.0) OR (layer = 'b' AND value = -1.0)
            THEN NULL ELSE value END AS value
FROM filled"""


# ---------------------------------------------------------------- series_files
def q_series_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RasterSeries from a FILE LIST with Ti parsed from file paths (the
    reference's vector-of-filenames constructor `src/series.jl:53-92` +
    filename date parsing `:76-92`): the events table is scattered into
    per-day files on disk, re-assembled by ONE multi-file scan whose Ti
    column is a projection over ``_metadata.file_path``
    (`operators/extras.py::series_from_files`), then aggregated along the
    series dim. The oracle recomputes from the original table, so the
    path-parsed Ti must agree with the data's own timestamps for every
    row routed through the on-disk scatter."""
    import tempfile

    from rasters_jl_spark.operators.extras import series_from_files

    base = tempfile.mkdtemp(prefix="series_files_")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.withColumn("d", F.to_date("ts")).write.mode("overwrite").partitionBy(
        "d"
    ).parquet(base)
    series = series_from_files(spark, base)
    return series.groupBy("Ti").agg(
        F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")
    )


SQL_series_files = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS Ti, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY 1"""


# --------------------------------------------------------------- coverage_exact
def q_coverage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT analytic polygon coverage (SURVEY §2.4's better-Spark-plan
    variant alongside the reference-compat subpixel path): per-edge
    clamped Green's-theorem integrals give the clipped area in closed
    form — zero shuffles, zero explodes, one codegen projection; the
    subpixel `coverage_polygon` converges to this as scale→∞ (pinned by
    pytest). Oracle: the identical arithmetic unrolled symbolically."""
    from rasters_jl_spark.operators.resample import coverage_clipped

    u = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    out = coverage_clipped(u, G, FX.RASTER_POLYS, mode="sum")
    return out.select("ix", "iy", F.round("coverage", 6).alias("coverage"))


def _coverage_exact_sql() -> str:
    hdx, hdy = G.dx / 2.0, G.dy / 2.0
    x0 = f"({G.x_sql('r.ix')} - {hdx!r})"
    x1 = f"({G.x_sql('r.ix')} + {hdx!r})"
    y0 = f"({G.y_sql('r.iy')} - {hdy!r})"
    y1 = f"({G.y_sql('r.iy')} + {hdy!r})"
    total = "0.0"
    for p in FX.RASTER_POLYS:
        signed = "0.0"
        for e in p.edges:
            exy = list(map(dbl_sql, e))
            signed = f"({signed} + {clip_area_edge_sql(exy, x0, x1, y0, y1)})"
        total = f"({total} + ABS({signed}))"
    return f"""WITH {RAST_A_CTE}
SELECT r.ix, r.iy, ROUND({total} / {G.dx * G.dy!r}, 6) AS coverage FROM rast r"""


SQL_coverage_exact = _coverage_exact_sql()


# ---------------------------------------------------------------- warc_reshard
def q_warc_reshard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl RE-SHARDING end-to-end through real container bytes: the 48
    synth docs are packed 6×8 shards, parsed back to records, regrouped
    onto a different shard key (doc_id % 12 — modulo, never positional
    arithmetic, so gapped id fixtures can't diverge), written as NEW
    plain-WARC containers by the executor-side sink
    (`sources/warc.py::write_warc` — one grouped task builds + writes one
    file, no driver funnel), and re-ingested via binaryFile. The oracle
    recomputes every field from `documents`, so the whole
    parse→regroup→serialize→re-parse cycle must preserve headers and
    byte-exact text."""
    import tempfile

    from rasters_jl_spark.sources.warc import parse_warc, read_warc, synth_warc, write_warc

    out = tempfile.mkdtemp(prefix="warc_reshard_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    recs = parse_warc(synth_warc(docs, per_file=8, limit=48, gzip_every=2))
    regrouped = recs.withColumn(
        "doc_id", F.regexp_extract("target_uri", r"doc/(\d+)$", 1).cast("long")
    ).withColumn("new_fid", F.format_string("re-%05d", F.pmod("doc_id", F.lit(12))))
    write_warc(regrouped, out, shard_col="new_fid", order_cols=("doc_id",)).collect()
    back = read_warc(spark, out + "/*")
    return back.select(
        F.regexp_extract("target_uri", r"doc/(\d+)$", 1).cast("long").alias("doc_id"),
        F.regexp_extract("file_id", r"(re-\d+)\.warc", 1).alias("shard"),
        "rec_idx",
        "rec_type",
        "content_length",
        F.md5(F.col("text")).alias("text_md5"),
    )


SQL_warc_reshard = """WITH base AS (
    SELECT doc_id, COALESCE(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT doc_id,
       printf('re-%05d', doc_id % 12) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % 12 ORDER BY doc_id) - 1
            AS INT) AS rec_idx,
       'conversion' AS rec_type,
       CAST(strlen(text) AS BIGINT) AS content_length,
       md5(text) AS text_md5
FROM base"""


# ---------------------------------------------------------------- scaled_read
def q_scaled_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaled-integer ingest (the reference's per-layer read modifiers:
    `src/modifieddiskarray.jl` ``Mod``/``_applymod``, ``scaled`` keyword
    `src/array.jl:374-384`): a two-layer DN stack stored with per-layer
    sentinel + gain (a: mv −9999, ×0.25 −5; b: mv 65535, ×0.5, no offset)
    decodes to physical values through ONE broadcast catalog join —
    sentinel → NULL first (the reference tests missingval on RAW values),
    then raw·scale + offset, all codegen, zero shuffle."""
    from rasters_jl_spark.sources.layers import apply_layer_mods, layers_meta

    a = synth_raster(spark, sf_dir, "a").withColumn("layer", F.lit("a"))
    b = synth_raster(spark, sf_dir, "b").withColumn("layer", F.lit("b"))
    dn = a.unionByName(b).select(
        "ix", "iy", "layer",
        F.coalesce(
            F.col("value"),
            F.when(F.col("layer") == "a", F.lit(-9999.0)).otherwise(F.lit(65535.0)),
        ).alias("value"),
    )
    meta = layers_meta(
        spark,
        [
            ("a", -9999.0, "int32", "chars", 0.25, -5.0),
            ("b", 65535.0, "uint16", "ids", 0.5, None),
        ],
    )
    return apply_layer_mods(dn, meta)


SQL_scaled_read = f"""WITH {RAST_A_CTE}, {RAST_B_CTE},
stack AS (
    SELECT ix, iy, 'a' AS layer, COALESCE(value, -9999.0) AS value FROM rast
    UNION ALL SELECT ix, iy, 'b', COALESCE(value, 65535.0) FROM rast_b
)
SELECT ix, iy, layer,
       CASE WHEN layer = 'a'
            THEN CASE WHEN value = -9999.0 THEN NULL ELSE value * 0.25 + (-5.0) END
            ELSE CASE WHEN value = 65535.0 THEN NULL ELSE value * 0.5 + 0.0 END
       END AS value
FROM stack"""


# ---------------------------------------------------------- classify_bounds
def q_classify_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Comparator-option parity: lower-OPEN / upper-CLOSED bins (the
    reference's lower/upper keywords, `src/methods/classify.jl:130-217`)."""
    return classify(
        synth_raster(spark, sf_dir, "a"), FX.CLASSIFY_BINS, others=0, lower="open", upper="closed"
    )


def _classify_bounds_case() -> str:
    whens = " ".join(
        f"WHEN value > {lo!r} AND value <= {hi!r} THEN {cls}"
        for lo, hi, cls in FX.CLASSIFY_BINS
    )
    return f"CASE WHEN value IS NULL THEN NULL {whens} ELSE 0 END"


SQL_classify_bounds = f"""WITH {RAST_A_CTE}
SELECT ix, iy, {_classify_bounds_case()} AS value FROM rast"""


# ------------------------------------------------------------ rasterize_prod
def q_rasterize_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prod reducer (`src/methods/rasterize.jl:7-16`): overlap cells of the
    two fixture polygons multiply their fills (1.5 × 2.0 = 3.0)."""
    from rasters_jl_spark.operators.rasterize import rasterize_polygons

    universe = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    return rasterize_polygons(
        universe, G, FX.RASTER_POLYS, fills={1: 1.5, 2: 2.0}, reducer="prod"
    )


SQL_rasterize_prod = f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)}
SELECT ix, iy,
       CAST(product(CASE WHEN geom_id = 2 THEN 2.0 ELSE 1.5 END) AS DOUBLE) AS value
FROM pip GROUP BY ix, iy"""


# ------------------------------------------------------ rasterize_multilayer
_ML_FILLS = {"cls": {1: 10.0, 2: 20.0}, "wt": {1: 1.5, 2: 2.0}}


def q_rasterize_multilayer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NamedTuple (multi-layer) fill burn (`src/methods/rasterize.jl:
    276-294`): two layers written in one pass, reducer=last."""
    from rasters_jl_spark.operators.rasterize import rasterize_polygons_multi

    universe = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    return rasterize_polygons_multi(
        universe, G, FX.RASTER_POLYS, _ML_FILLS, reducer="last"
    )


SQL_rasterize_multilayer = f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)},
burned AS (SELECT ix, iy, MAX(geom_id) AS mg FROM pip GROUP BY ix, iy)
SELECT b.ix, b.iy, l.layer,
       CAST(CASE WHEN l.layer = 'cls' THEN (CASE WHEN b.mg = 2 THEN 20.0 ELSE 10.0 END)
            ELSE (CASE WHEN b.mg = 2 THEN 2.0 ELSE 1.5 END) END AS DOUBLE) AS value
FROM burned b CROSS JOIN (VALUES ('cls'), ('wt')) l(layer)"""


# -------------------------------------------------------- rasterize_any/all
def _odd_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasters_jl_spark.sources.pages import pages_geo

    p = pages_geo(spark, sf_dir)
    return p.withColumn("odd", (F.col("n_chars") % 2).cast("double"))


def q_rasterize_any(spark: SparkSession, sf_dir: str) -> DataFrame:
    """any reducer: 1.0 where any burned point's fill is truthy."""
    from rasters_jl_spark.operators.rasterize import rasterize_points

    return rasterize_points(_odd_pages(spark, sf_dir), FX.POINTS_GRID, "odd", "any", "lon", "lat")


def q_rasterize_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rasters_jl_spark.operators.rasterize import rasterize_points

    return rasterize_points(_odd_pages(spark, sf_dir), FX.POINTS_GRID, "odd", "all", "lon", "lat")


def _rast_bool_sql(agg: str) -> str:
    from rasters_jl_spark.queries_core import PAGES_CTE

    return f"""WITH {PAGES_CTE}
SELECT {FX.POINTS_GRID.ix_of_x_sql('lon')} AS ix,
       {FX.POINTS_GRID.iy_of_y_sql('lat')} AS iy,
       CAST({agg}(CASE WHEN CAST(n_chars % 2 AS DOUBLE) <> 0 THEN 1 ELSE 0 END) AS DOUBLE) AS value
FROM pages GROUP BY 1, 2"""


SQL_rasterize_any = _rast_bool_sql("MAX")
SQL_rasterize_all = _rast_bool_sql("MIN")


# ------------------------------------------------------------ sample_replace
def q_sample_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITH replacement + ordered output (the reference's
    `replace`/`ordered` keywords, `ext/RastersStatsBaseExt/sample.jl:29-93`):
    each draw is an independent argmax of a per-(draw, row) key."""
    from rasters_jl_spark.operators.sample import sample_weighted

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    return sample_weighted(
        docs, FX.SAMPLE_N, weight_col="n_chars", id_col="doc_id", replace=True, ordered=True
    )


def _sample_replace_sql() -> str:
    from rasters_jl_spark.operators.sample import DRAW_MIX, u_sql

    u = u_sql(f"doc_id * {DRAW_MIX} + d.i")
    return f"""
SELECT draw, doc_id, n_chars FROM (
    SELECT d.i AS draw, doc_id, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY d.i
               ORDER BY LN({u}) / n_chars DESC, doc_id
           ) AS rn
    FROM documents CROSS JOIN generate_series(0, {FX.SAMPLE_N - 1}) d(i)
) WHERE rn = 1"""


SQL_sample_replace = _sample_replace_sql()


# -------------------------------------------------------------- mosaic_stack
def q_mosaic_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-layer (stack) mosaic (`test/mosaic.jl:43-67`): regions carry a
    layer column; first-wins reduce keys on (ix, iy, layer)."""

    def stacked(rows):
        r = _region_df(spark, rows)
        a = r.withColumn("layer", F.lit("a"))
        b = r.withColumn("value", F.col("value") + 10.0).withColumn("layer", F.lit("b"))
        return a.unionByName(b)

    out = mosaic([stacked(_REG1), stacked(_REG2)], "first", layered=True)
    return out.select("ix", "iy", "layer", F.round("value", 6).alias("value"))


SQL_mosaic_stack = f"""WITH {_MOSAIC_CTES},
s1 AS (SELECT ix, iy, 'a' AS layer, value FROM r1
       UNION ALL SELECT ix, iy, 'b', value + 10.0 FROM r1),
s2 AS (SELECT ix, iy, 'a' AS layer, value FROM r2
       UNION ALL SELECT ix, iy, 'b', value + 10.0 FROM r2)
SELECT COALESCE(s1.ix, s2.ix) AS ix, COALESCE(s1.iy, s2.iy) AS iy,
       COALESCE(s1.layer, s2.layer) AS layer,
       ROUND(CAST(COALESCE(s1.value, s2.value) AS DOUBLE), 6) AS value
FROM s1 FULL OUTER JOIN s2
  ON s1.ix = s2.ix AND s1.iy = s2.iy AND s1.layer = s2.layer"""


# ------------------------------------------------------------- extract_nested
def q_extract_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract(flatten=false): one row per geometry with its covered cell
    values collected in (ix, iy) order (`src/methods/extract.jl:151-337`)."""
    from rasters_jl_spark.operators.extract import extract_polygons_nested

    return extract_polygons_nested(
        synth_raster(spark, sf_dir, "a"), G, FX.RASTER_POLYS, "center", skipmissing=True
    )


SQL_extract_nested = f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)}
SELECT geom_id, COUNT(*) AS n_cells,
       string_agg(CAST(CAST(value AS BIGINT) AS VARCHAR), ',' ORDER BY ix, iy) AS values_str
FROM (
    SELECT p.geom_id, p.ix, p.iy, r.value
    FROM pip p JOIN rast r ON r.ix = p.ix AND r.iy = p.iy
    WHERE r.value IS NOT NULL
)
GROUP BY geom_id"""


# ------------------------------------------------------------- zonal_many
_ZM_POLYS = FX.many_polys()  # 1,024 diamonds — zonal at the same scale count


def _zm_raster(spark: SparkSession):
    """Deterministic valued raster on MANY_GRID with a NULL pattern."""
    g = FX.MANY_GRID
    xs = spark.range(g.nx).selectExpr("cast(id as int) ix")
    ys = spark.range(g.ny).selectExpr("cast(id as int) iy")
    return xs.crossJoin(ys).selectExpr(
        "ix",
        "iy",
        "CASE WHEN (ix * 5 + iy * 11) % 13 = 0 THEN NULL"
        " ELSE CAST((ix * 7 + iy * 3) % 97 AS DOUBLE) END AS value",
    )


def q_zonal_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1,024-polygon zonal — the flagship-family operator at the reference
    scale-smoke polygon count: one raster scan through the block-cover join
    + one groupBy(geom_id), identical plan shape at any polygon count."""
    from rasters_jl_spark.operators.zonal import zonal_raster

    out = zonal_raster(_zm_raster(spark), FX.MANY_GRID, _ZM_POLYS, skipmissing=True)
    return out.select(
        "geom_id", "sum_val", F.round("mean_val", 6).alias("mean_val"), "n_cells"
    )


def _zonal_many_sql() -> str:
    g = FX.MANY_GRID
    cx, cy = g.x_sql("c.ix"), g.y_sql("c.iy")
    return f"""WITH cells AS (
    SELECT CAST(x.i AS INT) AS ix, CAST(y.i AS INT) AS iy,
           CASE WHEN (x.i * 5 + y.i * 11) % 13 = 0 THEN NULL
                ELSE CAST((x.i * 7 + y.i * 3) % 97 AS DOUBLE) END AS value
    FROM generate_series(0, {g.nx - 1}) x(i) CROSS JOIN generate_series(0, {g.ny - 1}) y(i)
),
gpolys AS ({polys_values_sql(_ZM_POLYS)}),
gedges AS ({edges_values_sql(_ZM_POLYS)}),
boxed AS (
    SELECT c.ix, c.iy, c.value, p.geom_id
    FROM cells c JOIN gpolys p
      ON {cx} >= p.xmin AND {cx} <= p.xmax AND {cy} >= p.ymin AND {cy} <= p.ymax
),
pipc AS (
    SELECT b.ix, b.iy, b.geom_id
    FROM boxed b JOIN gedges e ON e.geom_id = b.geom_id
    WHERE {crossing_sql(g.x_sql('b.ix'), g.y_sql('b.iy'), 'e')}
    GROUP BY b.ix, b.iy, b.geom_id
    HAVING COUNT(*) % 2 = 1
)
SELECT b.geom_id,
       SUM(CASE WHEN p.ix IS NOT NULL THEN b.value END) AS sum_val,
       ROUND(AVG(CASE WHEN p.ix IS NOT NULL THEN b.value END), 6) AS mean_val,
       COUNT(CASE WHEN p.ix IS NOT NULL THEN b.value END) AS n_cells
FROM boxed b LEFT JOIN pipc p ON p.ix = b.ix AND p.iy = b.iy AND p.geom_id = b.geom_id
GROUP BY b.geom_id"""


SQL_zonal_many = _zonal_many_sql()


# ------------------------------------------------------------- extract_many
def q_extract_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1,024-polygon extract — proves the polygon-extraction surface shares
    the single-scan classified block-cover join (`raster_geom_candidates`):
    one raster scan, zero shuffles, O(1) expression size in the polygon
    count (the old shape built one PIP literal subtree per polygon,
    `src/methods/extract.jl:151-337` at the `test/mosaic.jl:69-74` scale).
    Aggregated per geometry (count + sum) to keep the compare payload sane —
    the underlying row set is the full (geom_id, cell, value) table."""
    from rasters_jl_spark.operators.extract import extract_polygons

    hits = extract_polygons(_zm_raster(spark), FX.MANY_GRID, _ZM_POLYS, skipmissing=True)
    return hits.groupBy("geom_id").agg(
        F.count("value").alias("n_cells"),
        F.sum("value").cast("double").alias("sum_val"),
        F.min(F.col("ix") * 10000 + F.col("iy")).alias("first_cell"),
    )


def _extract_many_sql() -> str:
    g = FX.MANY_GRID
    cx, cy = g.x_sql("c.ix"), g.y_sql("c.iy")
    return f"""WITH cells AS (
    SELECT CAST(x.i AS INT) AS ix, CAST(y.i AS INT) AS iy,
           CASE WHEN (x.i * 5 + y.i * 11) % 13 = 0 THEN NULL
                ELSE CAST((x.i * 7 + y.i * 3) % 97 AS DOUBLE) END AS value
    FROM generate_series(0, {g.nx - 1}) x(i) CROSS JOIN generate_series(0, {g.ny - 1}) y(i)
),
gpolys AS ({polys_values_sql(_ZM_POLYS)}),
gedges AS ({edges_values_sql(_ZM_POLYS)}),
boxed AS (
    SELECT c.ix, c.iy, c.value, p.geom_id
    FROM cells c JOIN gpolys p
      ON {cx} >= p.xmin AND {cx} <= p.xmax AND {cy} >= p.ymin AND {cy} <= p.ymax
),
pipc AS (
    SELECT b.ix, b.iy, b.geom_id, ANY_VALUE(b.value) AS value
    FROM boxed b JOIN gedges e ON e.geom_id = b.geom_id
    WHERE {crossing_sql(g.x_sql('b.ix'), g.y_sql('b.iy'), 'e')}
    GROUP BY b.ix, b.iy, b.geom_id
    HAVING COUNT(*) % 2 = 1
)
SELECT geom_id, COUNT(value) AS n_cells,
       CAST(SUM(value) AS DOUBLE) AS sum_val,
       MIN(ix * 10000 + iy) AS first_cell
FROM pipc WHERE value IS NOT NULL
GROUP BY geom_id"""


SQL_extract_many = _extract_many_sql()


# ------------------------------------------------------------- zonal_northup
# North-up grid (dy < 0, row 0 at the TOP) — real GeoTIFF orientation. Same
# geographic cells/values as the standard fixture raster, re-labeled
# iy' = ny-1-iy; the burn path takes the signed step directly (no
# pre-normalization), reference `_prepare_for_burning`
# (`src/methods/burning/array_init.jl:54-85`) + orientation-invariance
# tests (`test/methods.jl:429-465`).
NU_GRID = GridSpec(x0=0.0, y0=float(G.ny - 1), dx=1.0, dy=-1.0, nx=G.nx, ny=G.ny)


def _nu_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = synth_raster(spark, sf_dir, "a")
    return r.select(
        "ix", (F.lit(G.ny - 1) - F.col("iy")).cast("int").alias("iy"), "value"
    )


def q_zonal_northup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship zonal over a NEGATIVE-dy raster — proves the block-cover
    join is orientation-correct with no axis pre-normalization."""
    from rasters_jl_spark.operators.zonal import zonal_raster

    out = zonal_raster(_nu_raster(spark, sf_dir), NU_GRID, FX.RASTER_POLYS, skipmissing=True)
    return out.select(
        "geom_id", "sum_val", F.round("mean_val", 6).alias("mean_val"), "n_cells"
    )


def _zonal_northup_sql() -> str:
    g = NU_GRID
    cx, cy = g.x_sql("c.ix"), g.y_sql("c.iy")
    return f"""WITH rast0 AS ({synth_raster_sql('a')}),
cells AS (SELECT ix, CAST({g.ny - 1} - iy AS INT) AS iy, value FROM rast0),
gpolys AS ({polys_values_sql(FX.RASTER_POLYS)}),
gedges AS ({edges_values_sql(FX.RASTER_POLYS)}),
boxed AS (
    SELECT c.ix, c.iy, c.value, p.geom_id
    FROM cells c JOIN gpolys p
      ON {cx} >= p.xmin AND {cx} <= p.xmax AND {cy} >= p.ymin AND {cy} <= p.ymax
),
pipc AS (
    SELECT b.ix, b.iy, b.geom_id
    FROM boxed b JOIN gedges e ON e.geom_id = b.geom_id
    WHERE {crossing_sql(g.x_sql('b.ix'), g.y_sql('b.iy'), 'e')}
    GROUP BY b.ix, b.iy, b.geom_id
    HAVING COUNT(*) % 2 = 1
)
SELECT b.geom_id,
       SUM(CASE WHEN p.ix IS NOT NULL THEN b.value END) AS sum_val,
       ROUND(AVG(CASE WHEN p.ix IS NOT NULL THEN b.value END), 6) AS mean_val,
       COUNT(CASE WHEN p.ix IS NOT NULL THEN b.value END) AS n_cells
FROM boxed b LEFT JOIN pipc p ON p.ix = b.ix AND p.iy = b.iy AND p.geom_id = b.geom_id
GROUP BY b.geom_id"""


SQL_zonal_northup = _zonal_northup_sql()


# ---------------------------------------------------------------- warp
# Analytic-CRS reproject targets over the 20×20 degree fixture raster:
# Web Mercator (EPSG:3857) and sinusoidal (ESRI:54008) grids covering the
# same area in meters. Constants chosen so no source fractional coordinate
# sits near a floor boundary (engine libm ulps can't flip a cell).
MERC_TGT = GridSpec(x0=60_000.0, y0=70_000.0, dx=115_000.0, dy=118_000.0, nx=18, ny=17, crs="EPSG:3857")
SINU_TGT = GridSpec(x0=80_000.0, y0=90_000.0, dx=110_000.0, dy=112_000.0, nx=17, ny=17, crs="ESRI:54008")


def q_warp_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp near: 4326 degree raster → Web-Mercator meter grid. The
    projection formulas are shared SQL text (F.expr here, verbatim in the
    oracle), the sampling is one equi left join — `src/methods/warp.jl`
    re-expressed without GDAL for analytic CRSs."""
    from rasters_jl_spark.operators.warp import warp

    out = warp(synth_raster(spark, sf_dir, "a"), G, MERC_TGT, method="near")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def q_warp_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp near through the DATABASE-CRS HOOK: the projection runs as an
    Arrow-batched pandas UDF (`inverse_transform`, pyproj.Transformer
    shape) over the generated target index space instead of codegen SQL —
    here the NumPy mercator inverse, so the DuckDB oracle is the SAME
    formula tree as `warp_mercator`. Proves the PROJ extension point
    end-to-end: any database CRS plugs in with zero plan changes (the UDF
    touches |target| index rows, never the data)."""
    import numpy as np

    from rasters_jl_spark.operators.warp import WGS84_R_M, warp

    R = WGS84_R_M

    def merc_inverse(xt, yt):
        return np.degrees(xt / R), np.degrees(2.0 * np.arctan(np.exp(yt / R)) - np.pi / 2.0)

    out = warp(
        synth_raster(spark, sf_dir, "a"), G, MERC_TGT, method="near", inverse_transform=merc_inverse
    )
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def q_warp_sinusoidal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp bilinear: 4326 → sinusoidal with missing-weight renormalised
    4-corner blending (same discipline as `resample` bilinear)."""
    from rasters_jl_spark.operators.warp import warp

    out = warp(synth_raster(spark, sf_dir, "a"), G, SINU_TGT, method="bilinear")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def _warp_near_sql(tgt: GridSpec) -> str:
    from rasters_jl_spark.operators.warp import source_coord_sql

    xs, ys = source_coord_sql(G, tgt, "c.jx", "c.jy")
    return f"""WITH {RAST_A_CTE},
cells AS (
    SELECT CAST(x.i AS INT) AS jx, CAST(y.i AS INT) AS jy
    FROM generate_series(0, {tgt.nx - 1}) x(i) CROSS JOIN generate_series(0, {tgt.ny - 1}) y(i)
),
t AS (
    SELECT c.jx AS ix, c.jy AS iy,
           {G.ix_of_x_sql(xs)} AS sx,
           {G.iy_of_y_sql(ys)} AS sy
    FROM cells c
)
SELECT t.ix, t.iy, ROUND(r.value, 6) AS value
FROM t LEFT JOIN rast r ON r.ix = t.sx AND r.iy = t.sy
WHERE {G.in_bounds_sql('t.sx', 't.sy')}"""


def _warp_bilinear_sql(tgt: GridSpec) -> str:
    from rasters_jl_spark.operators.warp import source_coord_sql

    xs, ys = source_coord_sql(G, tgt, "c.jx", "c.jy")
    corners = {"00": (0, 0), "10": (1, 0), "01": (0, 1), "11": (1, 1)}
    joins = "\n".join(
        f"LEFT JOIN rast r{t} ON r{t}.ix = t.x0 + {dx} AND r{t}.iy = t.y0 + {dy}"
        for t, (dx, dy) in corners.items()
    )
    w = {
        "00": "(1 - t.wx) * (1 - t.wy)",
        "10": "t.wx * (1 - t.wy)",
        "01": "(1 - t.wx) * t.wy",
        "11": "t.wx * t.wy",
    }
    num = " + ".join(
        f"CASE WHEN r{t}.value IS NOT NULL THEN {w[t]} * r{t}.value ELSE 0.0 END"
        for t in corners
    )
    den = " + ".join(
        f"CASE WHEN r{t}.value IS NOT NULL THEN {w[t]} ELSE 0.0 END" for t in corners
    )
    return f"""WITH {RAST_A_CTE},
cells AS (
    SELECT CAST(x.i AS INT) AS jx, CAST(y.i AS INT) AS jy
    FROM generate_series(0, {tgt.nx - 1}) x(i) CROSS JOIN generate_series(0, {tgt.ny - 1}) y(i)
),
f AS (
    SELECT c.jx, c.jy,
           ((({xs}) - {G.x0!r}) / {G.dx!r}) AS fx,
           ((({ys}) - {G.y0!r}) / {G.dy!r}) AS fy
    FROM cells c
),
t AS (
    SELECT jx AS ix, jy AS iy,
           CAST(FLOOR(fx) AS INT) AS x0, CAST(FLOOR(fy) AS INT) AS y0,
           fx - FLOOR(fx) AS wx, fy - FLOOR(fy) AS wy
    FROM f
)
SELECT t.ix, t.iy,
       ROUND(CASE WHEN ({den}) > 0 THEN ({num}) / ({den}) END, 6) AS value
FROM t
{joins}"""


SQL_warp_mercator = _warp_near_sql(MERC_TGT)
# the hook query computes the identical projection in NumPy — same oracle
SQL_warp_hook = SQL_warp_mercator
SQL_warp_sinusoidal = _warp_bilinear_sql(SINU_TGT)

# UTM zone 33 (lon0 = 15°E — inside the 0..20° fixture): the
# nontrivial-parameter projection family (per-zone central meridian,
# k0 = 0.9996, 500 km false easting), spherical transverse Mercator per
# Snyder 1987 eq. 8-1..8-8 through the SAME shared-SQL-text path.
UTM_TGT = GridSpec(
    x0=210_000.0, y0=120_000.0, dx=37_000.0, dy=115_000.0, nx=16, ny=17, crs="UTM:33"
)


def q_warp_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp near: 4326 degree raster → UTM zone-33 meter grid (spherical
    transverse Mercator — `ext/RastersArchGDALExt/resample.jl:9-124`
    reprojects to projected CRSs like UTM via GDAL; here the closed-form
    series runs as shared SQL text in both engines)."""
    from rasters_jl_spark.operators.warp import warp

    out = warp(synth_raster(spark, sf_dir, "a"), G, UTM_TGT, method="near")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def q_warp_utm_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp average INTO UTM: each source cell maps forward to its owning
    UTM cell, one partial+final groupBy — the aggregate `-r` direction
    through the transverse-Mercator formulas."""
    from rasters_jl_spark.operators.warp import warp

    out = warp(synth_raster(spark, sf_dir, "a"), G, UTM_COARSE, method="average")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


UTM_COARSE = GridSpec(
    x0=190_000.0, y0=90_000.0, dx=155_000.0, dy=470_000.0, nx=4, ny=4, crs="UTM:33"
)

SQL_warp_utm = _warp_near_sql(UTM_TGT)


# coarse mercator target for the aggregate direction (several source cells
# per target cell)
MERC_COARSE = GridSpec(x0=150_000.0, y0=160_000.0, dx=450_000.0, dy=460_000.0, nx=5, ny=5, crs="EPSG:3857")


def q_warp_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """warp aggregate (gdalwarp -r average across a CRS change): source
    cell centers map through the projection chain to their owning
    mercator target cell, one partial+final groupBy — no join."""
    from rasters_jl_spark.operators.warp import warp

    out = warp(synth_raster(spark, sf_dir, "a"), G, MERC_COARSE, method="average")
    return out.select("ix", "iy", F.round("value", 6).alias("value"))


def _warp_agg_sql(tgt: GridSpec) -> str:
    from rasters_jl_spark.operators.warp import _target_coord_of_source_sql

    xt, yt = _target_coord_of_source_sql(G, tgt, "r.ix", "r.iy")
    return f"""WITH {RAST_A_CTE},
m AS (
    SELECT {tgt.ix_of_x_sql(xt)} AS tix, {tgt.iy_of_y_sql(yt)} AS tiy, r.value
    FROM rast r
)
SELECT tix AS ix, tiy AS iy, ROUND(AVG(value), 6) AS value
FROM m WHERE {tgt.in_bounds_sql('tix', 'tiy')}
GROUP BY tix, tiy"""


SQL_warp_agg = _warp_agg_sql(MERC_COARSE)
SQL_warp_utm_agg = _warp_agg_sql(UTM_COARSE)


# -------------------------------------------------- explicit/irregular spans
# Deterministic irregular axes with binary-exact widths (multiples of 0.25)
# so Python-built bounds and the oracle's closed-form cumsum agree
# bit-for-bit. x: 12 cells, widths 1.0 + (i%3)*0.5 (cycle sum 4.5);
# y: 11 cells, widths 1.0 + (i%4)*0.25 (cycle sum 5.5).
def _xw(i: int) -> float:
    return 1.0 + (i % 3) * 0.5


def _yw(i: int) -> float:
    return 1.0 + (i % 4) * 0.25


def _explicit_grid():
    from rasters_jl_spark.lookup import ExplicitAxis, ExplicitGrid

    def bounds(n, w):
        lo, out = 0.0, []
        for i in range(n):
            out.append((lo, lo + w(i)))
            lo += w(i)
        return ExplicitAxis(tuple(out))

    return ExplicitGrid(x=bounds(12, _xw), y=bounds(11, _yw))


_XLO_SQL = "(4.5 * (ix // 3) + CASE ix % 3 WHEN 0 THEN 0.0 WHEN 1 THEN 1.0 ELSE 2.5 END)"
_XW_SQL = "(1.0 + (ix % 3) * 0.5)"
_YLO_SQL = "(5.5 * (iy // 4) + CASE iy % 4 WHEN 0 THEN 0.0 WHEN 1 THEN 1.0 WHEN 2 THEN 2.25 ELSE 3.75 END)"
_YW_SQL = "(1.0 + (iy % 4) * 0.25)"


def q_explicit_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point extraction on an EXPLICIT-bounds (irregular) grid — the
    NetCDF bounds-matrix lookup (`src/lookup.jl:166-214`): owning cell via
    the bucketed interval hash join (no nested-loop), out-of-grid points
    drop, value is a deterministic per-cell function."""
    g = _explicit_grid()
    pts = spark.range(FX.N_EXTRACT_PTS).select(
        F.col("id").alias("pt_id"),
        (((F.col("id") * 7919) % 200) / 10.0).alias("x"),
        (((F.col("id") * 104729) % 200) / 10.0).alias("y"),
    )
    hit = g.assign_points(pts, "x", "y")
    return hit.select(
        "pt_id", "ix", "iy",
        (F.col("ix") * 31 + F.col("iy") * 7).cast("double").alias("value"),
    )


SQL_explicit_extract = f"""WITH pts AS (
    SELECT t.pt_id, {FX.PX_SQL} AS x, {FX.PY_SQL} AS y
    FROM generate_series(0, {FX.N_EXTRACT_PTS - 1}) t(pt_id)
),
xa AS (SELECT CAST(t.i AS INT) AS i, {_XLO_SQL.replace('ix', 't.i')} AS lo,
              {_XLO_SQL.replace('ix', 't.i')} + {_XW_SQL.replace('ix', 't.i')} AS hi
       FROM generate_series(0, 11) t(i)),
ya AS (SELECT CAST(t.i AS INT) AS i, {_YLO_SQL.replace('iy', 't.i')} AS lo,
              {_YLO_SQL.replace('iy', 't.i')} + {_YW_SQL.replace('iy', 't.i')} AS hi
       FROM generate_series(0, 10) t(i))
SELECT p.pt_id, xa.i AS ix, ya.i AS iy,
       CAST(xa.i * 31 + ya.i * 7 AS DOUBLE) AS value
FROM pts p
JOIN xa ON p.x >= xa.lo AND p.x < xa.hi
JOIN ya ON p.y >= ya.lo AND p.y < ya.hi"""


def q_explicit_cellarea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cellarea from explicit unequal bounds — exact lat-band formula per
    interval product (the case the Regular closed form can't express;
    `ext/RastersProjExt/cellarea.jl:56-65` over intervalbounds)."""
    from rasters_jl_spark.lookup import cellarea_explicit
    from rasters_jl_spark.operators.resample import EARTH_R_KM

    out = cellarea_explicit(spark, _explicit_grid(), EARTH_R_KM)
    return out.select("ix", "iy", F.round("area_km2", 5).alias("area_km2"))


def _explicit_cellarea_sql() -> str:
    from rasters_jl_spark.operators.resample import EARTH_R_KM
    import math

    two_pi_r2 = 2.0 * math.pi * EARTH_R_KM * EARTH_R_KM
    return f"""WITH xa AS (
    SELECT CAST(t.i AS INT) AS ix, {_XLO_SQL.replace('ix', 't.i')} AS xlo,
           {_XLO_SQL.replace('ix', 't.i')} + {_XW_SQL.replace('ix', 't.i')} AS xhi
    FROM generate_series(0, 11) t(i)
),
ya AS (
    SELECT CAST(t.i AS INT) AS iy, {_YLO_SQL.replace('iy', 't.i')} AS ylo,
           {_YLO_SQL.replace('iy', 't.i')} + {_YW_SQL.replace('iy', 't.i')} AS yhi
    FROM generate_series(0, 10) t(i)
)
SELECT ix, iy,
       ROUND({two_pi_r2!r} * (SIN(RADIANS(yhi)) - SIN(RADIANS(ylo))) * (xhi - xlo) / 360.0, 5) AS area_km2
FROM xa CROSS JOIN ya"""


SQL_explicit_cellarea = _explicit_cellarea_sql()


# --------------------------------------------------------- coverage_polygon
_COV_SCALE = 10


def _cov_poly(spark: SparkSession, sf_dir: str, mode: str) -> DataFrame:
    from rasters_jl_spark.operators.resample import coverage_polygons

    u = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    out = coverage_polygons(u, G, FX.RASTER_POLYS, mode=mode, scale=_COV_SCALE)
    return out.select("ix", "iy", F.round("coverage", 6).alias("coverage"))


def q_coverage_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-polygon coverage, mode=sum — per-pixel covered fraction by
    scale² subpixel PIP counting (`src/methods/coverage.jl:46-117`); the
    fixture pentagon is non-convex, so this is the arbitrary-geometry
    surface the closed-form rect coverage cannot express."""
    return _cov_poly(spark, sf_dir, "sum")


def q_coverage_polygon_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode=union — overlapping geoms count a subpixel once (the fixture
    rect and pentagon overlap over ~6×5 cells)."""
    return _cov_poly(spark, sf_dir, "union")


def _coverage_polygon_sql(mode: str) -> str:
    s = _COV_SCALE
    hdx, hdy = G.dx / 2.0, G.dy / 2.0
    subx, suby = G.dx / s, G.dy / s
    px = f"({G.x_sql('c.ix')} - {hdx!r} + (su.u + 0.5) * {subx!r})"
    py = f"({G.y_sql('c.iy')} - {hdy!r} + (sv.v + 0.5) * {suby!r})"
    n = f"COUNT(DISTINCT u * {s} + v)" if mode == "union" else "COUNT(*)"
    return f"""WITH {RAST_A_CTE},
gedges AS ({edges_values_sql(FX.RASTER_POLYS)}),
gpolys AS ({polys_values_sql(FX.RASTER_POLYS)}),
cand AS (
    SELECT r.ix, r.iy, p.geom_id FROM rast r JOIN gpolys p
      ON {G.x_sql('r.ix')} >= p.xmin - {G.dx!r} AND {G.x_sql('r.ix')} <= p.xmax + {G.dx!r}
     AND {G.y_sql('r.iy')} >= p.ymin - {G.dy!r} AND {G.y_sql('r.iy')} <= p.ymax + {G.dy!r}
),
hits AS (
    SELECT c.ix, c.iy, c.geom_id, su.u, sv.v
    FROM cand c
    CROSS JOIN generate_series(0, {s - 1}) su(u)
    CROSS JOIN generate_series(0, {s - 1}) sv(v)
    JOIN gedges e ON e.geom_id = c.geom_id
    WHERE {crossing_sql(px, py, 'e')}
    GROUP BY c.ix, c.iy, c.geom_id, su.u, sv.v
    HAVING COUNT(*) % 2 = 1
),
cov AS (SELECT ix, iy, {n} AS n FROM hits GROUP BY ix, iy)
SELECT r.ix, r.iy, ROUND(COALESCE(CAST(cov.n AS DOUBLE) / {float(s * s)!r}, 0.0), 6) AS coverage
FROM rast r LEFT JOIN cov ON r.ix = cov.ix AND r.iy = cov.iy"""


SQL_coverage_polygon = _coverage_polygon_sql("sum")
SQL_coverage_polygon_union = _coverage_polygon_sql("union")


# ----------------------------------------------------------- rasterize_many
_MANY_POLYS = FX.many_polys()  # 1,024 diamonds
_MANY_FILL_EXPR = "1.0 + (geom_id % 7) * 0.5"


def q_rasterize_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1,024-polygon rasterize — the single-scan cover-join proof at the
    reference's own scale-smoke order of magnitude (`test/mosaic.jl:69-74`):
    one universe scan + broadcast block-cover join + ONE shuffle (the final
    groupBy), where the old shape ran 1,024 filtered scans."""
    from rasters_jl_spark.operators.rasterize import rasterize_polygons

    universe = create_raster(spark, FX.MANY_GRID, fill=1.0).select("ix", "iy")
    fills = {p.geom_id: 1.0 + (p.geom_id % 7) * 0.5 for p in _MANY_POLYS}
    return rasterize_polygons(universe, FX.MANY_GRID, _MANY_POLYS, fills, reducer="sum")


def _rasterize_many_sql() -> str:
    g = FX.MANY_GRID
    cx, cy = g.x_sql("c.ix"), g.y_sql("c.iy")
    return f"""WITH cells AS (
    SELECT CAST(x.i AS INT) AS ix, CAST(y.i AS INT) AS iy
    FROM generate_series(0, {g.nx - 1}) x(i) CROSS JOIN generate_series(0, {g.ny - 1}) y(i)
),
polys AS ({polys_values_sql(_MANY_POLYS)}),
gedges AS ({edges_values_sql(_MANY_POLYS)}),
cand AS (
    SELECT c.ix, c.iy, p.geom_id
    FROM cells c JOIN polys p
      ON {cx} >= p.xmin AND {cx} <= p.xmax AND {cy} >= p.ymin AND {cy} <= p.ymax
),
pip AS (
    SELECT c.ix, c.iy, c.geom_id
    FROM cand c JOIN gedges e ON e.geom_id = c.geom_id
    WHERE {crossing_sql(g.x_sql('c.ix'), g.y_sql('c.iy'), 'e')}
    GROUP BY c.ix, c.iy, c.geom_id
    HAVING COUNT(*) % 2 = 1
)
SELECT ix, iy, CAST(SUM({_MANY_FILL_EXPR}) AS DOUBLE) AS value
FROM pip GROUP BY ix, iy"""


SQL_rasterize_many = _rasterize_many_sql()


# -------------------------------------------------------- boolmask_touches
def q_boolmask_touches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boundary=:touches boolmask over both raster polygons — the 21²-family
    semantics (closed cell rect meets closed polygon) oracle-checked on the
    irregular pentagon, not just the golden square."""
    from rasters_jl_spark.operators.core import boolmask

    return boolmask(synth_raster(spark, sf_dir, "a"), G, FX.RASTER_POLYS, boundary="touches")


def _cell_rect(hdx: float, hdy: float) -> tuple[str, str, str, str]:
    """(x0, x1, y0, y1) of the rect [cx±hdx]×[cy±hdy] of raster cell r."""
    cx, cy = G.x_sql("r.ix"), G.y_sql("r.iy")
    hx, hy = dbl_sql(hdx), dbl_sql(hdy)
    return f"({cx} - {hx})", f"({cx} + {hx})", f"({cy} - {hy})", f"({cy} + {hy})"


def _touches_sql() -> str:
    """boundary=:touches over the gedges relation: the centre passes the
    even-odd test (the ``pip`` CTE) or some edge meets the closed cell rect
    (seg_rect_sql, the text the engine runs)."""
    hit = seg_rect_sql("e", *_cell_rect(abs(G.dx) / 2.0, abs(G.dy) / 2.0))
    return f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)}
SELECT r.ix, r.iy, (p.ix IS NOT NULL OR EXISTS (SELECT 1 FROM gedges e WHERE {hit})) AS mask
FROM rast r LEFT JOIN (SELECT DISTINCT ix, iy FROM pip) p ON r.ix = p.ix AND r.iy = p.iy"""


SQL_boolmask_touches = _touches_sql()


# -------------------------------------------------------- boolmask_inside
def q_boolmask_inside(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boundary=:inside boolmask (cell rect fully inside, 19²-family)."""
    from rasters_jl_spark.operators.core import boolmask

    return boolmask(synth_raster(spark, sf_dir, "a"), G, FX.RASTER_POLYS, boundary="inside")


def _inside_sql() -> str:
    """boundary=:inside over the gedges relation: for some polygon, all four
    corners (the right/top ones shrunk by 1e-9 of the half-width) pass its
    even-odd test (pip_sql) AND none of its edges meets the shrunk rect
    (seg_rect_sql)."""
    hdx, hdy = abs(G.dx) / 2.0, abs(G.dy) / 2.0
    ex, ey = dbl_sql(hdx * 1e-9), dbl_sql(hdy * 1e-9)
    rx0, rx1, ry0, ry1 = _cell_rect(hdx, hdy)
    sx1, sy1 = f"({rx1} - {ex})", f"({ry1} - {ey})"
    own = ("gedges e", "e.geom_id = p.geom_id")
    corners = " AND ".join(
        pip_sql(x, y, *own) for x, y in ((rx0, ry0), (sx1, ry0), (rx0, sy1), (sx1, sy1))
    )
    hit = seg_rect_sql("e", f"({rx0} + {ex})", sx1, f"({ry0} + {ey})", sy1)
    return f"""WITH {RAST_A_CTE},
gpolys AS ({polys_values_sql(FX.RASTER_POLYS)}),
gedges AS ({edges_values_sql(FX.RASTER_POLYS)})
SELECT r.ix, r.iy,
       BOOL_OR({corners} AND NOT EXISTS (SELECT 1 FROM gedges e WHERE {own[1]} AND {hit})) AS mask
FROM rast r CROSS JOIN gpolys p GROUP BY r.ix, r.iy"""


SQL_boolmask_inside = _inside_sql()


# ------------------------------------------------------------ warc_ingest
def q_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL crawl-container ingest: the first 48 documents packed into
    WARC/WET shards (8 conversion records per file; every other shard
    stored as per-record gzip members, the Common Crawl `.warc.gz` layout),
    then split back into records by the file-parallel mapInPandas parser
    (`sources/warc.py::parse_warc` — binaryFile-shaped: one task per
    shard, bounded member inflate, per-record error routing). The oracle
    recomputes every field from `documents`, so the parser must recover
    headers AND byte-identical text through both container layouts."""
    from rasters_jl_spark.sources.warc import parse_warc, synth_warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    recs = parse_warc(synth_warc(docs, per_file=8, limit=48, gzip_every=2))
    return recs.select(
        F.regexp_extract("target_uri", r"doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "file_id",
        "rec_idx",
        "rec_type",
        "content_length",
        F.md5(F.col("text")).alias("text_md5"),
    )


SQL_warc_ingest = """WITH base AS (
    SELECT doc_id, COALESCE(text, '') AS text
    FROM documents ORDER BY doc_id LIMIT 48
)
SELECT doc_id,
       printf('shard-%05d', doc_id // 8) AS file_id,
       -- enumerate WITHIN the shard (the Spark side's applyInPandas builder
       -- numbers records by position after sorting on doc_id, so doc_id % 8
       -- would silently diverge on any fixture with gapped doc_ids)
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id // 8 ORDER BY doc_id) - 1
            AS INT) AS rec_idx,
       'conversion' AS rec_type,
       CAST(strlen(text) AS BIGINT) AS content_length,
       md5(text) AS text_md5
FROM base"""


# --------------------------------------------------------------- zonal_coverage
def q_zonal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-WEIGHTED zonal stats (exactextract semantics): per-geometry
    Σ value·frac and the frac-weighted mean, with the EXACT analytic
    clipped fraction per cell (per-edge clamped Green integrals folded
    over the joined edge array — no subpixel explode). Shuffled sums are
    integer-quantized, so aggregation order can't perturb the hash."""
    from rasters_jl_spark.operators.zonal import zonal_coverage

    r = synth_raster(spark, sf_dir, "a")
    return zonal_coverage(r, G, FX.RASTER_POLYS)


def _zonal_coverage_sql() -> str:

    hdx, hdy = abs(G.dx) / 2.0, abs(G.dy) / 2.0
    x0 = f"({G.x_sql('r.ix')} - {hdx!r})"
    x1 = f"({G.x_sql('r.ix')} + {hdx!r})"
    y0 = f"({G.y_sql('r.iy')} - {hdy!r})"
    y1 = f"({G.y_sql('r.iy')} + {hdy!r})"
    arms = []
    for p in FX.RASTER_POLYS:
        signed = "0.0"
        for e in p.edges:
            exy = list(map(dbl_sql, e))
            signed = f"({signed} + {clip_area_edge_sql(exy, x0, x1, y0, y1)})"
        frac = f"(ABS({signed}) / {abs(G.dx) * abs(G.dy)!r})"
        arms.append(
            f"SELECT {p.geom_id} AS geom_id, {frac} AS frac, r.value FROM rast r"
        )
    per = " UNION ALL ".join(arms)
    return f"""WITH {RAST_A_CTE},
per AS ({per}),
q AS (
    SELECT geom_id,
           CAST(ROUND(frac * 1000000000.0) AS BIGINT) AS fi,
           CAST(ROUND(value * frac * 1000000.0) AS BIGINT) AS pi
    FROM per
),
s AS (
    SELECT geom_id, CAST(SUM(fi) AS BIGINT) AS sfi, CAST(SUM(pi) AS BIGINT) AS spi
    FROM q GROUP BY geom_id HAVING SUM(fi) > 0
)
SELECT geom_id, ROUND(sfi / 1000000000.0, 6) AS cov_cells,
       ROUND(spi / 1000000.0, 6) AS w_sum,
       ROUND((spi / 1000000.0) / (sfi / 1000000000.0), 6) AS w_mean
FROM s"""


SQL_zonal_coverage = _zonal_coverage_sql()


# ----------------------------------------------------------------- sessionize
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows over the events stream (the web-analytics
    rollup; temporal cousin of series slice/combine, `src/series.jl`): the
    NATIVE session_window aggregate merges [ts, ts+gap) intervals in one
    groupBy with map-side partial merging. Value sums are cent-quantized
    before the shuffle (order-independent BIGINTs)."""
    from rasters_jl_spark.operators.sessionize import sessionize

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(events)


from rasters_jl_spark.operators.sessionize import sessionize_sql as _sessionize_sql  # noqa: E402

SQL_sessionize = _sessionize_sql()


# ------------------------------------------------------------ stream_sessions
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (open sessions as applyInPandasWithState
    STATE) checked against the batch gaps-and-islands oracle: events drain
    as two time-split micro-batches plus a sentinel batch (one far-future
    tick per user closes every real session; sentinel sessions themselves
    are never emitted, so the appended union must equal the batch
    `sessionize` over the REAL events exactly)."""
    import tempfile

    from rasters_jl_spark.streaming.session_stream import (
        _GAP_US_DEFAULT,
        start_session_stream,
    )

    base = tempfile.mkdtemp(prefix="stream_sessions_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "value"
    )
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    cutoff = lo + (hi - lo) / 2
    events.where(F.col("ts") < F.lit(cutoff)).coalesce(1).write.mode("append").parquet(src)
    events.where(F.col("ts") >= F.lit(cutoff)).coalesce(1).write.mode("append").parquet(src)
    flush_ts = F.timestamp_micros(
        F.unix_micros(F.lit(hi)) + F.lit(2 * _GAP_US_DEFAULT)
    )
    events.select("user_id").distinct().select(
        "user_id", flush_ts.alias("ts"), F.lit(0.0).alias("value")
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_session_stream(
        spark, src, "user_id long, ts timestamp, value double", out, ck
    )
    drained = q.awaitTermination(600)
    assert drained, "availableNow session stream did not finish draining"
    return spark.read.parquet(out)


SQL_stream_sessions = SQL_sessionize


# --------------------------------------------------------- multimodal_gif
def q_multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW decode: deterministic GIF89a images (16-color global
    palette, sub-blocked LZW stream, every other image INTERLACED)
    decoded by the same mapInPandas kernel via the stdlib-only LZW
    decompressor + palette lookup + deinterlace
    (`functions/multimodal.py::_decode_gif`). Oracle recomputes channel
    means from the modular palette rule — the decode must invert LZW,
    the palette indirection AND the 4-pass interlace exactly."""
    from rasters_jl_spark.functions.multimodal import decode_image_features, synth_gif

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return decode_image_features(synth_gif(docs, limit=40))


SQL_multimodal_gif = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id, 'gif' AS fmt,
           CAST(4 + doc_id % 5 AS INT) AS width,
           CAST(3 + doc_id % 4 AS INT) AS height
    FROM base
),
px AS (
    -- logical pixel byte k: palette index j = (d*7 + k//3) % 16,
    -- value = (d*11 + j*3 + k%3) % 256 (interlace is storage-only)
    SELECT d.doc_id, d.fmt, d.width, d.height, s.k,
           CAST((d.doc_id * 11
                 + ((d.doc_id * 7 + (s.k // 3)) % 16) * 3
                 + (s.k % 3)) % 256 AS DOUBLE) AS v
    FROM dims d CROSS JOIN generate_series(0, 143) s(k)
    WHERE s.k < d.width * d.height * 3
)
SELECT doc_id AS media_id, fmt, width, height,
       ROUND(AVG(CASE WHEN k % 3 = 0 THEN v END), 6) AS c0_mean,
       ROUND(AVG(CASE WHEN k % 3 = 1 THEN v END), 6) AS c1_mean,
       ROUND(AVG(CASE WHEN k % 3 = 2 THEN v END), 6) AS c2_mean
FROM px GROUP BY doc_id, fmt, width, height"""


# --------------------------------------------------------- zonal_median
def q_zonal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zonal with ORDER-STATISTIC reducers (the reference's zonal takes
    any f — `src/methods/zonal.jl:67-165` — including median/quantiles):
    exact interpolated median and quartiles per geometry. Spark percentile
    is the exact sort-based aggregate; at 100 TB the per-group sort is the
    price of exactness (approx_percentile is the sketch alternative)."""
    from rasters_jl_spark.operators.zonal import raster_geom_candidates

    r = synth_raster(spark, sf_dir, "a")
    cand = raster_geom_candidates(r, G, FX.RASTER_POLYS, "center").where(
        F.col("_inside")
    )
    return cand.groupBy("geom_id").agg(
        F.count("value").alias("n_cells"),
        F.round(F.median("value"), 6).alias("med_val"),
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("q1_val"),
        F.round(F.percentile("value", F.lit(0.75)), 6).alias("q3_val"),
    )


SQL_zonal_median = f"""WITH {RAST_A_CTE}, {_pip_cells_cte(FX.RASTER_POLYS)}
SELECT p.geom_id, COUNT(r.value) AS n_cells,
       ROUND(median(r.value), 6) AS med_val,
       ROUND(quantile_cont(r.value, 0.25), 6) AS q1_val,
       ROUND(quantile_cont(r.value, 0.75), 6) AS q3_val
FROM pip p JOIN rast r ON r.ix = p.ix AND r.iy = p.iy
GROUP BY p.geom_id"""


# ----------------------------------------------------- multimodal_gif_frames
def q_multimodal_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED-GIF frame extraction: every stored frame of a multi-frame
    container (2 + d%3 frames, odd frames interlaced, per-frame graphic-
    control extensions) decoded to per-frame dims + channel means — the
    container-native frame-sampling feed. Oracle recomputes every frame
    from the modular palette rule."""
    from rasters_jl_spark.functions.multimodal import gif_frame_features, synth_gif_anim

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    return gif_frame_features(synth_gif_anim(docs, limit=40))


SQL_multimodal_gif_frames = """WITH base AS (
    SELECT doc_id FROM documents ORDER BY doc_id LIMIT 40
),
dims AS (
    SELECT doc_id,
           CAST(4 + doc_id % 5 AS INT) AS width,
           CAST(3 + doc_id % 4 AS INT) AS height,
           CAST(2 + doc_id % 3 AS INT) AS n_frames
    FROM base
),
fr AS (
    SELECT d.*, CAST(f.f AS INT) AS frame_idx
    FROM dims d CROSS JOIN generate_series(0, 4) f(f)
    WHERE f.f < d.n_frames
),
px AS (
    SELECT fr.doc_id, fr.frame_idx, fr.n_frames, fr.width, fr.height, s.k,
           CAST((fr.doc_id * 11
                 + ((fr.doc_id * 7 + fr.frame_idx * 5 + (s.k // 3)) % 16) * 3
                 + (s.k % 3)) % 256 AS DOUBLE) AS v
    FROM fr CROSS JOIN generate_series(0, 143) s(k)
    WHERE s.k < fr.width * fr.height * 3
)
SELECT doc_id AS media_id, frame_idx, n_frames, width, height,
       ROUND(AVG(CASE WHEN k % 3 = 0 THEN v END), 6) AS c0_mean,
       ROUND(AVG(CASE WHEN k % 3 = 1 THEN v END), 6) AS c1_mean,
       ROUND(AVG(CASE WHEN k % 3 = 2 THEN v END), 6) AS c2_mean
FROM px GROUP BY doc_id, frame_idx, n_frames, width, height"""
