"""Relational core: crop / extend / trim / mask / classify / replace_missing.

Each operator is a pure DataFrame transform over the long raster format
``(ix, iy, value)`` + :class:`GridSpec`. They compile to filters, CASE
expressions and joins that Catalyst can push down and prune — the Spark
analogues of the reference's lazy views (`src/methods/crop_extend.jl`,
`src/methods/trim.jl`, `src/methods/mask.jl`, `src/methods/classify.jl`,
`src/methods/replace_missing.jl`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.functions.geometry import (
    Polygon,
    raster_cover_df,
    raster_cover_hit,
    with_blocks,
)
from rasters_jl_spark.grid import GridSpec


def crop(raster: DataFrame, grid: GridSpec, xmin: float, xmax: float, ymin: float, ymax: float) -> DataFrame:
    """Cut to extent — a pure filter on cell-center coordinates; at scale the
    predicate prunes parquet row groups/partitions for free.

    Reference: `crop`/`_crop_to` (`src/methods/crop_extend.jl:71-117`)
    returns a lazy view; cells whose *center* lies in the closed extent are
    kept (Touches/`atol` variants are extent padding at the call site).
    """
    x = F.expr(grid.x_sql("ix"))
    y = F.expr(grid.y_sql("iy"))
    return raster.where((x >= xmin) & (x <= xmax) & (y >= ymin) & (y <= ymax))


def crop_to_geoms(raster: DataFrame, grid: GridSpec, polys) -> DataFrame:
    """``crop(x; to=polygon)`` — crop to the combined bbox of a geometry
    set (`src/methods/crop_extend.jl:71-117` `to=` geometry branch;
    golden `test/methods.jl:481-494`). Pure wrapper: extent = union of
    polygon bboxes, then the pushdown-friendly coordinate filter; no
    polygons keep no cell."""
    if not polys:
        return raster.where(F.lit(False))
    xmin = min(p.bbox[0] for p in polys)
    xmax = max(p.bbox[1] for p in polys)
    ymin = min(p.bbox[2] for p in polys)
    ymax = max(p.bbox[3] for p in polys)
    return crop(raster, grid, xmin, xmax, ymin, ymax)


def extend(raster: DataFrame, grid: GridSpec, ix_min: int, ix_max: int, iy_min: int, iy_max: int) -> DataFrame:
    """Grow to a larger index box, filling new cells with NULL.

    Reference: `extend` (`src/methods/crop_extend.jl:158-269`) fills with
    ``missingval``. Spark: generate the target cell universe with
    ``spark.range`` cross-join (no data shuffle — both ranges are tiny and
    broadcast) and left-join the existing values.
    """
    spark = raster.sparkSession
    xs = spark.range(ix_min, ix_max + 1).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(iy_min, iy_max + 1).select(F.col("id").cast("int").alias("iy"))
    universe = xs.crossJoin(ys)
    return universe.join(raster, ["ix", "iy"], "left")


def trim(raster: DataFrame, pad: int = 0) -> DataFrame:
    """Shrink to the bounding box of non-missing cells (+pad).

    Reference: `src/methods/trim.jl:54-134` tracks per-axis non-missing
    extents. Spark: one aggregate pass for the 4 scalars, broadcast back as
    a cross join (never collected to the driver), then filter. Two scans of
    the (cached) input — same asymptotics as the reference's two passes.
    """
    bounds = raster.where(F.col("value").isNotNull()).agg(
        F.min("ix").alias("_ix0"),
        F.max("ix").alias("_ix1"),
        F.min("iy").alias("_iy0"),
        F.max("iy").alias("_iy1"),
    )
    out = raster.crossJoin(F.broadcast(bounds)).where(
        (F.col("ix") >= F.col("_ix0") - pad)
        & (F.col("ix") <= F.col("_ix1") + pad)
        & (F.col("iy") >= F.col("_iy0") - pad)
        & (F.col("iy") <= F.col("_iy1") + pad)
    )
    return out.drop("_ix0", "_ix1", "_iy0", "_iy1")


def mask_raster(raster: DataFrame, with_raster: DataFrame, invert: bool = False) -> DataFrame:
    """Mask by another raster: value → NULL where ``with`` is missing
    (invert: where ``with`` is present).

    Reference: `_mask!` (`src/methods/mask.jl:183-211`); invert keyword
    (`src/methods/mask.jl:2-5,191-199`). Spark: left join on the integer
    cell index + CASE. No broadcast hint: a mask raster is typically the
    SAME cardinality as the data raster, so forcing a broadcast is an OOM
    at scale — AQE picks broadcast on its own when the mask side is
    genuinely small, and tile-bucketed layouts co-locate the join.
    """
    m = with_raster.select("ix", "iy", F.col("value").alias("_mval"))
    joined = raster.join(m, ["ix", "iy"], "left")
    if invert:
        keep = F.col("_mval").isNull()
    else:
        keep = F.col("_mval").isNotNull()
    return joined.select(
        "ix", "iy", F.when(keep, F.col("value")).otherwise(F.lit(None)).alias("value")
    )


def mask_geom(
    raster: DataFrame,
    grid: GridSpec,
    polys: list[Polygon],
    boundary: str = "center",
    invert: bool = False,
) -> DataFrame:
    """Mask by geometry: NULL outside the polygons (invert: NULL inside).

    Reference: `_mask`/`boolmask` (`src/methods/mask.jl:76-103,297-319`)
    with boundary ∈ {center, touches, inside}. Spark: one map-only scan
    through the classified per-block cover (:func:`_covered`).
    """
    j = _covered(raster, grid, polys, boundary)
    keep = ~F.col("_cov") if invert else F.col("_cov")
    return j.select(
        "ix", "iy", F.when(keep, F.col("value")).otherwise(F.lit(None)).alias("value")
    )


def _covered(raster: DataFrame, grid: GridSpec, polys: list[Polygon], boundary: str) -> DataFrame:
    """raster columns + boolean ``_cov``: the cell is covered by ANY polygon.

    Each cell lies in one block, so it left-joins the broadcast block
    cover (:func:`raster_cover_df`, all of the block's polygons in one
    array) and ``exists`` tests them: interior structs pass, boundary
    structs take the boundary predicate over their edges — map-only, no
    distinct and no join back."""
    blocks = raster_cover_df(raster.sparkSession, polys, grid, boundary)
    j = with_blocks(raster).join(F.broadcast(blocks), ["_bx", "_by"], "left")
    hit = F.expr(f"exists(geoms, g -> {raster_cover_hit(grid, boundary, 'g.')})")
    return j.withColumn("_cov", F.coalesce(hit, F.lit(False))).drop("_bx", "_by", "geoms")


def boolmask(raster: DataFrame, grid: GridSpec, polys: list[Polygon], boundary: str = "center", invert: bool = False) -> DataFrame:
    """(ix, iy, mask:boolean) — reference `boolmask` (`src/methods/mask.jl:265-361`)."""
    c = ~F.col("_cov") if invert else F.col("_cov")
    return _covered(raster, grid, polys, boundary).select("ix", "iy", c.alias("mask"))


def replace_missing(raster: DataFrame, sentinel: float, to_null: bool = True) -> DataFrame:
    """Sentinel ⇄ NULL conversion.

    Reference: `replace_missing` rewrites data *and* the missingval field
    (`src/methods/replace_missing.jl:24-66`). The engine's convention is
    NULL end-to-end, so ``to_null=True`` is the ingest normalisation and
    ``to_null=False`` re-materialises a sentinel for sinks that need one.
    """
    v = F.col("value")
    if to_null:
        out = F.when(v == F.lit(sentinel), F.lit(None)).otherwise(v)
    else:
        out = F.coalesce(v, F.lit(float(sentinel)))
    return raster.select("ix", "iy", out.alias("value"))


def classify(
    raster: DataFrame,
    bins: list[tuple[float, float, float]],
    others=None,
    lower: str = "closed",
    upper: str = "open",
) -> DataFrame:
    """Map value ranges to classes: ``bins = [(lo, hi, class), ...]`` —
    the reference's matrix form — first matching bin wins.

    ``lower``/``upper`` choose each bound's comparator (the reference's
    `lower=(>=)` / `upper=(<)` keyword pair, `src/methods/classify.jl:
    130-217`): "closed" = inclusive, "open" = exclusive. Default
    lower-closed / upper-open. Missing stays missing; ``others`` fills
    unmatched values. Spark: a CASE WHEN chain (pure codegen).
    """
    v = F.col("value")

    def lo_cmp(lo):
        return v >= F.lit(lo) if lower == "closed" else v > F.lit(lo)

    def hi_cmp(hi):
        return v <= F.lit(hi) if upper == "closed" else v < F.lit(hi)

    expr = None
    for lo, hi, cls in bins:
        cond = lo_cmp(lo) & hi_cmp(hi)
        expr = F.when(cond, F.lit(cls)) if expr is None else expr.when(cond, F.lit(cls))
    tail = F.lit(others) if others is not None else F.lit(None)
    out = F.when(v.isNull(), F.lit(None)).otherwise(expr.otherwise(tail))
    return raster.select("ix", "iy", out.alias("value"))


def points(raster: DataFrame, grid: GridSpec, skipmissing: bool = True) -> DataFrame:
    """Raster → (x, y[, value]) coordinate rows.

    Reference: `src/methods/points.jl:20-34`.
    """
    out = raster.select(
        F.expr(grid.x_sql("ix")).alias("x"), F.expr(grid.y_sql("iy")).alias("y"), "value"
    )
    return out.where(F.col("value").isNotNull()) if skipmissing else out
