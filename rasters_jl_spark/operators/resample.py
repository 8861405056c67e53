"""resample / cellarea / coverage — the numerically-delicate kernels.

resample re-expresses GDAL warp (`ext/RastersArchGDALExt/resample.jl:9-124`)
as joins: every target cell computes its source coordinate by inverse affine
(pure column math), then samples or reduces. ``_sample`` (near, bilinear,
the cubic family) and ``_downscale`` (the aggregates) are the one sampling
core: `warp` (`operators/warp.py`) feeds them the coordinates of its CRS
chain in place of the inverse affine.

- ``near``: floor to the owning source cell → one equi hash join. Floor on
  the half-cell-shifted coordinate avoids round-half ambiguity entirely —
  deterministic in both Spark and the DuckDB oracle.
- ``bilinear``: four *explicit* neighbor joins (v00,v10,v01,v11) combined in
  a fixed-order weighted expression. Four joins instead of explode+groupBy
  keeps the floating-point summation order deterministic — the engine's
  answer to the reference's bit-stability requirement
  (`test/resample.jl:16-27` matches gdalwarp bit-for-bit). Missing source
  cells are skipped and weights renormalised; all-missing → NULL.
- ``cubic``/``cubicspline``/``lanczos``: a k×k stencil explode, one equi
  left join and a groupBy(target) with the same missing-weight
  renormalisation.
- aggregate methods (the one reducer table ``aggregate._REDUCERS``:
  sum/mean/average/min/max/count/med/q1/q3/rms, plus mode): every source
  cell maps to the target cell containing its center → groupBy (used when
  downscaling).

cellarea: closed-form spherical latitude-band area
(`ext/RastersProjExt/cellarea.jl:56-65`): 2πR²(sin y₂ − sin y₁)·Δx/360.

coverage_rect: exact analytic polygon∩cell area fraction for axis-aligned
rectangles (`src/methods/coverage.jl` computes this by scale² subpixel
counting; the closed form is exact, cheaper, and SQL-expressible).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.aggregate import _REDUCERS, _aggregate_mode

EARTH_R_KM = 6371.0088

LANCZOS_A = 3  # gdalwarp lanczos window (6×6 stencil)

# stencil offsets per kernel: weights are zero outside |t| < support, and
# t = di - frac with frac ∈ [0, 1)
KERNEL_OFFSETS = {
    "cubic": (-1, 0, 1, 2),
    "cubicspline": (-1, 0, 1, 2),
    "lanczos": (-2, -1, 0, 1, 2, 3),
}


def cubic_w_sql(method: str, t: str) -> str:
    """The stencil weight of offset ``t`` (a parenthesised SQL fragment) as
    SQL text, run by `_sample` through ``F.expr`` and verbatim by the
    DuckDB oracle:

    - ``cubic``: Keys bicubic convolution, a = -0.5, in Horner form (the
      gdalwarp `cubic` method, `src/extensions.jl:59-75`);
    - ``cubicspline``: the cubic B-spline (gdalwarp `cubicspline`);
    - ``lanczos``: windowed sinc, a = 3 (gdalwarp `lanczos`):
      sinc(t)·sinc(t/a) for |t| < a, 1 at t = 0.
    """
    a = f"ABS({t})"
    if method == "cubic":
        return (
            f"CASE WHEN {a} <= 1.0 THEN (1.5 * {a} - 2.5) * {a} * {a} + 1.0 "
            f"WHEN {a} < 2.0 THEN -0.5 * ((({a} - 5.0) * {a} + 8.0) * {a} - 4.0) "
            f"ELSE 0.0 END"
        )
    if method == "lanczos":
        pt = f"({math.pi!r} * {t})"
        pta = f"({pt} / {float(LANCZOS_A)!r})"
        return (
            f"CASE WHEN {a} < 1e-12 THEN 1.0 "
            f"WHEN {a} < {float(LANCZOS_A)!r} THEN (SIN({pt}) / {pt}) * (SIN({pta}) / {pta}) "
            f"ELSE 0.0 END"
        )
    return (
        f"CASE WHEN {a} <= 1.0 THEN (0.5 * {a} - 1.0) * {a} * {a} + {2.0 / 3.0!r} "
        f"WHEN {a} < 2.0 THEN (2.0 - {a}) * (2.0 - {a}) * (2.0 - {a}) / 6.0 "
        f"ELSE 0.0 END"
    )


def _target_cells(spark, tgt: GridSpec) -> DataFrame:
    xs = spark.range(0, tgt.nx).select(F.col("id").cast("int").alias("jx"))
    ys = spark.range(0, tgt.ny).select(F.col("id").cast("int").alias("jy"))
    return xs.crossJoin(ys)


# the gdalwarp -r aggregate surface (`src/extensions.jl:59-75`): a reducer
# of the one table, or the deterministic mode
DOWNSCALE = (*_REDUCERS, "mode")
METHODS = ("near", "bilinear", *KERNEL_OFFSETS, *DOWNSCALE)


def _sample(cells: DataFrame, xs: str, ys: str, raster: DataFrame, src: GridSpec, method: str) -> DataFrame:
    """The one target-cell sampler: target cells ``(jx, jy)`` whose centres
    have the SOURCE-CRS coordinates ``xs``/``ys`` (SQL text over the cells'
    columns) → (ix, iy, value) on the target grid. ``resample`` passes the
    target's own centres (``x_sql``/``y_sql``), ``warp`` its projection
    chain or the column the hook's pandas UDF wrote; the source-grid math
    and the kernel weights are the SQL texts the oracle runs, so all share
    one join discipline, one semantics and one formula text."""
    by_cell = raster.select(F.col("ix").alias("_sx"), F.col("iy").alias("_sy"), "value")
    if method == "near":
        t = cells.select(
            F.col("jx").alias("ix"),
            F.col("jy").alias("iy"),
            F.expr(src.ix_of_x_sql(xs)).alias("_sx"),
            F.expr(src.iy_of_y_sql(ys)).alias("_sy"),
        ).where(F.expr(src.in_bounds_sql("_sx", "_sy")))
        return t.join(by_cell, ["_sx", "_sy"], "left").select("ix", "iy", "value")
    if method != "bilinear" and method not in KERNEL_OFFSETS:
        raise ValueError(f"unknown method {method!r}; one of {METHODS}")

    fx = (F.expr(xs) - F.lit(src.x0)) / F.lit(src.dx)
    fy = (F.expr(ys) - F.lit(src.y0)) / F.lit(src.dy)
    t = cells.select(
        F.col("jx").alias("ix"),
        F.col("jy").alias("iy"),
        F.floor(fx).cast("int").alias("_x0"),
        F.floor(fy).cast("int").alias("_y0"),
        (fx - F.floor(fx)).alias("_wx"),
        (fy - F.floor(fy)).alias("_wy"),
    )

    if method == "bilinear":
        out = t
        for tag, (ddx, ddy) in {"00": (0, 0), "10": (1, 0), "01": (0, 1), "11": (1, 1)}.items():
            r = raster.select(
                (F.col("ix") - ddx).alias("_x0"),
                (F.col("iy") - ddy).alias("_y0"),
                F.col("value").alias(f"_v{tag}"),
            )
            out = out.join(r, ["_x0", "_y0"], "left")
        wx, wy = F.col("_wx"), F.col("_wy")
        weights = {
            "00": (1 - wx) * (1 - wy),
            "10": wx * (1 - wy),
            "01": (1 - wx) * wy,
            "11": wx * wy,
        }
        num, den = F.lit(0.0), F.lit(0.0)
        for tag, w in weights.items():
            v = F.col(f"_v{tag}")
            num = num + F.when(v.isNotNull(), w * v).otherwise(F.lit(0.0))
            den = den + F.when(v.isNotNull(), w).otherwise(F.lit(0.0))
        val = F.when(den > 0, num / den).otherwise(F.lit(None))
        return out.select("ix", "iy", val.alias("value"))

    # k×k stencil (4×4 cubic family, 6×6 lanczos): explode the (di, dj)
    # offsets per target cell, ONE equi left join to the source raster,
    # groupBy(target) with missing-skipping weight renormalisation (same
    # discipline as bilinear). One shuffle; the fan-out is narrow.
    offs = F.array(*[F.lit(i) for i in KERNEL_OFFSETS[method]])
    n = t.select("*", F.explode(offs).alias("_di"))
    n = n.select("*", F.explode(offs).alias("_dj"))
    n = n.withColumn("_sx", (F.col("_x0") + F.col("_di")).cast("int")).withColumn(
        "_sy", (F.col("_y0") + F.col("_dj")).cast("int")
    )
    j = n.join(by_cell, ["_sx", "_sy"], "left")
    wx = cubic_w_sql(method, "(CAST(_di AS DOUBLE) - _wx)")
    wy = cubic_w_sql(method, "(CAST(_dj AS DOUBLE) - _wy)")
    w = F.expr(f"({wx}) * ({wy})")
    v = F.col("value")
    agg = j.groupBy("ix", "iy").agg(
        F.sum(F.when(v.isNotNull(), w * v).otherwise(F.lit(0.0))).alias("_num"),
        F.sum(F.when(v.isNotNull(), w).otherwise(F.lit(0.0))).alias("_den"),
        F.count(v).alias("_cnt"),
    )
    out_v = F.when((F.col("_cnt") > 0) & (F.col("_den") != 0.0), F.col("_num") / F.col("_den"))
    return agg.select("ix", "iy", out_v.alias("value"))


def _downscale(raster: DataFrame, tix: str, tiy: str, tgt: GridSpec, method: str) -> DataFrame:
    """The one downscale path: ``tix``/``tiy`` are the SQL text of the
    target index of each SOURCE cell centre; cells landing off the target
    grid drop, the rest reduce per target cell with one groupBy (two for
    ``mode``)."""
    mapped = raster.select(F.expr(tix).alias("tix"), F.expr(tiy).alias("tiy"), "value").where(
        F.expr(tgt.in_bounds_sql("tix", "tiy"))
    )
    mapped = mapped.select(F.col("tix").alias("ix"), F.col("tiy").alias("iy"), "value")
    if method == "mode":
        return _aggregate_mode(mapped, 1, skipmissing=True)
    red = _REDUCERS[method]
    return mapped.groupBy("ix", "iy").agg(red("value").cast("double").alias("value"))


def resample(
    raster: DataFrame,
    src: GridSpec,
    tgt: GridSpec,
    method: str = "near",
) -> DataFrame:
    """Regrid ``raster`` from ``src`` onto ``tgt``. Returns (ix, iy, value)
    indexed on the target grid; ``method`` is one of :data:`METHODS`."""
    if method in DOWNSCALE:
        # source cell center → owning target cell
        tix, tiy = tgt.ix_of_x_sql(src.x_sql("ix")), tgt.iy_of_y_sql(src.y_sql("iy"))
        return _downscale(raster, tix, tiy, tgt, method)
    cells = _target_cells(raster.sparkSession, tgt)
    return _sample(cells, tgt.x_sql("jx"), tgt.y_sql("jy"), raster, src, method)


def cellarea(spark, grid: GridSpec, radius_km: float = EARTH_R_KM) -> DataFrame:
    """(ix, iy, area_km2): spherical latitude-band cell area. Pure column
    math over the generated index space — needs no data at all
    (`ext/RastersProjExt/cellarea.jl:56-65`)."""
    cells = _target_cells(spark, grid).select(
        F.col("jx").alias("ix"), F.col("jy").alias("iy")
    )
    y = F.expr(grid.y_sql("iy"))
    # |dy|: on a north-up grid (dy<0) the band edges would otherwise swap
    # and every area would come out negative
    y1 = F.radians(y - F.lit(abs(grid.dy) / 2.0))
    y2 = F.radians(y + F.lit(abs(grid.dy) / 2.0))
    area = (
        F.lit(2.0 * math.pi * radius_km * radius_km)
        * (F.sin(y2) - F.sin(y1))
        * F.lit(abs(grid.dx) / 360.0)
    )
    return cells.select("ix", "iy", area.alias("area_km2"))


def cellarea_planar(spark, grid: GridSpec) -> DataFrame:
    """(ix, iy, area): Planar method — |dx|·|dy| in CRS units, constant per
    cell (reference `Planar()` path, `src/extensions.jl:242-245`
    `_planar_cellarea` = interval width product). Kept per-cell-shaped for
    API parity with the spherical methods."""
    cells = _target_cells(spark, grid).select(
        F.col("jx").alias("ix"), F.col("jy").alias("iy")
    )
    return cells.select("ix", "iy", F.lit(abs(grid.dx) * abs(grid.dy)).alias("area"))


# Spherical-quadrilateral cell area (projected-CRS path of the reference,
# `ext/RastersProjExt/cellarea.jl:23-47,67-107`): each cell's corner ring is
# mapped to unit-sphere points and split into two spherical triangles via
# Eriksson's formula (t = |a·((b−a)×(c−a))| / ((b+a)·(c+a)), area = 2·atan t).
# The formula is built ONCE as SQL text and evaluated with F.expr in Spark
# and verbatim in the DuckDB oracle — sin/cos/atan/radians are shared SQL,
# so the two engines run the identical expression tree (the engine's
# CRS→lon/lat `transform` hook is identity here: aligned-axes scope).
def _sph_point_exprs(tag: str, lon_col: str, lat_col: str) -> list[tuple[str, str]]:
    return [
        (f"{tag}x", f"cos(radians({lat_col})) * cos(radians({lon_col}))"),
        (f"{tag}y", f"cos(radians({lat_col})) * sin(radians({lon_col}))"),
        (f"{tag}z", f"sin(radians({lat_col}))"),
    ]


def _eriksson_tri_expr(a: str, b: str, c: str) -> str:
    num = (
        f"({a}x*(({b}y-{a}y)*({c}z-{a}z) - ({b}z-{a}z)*({c}y-{a}y))"
        f" + {a}y*(({b}z-{a}z)*({c}x-{a}x) - ({b}x-{a}x)*({c}z-{a}z))"
        f" + {a}z*(({b}x-{a}x)*({c}y-{a}y) - ({b}y-{a}y)*({c}x-{a}x)))"
    )
    den = (
        f"(({b}x+{a}x)*({c}x+{a}x) + ({b}y+{a}y)*({c}y+{a}y)"
        f" + ({b}z+{a}z)*({c}z+{a}z))"
    )
    return f"2.0 * atan(abs({num} / {den}))"


QUAD_CORNER_EXPRS: list[tuple[str, str]] = (
    _sph_point_exprs("p1", "cx1", "cy1")
    + _sph_point_exprs("p2", "cx2", "cy1")
    + _sph_point_exprs("p3", "cx2", "cy2")
    + _sph_point_exprs("p4", "cx1", "cy2")
)
QUAD_AREA_EXPR = f"({_eriksson_tri_expr('p1', 'p2', 'p3')}) + ({_eriksson_tri_expr('p3', 'p4', 'p1')})"


def cellarea_quad(spark, grid: GridSpec, radius_km: float = EARTH_R_KM) -> DataFrame:
    """(ix, iy, area_km2): spherical-QUADRILATERAL cell area — the
    reference's projected-CRS method, exact for any cell whose corners are
    known in lon/lat (the lat-band closed form only holds for lon/lat-
    aligned rectangles). Pure codegen column math per cell."""
    cells = _target_cells(spark, grid).select(
        F.col("jx").alias("ix"), F.col("jy").alias("iy")
    )
    out = (
        cells.withColumn("cx1", F.expr(grid.x_sql("ix")) - F.lit(grid.dx / 2.0))
        .withColumn("cx2", F.expr(grid.x_sql("ix")) + F.lit(grid.dx / 2.0))
        .withColumn("cy1", F.expr(grid.y_sql("iy")) - F.lit(grid.dy / 2.0))
        .withColumn("cy2", F.expr(grid.y_sql("iy")) + F.lit(grid.dy / 2.0))
    )
    for name, expr in QUAD_CORNER_EXPRS:
        out = out.withColumn(name, F.expr(expr))
    area = F.expr(QUAD_AREA_EXPR) * F.lit(radius_km * radius_km)
    return out.select("ix", "iy", area.alias("area_km2"))


def coverage_rect(
    raster_universe: DataFrame,
    grid: GridSpec,
    rects: list[tuple[int, float, float, float, float]],
    mode: str = "sum",
) -> DataFrame:
    """Fraction [0,1] of each cell covered by axis-aligned rectangles.

    ``rects``: (geom_id, xmin, xmax, ymin, ymax). Exact closed form:
    overlap = max(0, min(cx+d/2, xmax) - max(cx-d/2, xmin)) per axis.
    mode='sum' adds fractions across geoms (`src/methods/coverage.jl:46-117`
    mode=sum); mode='union' is exact for non-overlapping rects and clamps
    to 1.0 otherwise.
    """
    cx = F.expr(grid.x_sql("ix"))
    cy = F.expr(grid.y_sql("iy"))
    hdx, hdy = grid.dx / 2.0, grid.dy / 2.0
    total = F.lit(0.0)
    for _gid, xmin, xmax, ymin, ymax in rects:
        ox = F.greatest(
            F.lit(0.0), F.least(cx + hdx, F.lit(xmax)) - F.greatest(cx - hdx, F.lit(xmin))
        )
        oy = F.greatest(
            F.lit(0.0), F.least(cy + hdy, F.lit(ymax)) - F.greatest(cy - hdy, F.lit(ymin))
        )
        total = total + (ox * oy) / F.lit(grid.dx * grid.dy)
    if mode == "union":
        total = F.least(total, F.lit(1.0))
    return raster_universe.select("ix", "iy", total.alias("coverage"))


def coverage_polygons(
    raster_universe: DataFrame,
    grid: GridSpec,
    polys,
    mode: str = "union",
    scale: int = 10,
) -> DataFrame:
    """GENERAL-polygon coverage: fraction [0,1] of each cell covered,
    reference-faithful scale² subpixel counting with an even-odd PIP test
    per subpixel center (`src/methods/coverage.jl:46-117`, burn kernels
    `:120-397`). mode='union' counts subcells inside ANY geometry;
    mode='sum' adds per-geometry counts (overlaps count multiply).

    Plan: only cells NEAR geometry explode — candidates come from the
    broadcast classified block-cover join (``raster_geom_candidates`` with
    the touches-padded cover; the unused cell-level predicate is pruned by
    Catalyst), exterior-block candidates drop out, the others fan out
    scale² subpixel centers that pass on an interior block and otherwise
    take the PIP over the block's edges, one groupBy(cell) partial-
    aggregates map-side, and the universe left-join restores
    zero-coverage cells. At 100× data the subpixel explode never touches
    the (vast) empty part of the raster.
    """
    from rasters_jl_spark.functions.geometry import dbl_sql, pip_col
    from rasters_jl_spark.operators.zonal import raster_geom_candidates

    cand = raster_geom_candidates(
        raster_universe.select("ix", "iy"), grid, polys, boundary="touches", keep_arrays=True
    ).select("ix", "iy", "geom_id", "inside", "edges")
    cand = cand.where(F.col("inside") | (F.size("edges") > 0))
    sub = F.sequence(F.lit(0), F.lit(scale - 1))
    df = cand.select("*", F.explode(sub).alias("u"))
    df = df.select("*", F.explode(sub).alias("v"))
    hdx, hdy = dbl_sql(grid.dx / 2.0), dbl_sql(grid.dy / 2.0)
    sub_x, sub_y = dbl_sql(grid.dx / scale), dbl_sql(grid.dy / scale)
    half = dbl_sql(0.5)
    px = f"(({grid.x_sql('ix')} - {hdx}) + (CAST(u AS DOUBLE) + {half}) * {sub_x})"
    py = f"(({grid.y_sql('iy')} - {hdy}) + (CAST(v AS DOUBLE) + {half}) * {sub_y})"
    hits = df.where(F.col("inside") | pip_col(px, py, "edges"))
    if mode == "union":
        agg = F.count_distinct(F.col("u") * scale + F.col("v"))
    elif mode == "sum":
        agg = F.count(F.lit(1))
    else:
        raise ValueError(f"mode must be union|sum, got {mode!r}")
    per_cell = hits.groupBy("ix", "iy").agg(
        (agg.cast("double") / F.lit(float(scale * scale))).alias("_cov")
    )
    return raster_universe.select("ix", "iy").join(per_cell, ["ix", "iy"], "left").select(
        "ix", "iy", F.coalesce(F.col("_cov"), F.lit(0.0)).alias("coverage")
    )


def coverage_clipped(
    raster_universe: DataFrame,
    grid: GridSpec,
    polys,
    mode: str = "sum",
) -> DataFrame:
    """EXACT general-polygon coverage — the analytic alternative to the
    reference's scale² subpixel counting (`src/methods/coverage.jl:46-117`;
    SURVEY §2.4 names the clipped-area form as the better Spark plan): the
    fraction of each cell covered by each simple ring is the CLOSED-FORM
    clipped area via per-edge clamped Green's-theorem integrals
    (`functions/geometry.py::clip_area_edge_sql`) — equivalent to
    Sutherland–Hodgman clipping + shoelace but EDGE-INDEPENDENT, so it
    unrolls to pure whole-stage-codegen column math: no subpixel explode,
    no groupBy, ZERO shuffles (the subpixel path fans out scale² = 100 rows
    per candidate and re-groups them; this emits one expression per cell).

    mode='sum' adds per-ring |area|/cellarea (orientation-robust via the
    abs; holes would need opposite winding — the fixture rings are solid).
    Exact where the subpixel path approximates: converges to this as
    scale→∞. Unrolled per-geometry literals (the coverage_rect pattern) —
    for catalogs of many polygons use :func:`coverage_polygons`' candidate
    join instead."""
    if mode != "sum":
        raise ValueError(f"coverage_clipped supports mode='sum', got {mode!r}")
    from rasters_jl_spark.functions.geometry import clip_area_edge_sql, dbl_sql

    cx, cy = grid.x_sql("ix"), grid.y_sql("iy")
    hdx, hdy = grid.dx / 2.0, grid.dy / 2.0
    x0, x1 = f"({cx} - {hdx!r})", f"({cx} + {hdx!r})"
    y0, y1 = f"({cy} - {hdy!r})", f"({cy} + {hdy!r})"
    # DOUBLE literals: a repr literal is DECIMAL, and the edge-only
    # subexpressions (slope, intercept) would fold in decimal arithmetic
    total = "CAST(0 AS DOUBLE)"
    for p in polys:
        signed = "CAST(0 AS DOUBLE)"
        for e in p.edges:
            exy = list(map(dbl_sql, e))
            signed = f"({signed} + {clip_area_edge_sql(exy, x0, x1, y0, y1)})"
        total = f"({total} + ABS({signed}))"
    cov = F.expr(f"{total} / {grid.dx * grid.dy!r}")
    return raster_universe.select("ix", "iy", cov.alias("coverage"))


def coverage_subpixel(
    raster_universe: DataFrame,
    grid: GridSpec,
    rects: list[tuple[int, float, float, float, float]],
    mode: str = "union",
    scale: int = 10,
) -> DataFrame:
    """Reference-faithful coverage by scale² subpixel counting
    (`src/methods/coverage.jl:46-117`): each cell is divided into
    scale×scale subcells; a subcell counts when its center lies in a
    rect (half-open [min, max) edges). mode='union' counts subcells
    covered by ANY geom — exact for overlapping geoms, where the
    closed-form :func:`coverage_rect` union can only clamp; mode='sum'
    adds per-geom counts.

    Plan shape: two sequence-explodes (×scale²) stay narrow; the
    groupBy(ix, iy) partial-aggregates map-side, so the shuffle carries
    one row per cell, not per subcell.
    """
    sub_x, sub_y = grid.dx / scale, grid.dy / scale
    hdx, hdy = grid.dx / 2.0, grid.dy / 2.0
    sub = F.sequence(F.lit(0), F.lit(scale - 1))
    df = raster_universe.select("ix", "iy", F.explode(sub).alias("u"))
    df = df.select("ix", "iy", "u", F.explode(sub).alias("v"))
    px = F.expr(grid.x_sql("ix")) - F.lit(hdx) + (F.col("u").cast("double") + F.lit(0.5)) * F.lit(sub_x)
    py = F.expr(grid.y_sql("iy")) - F.lit(hdy) + (F.col("v").cast("double") + F.lit(0.5)) * F.lit(sub_y)

    def inside(r):
        _gid, xmin, xmax, ymin, ymax = r
        return (px >= F.lit(xmin)) & (px < F.lit(xmax)) & (py >= F.lit(ymin)) & (py < F.lit(ymax))

    if mode == "union":
        cond = F.lit(False)
        for r in rects:
            cond = cond | inside(r)
        covered = cond.cast("int")
    elif mode == "sum":
        covered = F.lit(0)
        for r in rects:
            covered = covered + inside(r).cast("int")
    else:
        raise ValueError(f"mode must be union|sum, got {mode!r}")
    return df.groupBy("ix", "iy").agg(
        (F.sum(covered).cast("double") / F.lit(float(scale * scale))).alias("coverage")
    )
