"""Aggregate/disaggregate invariants (`test/aggregate.jl`) and resample
kernels validated cell-by-cell against NumPy oracles (FIXTURES.md F8,
standing in for the reference's ArchGDAL.gdalwarp oracle,
`test/resample.jl:16-27,152-168`)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.aggregate import aggregate, disaggregate
from rasters_jl_spark.operators.resample import DOWNSCALE, METHODS, cellarea, resample


def _d(df, col="value"):
    return {(r["ix"], r["iy"]): r[col] for r in df.collect()}


@pytest.fixture(scope="module")
def grid6(spark):
    """6×6 raster value = ix*10 + iy, one missing cell."""
    xs = spark.range(6).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(6).select(F.col("id").cast("int").alias("iy"))
    return (
        xs.crossJoin(ys)
        .withColumn(
            "value",
            F.when((F.col("ix") == 1) & (F.col("iy") == 1), F.lit(None)).otherwise(
                (F.col("ix") * 10 + F.col("iy")).cast("double")
            ),
        )
        .cache()
    )


def test_aggregate_sum_skip(grid6):
    out = _d(aggregate(grid6, 3, "sum", skipmissing=True))
    # block (0,0): values ix,iy in 0..2 minus (1,1)=11 → sum(0..2×0..2)-11
    full = sum(ix * 10 + iy for ix in range(3) for iy in range(3))
    assert out[(0, 0)] == full - 11
    assert out[(1, 1)] == sum(ix * 10 + iy for ix in range(3, 6) for iy in range(3, 6))


def test_aggregate_noskip_propagates(grid6):
    out = _d(aggregate(grid6, 3, "sum", skipmissing=False))
    assert out[(0, 0)] is None
    assert out[(1, 0)] is not None


def test_aggregate_locus_start(grid6):
    """Locus sampling picks one cell per block (`src/methods/aggregate.jl:160-180`)."""
    out = _d(aggregate(grid6, 3, "start"))
    assert out[(0, 0)] == 0.0 and out[(1, 1)] == 33.0


def test_disaggregate_roundtrip(grid6):
    """aggregate(start) ∘ disaggregate == identity on block corners
    (`test/aggregate.jl:44` roundtrip)."""
    up = disaggregate(grid6, 2)
    assert up.count() == 36 * 4
    back = _d(aggregate(up, 2, "start"))
    orig = _d(grid6)
    assert back == orig


def test_resample_identity(spark):
    """resample(A; res=same) == A (`test/resample.jl:170-198`)."""
    g = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=8, ny=8)
    xs = spark.range(8).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(8).select(F.col("id").cast("int").alias("iy"))
    r = xs.crossJoin(ys).withColumn("value", (F.col("ix") * 7 + F.col("iy")).cast("double"))
    out = _d(resample(r, g, g, "near"))
    assert out == _d(r)


def _smooth_raster(spark, n=40):
    g = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=n, ny=n)
    xs = spark.range(n).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(n).select(F.col("id").cast("int").alias("iy"))
    r = xs.crossJoin(ys).withColumn(
        "value", F.sin(F.col("ix") / 7.0) * F.cos(F.col("iy") / 5.0)
    )
    return r, g


def test_resample_near_vs_numpy(spark):
    r, g = _smooth_raster(spark)
    tgt = GridSpec(x0=0.4, y0=0.7, dx=2.3, dy=1.9, nx=15, ny=17)
    out = _d(resample(r, g, tgt, "near"))
    vals = np.sin(np.arange(40) / 7.0)[:, None] * np.cos(np.arange(40) / 5.0)[None, :]
    for jx in range(15):
        for jy in range(17):
            x, y = 0.4 + jx * 2.3, 0.7 + jy * 1.9
            sx, sy = int(math.floor(x + 0.5)), int(math.floor(y + 0.5))
            assert out[(jx, jy)] == pytest.approx(vals[sx, sy], abs=1e-12)


def test_resample_bilinear_vs_numpy(spark):
    r, g = _smooth_raster(spark)
    tgt = GridSpec(x0=0.4, y0=0.7, dx=2.3, dy=1.9, nx=15, ny=17)
    out = _d(resample(r, g, tgt, "bilinear"))
    vals = np.sin(np.arange(40) / 7.0)[:, None] * np.cos(np.arange(40) / 5.0)[None, :]
    for jx in range(15):
        for jy in range(17):
            x, y = 0.4 + jx * 2.3, 0.7 + jy * 1.9
            x0, y0 = int(math.floor(x)), int(math.floor(y))
            wx, wy = x - x0, y - y0
            ref = (
                (1 - wx) * (1 - wy) * vals[x0, y0]
                + wx * (1 - wy) * vals[min(x0 + 1, 39), y0]
                + (1 - wx) * wy * vals[x0, min(y0 + 1, 39)]
                + wx * wy * vals[min(x0 + 1, 39), min(y0 + 1, 39)]
            )
            assert out[(jx, jy)] == pytest.approx(ref, abs=1e-12)


def test_bilinear_missing_renormalises(spark):
    """A missing source neighbour is excluded and weights renormalised;
    all-missing → NULL (missingval propagation, `test/resample.jl:135-168`)."""
    g = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=2, ny=2)
    r = spark.createDataFrame(
        [(0, 0, 10.0), (1, 0, None), (0, 1, 20.0), (1, 1, None)],
        "ix int, iy int, value double",
    )
    tgt = GridSpec(x0=0.5, y0=0.5, dx=1.0, dy=1.0, nx=1, ny=1)
    out = _d(resample(r, g, tgt, "bilinear"))
    # weights 0.25 each; only (0,0) and (0,1) present → (10+20)/2
    assert out[(0, 0)] == pytest.approx(15.0)


def test_cellarea_totals_earth(spark):
    """Σ cell areas over the globe == 4πR² (sphere sanity,
    `ext/RastersProjExt/cellarea.jl` golden strategy)."""
    g = GridSpec(x0=-177.5, y0=-87.5, dx=5.0, dy=5.0, nx=72, ny=36)
    total = cellarea(spark, g).agg(F.sum("area_km2")).collect()[0][0]
    R = 6371.0088
    assert total == pytest.approx(4 * math.pi * R * R, rel=1e-9)


def test_coverage_subpixel_union_vs_sum(spark):
    """Edge-aligned rects (no subcell center ever on a rect edge):
    subpixel counting is exact — union=1.0 in the overlap where sum=2.0,
    both modes agree off the overlap, and partial cells hit exact tenths.
    Reference semantics: `src/methods/coverage.jl:46-117` mode=union|sum."""
    from rasters_jl_spark.operators.resample import coverage_subpixel

    g = GridSpec(x0=0.5, y0=0.5, dx=1.0, dy=1.0, nx=6, ny=6)
    xs = spark.range(6).select(F.col("id").cast("int").alias("ix"))
    universe = xs.crossJoin(spark.range(6).select(F.col("id").cast("int").alias("iy")))
    rects = [
        (1, 0.0, 3.0, 0.0, 3.0),   # cells [0,3)×[0,3)
        (2, 2.0, 5.0, 2.0, 5.0),   # cells [2,5)×[2,5) — overlaps cell (2,2)
        (3, 0.0, 0.5, 5.0, 6.0),   # half of cell (0,5)
    ]
    union = _d(coverage_subpixel(universe, g, rects, mode="union"), "coverage")
    total = _d(coverage_subpixel(universe, g, rects, mode="sum"), "coverage")
    assert union[(2, 2)] == 1.0 and total[(2, 2)] == 2.0  # overlap: the modes differ
    assert union[(0, 0)] == 1.0 and total[(0, 0)] == 1.0  # single-rect interior
    assert union[(4, 4)] == 1.0 and union[(5, 5)] == 0.0  # rect2 corner / outside all
    assert union[(0, 5)] == 0.5 and total[(0, 5)] == 0.5  # half-covered cell
    assert all(0.0 <= v <= 1.0 for v in union.values())


def test_aggregate_med_q_and_mode(spark):
    """med/q1/q3 = exact interpolated quantiles; mode = most frequent with
    min-value tie-break; skipmissing=False nulls any block touching NULL."""
    from rasters_jl_spark.operators.aggregate import aggregate

    rows = []
    # block (0,0): values 1,1,2,3 (+ none missing) → mode 1, med 1.5
    for (x, y), v in zip([(0, 0), (0, 1), (1, 0), (1, 1)], [1.0, 1.0, 2.0, 3.0]):
        rows.append((x, y, v))
    # block (1,0): tie 5×2 and 7×2 → mode 5 (min tie-break); one NULL
    for (x, y), v in zip([(2, 0), (2, 1), (3, 0), (3, 1)], [5.0, 7.0, 5.0, 7.0]):
        rows.append((x, y, v))
    rows[-1] = (3, 1, None)  # → values 5,7,5 → mode 5, has_null
    r = spark.createDataFrame(rows, "ix int, iy int, value double")

    med = {(x["ix"], x["iy"]): x["value"] for x in aggregate(r, 2, "med").collect()}
    assert med[(0, 0)] == 1.5 and med[(1, 0)] == 5.0
    mode = {(x["ix"], x["iy"]): x["value"] for x in aggregate(r, 2, "mode").collect()}
    assert mode[(0, 0)] == 1.0 and mode[(1, 0)] == 5.0
    mode_ns = {
        (x["ix"], x["iy"]): x["value"]
        for x in aggregate(r, 2, "mode", skipmissing=False).collect()
    }
    assert mode_ns[(0, 0)] == 1.0 and mode_ns[(1, 0)] is None
    q1 = {(x["ix"], x["iy"]): x["value"] for x in aggregate(r, 2, "q1").collect()}
    assert q1[(0, 0)] == 1.0


def test_resample_med_mode_match_aggregate(spark, grid6):
    """On a 2×-aligned target grid, resample med/mode reduce exactly the
    same blocks as aggregate(scale=2) — cross-validates both paths."""
    from rasters_jl_spark.operators.aggregate import aggregate
    from rasters_jl_spark.operators.resample import resample

    src = GridSpec(x0=0.5, y0=0.5, dx=1.0, dy=1.0, nx=6, ny=6)
    tgt = GridSpec(x0=1.0, y0=1.0, dx=2.0, dy=2.0, nx=3, ny=3)
    for method in ("med", "mode", "q3"):
        got = _d(resample(grid6, src, tgt, method))
        want = _d(aggregate(grid6, 2, method))
        assert got == want, method


@pytest.mark.parametrize("method", METHODS)
def test_warp_between_4326_grids_equals_resample(grid6, method):
    """warp and resample share one sampling core: between two EPSG:4326
    grids warp's CRS chain is identity text, so every method returns the
    same cells with bit-identical values (``==``, no tolerance). The grid
    steps are decimal literals in warp's SQL text and doubles in
    resample's Columns."""
    from rasters_jl_spark.operators.warp import warp

    src = GridSpec(x0=0.5, y0=0.5, dx=1.0, dy=1.0, nx=6, ny=6)
    if method in DOWNSCALE:
        tgt = GridSpec(x0=0.95, y0=0.8, dx=1.9, dy=1.7, nx=3, ny=4)
    else:
        tgt = GridSpec(x0=0.35, y0=0.2, dx=0.7, dy=0.65, nx=9, ny=10)

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=lambda t: t[:2])

    want = rows(resample(grid6, src, tgt, method))
    assert sum(v is not None for _, _, v in want) >= 9, method
    assert rows(warp(grid6, src, tgt, method)) == want


def test_aggregate_mixed_scales_and_locus(spark, grid6):
    """Reference `test/aggregate.jl` "mixed scales" / "mixed locus":
    per-dimension scale (3,2) and per-axis locus sampling; disaggregate
    with mixed scales fans out sx·sy and roundtrips through aggregate."""
    from rasters_jl_spark.operators.aggregate import aggregate, disaggregate

    vals = {(r["ix"], r["iy"]): r["value"] for r in grid6.collect()}
    got = {
        (r["ix"], r["iy"]): r["value"]
        for r in aggregate(grid6, (3, 2), "sum").collect()
    }
    want = {}
    for (x, y), v in vals.items():
        if v is not None:
            k = (x // 3, y // 2)
            want[k] = want.get(k, 0.0) + v
    assert got == {k: float(v) for k, v in want.items()}

    # mixed locus: start on x, end on y → cell (0, sy-1) of each block
    loc = {
        (r["ix"], r["iy"]): r["value"]
        for r in aggregate(grid6, (3, 2), ("start", "end")).collect()
    }
    assert loc == {
        (bx, by): vals[(bx * 3, by * 2 + 1)] for bx in range(2) for by in range(3)
    }

    # disaggregate fans out sx*sy and aggregate(mean) round-trips
    dis = disaggregate(grid6, (2, 3))
    assert dis.count() == grid6.count() * 6
    back = {
        (r["ix"], r["iy"]): r["value"]
        for r in aggregate(dis, (2, 3), "mean").collect()
    }
    assert back == vals


def test_coverage_polygon_matches_closed_form_rect(spark, sf_dir):
    """General-polygon subpixel coverage of an axis-aligned rect equals the
    exact closed-form rect coverage (the reference's fraction semantics,
    src/methods/coverage.jl:46-117): rect edges on half-integers align
    with subpixel boundaries, so scale-10 counting is exact."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.functions.geometry import Polygon
    from rasters_jl_spark.operators.resample import coverage_polygons, coverage_rect
    from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster

    rect = FX.RASTER_POLYS[0]  # (2.5,4.5)-(10.5,12.5) rectangle
    xmin, xmax, ymin, ymax = rect.bbox
    u = synth_raster(spark, sf_dir, "a").select("ix", "iy")
    got = {
        (r["ix"], r["iy"]): round(r["coverage"], 9)
        for r in coverage_polygons(u, RASTER_GRID, [rect], mode="union").collect()
    }
    want = {
        (r["ix"], r["iy"]): round(r["coverage"], 9)
        for r in coverage_rect(u, RASTER_GRID, [(1, xmin, xmax, ymin, ymax)], mode="sum").collect()
    }
    assert got == want


def test_coverage_clipped_exact_vs_subpixel_convergence(spark, sf_dir):
    """The analytic clipped-area coverage is the scale→∞ limit of the
    reference-compat subpixel counter: (a) on the axis-aligned fixture
    rect it equals the exact closed form to FP precision; (b) on the
    non-convex pentagon the subpixel approximation converges — max
    |exact − subpixel| shrinks ~1/scale and sits within the per-cell
    discretization bound at scale 20; (c) values are valid fractions and
    orientation-robust (reversed ring gives identical coverage)."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.functions.geometry import Polygon
    from rasters_jl_spark.operators.resample import (
        coverage_clipped,
        coverage_polygons,
        coverage_rect,
    )
    from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster

    u = synth_raster(spark, sf_dir, "a").select("ix", "iy")

    def grab(df):
        return {(r["ix"], r["iy"]): r["coverage"] for r in df.collect()}

    # (a) exact == closed-form rect on the rectangle fixture
    rect = FX.RASTER_POLYS[0]
    xmin, xmax, ymin, ymax = rect.bbox
    got = grab(coverage_clipped(u, RASTER_GRID, [rect]))
    want = grab(coverage_rect(u, RASTER_GRID, [(1, xmin, xmax, ymin, ymax)], mode="sum"))
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) < 1e-12 for k in got)

    # (b) subpixel → exact convergence on the non-convex pentagon
    pent = FX.RASTER_POLYS[1]
    exact = grab(coverage_clipped(u, RASTER_GRID, [pent]))
    errs = {}
    for scale in (5, 20):
        sub = grab(coverage_polygons(u, RASTER_GRID, [pent], mode="sum", scale=scale))
        errs[scale] = max(abs(exact[k] - sub[k]) for k in exact)
    # a scale-s grid misclassifies at most ~(edge length in cell)/d · s
    # subcells: bound max error by 2/s and require monotone improvement
    assert errs[20] <= 2.0 / 20 and errs[20] < errs[5]
    assert all(-1e-9 <= v <= 1.0 + 1e-9 for v in exact.values())

    # (c) orientation-robust: reversed winding, same coverage
    rev = Polygon(pent.geom_id, tuple(reversed(pent.ring)))
    flipped = grab(coverage_clipped(u, RASTER_GRID, [rev]))
    assert all(abs(exact[k] - flipped[k]) < 1e-12 for k in exact)


def test_cubic_kernels_linear_precision(spark):
    """Keys cubic and cubic B-spline kernels both reproduce a linear ramp
    exactly on interior targets (partition of unity + zero first moment) —
    the gdalwarp conformance property (test/resample.jl:16-27 style)."""
    from rasters_jl_spark.grid import GridSpec
    from rasters_jl_spark.operators.resample import resample

    src = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=20, ny=20)
    tgt = GridSpec(x0=3.3, y0=4.7, dx=0.9, dy=1.1, nx=8, ny=6)
    xs = spark.range(20).selectExpr("cast(id as int) ix")
    ys = spark.range(20).selectExpr("cast(id as int) iy")
    ramp = xs.crossJoin(ys).selectExpr("ix", "iy", "cast(2.0*ix - 3.0*iy + 7.0 as double) value")
    for method in ("cubic", "cubicspline"):
        out = resample(ramp, src, tgt, method).collect()
        for r in out:
            x = tgt.x0 + r["ix"] * tgt.dx
            y = tgt.y0 + r["iy"] * tgt.dy
            # interior targets only (full 4x4 stencil in bounds)
            if 2 <= x <= 17 and 2 <= y <= 17:
                assert abs(r["value"] - (2.0 * x - 3.0 * y + 7.0)) < 1e-9, (r, x, y)


def test_kernel_weights_match_numpy(spark):
    """The one weight text of each stencil kernel (run by Spark and by the
    DuckDB oracle alike) against NumPy written from the textbook forms, not
    the Horner order: Keys cubic a = -0.5, the cubic B-spline, and Lanczos
    a = 3 (``np.sinc``), over every branch and its bounds, plus the known
    Keys values at 0, 0.5, 1, 1.5 and 2."""
    from rasters_jl_spark.operators.resample import cubic_w_sql

    t = np.concatenate([np.linspace(-3.5, 3.5, 701), [-3.0, -2.0, -1.0, 0.0, 1e-13, 0.5, 1.0, 1.5, 2.0, 3.0]])
    a = np.abs(t)
    want = {
        "cubic": np.where(
            a <= 1, 1.5 * a**3 - 2.5 * a**2 + 1, np.where(a < 2, -0.5 * a**3 + 2.5 * a**2 - 4 * a + 2, 0.0)
        ),
        "cubicspline": np.where(
            a <= 1, (3 * a**3 - 6 * a**2 + 4) / 6, np.where(a < 2, (2 - a) ** 3 / 6, 0.0)
        ),
        "lanczos": np.where(a < 3, np.sinc(t) * np.sinc(t / 3), 0.0),
    }
    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(t)], "i int, t double")
    for method, w in want.items():
        rows = df.select("i", F.expr(cubic_w_sql(method, "(t)")).alias("w")).collect()
        got = np.array([r.w for r in sorted(rows)])
        np.testing.assert_allclose(got, w, rtol=0, atol=1e-12, err_msg=method)
    keys = df.where(F.col("t").isin(0.0, 0.5, 1.0, 1.5, 2.0)).select(
        "t", F.expr(cubic_w_sql("cubic", "(t)")).alias("w")
    )
    assert {r.t: r.w for r in keys.collect()} == {0.0: 1.0, 0.5: 0.5625, 1.0: 0.0, 1.5: -0.0625, 2.0: 0.0}


def test_aggregate_locus_negative_indices(spark):
    """Locus selection must keep negative-index blocks (extend() output):
    pmod, not %, so block -1's locus cell matches for center/end loci."""
    from rasters_jl_spark.operators.aggregate import aggregate

    # cells ix,iy in [-3, 2]: blocks -1 and 0 along each axis at scale 3
    rows = [(ix, iy, float(ix * 10 + iy)) for ix in range(-3, 3) for iy in range(-3, 3)]
    r = spark.createDataFrame(rows, "ix int, iy int, value double")
    for method, off in (("start", 0), ("center", 1), ("end", 2)):
        got = {(x["ix"], x["iy"]): x["value"] for x in aggregate(r, 3, method).collect()}
        want = {
            (bx, by): float((bx * 3 + off) * 10 + (by * 3 + off))
            for bx in (-1, 0)
            for by in (-1, 0)
        }
        assert got == want, method


def test_cellarea_methods_reference_golden(spark):
    """Reference goldens (test/cellarea.jl): the 90..99.9 x 0..89.9 grid at
    0.1 deg covers 1/72 of Earth => sum(cellarea) ~ 510.1e6 km2 / 72 within
    1%; the Eriksson quad method agrees with the lat-band method within 1%
    per cell; Planar() on a degree grid is exactly dx*dy."""
    from rasters_jl_spark.grid import GridSpec
    from rasters_jl_spark.operators.resample import cellarea, cellarea_planar, cellarea_quad

    # Start-sampled 0.1-degree lookups == center grid shifted by half a step
    g = GridSpec(x0=90.05, y0=0.05, dx=0.1, dy=0.1, nx=100, ny=900)
    band_sum = cellarea(spark, g).agg(F.sum("area_km2")).first()[0]
    want = 510.1e6 / 72.0
    assert abs(band_sum - want) / want < 0.01

    quad_sum = cellarea_quad(spark, g).agg(F.sum("area_km2")).first()[0]
    assert abs(quad_sum - want) / want < 0.01

    # per-cell agreement of the two spherical methods on a coarse grid
    from rasters_jl_spark import fixtures as FX

    band = {(r["ix"], r["iy"]): r["area_km2"] for r in cellarea(spark, FX.CELLAREA_GRID).collect()}
    quad = {(r["ix"], r["iy"]): r["area_km2"] for r in cellarea_quad(spark, FX.CELLAREA_GRID).collect()}
    for k, b in band.items():
        assert abs(quad[k] - b) / max(abs(b), 1e-9) < 0.01, k

    planar = cellarea_planar(spark, g).select("area").distinct().collect()
    assert len(planar) == 1 and abs(planar[0]["area"] - 0.01) < 1e-12


def test_warp_mercator_matches_numpy(spark, sf_dir):
    """warp near 4326->3857: every target cell carries the value of the
    source cell NumPy computes through the same mercator inverse; and the
    projection pair roundtrips lon/lat to <1e-9 deg."""
    import math

    import numpy as np

    from rasters_jl_spark.operators.warp import WGS84_R_M, warp
    from rasters_jl_spark.queries_extra import MERC_TGT
    from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster

    g = RASTER_GRID
    rast = synth_raster(spark, sf_dir, "a")
    vals = {(r["ix"], r["iy"]): r["value"] for r in rast.collect()}
    got = {(r["ix"], r["iy"]): r["value"] for r in warp(rast, g, MERC_TGT, "near").collect()}
    R = WGS84_R_M
    n_checked = 0
    for (jx, jy), v in got.items():
        X = MERC_TGT.x0 + jx * MERC_TGT.dx
        Y = MERC_TGT.y0 + jy * MERC_TGT.dy
        lon = math.degrees(X / R)
        lat = math.degrees(2.0 * math.atan(math.exp(Y / R)) - math.pi / 2.0)
        sx = int(np.floor((lon - (g.x0 - g.dx / 2.0)) / g.dx))
        sy = int(np.floor((lat - (g.y0 - g.dy / 2.0)) / g.dy))
        assert 0 <= sx < g.nx and 0 <= sy < g.ny  # near drops out-of-bounds
        assert v == vals[(sx, sy)], (jx, jy)
        # roundtrip: forward(lon, lat) returns (X, Y)
        assert abs(R * math.radians(lon) - X) < 1e-6
        assert abs(R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)) - Y) < 1e-6
        n_checked += 1
    assert n_checked == MERC_TGT.nx * MERC_TGT.ny  # whole target in source bounds


def test_focal_median_and_weighted_vs_numpy(spark, sf_dir):
    """focal median (exact interpolated) and inverse-distance^2 weighted
    mean agree with a NumPy re-computation over the 3x3 neighbourhood."""
    import numpy as np

    from rasters_jl_spark.operators.focal import focal_mean, focal_weighted
    from rasters_jl_spark.sources.raster_synth import synth_raster

    rast = synth_raster(spark, sf_dir, "a")
    vals = {(r["ix"], r["iy"]): r["value"] for r in rast.collect()}

    def neigh(ix, iy):
        out = []
        for ox in (-1, 0, 1):
            for oy in (-1, 0, 1):
                v = vals.get((ix + ox, iy + oy))
                if v is not None:
                    out.append((v, 1.0 / (1.0 + ox * ox + oy * oy)))
        return out

    got_med = {(r["ix"], r["iy"]): r["focal_val"]
               for r in focal_mean(rast, 1, "median").collect()}
    got_w = {(r["ix"], r["iy"]): r["focal_val"]
             for r in focal_weighted(rast, 1).collect()}
    for key in list(vals)[:200]:
        ns = neigh(*key)
        if not ns:
            assert got_med[key] is None and got_w[key] is None
            continue
        assert abs(got_med[key] - float(np.percentile([v for v, _ in ns], 50,
                                                      method="linear"))) < 1e-9
        want_w = sum(v * w for v, w in ns) / sum(w for _, w in ns)
        assert abs(got_w[key] - want_w) < 1e-9


def test_cellarea_northup_positive(spark):
    """cellarea on a negative-dy (north-up) grid returns the same positive
    band areas as its flipped twin."""
    from rasters_jl_spark.grid import GridSpec
    from rasters_jl_spark.operators.resample import cellarea

    up = GridSpec(x0=-177.5, y0=-87.5, dx=5.0, dy=5.0, nx=4, ny=36)
    down = GridSpec(x0=-177.5, y0=87.5, dx=5.0, dy=-5.0, nx=4, ny=36)
    a_up = {(r["ix"], r["iy"]): r["area_km2"] for r in cellarea(spark, up).collect()}
    a_dn = {(r["ix"], r["iy"]): r["area_km2"] for r in cellarea(spark, down).collect()}
    assert all(v > 0 for v in a_dn.values())
    for (ix, iy), v in a_up.items():
        assert abs(a_dn[(ix, 35 - iy)] - v) < 1e-6


def test_aggregate_reference_truncation_goldens(spark):
    """The reference's OWN aggregate goldens (test/aggregate.jl:106-131):
    the 3x7 matrix data1 at scale 3 aggregates to 1x2 — trailing partial
    blocks DROPPED (length // scale truncation) — with locus values
    Start=[1 4], Center=[8 11], End=[15 18], and disaggregate replicates
    each back to 3x6."""
    from rasters_jl_spark.operators.aggregate import aggregate, disaggregate

    # the reference matrix is [1..6 -1; 7..12 -1; 13..18 -1] (3 rows,
    # 7 cols): value(x, y) = 6x + y + 1 for y < 6, -1 in the partial column
    rows = [
        (x, y, float(6 * x + y + 1) if y < 6 else -1.0)
        for x in range(3)
        for y in range(7)
    ]
    r = spark.createDataFrame(rows, "ix int, iy int, value double")
    # reference indexing: aggregate over BOTH dims at scale 3 on (3, 7)
    # truncates to (1, 2); locus picks: start -> (0,0),(0,3) = 1, 4;
    # center -> (1,1),(1,4) = 8, 11; end -> (2,2),(2,5) = 15, 18
    want_by_locus = {
        "start": {(0, 0): 1.0, (0, 1): 4.0},
        "center": {(0, 0): 8.0, (0, 1): 11.0},
        "end": {(0, 0): 15.0, (0, 1): 18.0},
    }
    for method, want in want_by_locus.items():
        got = {
            (x["ix"], x["iy"]): x["value"]
            for x in aggregate(r, 3, method, shape=(3, 7)).collect()
        }
        assert got == want, method
    # disaggregate(start-aggregated) replicates each block 3x3 (3x6 total)
    agg_start = aggregate(r, 3, "start", shape=(3, 7))
    disagg = {(x["ix"], x["iy"]): x["value"] for x in disaggregate(agg_start, 3).collect()}
    assert disagg == {(x, y): (1.0 if y < 3 else 4.0) for x in range(3) for y in range(6)}
    # WITHOUT shape, the partial block survives (engine long-format default)
    got_all = {
        (x["ix"], x["iy"]): x["value"] for x in aggregate(r, 3, "start").collect()
    }
    assert got_all[(0, 2)] == -1.0 and got_all[(0, 0)] == 1.0


def test_warp_transform_hook_matches_analytic(spark, sf_dir):
    """The pyproj-shaped pandas-UDF hook produces the SAME result as the
    analytic codegen path when given the same projection math (NumPy
    mercator inverse): identical near cell mapping, bilinear values to
    1e-9 (libm vs JVM last-ulp only). This is the documented extension
    point for PROJ-database CRSs — proven, not just described."""
    import numpy as np

    from rasters_jl_spark.operators.warp import WGS84_R_M, warp
    from rasters_jl_spark.queries_extra import MERC_TGT
    from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster

    R = WGS84_R_M

    def merc_inverse(xt, yt):  # 3857 target -> 4326 source, pyproj shape
        return np.degrees(xt / R), np.degrees(2.0 * np.arctan(np.exp(yt / R)) - np.pi / 2.0)

    rast = synth_raster(spark, sf_dir, "a")
    for method, tol in (("near", 0.0), ("bilinear", 1e-9)):
        ana = {(r["ix"], r["iy"]): r["value"]
               for r in warp(rast, RASTER_GRID, MERC_TGT, method).collect()}
        hook = {(r["ix"], r["iy"]): r["value"]
                for r in warp(rast, RASTER_GRID, MERC_TGT, method,
                              inverse_transform=merc_inverse).collect()}
        assert set(ana) == set(hook), method
        for k, v in ana.items():
            if v is None or hook[k] is None:
                assert v == hook[k], (method, k)
            else:
                assert abs(v - hook[k]) <= tol, (method, k)

    with pytest.raises(ValueError, match="near|bilinear"):
        warp(rast, RASTER_GRID, MERC_TGT, "sum", inverse_transform=merc_inverse)


def test_warp_utm_roundtrip_and_snyder_anchor(spark):
    """UTM:<zone> spherical transverse Mercator: forward ∘ inverse is the
    identity across the zone (SQL text evaluated through Spark — the same
    text the oracle runs), and the formulas hit Snyder's worked example
    shape: on the central meridian x = FE exactly and y = R k0 lat."""
    import math

    from pyspark.sql import functions as F

    from rasters_jl_spark.operators.warp import (
        UTM_FE,
        UTM_K0,
        WGS84_R_M,
        crs_to_lonlat_sql,
        lonlat_to_crs_sql,
    )

    crs = "UTM:33"  # lon0 = 15°E
    pts = spark.createDataFrame(
        [(lon, lat) for lon in (12.3, 14.0, 15.0, 16.7, 17.9) for lat in (0.5, 8.0, 19.5, 45.0, 60.0)],
        "lon double, lat double",
    )
    xs, ys = lonlat_to_crs_sql(crs, "lon", "lat")
    lon2, lat2 = crs_to_lonlat_sql(crs, xs, ys)
    rows = pts.select(
        "lon", "lat",
        F.expr(xs).alias("x"), F.expr(ys).alias("y"),
        F.expr(lon2).alias("lon2"), F.expr(lat2).alias("lat2"),
    ).collect()
    for r in rows:
        assert abs(r["lon2"] - r["lon"]) < 1e-9, r
        assert abs(r["lat2"] - r["lat"]) < 1e-9, r
        if r["lon"] == 15.0:  # central meridian anchors
            assert abs(r["x"] - UTM_FE) < 1e-6
            assert abs(r["y"] - WGS84_R_M * UTM_K0 * math.radians(r["lat"])) < 1e-6
