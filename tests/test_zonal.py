"""Zonal goldens from `test/methods.jl:327-380`: the (1:26)*(1:31)' product
raster, sum == mask∘skipmissing identity, skipmissing=false semantics,
empty/out-of-bounds zones."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasters_jl_spark.functions.geometry import Polygon
from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.core import mask_geom
from rasters_jl_spark.operators.zonal import zonal_extent, zonal_raster

POLY_GRID = GridSpec(x0=-20.0, y0=0.0, dx=1.0, dy=1.0, nx=26, ny=31)
SQUARE = Polygon(1, ((-20.0, 30.0), (-20.0, 10.0), (0.0, 10.0), (0.0, 30.0)))
OUT_OF_BOUNDS = Polygon(9, ((-40.0, -40.0), (-40.0, -35.0), (-35.0, -35.0), (-35.0, -40.0)))


@pytest.fixture(scope="module")
def product_raster(spark):
    """a = (1:26) * (1:31)' — value = (ix+1)*(iy+1)."""
    xs = spark.range(26).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(31).select(F.col("id").cast("int").alias("iy"))
    return (
        xs.crossJoin(ys)
        .withColumn("value", ((F.col("ix") + 1) * (F.col("iy") + 1)).cast("double"))
        .cache()
    )


def test_zonal_sum_golden(product_raster):
    """zonal(sum, a; of=polygon) == sum(skipmissing(mask(a))) == 86100."""
    z = zonal_raster(product_raster, POLY_GRID, [SQUARE]).collect()[0]
    assert z["sum_val"] == 86100.0
    # identity against mask∘sum
    m = mask_geom(product_raster, POLY_GRID, [SQUARE], "center")
    assert m.agg(F.sum("value")).collect()[0][0] == z["sum_val"]


def test_zonal_extent_is_total(product_raster):
    """zonal over the raster's own extent == sum(a) (`test/methods.jl:340-343`)."""
    z = zonal_extent(product_raster, POLY_GRID, -30.0, 30.0, -5.0, 35.0).collect()[0]
    assert z["sum_val"] == sum(range(1, 27)) * sum(range(1, 32))


def test_zonal_skipmissing_false_is_missing(spark, product_raster):
    """With any missing in the crop box (incl. mask-created missings) the
    non-skipping reduce is missing (`test/methods.jl:358-365`)."""
    z = zonal_raster(product_raster, POLY_GRID, [SQUARE], skipmissing=False).collect()[0]
    # the 21×21 crop box contains 41 cells outside the 20×20 polygon
    assert z["sum_val"] is None


def test_zonal_out_of_bounds_polygon(product_raster):
    """Out-of-bounds geometry → missing result (`test/methods.jl:370-380`)."""
    rows = {
        r["geom_id"]: r
        for r in zonal_raster(product_raster, POLY_GRID, [SQUARE, OUT_OF_BOUNDS]).collect()
    }
    assert rows[1]["sum_val"] == 86100.0
    assert 9 not in rows or rows[9]["sum_val"] is None


def test_zonal_with_missing_data(spark):
    """Missing cells inside the zone are skipped (skipmissing=true)."""
    xs = spark.range(26).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(31).select(F.col("id").cast("int").alias("iy"))
    r = xs.crossJoin(ys).withColumn(
        "value",
        F.when(
            (F.col("ix") < 10) & (F.col("iy") >= 2) & (F.col("iy") <= 9), F.lit(None)
        ).otherwise(((F.col("ix") + 1) * (F.col("iy") + 1)).cast("double")),
    )
    z = zonal_raster(r, POLY_GRID, [SQUARE]).collect()[0]
    # missing band iy∈[2,9] is outside the polygon's iy∈[10,29] → unchanged
    assert z["sum_val"] == 86100.0
    z2 = zonal_raster(r, POLY_GRID, [SQUARE], skipmissing=False).collect()[0]
    assert z2["sum_val"] is None


def test_zonal_stack_layer_matches_zonal_raster(spark, sf_dir):
    """zonal_stack's layer-'a' slice equals zonal_raster on raster a —
    the per-layer stack form is the same reduction per geometry."""
    from pyspark.sql import functions as F

    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.zonal import zonal_raster, zonal_stack
    from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster

    a = synth_raster(spark, sf_dir, "a")
    stack = a.withColumn("layer", F.lit("a"))
    via_stack = {
        r["geom_id"]: (r["n_cells"], r["sum_val"], r["mean_val"])
        for r in zonal_stack(stack, RASTER_GRID, FX.RASTER_POLYS).collect()
    }
    via_raster = {
        r["geom_id"]: (r["n_cells"], r["sum_val"], r["mean_val"])
        for r in zonal_raster(a, RASTER_GRID, FX.RASTER_POLYS).collect()
    }
    assert via_stack == via_raster


def test_orientation_invariance_fwd_rev(spark, sf_dir):
    """Reversed-axis rasters (negative dx and/or dy — north-up GeoTIFF
    orientation) produce IDENTICAL operator output once mapped back to
    coordinate space: zonal, rasterize-shape extract, and boolmask all go
    through the signed-step block-cover join with no pre-normalization.
    Mirrors the reference's orientation-invariance tests
    (test/methods.jl:429-465, test/resample.jl:170-198)."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.grid import GridSpec
    from rasters_jl_spark.operators.extract import extract_polygons
    from rasters_jl_spark.operators.zonal import zonal_raster
    from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster

    g = RASTER_GRID
    base = synth_raster(spark, sf_dir, "a")
    want_zonal = {
        r["geom_id"]: (r["sum_val"], r["n_cells"])
        for r in zonal_raster(base, g, FX.RASTER_POLYS).collect()
    }
    # extract hits in COORDINATE space (orientation-independent frame)
    def coord_hits(raster, grid):
        return {
            (r["geom_id"], grid.x0 + r["ix"] * grid.dx, grid.y0 + r["iy"] * grid.dy, r["value"])
            for r in extract_polygons(raster, grid, FX.RASTER_POLYS).collect()
        }

    want_hits = coord_hits(base, g)
    for flip_x, flip_y in ((False, True), (True, False), (True, True)):
        fx = (F.lit(g.nx - 1) - F.col("ix")).cast("int") if flip_x else F.col("ix")
        fy = (F.lit(g.ny - 1) - F.col("iy")).cast("int") if flip_y else F.col("iy")
        flipped = base.select(fx.alias("ix"), fy.alias("iy"), "value")
        fg = GridSpec(
            x0=float(g.nx - 1) * g.dx + g.x0 if flip_x else g.x0,
            y0=float(g.ny - 1) * g.dy + g.y0 if flip_y else g.y0,
            dx=-g.dx if flip_x else g.dx,
            dy=-g.dy if flip_y else g.dy,
            nx=g.nx,
            ny=g.ny,
        )
        got_zonal = {
            r["geom_id"]: (r["sum_val"], r["n_cells"])
            for r in zonal_raster(flipped, fg, FX.RASTER_POLYS).collect()
        }
        assert got_zonal == want_zonal, (flip_x, flip_y)
        assert coord_hits(flipped, fg) == want_hits, (flip_x, flip_y)


def test_normalize_raster_roundtrip(spark, sf_dir):
    """normalize_raster maps an any-orientation raster onto its
    positive-step twin: same cell centers, same values."""
    from rasters_jl_spark.grid import GridSpec, normalize_raster
    from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster

    g = RASTER_GRID
    base = synth_raster(spark, sf_dir, "a")
    nu = base.select("ix", (F.lit(g.ny - 1) - F.col("iy")).cast("int").alias("iy"), "value")
    nug = GridSpec(g.x0, float(g.ny - 1) * g.dy + g.y0, g.dx, -g.dy, g.nx, g.ny)
    norm, ng = normalize_raster(nu, nug)
    assert ng.is_normalized and (ng.x0, ng.y0, ng.dx, ng.dy) == (g.x0, g.y0, g.dx, g.dy)
    assert sorted(map(tuple, norm.collect())) == sorted(map(tuple, base.collect()))
    # already-normalized input is returned untouched
    same, sg = normalize_raster(base, g)
    assert sg is g and same is base


def test_zonal_coverage_analytic_invariants(spark):
    """cov_cells == shoelace area / cell area exactly (analytic identity);
    constant raster → w_mean == the constant; plan is broadcast-only."""
    from pyspark.sql import functions as F

    from rasters_jl_spark.functions.geometry import Polygon
    from rasters_jl_spark.grid import GridSpec
    from rasters_jl_spark.operators.zonal import zonal_coverage

    g = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=20, ny=20)
    cells = spark.range(400).select(
        (F.col("id") % 20).cast("int").alias("ix"),
        (F.col("id") / 20).cast("int").alias("iy"),
        F.lit(7.5).alias("value"),
    )
    polys = [
        Polygon(1, ((2.5, 4.5), (10.5, 4.5), (10.5, 12.5), (2.5, 12.5))),
        Polygon(2, ((1.2, 1.1), (8.7, 2.3), (7.4, 9.9), (4.2, 6.1), (0.8, 8.5))),
    ]

    def shoelace(ring):
        s = 0.0
        r = list(ring) + [ring[0]]
        for (x1, y1), (x2, y2) in zip(r, r[1:]):
            s += x1 * y2 - x2 * y1
        return abs(s) / 2.0

    out = {r["geom_id"]: r for r in zonal_coverage(cells, g, polys).collect()}
    assert out[1]["cov_cells"] == pytest.approx(shoelace(polys[0].ring), abs=1e-6)
    assert out[2]["cov_cells"] == pytest.approx(shoelace(polys[1].ring), abs=1e-6)
    # constant raster: weighted mean is the constant, w_sum = c * area
    assert out[1]["w_mean"] == pytest.approx(7.5, abs=1e-5)
    assert out[2]["w_mean"] == pytest.approx(7.5, abs=1e-5)
    assert out[1]["w_sum"] == pytest.approx(7.5 * shoelace(polys[0].ring), abs=1e-4)

    plan = zonal_coverage(cells, g, polys)._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2  # block cover + edge table


# ---- classified cover join (operators/zonal.py::spatial_join_pages) ----

PAGE_SCHEMA = "doc_id long, lon double, lat double"


def test_empty_polygon_list_spatial_join(spark):
    from rasters_jl_spark.operators.zonal import spatial_join_pages

    pages = spark.createDataFrame([(1, 10.0, 20.0)], PAGE_SCHEMA)
    out = spatial_join_pages(pages, [])
    assert out.columns == ["geom_id", "doc_id", "lon", "lat"]
    assert out.collect() == []


def test_empty_polygon_list_zonal_pages(spark):
    from rasters_jl_spark.operators.zonal import zonal_pages

    pages = spark.createDataFrame([(1, 10.0, 20.0, 7)], PAGE_SCHEMA + ", n_chars int")
    out = zonal_pages(pages, [])
    assert out.columns == ["geom_id", "n_pages", "sum_val", "mean_val", "min_val", "max_val"]
    assert out.collect() == []


def _star(rng, cx, cy, r, n, snap):
    """Seeded non-convex star; vertices on the cover lattice where ``snap``."""
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    rad = r * rng.uniform(0.3, 1.0, n)
    pts = np.c_[cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
    if snap:
        on = rng.random(n) < 0.5
        pts[on] = np.round(pts[on] / snap) * snap
    return tuple(map(tuple, pts.tolist()))


def _random_layer(seed, step):
    from rasters_jl_spark import fixtures as FX

    rng = np.random.default_rng(seed)
    polys = list(FX.POLYS_GEO)  # its x=0 and y=10 edges lie on cover-cell edges
    gid = 100
    for _ in range(10):
        cx, cy = rng.uniform(-150, 150), rng.uniform(-70, 70)
        polys.append(Polygon(gid, _star(rng, cx, cy, rng.uniform(3, 30), 9, step)))
        gid += 1
    for _ in range(3):  # stars with a star-shaped hole
        cx, cy = rng.uniform(-140, 140), rng.uniform(-60, 60)
        ring = _star(rng, cx, cy, 25.0, 12, step)
        hole = _star(rng, cx, cy, 6.0, 7, step)
        polys.append(Polygon(gid, ring, (hole,)))
        gid += 1
    # reaching and crossing the globe border (cell_col clamps into border cells)
    polys += [
        Polygon(gid, ((-180.0, 70.0), (-150.0, 90.0), (-140.0, 60.0))),
        Polygon(gid + 1, ((170.0, -95.0), (200.0, -80.0), (165.0, -60.0), (175.0, -80.0))),
        Polygon(gid + 2, ((-185.0, -10.0), (-170.0, 0.0), (-185.0, 10.0))),
    ]
    # edges a hair outside the cells at lon 0 / lat 0, where cell_col rounds
    # points from outside the cell into it (-1e-19 + 180 == 180)
    polys += [
        Polygon(gid + 3, ((-1e-20, 22.5), (20.0, 22.5), (20.0, 45.0), (-1e-20, 45.0))),
        Polygon(gid + 4, ((30.0, -1e-20), (50.0, -1e-20), (50.0, -30.0), (30.0, -30.0))),
    ]
    return polys


def _probe_pages(spark, seed, step):
    """Cell corners and edge midpoints, random points, out-of-range lon/lat
    and points that round into the cell beyond their own edge."""
    rng = np.random.default_rng(seed)
    xs = np.arange(-180.0, 180.0 + step / 4, step / 2)
    ys = np.arange(-90.0, 90.0 + step / 4, step / 2)
    gx, gy = np.meshgrid(xs, ys)
    lon = np.r_[gx.ravel(), rng.uniform(-180, 180, 3000), rng.choice(xs, 1000)]
    lat = np.r_[gy.ravel(), rng.uniform(-90, 90, 3000), rng.uniform(-90, 90, 1000)]
    out = [(-190.0, 0.0), (190.0, 0.0), (0.0, -95.0), (0.0, 95.0), (-200.0, 100.0),
           (195.0, -92.0), (185.0, -85.0), (-182.0, 0.5), (172.0, -93.0),
           (-1e-19, 30.0), (-1e-19, 40.0), (40.0, -1e-19), (35.0, -1e-19)]
    lon = np.r_[lon, [o[0] for o in out]]
    lat = np.r_[lat, [o[1] for o in out]]
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(lon, lat))]
    return spark.createDataFrame(rows, PAGE_SCHEMA)


def test_classified_cover_join_is_exact(spark):
    """The classified join equals pages × polygons refined by full-edge
    pip_col, row for row: non-convex polygons, holes, vertices and edges on
    cover-cell edges, polygons reaching the globe border, points on cell
    corners/edges and out-of-range points clamped into border cells."""
    from rasters_jl_spark.functions.geometry import pip_col, polygons_df
    from rasters_jl_spark.grid import COVER_RES, WebGrid
    from rasters_jl_spark.operators.zonal import spatial_join_pages

    step = WebGrid(COVER_RES).step
    polys = _random_layer(3, step)
    pages = _probe_pages(spark, 3, step)
    full = (
        pages.crossJoin(polygons_df(spark, polys))
        .where(pip_col(F.col("lon"), F.col("lat"), F.col("edges")))
        .select("geom_id", *pages.columns)
    )
    want = sorted(map(tuple, full.collect()))
    got = sorted(map(tuple, spatial_join_pages(pages, polys).collect()))
    assert len(want) > 1000
    assert got == want


def _seg_meets_box(e, x0, x1, y0, y1) -> bool:
    """Liang–Barsky: closed segment ∩ closed box ≠ ∅ (test reference)."""
    ax, ay, bx, by = e
    t0, t1 = 0.0, 1.0
    for p, q in ((ax - bx, ax - x0), (bx - ax, x1 - ax), (ay - by, ay - y0), (by - ay, y1 - ay)):
        if p == 0:
            if q < 0:
                return False
        elif p < 0:
            t0 = max(t0, q / p)
        else:
            t1 = min(t1, q / p)
    return t0 <= t1


def _pip_ref(x, y, edges) -> bool:
    """pip_col's even-odd ray cast at one point (test reference)."""
    return sum(
        (y1 > y) != (y2 > y) and x < x1 + (x2 - x1) * (y - y1) / (y2 - y1)
        for x1, y1, x2, y2 in edges
    ) % 2 == 1


def test_cover_counters_star_layer(spark):
    """Star polygons away from the globe border: every bbox cover cell that
    meets a polygon edge is emitted as boundary, every other one as interior
    iff its centre is inside (never as exterior), interior rows carry no
    edges, and Σ edge structs < cover rows × edges per polygon."""
    from rasters_jl_spark.functions.geometry import polygon_cover_df
    from rasters_jl_spark.grid import COVER_RES, WebGrid

    g = WebGrid(COVER_RES)
    rng = np.random.default_rng(11)
    polys = [
        Polygon(1 + 4 * j + i, _star(rng, -135.0 + 90.0 * i, -45.0 + 90.0 * j, 20.0, 24, 0))
        for j in range(2)
        for i in range(4)
    ]
    rows = polygon_cover_df(spark, polys).collect()
    emitted = {(r["geom_id"], r["cover_cell"]): r for r in rows}
    n_edges = {p.geom_id: len(p.edges) for p in polys}
    n_exterior = 0
    for p in polys:
        xmin, xmax, ymin, ymax = p.bbox
        for iy in range(int((ymin + 90) // g.step), int((ymax + 90) // g.step) + 1):
            for ix in range(int((xmin + 180) // g.step), int((xmax + 180) // g.step) + 1):
                x0, x1, y0, y1 = g.cell_bounds(ix, iy)
                hit = any(_seg_meets_box(e, x0, x1, y0, y1) for e in p.edges)
                centre_in = _pip_ref((x0 + x1) / 2, (y0 + y1) / 2, p.edges)
                r = emitted.get((p.geom_id, iy * g.nx + ix))
                if hit:
                    assert r is not None and not r["inside"] and r["edges"]
                elif centre_in:
                    assert r is not None and r["inside"] and r["edges"] == []
                else:
                    assert r is None  # exterior: dropped
                    n_exterior += 1
    assert n_exterior > 0 and any(r["inside"] for r in rows)
    assert all(r["edges"] == [] for r in rows if r["inside"])
    n_structs = sum(len(r["edges"]) for r in rows)
    assert n_structs < sum(n_edges[r["geom_id"]] for r in rows)


def test_cover_counts_polys_geo(spark):
    """Pinned classified-cover counts of FX.POLYS_GEO at COVER_RES (its bbox
    cover is 273 cells; polygon 4 reaches the top border row)."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.functions.geometry import polygon_cover_df

    rows = polygon_cover_df(spark, FX.POLYS_GEO).collect()
    assert len(rows) == 272
    assert sum(r["inside"] for r in rows) == 164
    assert sum(len(r["edges"]) for r in rows) == 234
