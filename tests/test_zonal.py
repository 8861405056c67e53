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
    assert plan.count("BroadcastHashJoin") == 1  # the classified block cover


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


def test_zonal_pages_empty_zone(spark):
    """A polygon holding no page still gets its row from the one aggregate:
    count 0 and NULL stats, or ``emptyval`` (`src/methods/zonal.jl:133-152`)."""
    from rasters_jl_spark.operators.zonal import zonal_pages

    pages = spark.createDataFrame(
        [(1, 10.0, 20.0, 7), (2, 10.5, 20.5, 9)], PAGE_SCHEMA + ", n_chars int"
    )
    full = Polygon(1, ((9.0, 19.0), (12.0, 19.0), (12.0, 22.0), (9.0, 22.0)))
    empty = Polygon(2, ((-50.0, -40.0), (-45.0, -40.0), (-45.0, -35.0), (-50.0, -35.0)))

    def rows(**kw):
        return {r["geom_id"]: tuple(r)[1:] for r in zonal_pages(pages, [full, empty], **kw).collect()}

    assert rows() == {1: (2, 16, 8.0, 7, 9), 2: (0, None, None, None, None)}
    assert rows(emptyval=-1) == {1: (2, 16, 8.0, 7, 9), 2: (0, -1, -1.0, -1, -1)}


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
        .where(pip_col("lon", "lat", "edges"))
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
    """The even-odd ray cast at one point (test reference), in the
    arithmetic of its arguments: floats, or Fractions for an exact one."""
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


# ---- degenerate input: no polygons, short rings ----

def _no_poly_cases():
    from rasters_jl_spark.operators.core import boolmask, crop_to_geoms
    from rasters_jl_spark.operators.extract import extract_polygons
    from rasters_jl_spark.operators.extras import missingmask
    from rasters_jl_spark.operators.rasterize import rasterize_polygons
    from rasters_jl_spark.operators.resample import coverage_polygons
    from rasters_jl_spark.operators.zonal import zonal_coverage, zonal_stack

    g = POLY_GRID
    every_row = [  # (name, call, column, value of that column on every row)
        ("mask_geom", lambda r: mask_geom(r, g, []), "value", None),
        ("boolmask", lambda r: boolmask(r, g, []), "mask", False),
        ("missingmask", lambda r: missingmask(r, g, []), "mask", None),
        ("coverage_polygons", lambda r: coverage_polygons(r, g, []), "coverage", 0.0),
    ]
    empty = [  # (name, call, columns of the empty frame)
        ("crop_to_geoms", lambda r: crop_to_geoms(r, g, []), ["ix", "iy", "value"]),
        ("zonal_raster", lambda r: zonal_raster(r, g, []),
         ["geom_id", "sum_val", "mean_val", "n_cells"]),
        ("zonal_stack", lambda r: zonal_stack(r.withColumn("layer", F.lit("a")), g, []),
         ["geom_id", "layer", "n_cells", "sum_val", "mean_val", "min_val", "max_val"]),
        ("zonal_coverage", lambda r: zonal_coverage(r, g, []),
         ["geom_id", "cov_cells", "w_sum", "w_mean"]),
        ("extract_polygons", lambda r: extract_polygons(r, g, []),
         ["geom_id", "ix", "iy", "value"]),
        ("rasterize_polygons", lambda r: rasterize_polygons(r, g, [], {}),
         ["ix", "iy", "value"]),
    ]
    return [pytest.param(c, col, v, None, id=n) for n, c, col, v in every_row] + [
        pytest.param(c, None, None, cols, id=n) for n, c, cols in empty
    ]


@pytest.mark.parametrize("call,col,value,empty_cols", _no_poly_cases())
def test_raster_operators_without_polygons(product_raster, call, col, value, empty_cols):
    """polys=[]: the masks keep every raster row with a NULL value or a
    false/NULL mask; every other operator returns an empty frame with its
    usual columns."""
    out = call(product_raster)
    if empty_cols is not None:
        assert out.columns == empty_cols
        assert out.collect() == []
    else:
        rows = out.collect()
        assert len(rows) == 26 * 31
        assert all(r[col] == value for r in rows)


@pytest.mark.parametrize(
    "ring,holes",
    [
        ((), ()),
        (((1.0, 2.0),), ()),
        (((0.0, 0.0), (4.0, 0.0), (0.0, 4.0)), (((1.0, 1.0),),)),
        (((0.0, 0.0), (4.0, 0.0), (0.0, 4.0)), ((),)),
    ],
    ids=["empty_ring", "one_point_ring", "one_point_hole", "empty_hole"],
)
def test_polygon_rejects_rings_without_edges(ring, holes):
    """A ring of < 2 points has no edge, so the edge tests would never see
    its vertex: Polygon refuses it. Two points make a (degenerate) edge."""
    with pytest.raises(ValueError, match="2 points"):
        Polygon(1, ring, holes)
    assert Polygon(1, ((1.0, 2.0), (3.0, 2.0))).edges == [(1.0, 2.0, 3.0, 2.0), (3.0, 2.0, 1.0, 2.0)]


# ---- classified block cover (operators/zonal.py::raster_geom_candidates) ----

_BLOCK_BASE = GridSpec(x0=0.05, y0=-9.95, dx=0.1, dy=0.1, nx=160, ny=128)


def _block_grid(kind):
    g = _BLOCK_BASE
    if kind == "flipped":
        return GridSpec(g.x0 + (g.nx - 1) * g.dx, g.y0 + (g.ny - 1) * g.dy, -g.dx, -g.dy, g.nx, g.ny)
    if kind == "projected":  # 1e7 m magnitudes, where one ulp is ~1e-9
        return GridSpec(9_400_015.3, 4_100_014.9, 30.1, 29.7, g.nx, g.ny, "EPSG:3857")
    return g


def _block_layer(grid, seed):
    """Seeded non-convex stars, three with a star-shaped hole, spanning many
    16-cell blocks and reaching negative indices, with half their vertices
    on cell corners as x_sql/y_sql compute them; plus triangles with one
    vertex on a block corner (exactly or one ulp off) that reach into one
    quadrant, so the blocks of the other three meet them at most there."""
    rng = np.random.default_rng(seed)
    step = np.array([grid.dx, grid.dy])
    h = np.abs(step) / 2.0

    def corner(u, v, side):
        """Corner of cell (u, v) on ``side`` (±1 per axis, in coordinates)."""
        c = np.array([grid.x0 + float(u) * grid.dx, grid.y0 + float(v) * grid.dy])
        return c + np.asarray(side) * h

    def star(cu, cv, r, n):
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        rad = r * rng.uniform(0.55, 1.0, n)
        pts = []
        for u, v in zip(cu + rad * np.cos(ang), cv + rad * np.sin(ang)):
            if rng.random() < 0.5:
                pts.append(corner(round(u), round(v), rng.choice([-1.0, 1.0], 2)))
            else:
                pts.append(np.array([grid.x0 + u * grid.dx, grid.y0 + v * grid.dy]))
        return tuple(tuple(p.tolist()) for p in pts)

    polys = [Polygon(1 + k, star(*rng.uniform(-10, 150, 2), rng.uniform(20, 60), 11)) for k in range(8)]
    for k in range(3):
        cu, cv = rng.uniform(20, 120, 2)
        polys.append(Polygon(9 + k, star(cu, cv, 50.0, 14), (star(cu, cv, 14.0, 7),)))
    for k in range(12):
        b = 16 * np.array([rng.integers(1, 10), rng.integers(1, 8)])
        mine = rng.integers(0, 2, 2)  # the corner of cell b - 1 or of cell b
        c = corner(*(b - 1 + mine), np.sign(step) * (1 - 2 * mine))
        c = np.nextafter(c, c + rng.choice([-1.0, 0.0, 1.0], 2) * np.abs(c + 1.0))
        q = rng.choice([-1.0, 1.0], 2) * h * 2  # the quadrant it reaches into
        pts = (c, c + q * (9.3, 3.1), c + q * (4.2, 11.7))
        polys.append(Polygon(12 + k, tuple(tuple(p.tolist()) for p in pts)))
    return polys


def _block_raster(spark, kind):
    g = _block_grid(kind)
    r = spark.range(g.nx * g.ny).select(
        (F.col("id") % g.nx).cast("int").alias("ix"),
        (F.col("id") / g.nx).cast("int").alias("iy"),
        ((F.col("id") * 7) % 11).cast("double").alias("value"),
    )
    if kind == "extended":
        from rasters_jl_spark.operators.core import extend

        r = extend(r, g, -40, g.nx - 1, -40, g.ny - 1)
    return r, g


def _full_edge_pairs(raster, grid, polys, boundary):
    """(cell, geom) pairs under in_bbox & boundary_sql over ALL edges."""
    from rasters_jl_spark.functions.geometry import boundary_sql, polygons_df

    cx, cy = F.expr(grid.x_sql("ix")), F.expr(grid.y_sql("iy"))
    adx, ady = abs(grid.dx), abs(grid.dy)
    bpx, bpy = (adx, ady) if boundary == "touches" else (0.0, 0.0)
    in_bbox = (
        (cx >= F.col("xmin") - bpx)
        & (cx <= F.col("xmax") + bpx)
        & (cy >= F.col("ymin") - bpy)
        & (cy <= F.col("ymax") + bpy)
    )
    pred = boundary_sql(boundary, grid.x_sql("ix"), grid.y_sql("iy"), adx / 2.0, ady / 2.0, "edges")
    hit = in_bbox & F.expr(pred)
    return raster.crossJoin(polygons_df(raster.sparkSession, polys)).where(hit)


@pytest.mark.parametrize("kind", ["positive", "flipped", "extended", "projected"])
def test_classified_block_cover_is_exact(spark, kind):
    """The one-broadcast block-cover join equals the full-edge predicates
    row for row in every boundary mode on signed, negative-index and
    1e7-magnitude grids, and zonal_coverage equals the full-edge
    clipped-area fold; all three block classes occur."""
    from rasters_jl_spark.functions.geometry import clip_area_edge_sql, raster_cover_df
    from rasters_jl_spark.operators.zonal import raster_geom_candidates, zonal_coverage

    raster, g = _block_raster(spark, kind)
    polys = _block_layer(g, 5)
    cover = [s for r in raster_cover_df(spark, polys, g, "touches").collect() for s in r.geoms]
    assert sum(r["inside"] for r in cover) > 20  # interior
    assert sum(not r["inside"] and not r["edges"] for r in cover) > 20  # exterior
    assert sum(bool(r["edges"]) for r in cover) > 20  # boundary
    for boundary in ("center", "touches", "inside"):
        cand = raster_geom_candidates(raster, g, polys, boundary)
        got = {(r.ix, r.iy, r.geom_id) for r in cand.where("_inside").collect()}
        want = {
            (r.ix, r.iy, r.geom_id)
            for r in _full_edge_pairs(raster, g, polys, boundary).select("ix", "iy", "geom_id").collect()
        }
        assert len(want) > 1000
        assert got == want, boundary
    if kind == "projected":
        # at 1e7 m the full-edge fold is no reference: it loses up to ~1e-5
        # of an interior cell to cancellation in its squared coordinates
        return

    hdx, hdy = abs(g.dx) / 2.0, abs(g.dy) / 2.0
    cx, cy = g.x_sql("ix"), g.y_sql("iy")
    window = (f"({cx} - {hdx!r})", f"({cx} + {hdx!r})", f"({cy} - {hdy!r})", f"({cy} + {hdy!r})")
    edge = clip_area_edge_sql(("e.x1", "e.y1", "e.x2", "e.y2"), *window)
    signed = F.expr(f"aggregate(edges, CAST(0 AS DOUBLE), (acc, e) -> acc + {edge})")
    frac = F.abs(signed) / F.lit(4 * hdx * hdy)
    fi, pi = F.col("fi") / F.lit(1e9), F.col("pi") / F.lit(1e6)
    ref = (
        _full_edge_pairs(raster, g, polys, "touches")
        .groupBy("geom_id")
        .agg(
            F.sum(F.round(frac * F.lit(1e9)).cast("long")).alias("fi"),
            F.sum(F.round(F.col("value") * frac * F.lit(1e6)).cast("long")).alias("pi"),
        )
        .where("fi > 0")
        .select("geom_id", F.round(fi, 6), F.round(pi, 6), F.round(pi / fi, 6))
    )
    want = sorted(map(tuple, ref.collect()))
    got = sorted(map(tuple, zonal_coverage(raster, g, polys).collect()))
    assert len(want) > 10
    assert got == want


def test_oracle_polygon_literals_are_exact_doubles():
    """The oracles' edges/polys relations are DOUBLE, value for value bit
    for bit, as the engine's polygons_df is: a repr literal would be
    DECIMAL (edge arithmetic in decimal), and DuckDB rounds a 17-digit
    decimal cast to DOUBLE an ulp off for some values."""
    import duckdb

    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.functions.geometry import edges_values_sql, polys_values_sql

    rng = np.random.default_rng(24)
    xy = rng.uniform(-1e3, 1e3, (1000, 2)) * 10.0 ** rng.integers(-9, 7, (1000, 1))
    polys = [*FX.RASTER_POLYS, Polygon(7, tuple(map(tuple, xy.tolist())))]
    con = duckdb.connect()
    for sql, want in (
        (edges_values_sql(polys), [(p.geom_id, *e) for p in polys for e in p.edges]),
        (polys_values_sql(polys), [(p.geom_id, *p.bbox) for p in polys]),
    ):
        rel = con.sql(sql)
        assert [str(t) for t in rel.types[1:]] == ["DOUBLE"] * 4
        got = rel.fetchall()
        assert [tuple(map(float.hex, r[1:])) for r in got] == [
            tuple(float.hex(float(v)) for v in r[1:]) for r in want
        ]
        assert [r[0] for r in got] == [r[0] for r in want]

# ---- the shared predicate texts against exact arithmetic --------------------

# Cell corners at multiples of dx and dy and every vertex on the 1/128
# lattice: each coordinate, side() product and crossing input is exact in
# float64, and a point off an edge's line is ~1e-5 from it, far beyond the
# 1e-9 shrink of boundary=:inside, so exact rational arithmetic is the
# reference with nothing to forgive.
_EXACT_GRID = GridSpec(x0=5 / 64, y0=3 / 64, dx=5 / 32, dy=3 / 32, nx=24, ny=24)


def _exact_layer(g, seed):
    """Seeded polygons with vertices on cell corners and cell edges: a
    rectangle along cell edges with a rectangular hole, two diamonds (one
    per winding) whose edges run through cell corners, so cells outside
    meet them at one corner only, and non-convex stars, one holed."""
    rng = np.random.default_rng(seed)

    def corner(k, m):
        return (k * g.dx, m * g.dy)

    def snap(u, v):  # cell units -> a corner, a point on a cell edge, or any lattice point
        kind = rng.integers(0, 3)
        x, y = (round(u) if kind < 2 else u) * g.dx, (round(v) if kind == 0 else v) * g.dy
        return (round(x * 128) / 128, round(y * 128) / 128)

    def star(cu, cv, r, n):
        ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
        rad = r * rng.uniform(0.4, 1.0, n)
        return tuple(snap(cu + a * np.cos(t), cv + a * np.sin(t)) for t, a in zip(ang, rad))

    rect = lambda k0, m0, k1, m1: (corner(k0, m0), corner(k1, m0), corner(k1, m1), corner(k0, m1))
    diamond = lambda k, m, h: (corner(k + h, m), corner(k, m + h), corner(k - h, m), corner(k, m - h))
    polys = [
        Polygon(1, rect(2, 2, 10, 9), (rect(4, 4, 7, 6),)),
        Polygon(2, diamond(16, 6, 3)),
        Polygon(3, diamond(6, 16, 4)[::-1]),
    ]
    for k in range(5):
        polys.append(Polygon(4 + k, star(*rng.uniform(5, 19, 2), rng.uniform(2.5, 5.0), 11)))
    cu, cv = rng.uniform(8, 16, 2)
    polys.append(Polygon(9, star(cu, cv, 6.0, 13), (star(cu, cv, 2.0, 7),)))
    return polys


def _sat_meets(e, x0, x1, y0, y1, closed):
    """Closed segment ``e`` meets the closed (or open) box: separating-axis
    theorem in exact arithmetic over the box axes and the segment normal.
    For the open box a separating axis may touch it."""
    ax, ay, bx, by = e
    apart = (lambda a, b: a < b) if closed else (lambda a, b: a <= b)
    if (
        apart(max(ax, bx), x0) or apart(x1, min(ax, bx))
        or apart(max(ay, by), y0) or apart(y1, min(ay, by))
    ):
        return False
    if (ax, ay) == (bx, by):
        return True
    side = [(bx - ax) * (cy - ay) - (by - ay) * (cx - ax) for cx in (x0, x1) for cy in (y0, y1)]
    return not (all(apart(0, s) for s in side) or all(apart(s, 0) for s in side))


@pytest.mark.parametrize("boundary", ["center", "touches", "inside"])
def test_boundary_sql_matches_exact_reference(spark, boundary):
    """boundary_sql, the one text Spark runs and the oracles share, equals
    an exact Fraction reference per (cell, polygon): center is the even-odd
    test at the centre; touches adds any edge meeting the closed cell;
    inside is the centre inside and no edge meeting the open cell. Cells
    that meet a polygon only on their border occur in both ways (outside
    it, touching at a corner or side; inside it, sharing a side)."""
    from fractions import Fraction

    from rasters_jl_spark.functions.geometry import boundary_sql, polygons_df

    g = _EXACT_GRID
    polys = _exact_layer(g, 5)
    hdx, hdy = g.dx / 2.0, g.dy / 2.0
    pred = boundary_sql(boundary, g.x_sql("ix"), g.y_sql("iy"), hdx, hdy, "edges")
    cells = spark.range(g.nx * g.ny).select(
        (F.col("id") % g.nx).cast("int").alias("ix"), (F.col("id") / g.nx).cast("int").alias("iy")
    )
    hits = cells.crossJoin(polygons_df(spark, polys)).where(F.expr(pred))
    got = {tuple(r) for r in hits.select("ix", "iy", "geom_id").collect()}

    want, contact = set(), {"outside": 0, "inside": 0}
    for p in polys:
        edges = [tuple(map(Fraction, e)) for e in p.edges]
        for ix in range(g.nx):
            for iy in range(g.ny):
                cx, cy = Fraction(g.x0) + ix * Fraction(g.dx), Fraction(g.y0) + iy * Fraction(g.dy)
                box = (cx - Fraction(hdx), cx + Fraction(hdx), cy - Fraction(hdy), cy + Fraction(hdy))
                centre_in = _pip_ref(cx, cy, edges)
                closed = any(_sat_meets(e, *box, closed=True) for e in edges)
                opened = any(_sat_meets(e, *box, closed=False) for e in edges)
                if closed and not opened:
                    contact["inside" if centre_in else "outside"] += 1
                hit = {
                    "center": centre_in,
                    "touches": centre_in or closed,
                    "inside": centre_in and not opened,
                }[boundary]
                if hit:
                    want.add((ix, iy, p.geom_id))
    assert contact["outside"] > 20 and contact["inside"] > 20, contact
    assert 100 < len(want) < g.nx * g.ny * len(polys) // 2
    assert got == want



def _clip_area_fold_np(grid, polys, ix, iy):
    """NumPy float64 twin of `coverage_clipped`, in its operation order:
    per ring, the running sum of each edge's clamped integral over the cell
    window, then the sum of |ring| over the rings, divided by the cell
    area (the algebra is in `functions/geometry.py`, before
    ``clip_area_edge_sql``)."""
    cx, cy = grid.x0 + ix.astype(float) * grid.dx, grid.y0 + iy.astype(float) * grid.dy
    x0, x1 = cx - grid.dx / 2.0, cx + grid.dx / 2.0
    y0, y1 = cy - grid.dy / 2.0, cy + grid.dy / 2.0

    def h(u):
        cu = np.maximum(y0, np.minimum(y1, u))
        return cu * cu / 2.0 + y1 * np.maximum(0.0, u - y1) + y0 * np.minimum(0.0, u - y0)

    total = np.zeros(len(ix))
    with np.errstate(divide="ignore", invalid="ignore"):
        for p in polys:
            signed = np.zeros(len(ix))
            for ex1, ey1, ex2, ey2 in np.asarray(p.edges, dtype=np.float64):
                a = np.maximum(x0, min(ex1, ex2))
                b = np.minimum(x1, max(ex1, ex2))
                m = (ey2 - ey1) / (ex2 - ex1)
                c = ey1 - m * ex1
                flat = np.maximum(y0, np.minimum(y1, c)) * (b - a)
                integ = flat if m == 0.0 else (h(m * b + c) - h(m * a + c)) / m
                term = np.where((ex1 == ex2) | (b <= a), 0.0, (-1.0 if ex2 > ex1 else 1.0) * integ)
                signed = signed + term
            total = total + np.abs(signed)
    return total / (grid.dx * grid.dy)


def test_coverage_clipped_matches_numpy_fold_bit_for_bit(spark):
    """`coverage_clipped` on the 1e7-magnitude grid equals a NumPy float64
    fold of the same operations bit for bit: its edge literals are DOUBLE,
    so the edge-only slope and intercept fold in float64. As bare decimal
    literals they folded in exact decimal arithmetic and moved every
    boundary cell."""
    from rasters_jl_spark.operators.resample import coverage_clipped

    raster, g = _block_raster(spark, "projected")
    polys = _block_layer(g, 5)[:4]
    got = coverage_clipped(raster.select("ix", "iy"), g, polys).collect()
    ix = np.array([r.ix for r in got])
    iy = np.array([r.iy for r in got])
    cov = np.array([r.coverage for r in got])
    want = _clip_area_fold_np(g, polys, ix, iy)
    assert ((want > 0) & (want < 1)).sum() > 500  # boundary cells
    assert cov.tobytes() == want.tobytes(), np.flatnonzero(cov != want)[:10]


def test_raster_cover_chunks_and_bands_are_invisible(monkeypatch):
    """Classifying a block row over its y-band's edges, a few (block, edge)
    pairs at a time, gives the rows of one call over every block and edge."""
    import rasters_jl_spark.functions.geometry as G

    g = _block_grid("flipped")
    polys = _block_layer(g, 5)
    want = G._raster_cover_rows(polys, g, "touches")
    monkeypatch.setattr(G, "_CLASSIFY_PAIRS", 5)
    assert G._raster_cover_rows(polys, g, "touches") == want
    for p in polys:  # the same classes from one unbanded, unchunked call
        rows = [r for r in want if r[2] == p.geom_id]
        bx, by = np.array([r[0] for r in rows]), np.array([r[1] for r in rows])
        ex = g.x0 + (np.stack([bx, bx + 1]) * G.GEOM_BLOCK - 0.5) * g.dx
        ey = g.y0 + (np.stack([by, by + 1]) * G.GEOM_BLOCK - 0.5) * g.dy
        pad = G._CELL_PAD * max(np.abs(ex).max(), np.abs(ey).max(), *map(abs, p.bbox), 1.0)
        rx0, rx1, ry0, ry1 = ex.min(0) - pad, ex.max(0) + pad, ey.min(0) - pad, ey.max(0) + pad
        touches, _, centre_in = G._classify(rx0, rx1, ry0, ry1, (rx0 + rx1) / 2, (ry0 + ry1) / 2, p.edges)
        assert [bool(r[8]) for r in rows] == touches.tolist()
        assert [r[7] for r in rows] == (centre_in & ~touches).tolist()


def test_raster_cover_driver_memory_is_bounded():
    """A 4,000-edge outline over 80,080 blocks: the driver classifies it in
    a few MB beyond the rows it returns (all blocks × all edges at once
    would be ~10 GB of temporaries)."""
    import tracemalloc

    from rasters_jl_spark.functions.geometry import _raster_cover_rows

    th = np.linspace(0, 2 * np.pi, 4000, endpoint=False)
    r = 18 * (1 + 0.25 * np.sin(7 * th) + 0.05 * np.sin(97 * th))
    poly = Polygon(1, tuple(zip((20 + r * np.cos(th)).tolist(), (20 + r * np.sin(th)).tolist())))
    g = GridSpec(0.005, 0.005, 0.01, 0.01, 4000, 4000)
    tracemalloc.start()
    try:
        rows = _raster_cover_rows([poly], g, "touches")
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert len(rows) == 80_080
    boundary = [r for r in rows if r[8]]
    assert 2000 < len(boundary) < 5000
    assert sum(len(r[8]) for r in boundary) < 40 * len(boundary)
    assert peak < 24 * 2**20


@pytest.mark.parametrize("n_polys", [2, 600])
def test_masks_are_map_only(spark, n_polys):
    """The masks probe one broadcast per-block cover: no shuffle, no
    distinct, no join back to the raster, at any polygon count."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.core import boolmask
    from rasters_jl_spark.operators.extras import create_raster, missingmask

    g = FX.MANY_GRID
    universe = create_raster(spark, g, fill=1.0)
    polys = FX.many_polys()[:n_polys]
    for df in (
        mask_geom(universe, g, polys, "touches"),
        boolmask(universe, g, polys, "inside", invert=True),
        missingmask(universe, g, polys),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 1
        assert "hashpartitioning" not in plan and "SortMergeJoin" not in plan
        assert df.count() == g.nx * g.ny
