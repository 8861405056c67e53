"""Rasterize goldens from `test/rasterize.jl`: point sum=5, last→4,
line burn=80, polygon center/touches/inside = 20²/21²/19²."""

import pytest
from pyspark.sql import functions as F

from rasters_jl_spark.functions.geometry import Polygon
from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.extras import extract_lines
from rasters_jl_spark.operators.rasterize import (
    rasterize_lines,
    rasterize_points,
    rasterize_polygons,
)

POLY_GRID = GridSpec(x0=-20.0, y0=0.0, dx=1.0, dy=1.0, nx=26, ny=31)
SQUARE = Polygon(1, ((-20.0, 30.0), (-20.0, 10.0), (0.0, 10.0), (0.0, 30.0)))
POINTVEC = [(-20.0, 30.0), (-20.0, 10.0), (0.0, 10.0), (0.0, 30.0), (-20.0, 30.0)]


@pytest.fixture(scope="module")
def universe(spark):
    xs = spark.range(POLY_GRID.nx).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(POLY_GRID.ny).select(F.col("id").cast("int").alias("iy"))
    return xs.crossJoin(ys).cache()


def _pts_df(spark):
    rows = [(i, x, y, 1.0) for i, (x, y) in enumerate(POINTVEC)]
    return spark.createDataFrame(rows, "seq int, x double, y double, fill double")


def test_points_sum_5(spark):
    """rasterize(sum, points; fill=1) total == 5 (`test/rasterize.jl:66`)."""
    out = rasterize_points(_pts_df(spark), POLY_GRID, "fill", "sum", seq_col="seq")
    assert out.agg(F.sum("value")).collect()[0][0] == 5.0


def test_points_last_sum_4(spark):
    """rasterize(last, points; fill=1) total == 4 — the duplicate first/last
    vertex collapses (`test/rasterize.jl:69-71`)."""
    out = rasterize_points(_pts_df(spark), POLY_GRID, "fill", "last", seq_col="seq")
    assert out.agg(F.sum("value")).collect()[0][0] == 4.0
    assert out.count() == 4


def test_points_first_last_require_seq(spark):
    """first/last without an explicit input order must raise — a synthesized
    monotonically_increasing_id can renumber on recompute, flipping which
    value wins (deterministic-identity rule, same class as asof_join)."""
    for reducer in ("first", "last"):
        with pytest.raises(ValueError, match="seq_col"):
            rasterize_points(_pts_df(spark), POLY_GRID, "fill", reducer)


def test_points_count_10(spark):
    """rasterize(count, [geom; geom]) == 10 (`test/rasterize.jl:74-76`)."""
    both = _pts_df(spark).unionByName(_pts_df(spark))
    out = rasterize_points(both, POLY_GRID, "fill", "count", seq_col="seq")
    assert out.agg(F.sum("value")).collect()[0][0] == 10.0


def test_line_burn_80(spark):
    """Square ring burned as lines touches 80 cells (`test/rasterize.jl:131-133`)."""
    segs = []
    for i in range(4):
        x1, y1 = POINTVEC[i]
        x2, y2 = POINTVEC[i + 1]
        segs.append((1, x1, y1, x2, y2, 1.0))
    out = rasterize_lines(
        spark, segs, POLY_GRID, reducer="sum"
    )
    assert out.agg(F.sum("value")).collect()[0][0] == 80.0
    assert not _python_nodes(out)


def test_extract_lines_walk_on_driver(spark):
    """extract_lines: the same driver-side walk, cells deduped per geometry
    (the ring's 4 corner cells are walked twice) and joined to the raster."""
    segs = [(1, *POINTVEC[i], *POINTVEC[i + 1]) for i in range(4)]
    raster = spark.createDataFrame(
        [(ix, iy, float(ix)) for ix in range(POLY_GRID.nx) for iy in range(POLY_GRID.ny)],
        "ix int, iy int, value double",
    )
    out = extract_lines(spark, segs, raster, POLY_GRID)
    assert out.count() == 80
    assert not _python_nodes(out)


def _python_nodes(df):
    """Python evaluation nodes of ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]


def test_diagonal_line_cells():
    """DDA walk: a diagonal crosses every row and column it spans."""
    from rasters_jl_spark.functions.geometry import line_cells

    cells = line_cells(0.0, 0.0, 5.0, 3.0, 0.0, 0.0, 1.0, 1.0, 10, 10)
    assert (0, 0) in cells and (5, 3) in cells
    xs = {c[0] for c in cells}
    ys = {c[1] for c in cells}
    assert xs == set(range(6)) and ys == set(range(4))


@pytest.mark.parametrize("boundary,n", [("center", 400), ("touches", 441), ("inside", 361)])
def test_polygon_boundary_counts(universe, boundary, n):
    """`test/rasterize.jl:152-162`: sum(last, fill=1) per boundary mode."""
    out = rasterize_polygons(universe, POLY_GRID, [SQUARE], {1: 1.0}, "last", boundary)
    assert out.agg(F.sum("value")).collect()[0][0] == float(n)


def test_polygon_last_overwrites(universe):
    """Two fills, last wins on overlap (`test/rasterize.jl:180-182`)."""
    p2 = Polygon(2, ((-10.0, 30.0), (-10.0, 10.0), (0.0, 10.0), (0.0, 30.0)))
    out = rasterize_polygons(universe, POLY_GRID, [SQUARE, p2], {1: 1.0, 2: 2.0}, "last", "center")
    by_val = {r["value"]: 1 for r in out.select("value").distinct().collect()}
    assert set(by_val) == {1.0, 2.0}
    # overlap region (10 cols × 20 rows) takes fill 2
    assert out.where(F.col("value") == 2.0).count() == 200
    assert out.where(F.col("value") == 1.0).count() == 200


def test_boolmask_many_polygons_join_path(spark):
    """600 polygons through the per-block cover join; result checked against
    the diamond closed form |x-cx|+|y-cy| < r, which equals even-odd PIP here
    because no cell center lies on an edge (fixture construction)."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.operators.core import boolmask
    from rasters_jl_spark.operators.extras import create_raster

    polys = FX.many_polys()[:600]
    g = FX.MANY_GRID
    universe = create_raster(spark, g, fill=1.0)
    got = {(r["ix"], r["iy"]) for r in boolmask(universe, g, polys, "center").collect() if r["mask"]}

    want = set()
    r = 2.2
    for p in polys:
        xs = [v[0] for v in p.ring]
        ys = [v[1] for v in p.ring]
        cx, cy = sum(xs) / 4.0, sum(ys) / 4.0
        for ix in range(g.nx):
            for iy in range(g.ny):
                x, y = g.x0 + ix * g.dx, g.y0 + iy * g.dy
                if abs(x - cx) + abs(y - cy) < r:
                    want.add((ix, iy))
    assert got == want


def test_rasterize_many_single_scan(spark):
    """The 1,024-polygon burn is ONE universe scan + one shuffle: the
    physical plan must contain exactly one Exchange and no Union."""
    from rasters_jl_spark.queries_extra import q_rasterize_many

    df = q_rasterize_many(spark, None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    n_exchange = plan.count("Exchange")
    # hashpartitioning exchange for the final groupBy only (broadcast
    # exchanges for the geometry side are fine and expected)
    import re
    shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert shuffles <= 2, plan[:2000]
    assert df.count() > 0
