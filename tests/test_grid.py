"""Grid math: cell assignment, hierarchy, rings, reversed-order lookups."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasters_jl_spark.grid import GridSpec, WebGrid


def test_webgrid_cell_assignment(spark):
    g = WebGrid(3)  # 16 x 8 cells of 22.5 deg
    df = spark.createDataFrame(
        [(-180.0, -90.0), (0.0, 0.0), (179.9, 89.9), (-0.1, -0.1)], "lon double, lat double"
    )
    out = df.select(
        g.ix_col(F.col("lon")).alias("ix"),
        g.iy_col(F.col("lat")).alias("iy"),
        g.cell_col(F.col("lon"), F.col("lat")).alias("cell"),
    ).collect()
    assert (out[0]["ix"], out[0]["iy"]) == (0, 0)
    assert (out[1]["ix"], out[1]["iy"]) == (8, 4)
    assert (out[2]["ix"], out[2]["iy"]) == (15, 7)
    assert (out[3]["ix"], out[3]["iy"]) == (7, 3)
    assert out[1]["cell"] == 4 * 16 + 8


def test_webgrid_parent_consistency(spark):
    fine, coarse = WebGrid(6), WebGrid(3)
    df = spark.createDataFrame([(float(x), float(y)) for x in range(-175, 180, 35) for y in range(-85, 90, 35)], "lon double, lat double")
    out = df.select(
        fine.parent_cell_col(fine.cell_col(F.col("lon"), F.col("lat")), 3).alias("parent"),
        coarse.cell_col(F.col("lon"), F.col("lat")).alias("direct"),
    )
    assert out.where(F.col("parent") != F.col("direct")).count() == 0


def test_ring_cells(spark):
    g = WebGrid(3)
    df = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
    cells = df.select(
        F.size(g.ring_cells_col(g.cell_col(F.col("lon"), F.col("lat")), F.lit(1))).alias("n")
    ).collect()[0]["n"]
    assert cells == 9
    # corner cell: ring clipped at the grid boundary (planar, no wrap)
    df2 = spark.createDataFrame([(-179.9, -89.9)], "lon double, lat double")
    n2 = df2.select(
        F.size(g.ring_cells_col(g.cell_col(F.col("lon"), F.col("lat")), F.lit(1))).alias("n")
    ).collect()[0]["n"]
    assert n2 == 4


def test_gridspec_point_ownership(spark):
    g = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=4, ny=4)
    df = spark.createDataFrame(
        [(0.0, 0.0), (0.49, 0.0), (0.5, 0.0), (-0.5, 0.0), (-0.51, 0.0)], "x double, y double"
    )
    out = [r["ix"] for r in df.select(F.expr(g.ix_of_x_sql("x")).alias("ix")).collect()]
    # half-open [center-0.5, center+0.5)
    assert out == [0, 0, 1, 0, -1]


def test_gridspec_reverse_ordered(spark):
    """The reference supports reverse-ordered lookups (X(10.0:-1.0:9.0),
    `test/extract.jl:7-13`); negative dx handles them natively."""
    g = GridSpec(x0=10.0, y0=0.1, dx=-1.0, dy=0.1, nx=2, ny=2)
    df = spark.createDataFrame([(10.0, 0.1), (9.0, 0.2), (9.2, 0.13)], "x double, y double")
    out = df.select(
        F.expr(g.ix_of_x_sql("x")).alias("ix"), F.expr(g.iy_of_y_sql("y")).alias("iy")
    ).collect()
    assert (out[0]["ix"], out[0]["iy"]) == (0, 0)
    assert (out[1]["ix"], out[1]["iy"]) == (1, 1)
    assert (out[2]["ix"], out[2]["iy"]) == (1, 0)


@pytest.mark.parametrize(
    "g",
    [
        GridSpec(x0=-179.87, y0=-61.3, dx=0.3, dy=0.45, nx=37, ny=23),
        GridSpec(x0=9_400_015.3, y0=4_100_014.9, dx=30.1, dy=-29.7, nx=37, ny=23),
    ],
)
def test_gridspec_sql_matches_numpy(spark, g):
    """The one text of the grid math, run by Spark (and verbatim by the
    DuckDB oracle), against NumPy float64 written independently: centres
    bit for bit, owning cells of points on and between cell edges, and the
    bounds test two cells past each side."""
    ix = np.arange(-2, g.nx + 2)
    iy = np.arange(-2, g.ny + 2)
    cells = spark.createDataFrame(
        [(int(i), int(j)) for i in ix for j in iy], "ix int, iy int"
    ).select(
        "ix",
        "iy",
        F.expr(g.x_sql("ix")).alias("x"),
        F.expr(g.y_sql("iy")).alias("y"),
        F.expr(g.in_bounds_sql("ix", "iy")).alias("ok"),
    )
    got = {(r.ix, r.iy): (r.x, r.y, r.ok) for r in cells.collect()}
    for i in ix:
        for j in iy:
            x, y, ok = got[(int(i), int(j))]
            assert x == g.x0 + float(i) * g.dx and y == g.y0 + float(j) * g.dy
            assert ok == bool(0 <= i < g.nx and 0 <= j < g.ny)

    rng = np.random.default_rng(3)
    # in index units; k + 0.5 is the edge between cells k and k + 1
    u = np.concatenate([rng.uniform(-3, g.nx + 3, 400), np.arange(-2, g.nx + 2) + 0.5])
    v = np.concatenate([rng.uniform(-3, g.ny + 3, 400), rng.integers(-2, g.ny + 2, g.nx + 4) + 0.5])
    px, py = g.x0 + u * g.dx, g.y0 + v * g.dy
    pts = spark.createDataFrame(
        [(k, float(a), float(b)) for k, (a, b) in enumerate(zip(px, py))], "k int, x double, y double"
    )
    owned = pts.select(
        "k", F.expr(g.ix_of_x_sql("x")).alias("ix"), F.expr(g.iy_of_y_sql("y")).alias("iy")
    )
    want_ix = np.floor((px - (g.x0 - g.dx / 2.0)) / g.dx).astype(int)
    want_iy = np.floor((py - (g.y0 - g.dy / 2.0)) / g.dy).astype(int)
    assert {r.k: (r.ix, r.iy) for r in owned.collect()} == {
        k: (int(a), int(b)) for k, (a, b) in enumerate(zip(want_ix, want_iy))
    }


def test_irregular_from_centers_and_bucketed_assign(spark):
    """Irregular bounds inference (midpoints) matches hand math, and the
    bucketed interval hash join assigns exactly what a brute scan does —
    including dropping out-of-grid points."""
    from rasters_jl_spark.lookup import ExplicitAxis

    ax = ExplicitAxis.from_centers([0.0, 1.0, 3.0, 7.0])
    assert ax.bounds == ((-0.5, 0.5), (0.5, 2.0), (2.0, 5.0), (5.0, 9.0))

    pts = spark.range(200).select(
        F.col("id").alias("pt_id"), ((F.col("id") * 37 % 230) / 20.0 - 1.0).alias("x")
    )
    got = {(r["pt_id"], r["ix"]) for r in ax.assign(pts, "x", "ix").collect()}
    want = set()
    for r in pts.collect():
        for i, (lo, hi) in enumerate(ax.bounds):
            if lo <= r["x"] < hi:
                want.add((r["pt_id"], i))
    assert got == want
    assert len(got) < 200  # some points fell outside and were dropped


def test_irregular_descending_centers_and_validation(spark):
    """from_centers on a DESCENDING vector (north-up NetCDF lat axis) keeps
    index i owned by centers[i] with ascending (lo, hi); inverted explicit
    bounds raise instead of silently dropping every point."""
    from rasters_jl_spark.lookup import ExplicitAxis

    ax = ExplicitAxis.from_centers([10.0, 8.0, 6.0])
    assert ax.bounds == ((9.0, 11.0), (7.0, 9.0), (5.0, 7.0))
    pts = spark.createDataFrame([(0, 10.5), (1, 8.0), (2, 5.5), (3, 20.0)], "pt_id int, x double")
    got = {(r["pt_id"], r["i"]) for r in ax.assign(pts, "x", "i").collect()}
    assert got == {(0, 0), (1, 1), (2, 2)}  # pt 3 out of axis -> dropped

    with pytest.raises(ValueError, match="lo >= hi"):
        ExplicitAxis(((2.0, 1.0),))
    with pytest.raises(ValueError, match="monotonic"):
        ExplicitAxis.from_centers([1.0, 3.0, 2.0])


def test_explicit_assign_rejects_reserved_columns(spark):
    """Input columns colliding with ExplicitAxis.assign internals (_bk/_lo/
    _hi or the target index name) raise instead of being silently clobbered."""
    import pytest

    from rasters_jl_spark.lookup import ExplicitAxis

    ax = ExplicitAxis(((0.0, 1.0), (1.0, 2.5)))
    bad = spark.createDataFrame([(0.5, 7)], "x double, _bk int")
    with pytest.raises(ValueError, match="_bk"):
        ax.assign(bad, "x", "ix")
    bad2 = spark.createDataFrame([(0.5, 7)], "x double, ix int")
    with pytest.raises(ValueError, match="ix"):
        ax.assign(bad2, "x", "ix")
