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
        F.expr(g.ix_sql("lon")).alias("ix"),
        F.expr(g.iy_sql("lat")).alias("iy"),
        g.cell_col("lon", "lat").alias("cell"),
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
        F.expr(fine.parent_cell_sql(fine.cell_sql("lon", "lat"), 3)).alias("parent"),
        coarse.cell_col("lon", "lat").alias("direct"),
    )
    assert out.where(F.col("parent") != F.col("direct")).count() == 0


def test_ring_cells(spark):
    g = WebGrid(3)
    df = spark.createDataFrame([(0.0, 0.0)], "lon double, lat double")
    cells = df.select(
        F.size(F.expr(g.ring_cells_sql(g.cell_sql("lon", "lat"), "1"))).alias("n")
    ).collect()[0]["n"]
    assert cells == 9
    # corner cell: ring clipped at the grid boundary (planar, no wrap)
    df2 = spark.createDataFrame([(-179.9, -89.9)], "lon double, lat double")
    n2 = df2.select(
        F.size(F.expr(g.ring_cells_sql(g.cell_sql("lon", "lat"), "1"))).alias("n")
    ).collect()[0]["n"]
    assert n2 == 4


def _grid_sql_rows(spark, con, pdf, exprs):
    """Each of the SQL texts ``exprs`` over the pandas frame ``pdf``, run by
    Spark and by DuckDB: (spark, duckdb) dicts of NumPy arrays, ordered by
    ``pdf``'s first column."""
    key = pdf.columns[0]
    sel = [F.col(key)] + [F.expr(e).alias(f"c{i}") for i, e in enumerate(exprs)]
    got_s = spark.createDataFrame(pdf).select(*sel).toPandas().sort_values(key)
    con.register("t", pdf)
    cols = ", ".join(f"{e} AS c{i}" for i, e in enumerate(exprs))
    got_d = con.sql(f"SELECT {key}, {cols} FROM t ORDER BY {key}").df()
    return (
        {f"c{i}": got_s[f"c{i}"].to_numpy() for i in range(len(exprs))},
        {f"c{i}": got_d[f"c{i}"].to_numpy() for i in range(len(exprs))},
    )


def test_webgrid_sql_matches_numpy(spark):
    """The one text of each web-grid and geotag formula, run by Spark and
    verbatim by DuckDB (the oracle shares it, so cannot check it), against
    NumPy and Python integers written independently: lat/lon of ids up to
    10⁶ and near 10¹², cells at res 0–10 on and past the globe borders,
    parents for every (res, parent_res) pair, and ring cells."""
    import duckdb
    import pandas as pd

    from rasters_jl_spark.sources.pages import lat_sql, lon_sql

    con = duckdb.connect()
    # lat/lon: ((id * M) % L) / 1e4 - offset, the product in exact integers
    small = np.arange(10**6 + 1, dtype=np.int64)
    big = np.arange(10**12 - 500, 10**12 + 500, dtype=np.int64)
    ids = np.concatenate([small, big])
    want = {}
    for name, m, mod, off in (("lat", 2654435761, 1800000, 90.0), ("lon", 40503, 3600000, 180.0)):
        k = np.concatenate([small * m % mod, np.array([int(i) * m % mod for i in big])])
        want[name] = k / 1e4 - off
    for got in _grid_sql_rows(spark, con, pd.DataFrame({"id": ids}), [lat_sql("id"), lon_sql("id")]):
        assert np.array_equal(got["c0"], want["lat"]) and np.array_equal(got["c1"], want["lon"])

    # cells: random points, points on res-10 cell edges, the borders, beyond
    rng = np.random.default_rng(11)
    edge = 180.0 / 1024
    lon = np.concatenate([rng.uniform(-200, 200, 300), -180 + edge * rng.integers(0, 2049, 60),
                          [-180.0, 180.0, -200.0, 200.0, 179.999999, -180.000001, 0.0, -1e-12] * 2])
    lat = np.concatenate([rng.uniform(-100, 100, 300), -90 + edge * rng.integers(0, 1025, 60),
                          [-90.0, 90.0, 100.0, -100.0, -90.000001, 89.999999, 1e-12, 0.0] * 2])
    lon, lat = np.concatenate([lon, lon[::-1]]), np.concatenate([lat, lat])
    pts = pd.DataFrame({"k": np.arange(len(lon)), "lon": lon, "lat": lat})
    grids = [WebGrid(r) for r in range(11)]
    for got in _grid_sql_rows(spark, con, pts, [g.cell_sql("lon", "lat") for g in grids]):
        for i, g in enumerate(grids):
            ix = np.clip(np.floor((lon + 180.0) / g.step), 0, g.nx - 1).astype(np.int64)
            iy = np.clip(np.floor((lat + 90.0) / g.step), 0, g.ny - 1).astype(np.int64)
            assert np.array_equal(got[f"c{i}"], iy * g.nx + ix), g.res

    # parents: corner and random cells of every resolution
    n = 64
    cols = {"k": np.arange(n)}
    for g in grids:
        ix = np.concatenate([[0, g.nx - 1, 0, g.nx - 1], rng.integers(0, g.nx, n - 4)])
        iy = np.concatenate([[0, 0, g.ny - 1, g.ny - 1], rng.integers(0, g.ny, n - 4)])
        cols[f"cell{g.res}"] = iy * g.nx + ix
    pairs = [(g, p) for g in grids for p in range(g.res + 1)]
    texts = [g.parent_cell_sql(f"cell{g.res}", p) for g, p in pairs]
    for got in _grid_sql_rows(spark, con, pd.DataFrame(cols), texts):
        for i, (g, p) in enumerate(pairs):
            iy, ix = np.divmod(cols[f"cell{g.res}"], g.nx)
            s = g.res - p
            assert np.array_equal(got[f"c{i}"], (iy // 2**s) * (2 << p) + ix // 2**s), (g.res, p)

    # rings (Spark only: no oracle has one), corners, edges and the middle
    g = WebGrid(3)
    cells = [0, 15, 112, 127, 7, 120, 48, 63, 3 * 16 + 8, 125]
    ring = spark.createDataFrame(
        [(c, r) for c in cells for r in (0, 1, 2, 3, 9)], "cell long, r int"
    ).select("cell", "r", F.expr(g.ring_cells_sql("cell", "r")).alias("ring"))
    got = {(row.cell, row.r): row.ring for row in ring.collect()}
    for (c, r), arr in got.items():
        iy, ix = divmod(c, g.nx)
        want_set = {
            (iy + dy) * g.nx + ix + dx
            for dy in range(-r, r + 1)
            for dx in range(-r, r + 1)
            if 0 <= iy + dy < g.ny and 0 <= ix + dx < g.nx
        }
        assert sorted(arr) == sorted(want_set), (c, r)
    assert len(got) == len(cells) * 5
    lit = spark.createDataFrame([(0,)], "cell long").select(F.expr(g.ring_cells_sql("cell", "2")).alias("a"))
    assert sorted(lit.first().a) == [0, 1, 2, 16, 17, 18, 32, 33, 34]


def test_webgrid_col_call_shapes(spark):
    """The Column names ``bench.py`` and ``perfbench/`` call with plain
    column references: the same values as NumPy, and a computed Column,
    which has no SQL name, raises."""
    from rasters_jl_spark.sources.pages import lat_col, lon_col

    g = WebGrid(7)
    ids = [0, 1, 12345, 999_999, 10**12 + 7]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    df = df.select("id", lat_col(F.col("id")).alias("lat"), lon_col(F.col("id")).alias("lon"))
    df = df.withColumn("cell", g.cell_col(F.col("lon"), F.col("lat")))
    rows = sorted(df.withColumn("tile", g.parent_cell_col(F.col("cell"), 4)).collect())
    for r in rows:
        lat = (r.id * 2654435761 % 1800000) / 1e4 - 90.0
        lon = (r.id * 40503 % 3600000) / 1e4 - 180.0
        iy, ix = int(np.floor((lat + 90.0) / g.step)), int(np.floor((lon + 180.0) / g.step))
        assert (r.lat, r.lon, r.cell) == (lat, lon, iy * g.nx + ix)
        assert r.tile == (iy >> 3) * 32 + (ix >> 3)
    for bad in (F.col("id") + 1, F.lit(3), F.col("id").alias("x")):
        with pytest.raises(ValueError):
            lat_col(bad)
    with pytest.raises(ValueError):
        g.parent_cell_col(F.lit(1), 4)


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


def test_gridspec_sql_exact_literals_duckdb():
    """DuckDB runs the grid texts' literals exactly: on grids whose origin
    and step need 17 significant digits, ``x_sql``/``y_sql`` equal NumPy
    ``x0 + ix*dx`` bit for bit (a 17-digit decimal literal is cast to
    DOUBLE an ulp off for some values in DuckDB)."""
    import duckdb

    rng = np.random.default_rng(17)
    con = duckdb.connect()

    def v17(lo, hi):
        while True:
            v = float(rng.uniform(lo, hi))
            if float(f"{v:.16g}") != v:
                return v

    for _ in range(20):
        g = GridSpec(v17(-1e3, 1e3), v17(-1e6, 1e6), v17(0.01, 2.0), -v17(0.01, 30.0), 9, 9)
        got = con.sql(
            f"SELECT {g.x_sql('i')} AS x, {g.y_sql('i')} AS y FROM range(-2, 11) t(i) ORDER BY i"
        ).fetchnumpy()
        i = np.arange(-2, 11).astype(float)
        assert np.array_equal(got["x"], g.x0 + i * g.dx), g
        assert np.array_equal(got["y"], g.y0 + i * g.dy), g


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
