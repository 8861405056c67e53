"""kNN exactness vs in-Spark brute force, and the hot-cell page join
(FIXTURES.md F9/F10)."""

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.grid import PAGES_RES, WebGrid
from rasters_jl_spark.operators.knn import knn_pages
from rasters_jl_spark.operators.zonal import spatial_join_pages, zonal_pages
from rasters_jl_spark.sources.pages import lat_col, lon_col, pages_geo


@pytest.fixture(scope="module")
def pages(spark, sf_dir):
    return pages_geo(spark, sf_dir).cache()


def test_knn_matches_bruteforce(spark, pages):
    p = pages.select("doc_id", "lat", "lon", "cell")
    ids = spark.range(FX.KNN_ID_BASE, FX.KNN_ID_BASE + 10)
    queries = ids.select(
        (F.col("id") - FX.KNN_ID_BASE).alias("q_id"),
        lat_col(F.col("id")).alias("qlat"),
        lon_col(F.col("id")).alias("qlon"),
    )
    ring = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in knn_pages(queries, p, k=5, res=PAGES_RES).collect()
    }
    d2 = (F.col("lat") - F.col("qlat")) ** 2 + (F.col("lon") - F.col("qlon")) ** 2
    w = Window.partitionBy("q_id").orderBy(F.col("_d").asc(), F.col("doc_id").asc())
    brute = {
        (r["q_id"], r["rank"]): r["doc_id"]
        for r in queries.crossJoin(p)
        .withColumn("_d", d2)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .collect()
    }
    assert ring == brute


def test_salted_join_identical_rows(pages):
    """``zonal_pages(..., n_salt=8)`` (the ``zonal_pages_salted`` query)
    ignores the keyword: same rows as the default call, and no salt column
    anywhere in its physical plan."""
    salted = zonal_pages(pages, FX.POLYS_GEO, n_salt=8)
    plain = {tuple(r) for r in zonal_pages(pages, FX.POLYS_GEO).collect()}
    assert {tuple(r) for r in salted.collect()} == plain
    assert sum(r[1] for r in plain) > 0
    assert re.search(r"\b_?salt#", _plan(salted)) is None


def test_skewed_hot_cell(spark):
    """80% of rows forced into one cell (F10): the join count is exactly
    the number of points inside the box."""
    from rasters_jl_spark.functions.geometry import Polygon

    n = 2000
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    hot = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 != 0, F.lit(0.0005)).otherwise(lat_col(F.col("doc_id"))).alias("lat"),
        F.when(F.col("doc_id") % 5 != 0, F.lit(0.0005)).otherwise(lon_col(F.col("doc_id"))).alias("lon"),
        F.lit(1).alias("n_chars"),
    )
    box = [Polygon(1, ((-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)))]

    def inside(x, y):  # pip_col's even-odd ray cast
        return sum(
            (y1 > y) != (y2 > y) and x < x1 + (x2 - x1) * (y - y1) / (y2 - y1)
            for x1, y1, x2, y2 in box[0].edges
        ) % 2 == 1

    want = sum(inside(r["lon"], r["lat"]) for r in hot.collect())
    assert want >= 0.8 * n
    assert spatial_join_pages(hot, box).count() == want


def test_knn_sparse_fine_resolution_brute_tier(spark):
    """<k candidates at a FINE resolution (res 12: 8192x4096 cells) must
    finish through the brute tier — no grid-sized ring array — and match
    the exact brute-force answer."""
    res = 12
    from rasters_jl_spark.grid import WebGrid

    g = WebGrid(res)
    # 12 pages scattered worldwide: any density-sized ring around a query
    # holds fewer than k of them
    pts = [(i, -80.0 + i * 13.7, -170.0 + i * 27.3) for i in range(12)]
    pages = spark.createDataFrame(pts, "doc_id long, lat double, lon double")
    pages = pages.withColumn("cell", g.cell_col(F.col("lon"), F.col("lat")))
    queries = spark.createDataFrame(
        [(1, 10.0, 20.0), (2, -45.0, 100.0)], "q_id long, qlat double, qlon double"
    )
    got = {
        (r["q_id"], r["rank"]): (r["doc_id"], round(r["dist2"], 9))
        for r in knn_pages(queries, pages, k=5, res=res).collect()
    }
    # exact brute force in python
    want = {}
    for qid, qlat, qlon in [(1, 10.0, 20.0), (2, -45.0, 100.0)]:
        ds = sorted(
            ((qlat - la) ** 2 + (qlon - lo) ** 2, d) for d, la, lo in pts
        )
        for rank, (d2, doc) in enumerate(ds[:5], 1):
            want[(qid, rank)] = (doc, round(d2, 9))
    assert got == want


# Mixed-tier layout at res 5 (64x32 cells of 5.625 deg): a lattice of four
# pages per cell over the western hemisphere with a disc of radius 34 deg
# cut out around (lon -90, lat 0), plus three pages near (lon 120, lat 10).
# Density sizes r0 = 4 (k=5) and r0 = 7 (k=50); the queries then need:
#   q 0, inside the lattice: phase 1;
#   q 1, at the centre of the empty disc: >=k pages in the r0 square's
#        corners, but the kth lies past r0 rings (rf = 8): ring tier;
#   q 2, beside the three isolated pages: <k candidates: brute tier;
#   q 3, at (lon 160, lat -60), far from every page: no candidates at all:
#        brute tier.
# Two more queries sit on the tier boundary, each beside its own tight
# cluster in an otherwise empty part of the eastern hemisphere (no other
# page within r0 cells of either):
#   q 4, at (lon 47, lat 48), with exactly k pages in its cell: phase 1;
#   q 5, at (lon 47, lat -48), with exactly k-1 pages in its cell: brute.
MIXED_RES = 5
MIXED_QUERIES = [(0, -40.3, -135.2), (1, 0.0, -90.0), (2, 10.0, 120.0), (3, -60.0, 160.0)]
BOUNDARY_QUERIES = [(4, 48.0, 47.0), (5, -48.0, 47.0)]


def _mixed_pages(k):
    pts = []
    for i in range(64):
        for j in range(64):
            lon, lat = -178.59375 + 2.8125 * i, -88.59375 + 2.8125 * j
            if lon < 0 and (lon + 90.0) * (lon + 90.0) + lat * lat >= 34.0 * 34.0:
                pts.append((len(pts), lat, lon))
    for t in range(3):
        pts.append((len(pts), 10.0 + 0.5 * t, 120.0 + 0.7 * t))
    for (_, qlat, qlon), n in zip(BOUNDARY_QUERIES, (k, k - 1)):
        for t in range(1, n + 1):
            pts.append((len(pts), qlat + 0.01 * t, qlon + 0.013 * t))
    return pts


def _brute_knn(pts, queries, k):
    want = {}
    for qid, qlat, qlon in queries:
        ds = sorted(((la - qlat) * (la - qlat) + (lo - qlon) * (lo - qlon), d) for d, la, lo in pts)
        for rank, (d2, doc) in enumerate(ds[:k], 1):
            want[(qid, rank)] = (doc, d2)
    return want


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("k", [5, 50])
def test_knn_mixed_tiers_match_bruteforce(spark, k):
    """One batch answered by phase 1, the phase-2 ring tier and the brute
    tier (with and without phase-1 candidates) is exact, and the returned
    plan carries both the ring branch and the brute branch. On the tier
    boundary, exactly k phase-1 candidates are answered by phase 1 (no
    later tier in the plan of that query alone) and k-1 go to brute."""
    g = WebGrid(MIXED_RES)
    pts = _mixed_pages(k)
    pages = spark.createDataFrame(pts, "doc_id long, lat double, lon double")
    pages = pages.withColumn("cell", g.cell_col(F.col("lon"), F.col("lat")))
    batch = MIXED_QUERIES + BOUNDARY_QUERIES
    queries = spark.createDataFrame(batch, "q_id long, qlat double, qlon double")
    out = knn_pages(queries, pages, k=k, res=MIXED_RES)
    plan = _plan(out)
    assert "Generate explode" in plan  # phase-2 ring cells
    assert "BroadcastNestedLoopJoin" in plan  # brute tier
    rows = out.collect()
    want = _brute_knn(pts, batch, k)
    assert len(rows) == len(want)
    assert {(r["q_id"], r["rank"]): (r["doc_id"], r["dist2"]) for r in rows} == want

    for q, brute in zip(BOUNDARY_QUERIES, (False, True)):
        one = knn_pages(
            spark.createDataFrame([q], "q_id long, qlat double, qlon double"), pages, k=k, res=MIXED_RES
        )
        plan = _plan(one)
        assert "Generate" not in plan
        assert ("BroadcastNestedLoopJoin" in plan) == brute
        assert {(r["q_id"], r["rank"]): (r["doc_id"], r["dist2"]) for r in one.collect()} == {
            key: v for key, v in want.items() if key[0] == q[0]
        }


def test_knn_phase1_batch_plans_no_later_tier(spark, pages):
    """A uniform-density batch that phase 1 fully answers returns a plan
    with neither later tier: no ring explode, no broadcast-nested-loop
    brute pass, and no second scan of the pages."""
    p = pages.select("doc_id", "lat", "lon", "cell")
    ids = spark.range(FX.KNN_ID_BASE, FX.KNN_ID_BASE + 10)
    queries = ids.select(
        (F.col("id") - FX.KNN_ID_BASE).alias("q_id"),
        lat_col(F.col("id")).alias("qlat"),
        lon_col(F.col("id")).alias("qlon"),
    )
    out = knn_pages(queries, p, k=5, res=PAGES_RES)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" not in plan
    assert plan.count("InMemoryTableScan") <= 1
    assert out.count() == 50

    # With both sizing hints passed, the call's only action is the eager
    # phase-1 pin, whose pass also counts the later tiers' queries: under
    # AQE it runs 3 jobs (the query-side broadcast, the shuffle map stage
    # and the pinned top-k), and collect() 1 more reading the pin.
    n_pages = p.count()
    sc = spark.sparkContext
    sc.setJobGroup("knn-phase1-jobs", "knn")
    try:
        rows = knn_pages(queries, p, k=5, res=PAGES_RES, n_pages=n_pages, n_queries=10).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 50
    assert len(sc.statusTracker().getJobIdsForGroup("knn-phase1-jobs")) == 4


def test_knn_query_side_read_once(spark):
    """The query side has one reader, the phase-1 pin: one knn_pages()
    call and its collect evaluate each query row once, here a Python UDF
    over a createDataFrame(list) frame. Query 2 has no page in its ring;
    its NULL candidate (the ring's cell -1) routes it to the brute tier,
    which still returns its k nearest pages."""
    res, k = 5, 5
    g = WebGrid(res)
    pts = [(i * 10 + j, -10.0 + i * 0.7, 20.0 + j * 0.7) for i in range(10) for j in range(10)]
    pages = spark.createDataFrame(pts, "doc_id long, lat double, lon double")
    pages = pages.withColumn("cell", g.cell_col("lon", "lat"))
    qs = [(0, -7.0, 23.0), (1, -5.5, 24.1), (2, 60.0, -150.0)]
    seen = spark.sparkContext.accumulator(0)

    def counted_lat(v):
        seen.add(1)
        return v

    queries = spark.createDataFrame(qs, "q_id long, qlat double, qlon double").select(
        "q_id", F.udf(counted_lat, "double")("qlat").alias("qlat"), "qlon"
    )
    got = {
        (r["q_id"], r["rank"]): (r["doc_id"], r["dist2"])
        for r in knn_pages(queries, pages, k=k, res=res).collect()
    }
    assert seen.value == len(qs)
    want = {}
    for qid, qlat, qlon in qs:
        ds = sorted(((la - qlat) * (la - qlat) + (lo - qlon) * (lo - qlon), d) for d, la, lo in pts)
        for rank, (d2, doc) in enumerate(ds[:k], 1):
            want[(qid, rank)] = (doc, d2)
    assert got == want


@pytest.mark.parametrize("empty", ["queries", "pages"])
def test_knn_empty_input_returns_empty_frame(spark, empty):
    q_rows = [] if empty == "queries" else [(1, 10.0, 20.0)]
    p_rows = [] if empty == "pages" else [(7, 10.5, 20.5, 0)]
    queries = spark.createDataFrame(q_rows, "q_id long, qlat double, qlon double")
    pages = spark.createDataFrame(p_rows, "doc_id long, lat double, lon double, cell long")
    pages = pages.withColumn("cell", WebGrid(PAGES_RES).cell_col(F.col("lon"), F.col("lat")))
    out = knn_pages(queries, pages, k=5, res=PAGES_RES)
    assert out.columns == ["q_id", "rank", "doc_id", "dist2"]
    assert out.collect() == []
