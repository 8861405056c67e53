"""Extract goldens (`test/extract.jl:7-108` fixture F6) and the 2×2
mask/replace_missing goldens (`test/methods.jl:9-14,41-71` fixture F2)."""

import pytest
from pyspark.sql import functions as F

from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.core import mask_raster, replace_missing
from rasters_jl_spark.operators.extract import extract_points

# F6: raster [3 4; 1 2] on X(10.0:-1.0:9.0) (reverse!), Y(0.1:0.1:0.2)
# A[1,1]=3 at (x=10,y=0.1), A[1,2]=4 at (10,0.2), A[2,1]=1 at (9,0.1), A[2,2]=2 at (9,0.2)
EXTRACT_GRID = GridSpec(x0=10.0, y0=0.1, dx=-1.0, dy=0.1, nx=2, ny=2)
RASTER_ROWS = [(0, 0, 3.0), (0, 1, 4.0), (1, 0, 1.0), (1, 1, 2.0)]
POINTS = [(0, 9.0, 0.1), (1, 9.0, 0.2), (2, 10.0, 0.3), (3, 10.0, 0.2)]


@pytest.fixture(scope="module")
def raster(spark):
    return spark.createDataFrame(RASTER_ROWS, "ix int, iy int, value double").cache()


@pytest.fixture(scope="module")
def pts(spark):
    return spark.createDataFrame(POINTS, "pt_id int, x double, y double")


def test_extract_skipmissing_true(pts, raster):
    """Out-of-bounds point (10.0, 0.3) dropped; others return exact values
    (`test/extract.jl:22-40`)."""
    out = {r["pt_id"]: r["value"] for r in extract_points(pts, raster, EXTRACT_GRID).collect()}
    assert out == {0: 1.0, 1: 2.0, 3: 4.0}


def test_extract_skipmissing_false(pts, raster):
    """Left-join flavour keeps the miss as a NULL row (`test/extract.jl:60-76`)."""
    out = {r["pt_id"]: r["value"] for r in extract_points(pts, raster, EXTRACT_GRID, skipmissing=False).collect()}
    assert out == {0: 1.0, 1: 2.0, 2: None, 3: 4.0}


def test_extract_keeps_geometry_and_index(pts, raster):
    row = (
        extract_points(pts, raster, EXTRACT_GRID, skipmissing=True, keep_index=True)
        .where(F.col("pt_id") == 0)
        .collect()[0]
    )
    assert (row["x"], row["y"], row["ix"], row["iy"]) == (9.0, 0.1, 1, 0)


# ---- F2 2×2 mask / replace_missing goldens ----
# ga = [missing 7; 2 missing], b = [1 0.4; 2 missing]
GA = [(0, 0, None), (0, 1, 7.0), (1, 0, 2.0), (1, 1, None)]
GB = [(0, 0, 1.0), (0, 1, 0.4), (1, 0, 2.0), (1, 1, None)]


def _d(df):
    return {(r["ix"], r["iy"]): r["value"] for r in df.collect()}


def test_replace_missing_to_sentinel(spark):
    """replace_missing(ga, -9999) == [-9999 7; 2 -9999] (`test/methods.jl:50`)."""
    ga = spark.createDataFrame(GA, "ix int, iy int, value double")
    out = _d(replace_missing(ga, -9999.0, to_null=False))
    assert out == {(0, 0): -9999.0, (0, 1): 7.0, (1, 0): 2.0, (1, 1): -9999.0}


def test_replace_missing_roundtrip(spark):
    ga = spark.createDataFrame(GA, "ix int, iy int, value double")
    sentinel = replace_missing(ga, -9999.0, to_null=False)
    back = _d(replace_missing(sentinel, -9999.0, to_null=True))
    assert back == {(0, 0): None, (0, 1): 7.0, (1, 0): 2.0, (1, 1): None}


def test_mask_by_raster_golden(spark):
    """mask(b; with=ga): b missing where ga missing (`test/methods.jl:77-96`)."""
    ga = spark.createDataFrame(GA, "ix int, iy int, value double")
    gb = spark.createDataFrame(GB, "ix int, iy int, value double")
    out = _d(mask_raster(gb, ga))
    assert out == {(0, 0): None, (0, 1): 0.4, (1, 0): 2.0, (1, 1): None}
    inv = _d(mask_raster(gb, ga, invert=True))
    assert inv == {(0, 0): 1.0, (0, 1): None, (1, 0): None, (1, 1): None}


def test_extract_many_single_scan(spark):
    """1,024-polygon extract is ONE raster scan through the broadcast
    block-cover join: no Union, no per-polygon literal subtrees, and zero
    hash-partitioning shuffles before the (test-side) aggregation."""
    import re

    from rasters_jl_spark.operators.extract import extract_polygons
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.queries_extra import _zm_raster, _ZM_POLYS

    hits = extract_polygons(_zm_raster(spark), FX.MANY_GRID, _ZM_POLYS)
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0, plan[:2000]
    # expression size is O(1) in polygon count: the single-scan plan string
    # stays small; the old per-polygon-literal shape exceeded this by 100x
    assert len(plan) < 200_000
    assert hits.count() > 0


def test_crop_to_geoms_matches_reference_shape(spark):
    """crop(to=polygon): the reference's -20..-5 x 10..30 polygon crop of a
    -20..-5 x 0..30 Points raster keeps (16, 21) cells
    (test/methods.jl:481-488)."""
    from rasters_jl_spark.functions.geometry import Polygon
    from rasters_jl_spark.grid import GridSpec
    from rasters_jl_spark.operators.core import crop_to_geoms

    g = GridSpec(x0=-20.0, y0=0.0, dx=1.0, dy=1.0, nx=16, ny=31)
    xs = spark.range(16).selectExpr("cast(id as int) ix")
    ys = spark.range(31).selectExpr("cast(id as int) iy")
    r = xs.crossJoin(ys).selectExpr("ix", "iy", "0.0 AS value")
    poly = Polygon(1, ((-20.0, 30.0), (-20.0, 10.0), (-5.0, 10.0), (-5.0, 30.0)))
    out = crop_to_geoms(r, g, [poly])
    assert out.count() == 16 * 21
    b = out.agg(F.min("iy"), F.max("iy"), F.min("ix"), F.max("ix")).first()
    assert tuple(b) == (10, 30, 0, 15)


def test_extract_name_atol_id_keywords(spark):
    """Reference extract keyword tail (`src/methods/extract.jl:151-337`,
    `test/extract.jl:22-116` row shapes): name= selects stack layers into
    one column each; Points-sampling atol matches only within atol of a
    center (else missing row / dropped); id= numbers rows 1..N; stack
    skipmissing drops points where ANY selected layer is missing."""
    from rasters_jl_spark.grid import GridSpec
    from rasters_jl_spark.operators.extract import extract_points, extract_points_stack

    g = GridSpec(x0=0.0, y0=0.0, dx=1.0, dy=1.0, nx=2, ny=2)
    stack = spark.createDataFrame(
        [
            (0, 0, "a", 1.0), (1, 0, "a", 2.0), (0, 1, "a", 3.0), (1, 1, "a", 4.0),
            (0, 0, "b", 10.0), (1, 0, "b", None), (0, 1, "b", 30.0), (1, 1, "b", 40.0),
        ],
        "ix int, iy int, layer string, value double",
    )
    pts = spark.createDataFrame(
        [(0, 0.02, 0.0), (1, 1.0, 0.01), (2, 0.4, 0.0), (3, 9.0, 9.0)],
        "pt_id long, x double, y double",
    )
    # name= + atol: pt 2 is 0.4 from the center -> missing row; pt 3 off-grid
    out = {r["pt_id"]: (r["a"], r["b"]) for r in extract_points_stack(
        pts, stack, g, names=("a", "b"), skipmissing=False, sampling="points", atol=0.05
    ).collect()}
    assert out[0] == (1.0, 10.0)
    assert out[1] == (2.0, None)   # layer b missing at that cell
    assert out[2] == (None, None)  # atol miss
    assert out[3] == (None, None)  # off grid
    # stack skipmissing: ANY missing selected layer drops the point
    kept = {r["pt_id"] for r in extract_points_stack(
        pts, stack, g, names=("a", "b"), skipmissing=True, sampling="points", atol=0.05
    ).collect()}
    assert kept == {0}
    # single layer selection keeps pt 1
    kept_a = {r["pt_id"] for r in extract_points_stack(
        pts, stack, g, names=("a",), skipmissing=True, sampling="points", atol=0.05
    ).collect()}
    assert kept_a == {0, 1}
    # id=: 1-based over (pt_id, x, y) order
    ra = stack.where("layer = 'a'").select("ix", "iy", "value")
    ids = {r["pt_id"]: r["id"] for r in extract_points(
        pts, ra, g, skipmissing=False, with_id=True
    ).collect()}
    assert ids == {0: 1, 1: 2, 2: 3, 3: 4}
    # atol=None is exact At: only pt with zero offset survives skipmissing
    exact = {r["pt_id"] for r in extract_points(
        pts, ra, g, skipmissing=True, sampling="points", atol=None
    ).collect()}
    assert exact == set()  # 0.02/0.01 offsets are not exact


def test_ordered_id_scale_safe(spark, counted):
    """ordered_id == global row_number on a gapped, tie-heavy fixture, and
    the full-data window is range-partitioned (the only single-partition
    window is the partition-count-sized offsets branch). The ranged table
    is pinned inside the call, so the call and its collect run a fixed
    job and stage count: a changed plan shape fails here."""
    from pyspark.sql import functions as F

    from rasters_jl_spark.operators.extract import ordered_id

    # gapped keys, duplicate secondary values, way more rows than partitions
    df = (
        spark.range(5_000)
        .select(
            ((F.col("id") * 13) % 997).alias("k"),
            (F.col("id") % 7).alias("v"),
            F.col("id").alias("orig"),
        )
        .where("id % 3 != 1")  # gaps
    )
    out, jobs, stages = counted(
        "ordered-id", lambda: ordered_id(df, ["k", "v", "orig"], "seq").collect()
    )
    assert (jobs, stages) == (8, 13)
    got = [(r["k"], r["v"], r["orig"], r["seq"]) for r in out]
    got.sort(key=lambda t: t[3])
    expected = sorted(((r["k"], r["v"], r["orig"]) for r in out))
    assert [t[:3] for t in got] == expected
    assert [t[3] for t in got] == list(range(1, len(got) + 1))

    # plan: the bulk row_number window is partitioned by _pid — the string
    # "windowspecdefinition(_pid" must appear; a bare unpartitioned spec
    # over the input columns (the old one-partition plan) must not.
    plan = ordered_id(df, ["k", "v", "orig"], "seq")._jdf.queryExecution().executedPlan().toString()
    assert "_pid" in plan
    assert "windowspecdefinition(k" not in plan.lower().replace(" ", "")
