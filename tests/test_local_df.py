"""Driver-side tables are JVM local relations: ``session.local_df`` gives
the rows and schema ``createDataFrame`` gives for every table shape the
engine builds, and the geometry plans scan no Python RDD."""

import os

import pytest

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.functions.geometry import (
    POLY_SCHEMA,
    Polygon,
    polygons_df,
    raster_cover_df,
)
from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.core import mask_geom
from rasters_jl_spark.operators.zonal import raster_geom_candidates, zonal_pages
from rasters_jl_spark.session import local_df
from rasters_jl_spark.sources.layers import LAYERS_SCHEMA
from rasters_jl_spark.sources.pages import pages_geo
from rasters_jl_spark.sources.raster_synth import RASTER_GRID, synth_raster


def _plain(v):
    """Collected Rows (nested ones too) as the plain tuples a builder passes."""
    if isinstance(v, tuple):
        return tuple(_plain(x) for x in v)
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _poly_rows(spark):
    return [_plain(r) for r in polygons_df(spark, FX.RASTER_POLYS).collect()], POLY_SCHEMA


# a right triangle over a 100 x 100-cell grid: its bbox holds interior,
# exterior and boundary blocks
TRIANGLE = Polygon(7, ((0.5, 0.5), (9.5, 0.5), (0.5, 9.5)))
FINE_GRID = GridSpec(x0=0.05, y0=0.05, dx=0.1, dy=0.1, nx=100, ny=100)


def _raster_cover_rows(spark):
    cover = raster_cover_df(spark, [TRIANGLE, *FX.RASTER_POLYS], FINE_GRID, "touches")
    return [_plain(r) for r in cover.collect()], cover.schema


def _layers_rows(spark):
    rows = [("a", -9999.0, "int16", "K", None, None), ("b", None, "float32", None, 0.5, None)]
    return rows, LAYERS_SCHEMA


def _ddl_rows(spark):
    return [(3, "x", 1.5, True), (-1, None, None, False)], "id long, s string, v double, b boolean"


def _empty_rows(spark):
    return [], "tile_id long"


@pytest.mark.parametrize(
    "make", [_poly_rows, _raster_cover_rows, _layers_rows, _ddl_rows, _empty_rows],
    ids=["poly_edges", "raster_cover_geoms", "layers_null_gain", "ddl", "empty"],
)
def test_local_df_matches_create_dataframe(spark, make):
    rows, schema = make(spark)
    got = local_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LocalRelation"


def test_raster_cover_shape_is_exercised(spark):
    """The nested-geoms case above carries interior, exterior and boundary
    structs, so edge arrays are both empty and non-empty."""
    rows, _ = _raster_cover_rows(spark)
    structs = [g for r in rows for g in r[2]]
    assert any(g[5] for g in structs) and any(g[6] for g in structs)
    assert any(not g[5] and not g[6] for g in structs)


def _zonal_pages(spark, sf_dir):
    return zonal_pages(pages_geo(spark, sf_dir), FX.POLYS_GEO)


def _raster_geom_candidates(spark, sf_dir):
    return raster_geom_candidates(synth_raster(spark, sf_dir, "a"), RASTER_GRID, FX.RASTER_POLYS)


def _mask_geom(spark, sf_dir):
    return mask_geom(synth_raster(spark, sf_dir, "a"), RASTER_GRID, FX.RASTER_POLYS, "touches")


@pytest.mark.parametrize(
    "build", [_zonal_pages, _raster_geom_candidates, _mask_geom],
    ids=["zonal_pages", "raster_geom_candidates", "mask_geom"],
)
def test_geometry_plans_scan_no_python_rdd(spark, sf_dir, build):
    """Polygon, cover and geom-id sides are LocalTableScans: no Python
    worker task runs to scan or broadcast them."""
    df = build(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan


def test_zonal_pages_writes_one_file(spark, sf_dir, tmp_path):
    """One row per polygon is one partition: a tile-ledger batch writes one
    file, not one per LocalTableScan slice of the geom ids."""
    out = str(tmp_path / "zonal")
    zonal_pages(pages_geo(spark, sf_dir), FX.POLYS_GEO).write.parquet(out)
    assert len([f for f in os.listdir(out) if f.startswith("part-")]) == 1
