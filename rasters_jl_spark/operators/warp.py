"""warp — grid-to-grid reproject ACROSS CRS (analytic projections).

Reference: `warp` wraps GDAL (`src/methods/warp.jl`) and `resample` handles
CRS changes through it (`src/methods/resample.jl:96-134`). This engine
implements the analytic-CRS subset natively — spherical Web Mercator
(EPSG:3857) and sinusoidal (ESRI:54008) ⇄ geographic (EPSG:4326) — as pure
codegen column math: no PROJ database, no Python in the hot path. The
pattern extends to any closed-form projection by adding a formula pair; a
cluster with pyproj installed can instead plug a pandas-UDF transform into
the same plan shape (target cells → source coords → equi join), which is
the documented hook for database-backed CRSs.

Plan shape (scale-first): the TARGET index space is generated (no data),
each target center is pushed through inverse(tgt.crs) ∘ forward(src.crs)
to fractional source coordinates, and sampling is `resample`'s own core
(`operators/resample.py::_sample`, `_downscale`): `near` is one
broadcast-able left join on the integer source cell, `bilinear` four
stencil joins with missing-weight renormalisation, the cubic family one
k×k stencil join, and the aggregate methods map each source cell forward
to its target cell and reduce. One shuffle family, no per-cell Python, no
driver loops.

Projection formulas are built ONCE as SQL text (evaluated via F.expr in
Spark and verbatim in the DuckDB oracle), so the two engines share one
formula tree — the same discipline as `cellarea_quad`.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.resample import DOWNSCALE, _downscale, _sample, _target_cells

WGS84_R_M = 6378137.0  # spherical Web-Mercator / sinusoidal radius (meters)

UTM_K0 = 0.9996  # central-meridian scale factor
UTM_FE = 500_000.0  # false easting (meters)

_ANALYTIC = ("EPSG:4326", "EPSG:3857", "ESRI:54008", "UTM:<zone>")


def _utm_lon0(crs: str) -> float:
    """Central meridian (degrees) of a ``UTM:<zone>`` tag (northern
    hemisphere, false northing 0) — zone 33 → 15°E. The nontrivial-
    parameter projection family: per-zone lon0, k0 = 0.9996, 500 km
    false easting."""
    zone = int(crs.split(":", 1)[1])
    if not 1 <= zone <= 60:
        raise ValueError(f"UTM zone must be 1..60, got {zone}")
    return zone * 6.0 - 183.0


def lonlat_to_crs_sql(crs: str, lon: str, lat: str) -> tuple[str, str]:
    """(X, Y) SQL text in ``crs`` from lon/lat-degree SQL fragments."""
    r = WGS84_R_M
    if crs == "EPSG:4326":
        return lon, lat
    if crs == "EPSG:3857":
        return (
            f"({r!r} * radians({lon}))",
            f"({r!r} * ln(tan({math.pi / 4.0!r} + radians({lat}) / 2.0)))",
        )
    if crs == "ESRI:54008":
        return (
            f"({r!r} * radians({lon}) * cos(radians({lat})))",
            f"({r!r} * radians({lat}))",
        )
    if crs.startswith("UTM:"):
        # spherical transverse Mercator (Snyder 1987 eq. 8-1..8-3):
        # B = cos(lat) sin(lon - lon0); x = FE + R k0 atanh(B) with atanh
        # spelled ln((1+B)/(1-B))/2 (present in both engines); y = R k0
        # atan2(tan(lat), cos(lon - lon0)) for lat0 = 0
        lon0 = _utm_lon0(crs)
        rk = r * UTM_K0
        b = f"(cos(radians({lat})) * sin(radians(({lon}) - {lon0!r})))"
        return (
            f"({UTM_FE!r} + {rk!r} * 0.5 * ln((1.0 + {b}) / (1.0 - {b})))",
            f"({rk!r} * atan2(tan(radians({lat})), cos(radians(({lon}) - {lon0!r}))))",
        )
    raise ValueError(f"no analytic formula for CRS {crs!r}; supported: {_ANALYTIC}")


def crs_to_lonlat_sql(crs: str, x: str, y: str) -> tuple[str, str]:
    """(lon, lat) degree SQL text from projected coordinates in ``crs``."""
    r = WGS84_R_M
    if crs == "EPSG:4326":
        return x, y
    if crs == "EPSG:3857":
        return (
            f"degrees(({x}) / {r!r})",
            f"degrees(2.0 * atan(exp(({y}) / {r!r})) - {math.pi / 2.0!r})",
        )
    if crs == "ESRI:54008":
        return (
            f"degrees(({x}) / ({r!r} * cos(({y}) / {r!r})))",
            f"degrees(({y}) / {r!r})",
        )
    if crs.startswith("UTM:"):
        # Snyder 1987 eq. 8-6..8-8: x' = (x - FE)/(R k0), D = y/(R k0);
        # lat = asin(sin D / cosh x'), lon = lon0 + atan2(sinh x', cos D).
        # sinh/cosh spelled with exp so the text runs verbatim in DuckDB.
        lon0 = _utm_lon0(crs)
        rk = r * UTM_K0
        xp = f"((({x}) - {UTM_FE!r}) / {rk!r})"
        d = f"(({y}) / {rk!r})"
        sinh = f"((exp({xp}) - exp(-{xp})) / 2.0)"
        cosh = f"((exp({xp}) + exp(-{xp})) / 2.0)"
        return (
            f"({lon0!r} + degrees(atan2({sinh}, cos({d}))))",
            f"degrees(asin(sin({d}) / {cosh}))",
        )
    raise ValueError(f"no analytic formula for CRS {crs!r}; supported: {_ANALYTIC}")


def source_coord_sql(src: GridSpec, tgt: GridSpec, jx: str, jy: str) -> tuple[str, str]:
    """SQL text of the SOURCE-CRS coordinates of a target cell center
    (jx, jy): target index → target CRS → lon/lat → source CRS."""
    xt, yt = tgt.x_sql(jx), tgt.y_sql(jy)
    lon, lat = crs_to_lonlat_sql(tgt.crs, xt, yt)
    return lonlat_to_crs_sql(src.crs, lon, lat)


def warp(
    raster: DataFrame,
    src: GridSpec,
    tgt: GridSpec,
    method: str = "near",
    inverse_transform=None,
) -> DataFrame:
    """Reproject ``raster`` from ``src`` (in ``src.crs``) onto ``tgt`` (in
    ``tgt.crs``). Returns (ix, iy, value) indexed on the target grid;
    ``method`` is one of resample's :data:`METHODS`.
    Outside-extent behaviour: ``near`` DROPS target cells mapping outside
    the source grid (GDAL's nodata, minus the rows); ``bilinear`` keeps a
    NULL-value row when the whole 4-corner stencil is missing (the
    missing-weight renormalisation's natural zero-denominator case).

    ``inverse_transform`` is the database-CRS hook: a vectorized callable
    ``(x_target, y_target) -> (x_source, y_source)`` over NumPy arrays in
    CRS units (exactly ``pyproj.Transformer.transform``'s shape). It runs
    as an Arrow-batched pandas UDF over the GENERATED target index space —
    |tgt| rows, never the data — and the sampling joins are byte-identical
    to the analytic path (same `_sample`). Valid for near/bilinear."""
    if inverse_transform is not None and method not in ("near", "bilinear"):
        raise ValueError("inverse_transform hook supports near|bilinear")

    if method in DOWNSCALE:
        # DOWNSCALE direction: each SOURCE cell center maps through
        # forward(tgt.crs) ∘ inverse(src.crs) to its owning target cell,
        # then one partial+final groupBy — the gdalwarp -r aggregate
        # surface across a CRS change. No join at all: the transform is
        # column math on the data side, the shuffle is the aggregation.
        xt, yt = _target_coord_of_source_sql(src, tgt, "ix", "iy")
        return _downscale(raster, tgt.ix_of_x_sql(xt), tgt.iy_of_y_sql(yt), tgt, method)

    cells = _target_cells(raster.sparkSession, tgt)
    if inverse_transform is not None:
        @F.pandas_udf("x double, y double")
        def _tx(xt: pd.Series, yt: pd.Series) -> pd.DataFrame:
            sx, sy = inverse_transform(xt.to_numpy(), yt.to_numpy())
            return pd.DataFrame({"x": sx, "y": sy})

        withc = cells.withColumn(
            "_c", _tx(F.expr(tgt.x_sql("jx")), F.expr(tgt.y_sql("jy")))
        )
        return _sample(withc, "_c.x", "_c.y", raster, src, method)

    xs, ys = source_coord_sql(src, tgt, "jx", "jy")
    return _sample(cells, xs, ys, raster, src, method)


def _target_coord_of_source_sql(src: GridSpec, tgt: GridSpec, ix: str, iy: str) -> tuple[str, str]:
    """SQL text of the TARGET-CRS coordinates of a source cell center —
    the reverse chain of :func:`source_coord_sql`."""
    xs, ys = src.x_sql(ix), src.y_sql(iy)
    lon, lat = crs_to_lonlat_sql(src.crs, xs, ys)
    return lonlat_to_crs_sql(tgt.crs, lon, lat)
