"""Deterministic integer cell grids.

Two grid families:

- :class:`GridSpec` — a finite raster grid (the engine's replacement for the
  reference's dims/lookup model, `src/lookup.jl:57-66` ``Projected`` lookups
  with Regular span and Intervals(Center) sampling). A raster is a long-format
  DataFrame ``(ix:int, iy:int, value:double)`` plus a GridSpec carrying the
  coordinate math. Lookup *values* are cell centers, exactly like the
  reference's `X(-20:5)` lookups; a cell (ix, iy) spans the half-open box
  ``[x(ix)-dx/2, x(ix)+dx/2) × [y(iy)-dy/2, y(iy)+dy/2)``.

- :class:`WebGrid` — the global hierarchical lat/lon quad grid used to index
  geotagged web pages (the H3/S2 *role*: per-resolution int64 ids, parent
  prefix by bit shift, ring neighbours, cell↔bbox). A pure power-of-two
  lat/lon grid keeps every cell computation expressible as integer column
  arithmetic — identically in Spark and in the DuckDB oracle SQL — which is
  the engine's float-determinism strategy (the role the reference's
  ``StableRange``, `src/utils.jl:362-555`, plays: never re-derive coordinates
  from floats downstream).

Every grid formula is written once, as SQL text (``*_sql``): Spark
evaluates it through ``F.expr`` and the DuckDB oracle runs it verbatim, so
the two engines share one formula and cannot drift apart. A slip in it is
the same in both, so `tests/test_grid.py` checks it against hand and NumPy
values, not the oracle. Literals are exact DOUBLE exponent literals
(:func:`dbl_sql`). WebGrid's ``*_col`` names (``bench.py`` and
``perfbench/`` import them) are ``F.expr`` over the same texts; they take
text or a plain column reference (:func:`ref_sql`). The ring text
(:meth:`WebGrid.ring_cells_sql`) is run by Spark only: no oracle has a
ring. The polygon predicates are one text each too
(`functions/geometry.py`: ``crossing_sql``, ``seg_rect_sql``,
``boundary_sql``).
"""

from __future__ import annotations

from dataclasses import dataclass

from py4j.java_gateway import is_instance_of
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


def dbl_sql(v: float) -> str:
    """``v`` as a DOUBLE literal that Spark and DuckDB both parse exactly:
    17 significant digits in exponent form (both type a plain ``0.3`` as
    DECIMAL, and DuckDB rounds a 17-digit decimal cast to DOUBLE an ulp
    off for some values)."""
    return f"{float(v):.16e}"


def ref_sql(c: str | Column) -> str:
    """SQL text of a formula argument: text as is, a plain column reference
    (``F.col(name)``) as its SQL name. The rule of PySpark's own
    ``spark.sql`` string formatter (``sql_formatter._convert_value``): any
    other Column raises ``ValueError``."""
    if isinstance(c, str):
        return c
    spark = SparkSession.active()
    jexpr = spark._jsparkSession.expression(c._jc)
    plain = ("analysis.UnresolvedAttribute", "expressions.AttributeReference")
    gw = spark.sparkContext._gateway
    if any(is_instance_of(gw, jexpr, f"org.apache.spark.sql.catalyst.{k}") for k in plain):
        return jexpr.sql()
    raise ValueError(f"not SQL text or a plain column reference: {c}")


# --------------------------------------------------------------------------
# Raster grids
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class GridSpec:
    """Finite raster grid: centers at ``x0 + ix*dx`` for ix in [0, nx).

    Mirrors the reference's Regular-span Intervals(Center) lookup
    (`src/lookup.jl:57-66`, `src/utils.jl:626-633` ``_as_intervals``).

    Steps are SIGNED: ``dy < 0`` is a north-up raster (row 0 at the top),
    the native orientation of real GeoTIFFs; ``dx < 0`` a reversed x axis.
    All coordinate math here and the geometry-burn path
    (`functions/geometry.py::raster_cover_df`,
    `operators/zonal.py::raster_geom_candidates`) is sign-correct — the
    reference instead reorders axes before burning (`_prepare_for_burning`,
    `src/methods/burning/array_init.jl:54-85`); :func:`normalize_raster`
    provides that explicit reorder for operators that require positive
    steps (resample/coverage subpixel paths).
    """

    x0: float  # center coordinate of cell ix=0
    y0: float  # center coordinate of cell iy=0
    dx: float
    dy: float
    nx: int
    ny: int
    crs: str = "EPSG:4326"

    # -- coordinate math (centers) --
    def x_sql(self, ix: str) -> str:
        return f"({dbl_sql(self.x0)} + CAST({ix} AS DOUBLE) * {dbl_sql(self.dx)})"

    def y_sql(self, iy: str) -> str:
        return f"({dbl_sql(self.y0)} + CAST({iy} AS DOUBLE) * {dbl_sql(self.dy)})"

    # -- point → owning cell (Contains on Intervals(Center)):
    #    half-open [center-d/2, center+d/2) — the reference's
    #    `_at_or_contains` semantics (src/methods/burning/point.jl:47-50)
    def ix_of_x_sql(self, x: str) -> str:
        return f"CAST(FLOOR(({x} - {dbl_sql(self.x0 - self.dx / 2.0)}) / {dbl_sql(self.dx)}) AS INT)"

    def iy_of_y_sql(self, y: str) -> str:
        return f"CAST(FLOOR(({y} - {dbl_sql(self.y0 - self.dy / 2.0)}) / {dbl_sql(self.dy)}) AS INT)"

    def in_bounds_sql(self, ix: str, iy: str) -> str:
        # left-deep, as Catalyst builds a chain of Column ``&``: the SQL
        # parser would balance a flat AND chain into a different tree
        return f"((({ix} >= 0 AND {ix} < {self.nx}) AND {iy} >= 0) AND {iy} < {self.ny})"

    # -- extent of the grid as cell-edge bounds (reference `Extents.Extent`);
    #    orientation-safe: min/max over both edge candidates so negative
    #    steps report the same geographic extent as their flipped twin
    @property
    def xmin(self) -> float:
        return min(self.x0 - self.dx / 2.0, self.x0 + (self.nx - 0.5) * self.dx)

    @property
    def xmax(self) -> float:
        return max(self.x0 - self.dx / 2.0, self.x0 + (self.nx - 0.5) * self.dx)

    @property
    def ymin(self) -> float:
        return min(self.y0 - self.dy / 2.0, self.y0 + (self.ny - 0.5) * self.dy)

    @property
    def ymax(self) -> float:
        return max(self.y0 - self.dy / 2.0, self.y0 + (self.ny - 0.5) * self.dy)

    # -- orientation --
    @property
    def is_normalized(self) -> bool:
        return self.dx > 0 and self.dy > 0

    def flipped(self) -> "GridSpec":
        """The positive-step twin covering the identical cell centers:
        axes with negative step are reversed (``ix' = nx-1-ix``)."""
        x0 = self.x0 + (self.nx - 1) * self.dx if self.dx < 0 else self.x0
        y0 = self.y0 + (self.ny - 1) * self.dy if self.dy < 0 else self.y0
        return GridSpec(x0, y0, abs(self.dx), abs(self.dy), self.nx, self.ny, self.crs)


def normalize_raster(raster, grid: GridSpec):
    """(raster', grid'): reorder an any-orientation raster to positive steps
    — the engine's `_prepare_for_burning` (reference
    `src/methods/burning/array_init.jl:54-85`). Index flips are exact
    integer column math (no shuffle, no float re-derivation); cell centers
    and values are unchanged, only the (ix, iy) frame is re-labeled. Apply
    before operators that require ascending axes (subpixel coverage,
    resample source grids); the geometry-burn join path accepts signed
    steps directly."""
    if grid.is_normalized:
        return raster, grid
    out = raster
    if grid.dx < 0:
        out = out.withColumn("ix", (F.lit(grid.nx - 1) - F.col("ix")).cast("int"))
    if grid.dy < 0:
        out = out.withColumn("iy", (F.lit(grid.ny - 1) - F.col("iy")).cast("int"))
    return out, grid.flipped()


# --------------------------------------------------------------------------
# Global web grid (H3/S2 role)
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class WebGrid:
    """Global hierarchical lat/lon quad grid.

    Resolution ``r`` divides lon [-180, 180) into ``2^(r+1)`` columns and
    lat [-90, 90) into ``2^r`` rows (square cells of ``180/2^r`` degrees).
    Cell id at resolution r = ``iy * nx + ix`` (int64). Parent at r-1 is
    ``(iy>>1) * (nx>>1) + (ix>>1)`` — the hierarchical-prefix property that
    makes coarse-cell cover joins cheap.

    Everything is integer math on ``floor()`` of scaled coordinates, so the
    DuckDB oracle can reproduce ids bit-for-bit.
    """

    res: int

    @property
    def nx(self) -> int:
        return 2 << self.res  # 2 * 2^res

    @property
    def ny(self) -> int:
        return 1 << self.res

    @property
    def step(self) -> float:
        return 180.0 / (1 << self.res)

    # -- assignment (clamped: points past the globe border fall in the
    #    border cells) --
    def ix_sql(self, lon: str) -> str:
        c = f"CAST(FLOOR(({lon} + {dbl_sql(180.0)}) / {dbl_sql(self.step)}) AS BIGINT)"
        return f"LEAST(GREATEST({c}, 0), {self.nx - 1})"

    def iy_sql(self, lat: str) -> str:
        c = f"CAST(FLOOR(({lat} + {dbl_sql(90.0)}) / {dbl_sql(self.step)}) AS BIGINT)"
        return f"LEAST(GREATEST({c}, 0), {self.ny - 1})"

    def cell_sql(self, lon: str, lat: str) -> str:
        return f"({self.iy_sql(lat)} * {self.nx} + {self.ix_sql(lon)})"

    def cell_col(self, lon: str | Column, lat: str | Column) -> Column:
        return F.expr(self.cell_sql(ref_sql(lon), ref_sql(lat)))

    # -- hierarchy --
    def parent_cell_sql(self, cell: str, parent_res: int) -> str:
        """Parent id at a coarser resolution: iy is ``cell >> (res+1)`` and
        ix ``cell & (nx-1)`` (cells are never negative), each shifted right
        by the resolution difference."""
        shift = self.res - parent_res
        assert shift >= 0
        iy, ix = f"({cell} >> {self.res + 1})", f"({cell} & {self.nx - 1})"
        return f"(({iy} >> {shift}) * {2 << parent_res} + ({ix} >> {shift}))"

    def parent_cell_col(self, cell: str | Column, parent_res: int) -> Column:
        return F.expr(self.parent_cell_sql(ref_sql(cell), parent_res))

    # -- geometry of a cell --
    def cell_bounds(self, ix: int, iy: int) -> tuple[float, float, float, float]:
        """(lon_min, lon_max, lat_min, lat_max) of a cell."""
        s = self.step
        return (-180.0 + ix * s, -180.0 + (ix + 1) * s, -90.0 + iy * s, -90.0 + (iy + 1) * s)

    # -- ring neighbours (kNN expansion; planar, no wrap — documented
    #    engine semantics so the brute-force oracle agrees exactly) --
    def ring_cells_sql(self, cell: str, radius: str) -> str:
        """Array of all cell ids within Chebyshev distance ``radius``.

        Explode-free higher-order functions: filter of the flatten of a 2-d
        transform over sequences. Higher-order functions are
        ``CodegenFallback``, so this expression is evaluated interpreted.
        """
        ix, iy = f"({cell} % {self.nx})", f"CAST({cell} / {self.nx} AS BIGINT)"
        x, y = f"({ix} + dx)", f"({iy} + dy)"
        ok = f"((({y} >= 0 AND {y} < {self.ny}) AND {x} >= 0) AND {x} < {self.nx})"
        span = f"sequence(-({radius}), {radius})"
        return (
            f"filter(flatten(transform({span}, dy -> transform({span}, dx ->"
            f" CASE WHEN {ok} THEN {y} * {self.nx} + {x} END))), c -> c IS NOT NULL)"
        )


# Engine-wide default resolutions.
PAGES_RES = 7  # fine indexing cells for pages (step 1.40625°; tune per density)
TILE_RES = 4  # tile partition key resolution (512 tiles globally)
COVER_RES = 5  # coarse polygon-cover resolution for the cell-prefix hash join
