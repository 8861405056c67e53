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

GridSpec's coordinate math is written once, as SQL text (``*_sql``): Spark
evaluates it through ``F.expr`` and the DuckDB oracle runs it verbatim, so
the two engines share one formula and cannot drift apart. A slip in it is
the same in both, so `tests/test_grid.py` checks it against hand and NumPy
values, not the oracle. Literals are written with ``repr``, which both
dialects parse as DECIMAL and coerce to DOUBLE where they meet a DOUBLE
operand (exactly in Spark). A literal-only subexpression would be folded
in decimal arithmetic instead: write such operands as ``CAST(v AS DOUBLE)``.
The polygon predicates are one text each too (`functions/geometry.py`:
``crossing_sql``, ``seg_rect_sql``, ``boundary_sql``), with their literals
in exact DOUBLE form (``dbl_sql``).

WebGrid keeps the last Column twins, two texts, ``*_col`` Columns for
Spark and ``*_sql`` for the oracle: ``bench.py`` and ``perfbench/`` import its Columns, and where the
dialects differ the texts must too (``parent_cell_sql`` uses DuckDB's
``//``; :meth:`WebGrid.ring_cells_col` has no twin;
`sources/pages.py::lat_col` pre-reduces the hash that ``LAT_SQL`` spells
directly). There it is the oracle compare that keeps the two equal, not
their construction.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


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
        return f"({self.x0!r} + CAST({ix} AS DOUBLE) * {self.dx!r})"

    def y_sql(self, iy: str) -> str:
        return f"({self.y0!r} + CAST({iy} AS DOUBLE) * {self.dy!r})"

    # -- point → owning cell (Contains on Intervals(Center)):
    #    half-open [center-d/2, center+d/2) — the reference's
    #    `_at_or_contains` semantics (src/methods/burning/point.jl:47-50)
    def ix_of_x_sql(self, x: str) -> str:
        return f"CAST(FLOOR(({x} - {self.x0 - self.dx / 2.0!r}) / {self.dx!r}) AS INT)"

    def iy_of_y_sql(self, y: str) -> str:
        return f"CAST(FLOOR(({y} - {self.y0 - self.dy / 2.0!r}) / {self.dy!r}) AS INT)"

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

    # -- assignment --
    def ix_col(self, lon: Column) -> Column:
        c = F.floor((lon + F.lit(180.0)) / F.lit(self.step)).cast("long")
        return F.least(F.greatest(c, F.lit(0)), F.lit(self.nx - 1))

    def iy_col(self, lat: Column) -> Column:
        c = F.floor((lat + F.lit(90.0)) / F.lit(self.step)).cast("long")
        return F.least(F.greatest(c, F.lit(0)), F.lit(self.ny - 1))

    def cell_col(self, lon: Column, lat: Column) -> Column:
        return self.iy_col(lat) * F.lit(self.nx) + self.ix_col(lon)

    def ix_sql(self, lon: str) -> str:
        c = f"CAST(FLOOR(({lon} + 180.0) / {self.step!r}) AS BIGINT)"
        return f"LEAST(GREATEST({c}, 0), {self.nx - 1})"

    def iy_sql(self, lat: str) -> str:
        c = f"CAST(FLOOR(({lat} + 90.0) / {self.step!r}) AS BIGINT)"
        return f"LEAST(GREATEST({c}, 0), {self.ny - 1})"

    def cell_sql(self, lon: str, lat: str) -> str:
        return f"({self.iy_sql(lat)} * {self.nx} + {self.ix_sql(lon)})"

    # -- hierarchy --
    def parent_cell_col(self, cell: Column, parent_res: int) -> Column:
        """Parent id at a coarser resolution, by integer div of ix/iy."""
        shift = self.res - parent_res
        assert shift >= 0
        ix = cell % F.lit(self.nx)
        iy = (cell / F.lit(self.nx)).cast("long")
        pnx = 2 << parent_res
        return F.shiftright(iy, shift) * F.lit(pnx) + F.shiftright(ix, shift)

    def parent_cell_sql(self, cell: str, parent_res: int) -> str:
        shift = self.res - parent_res
        pnx = 2 << parent_res
        return (
            f"((({cell}) // {self.nx}) // {1 << shift} * {pnx}"
            f" + (({cell}) % {self.nx}) // {1 << shift})"
        )

    # -- geometry of a cell --
    def cell_bounds(self, ix: int, iy: int) -> tuple[float, float, float, float]:
        """(lon_min, lon_max, lat_min, lat_max) of a cell."""
        s = self.step
        return (-180.0 + ix * s, -180.0 + (ix + 1) * s, -90.0 + iy * s, -90.0 + (iy + 1) * s)

    # -- ring neighbours (kNN expansion; planar, no wrap — documented
    #    engine semantics so the brute-force oracle agrees exactly) --
    def ring_cells_col(self, cell: Column, radius: Column) -> Column:
        """Array of all cell ids within Chebyshev distance ``radius``.

        Built with explode-free higher-order functions: flatten of a 2-d
        transform over sequences. Higher-order functions are
        ``CodegenFallback``, so this expression is evaluated interpreted.
        """
        ix = cell % F.lit(self.nx)
        iy = (cell / F.lit(self.nx)).cast("long")
        dxs = F.sequence(-radius, radius)
        dys = F.sequence(-radius, radius)
        nxl = F.lit(self.nx)
        nyl = F.lit(self.ny)
        arr = F.flatten(
            F.transform(
                dys,
                lambda dy: F.transform(
                    dxs,
                    lambda dx: F.when(
                        ((iy + dy) >= 0) & ((iy + dy) < nyl) & ((ix + dx) >= 0) & ((ix + dx) < nxl),
                        (iy + dy) * nxl + (ix + dx),
                    ),
                ),
            )
        )
        return F.filter(arr, lambda c: c.isNotNull())


# Engine-wide default resolutions.
PAGES_RES = 7  # fine indexing cells for pages (step 1.40625°; tune per density)
TILE_RES = 4  # tile partition key resolution (512 tiles globally)
COVER_RES = 5  # coarse polygon-cover resolution for the cell-prefix hash join
