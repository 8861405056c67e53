"""Geometry kernels: polygons as broadcastable edge tables, PIP, cell cover.

The reference "burns" geometries onto grids with a scanline rasterizer
(`src/methods/burning/polygon.jl:12-134`, edges `src/methods/burning/edges.jl`).
The Spark-native re-expression keeps geometries as a *tiny broadcast side*:

    polygons(geom_id, xmin, xmax, ymin, ymax,
             edges: array<struct<x1,y1,x2,y2:double>>,
             verts: array<struct<x,y:double>>)

and evaluates point-in-polygon with **JVM higher-order functions** over the
edge array (``size(filter(edges, crossing_pred)) % 2``) — an even-odd ray
cast identical to `_burn_crossings!` (`src/methods/burning/polygon.jl:97-134`)
but running inside whole-stage codegen with zero Python and zero extra
shuffle.

Boundary conventions (engine-defined, matching the reference's golden counts
19²/20²/21² in `test/methods.jl:254-259`):
- ``center``: ray-cast even-odd; points on the left/bottom boundary are
  inside, right/top outside (half-open), which reproduces the 20² count.
- ``touches``: closed cell rectangle intersects the closed polygon → 21².
- ``inside``: cell rectangle fully inside the polygon → 19².

Page joins use a classified cell cover (:func:`polygon_cover_df`, after
Raptor): each cell of a polygon's bbox cover at ``COVER_RES`` is, on the
driver, *exterior* (no edge touches the cell padded by ``_CELL_PAD`` and
its centre is outside: dropped), *interior* (no edge touches it, centre
inside: joins with ``inside`` true and no edges, so no PIP) or *boundary*
(carries only the edges that can flip a point's parity in the cell). Cells
on the globe border stay boundary with every edge, because ``cell_col``
clamps out-of-range points into them. Pages refine with
``inside OR pip_col(lon, lat, edges)``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from rasters_jl_spark.grid import COVER_RES, WebGrid


@dataclass(frozen=True)
class Polygon:
    """Polygon with an outer ring and optional interior rings (holes) —
    the reference accepts any GeoInterface polygon including holes; the
    even-odd ray cast over the COMBINED edge set classifies hole interiors
    as outside with no extra logic (crossing a hole edge flips parity)."""

    geom_id: int
    ring: tuple[tuple[float, float], ...]
    holes: tuple[tuple[tuple[float, float], ...], ...] = ()

    @staticmethod
    def _close(r) -> tuple[tuple[float, float], ...]:
        r = tuple(r)
        return r if r[0] == r[-1] else r + (r[0],)

    @property
    def closed_ring(self) -> tuple[tuple[float, float], ...]:
        return self._close(self.ring)

    @property
    def edges(self) -> list[tuple[float, float, float, float]]:
        out = []
        for ring in (self.ring, *self.holes):
            r = self._close(ring)
            out.extend(
                (r[i][0], r[i][1], r[i + 1][0], r[i + 1][1]) for i in range(len(r) - 1)
            )
        return out

    @property
    def all_verts(self) -> list[tuple[float, float]]:
        out = list(self.ring)
        for h in self.holes:
            out.extend(h)
        return out

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        # spans ALL rings: a genuine hole nests inside the outer ring (no
        # change), while a disjoint component ring extends the extent so
        # bbox prefilters never clip it
        xs = [p[0] for p in self.all_verts]
        ys = [p[1] for p in self.all_verts]
        return (min(xs), max(xs), min(ys), max(ys))


_EDGE_T = StructType(
    [
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("x2", DoubleType()),
        StructField("y2", DoubleType()),
    ]
)
_VERT_T = StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])

POLY_SCHEMA = StructType(
    [
        StructField("geom_id", LongType(), False),
        StructField("xmin", DoubleType(), False),
        StructField("xmax", DoubleType(), False),
        StructField("ymin", DoubleType(), False),
        StructField("ymax", DoubleType(), False),
        StructField("edges", ArrayType(_EDGE_T), False),
        StructField("verts", ArrayType(_VERT_T), False),
    ]
)


def _local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Tiny metadata-table constructor: ONE partition instead of the
    default-parallelism slices ``createDataFrame(list)`` produces.

    These geometry/cover tables are broadcast sides; building the
    broadcast from a 32-slice parallelized RDD costs a 32-task job per
    broadcast per query run for a handful of rows. One slice = one task."""
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def polygons_df(spark: SparkSession, polys: list[Polygon]) -> DataFrame:
    """Broadcastable polygon table with precomputed edge arrays + bbox."""
    rows = []
    for p in polys:
        xmin, xmax, ymin, ymax = p.bbox
        rows.append(
            (
                p.geom_id,
                float(xmin),
                float(xmax),
                float(ymin),
                float(ymax),
                [(float(a), float(b), float(c), float(d)) for a, b, c, d in p.edges],
                [(float(x), float(y)) for x, y in p.all_verts],
            )
        )
    return _local_df(spark, rows, POLY_SCHEMA)


# Pad of the cover-cell classification, in degrees. A page clamped into an
# inner cover cell by WebGrid.cell_col lies within a few ulps of 360 of the
# cell, and pip_col's x_at_y is off by a few ulps: an edge that misses the
# cell padded by 1e-9 can never flip the parity of a page in it.
_CELL_PAD = 1e-9


def polygon_cover_df(
    spark: SparkSession, polys: list[Polygon], cover_res: int = COVER_RES
) -> DataFrame:
    """Classified (cover_cell, geom_id, inside, edges) table for the
    cell-prefix join; the cell classes are in the module docstring.

    The cover is the bbox cover at ``cover_res`` — the Spark analogue of the
    reference's per-geometry extent pre-filter
    (`src/methods/burning/geometry.jl:96-104`): candidates are produced by an
    equi hash join on ``cover_cell`` instead of a scanline over a view. A
    boundary row keeps the edges whose y-span meets the padded cell's
    y-range and whose max x ≥ its xmin: no other edge can satisfy
    :func:`pip_col`'s crossing predicate for a point in the cell, so the
    parity is the full edge array's, bit for bit.
    """
    g = WebGrid(cover_res)
    rows = [
        (cell, p.geom_id, inside, edges)
        for p in polys
        for cell, inside, edges in _classify_cover(p, g)
    ]
    schema = StructType(
        [
            StructField("cover_cell", LongType(), False),
            StructField("geom_id", LongType(), False),
            StructField("inside", BooleanType(), False),
            StructField("edges", ArrayType(_EDGE_T), False),
        ]
    )
    return _local_df(spark, rows, schema)


def _cover_cells(p: Polygon, g) -> tuple[int, int, int, int]:
    """(ix0, ix1, iy0, iy1) clamped cover-cell index range of a bbox."""
    xmin, xmax, ymin, ymax = p.bbox
    ix0 = int(np.clip(np.floor((xmin + 180.0) / g.step), 0, g.nx - 1))
    ix1 = int(np.clip(np.floor((xmax + 180.0) / g.step), 0, g.nx - 1))
    iy0 = int(np.clip(np.floor((ymin + 90.0) / g.step), 0, g.ny - 1))
    iy1 = int(np.clip(np.floor((ymax + 90.0) / g.step), 0, g.ny - 1))
    return ix0, ix1, iy0, iy1


def _classify_cover(p: Polygon, g: WebGrid):
    """(cover_cell, inside, edges) of the interior and boundary cells of one
    polygon's bbox cover (see :func:`polygon_cover_df`), vectorised over
    cells × edges."""
    ix0, ix1, iy0, iy1 = _cover_cells(p, g)
    iy, ix = np.divmod(np.arange((iy1 - iy0 + 1) * (ix1 - ix0 + 1)), ix1 - ix0 + 1)
    ix, iy = ix + ix0, iy + iy0
    rx0 = (-180.0 + ix * g.step - _CELL_PAD)[:, None]
    rx1 = (-180.0 + (ix + 1) * g.step + _CELL_PAD)[:, None]
    ry0 = (-90.0 + iy * g.step - _CELL_PAD)[:, None]
    ry1 = (-90.0 + (iy + 1) * g.step + _CELL_PAD)[:, None]
    edges = [tuple(map(float, e)) for e in p.edges]
    x1, y1, x2, y2 = np.asarray(edges, dtype=np.float64).reshape(-1, 4).T
    y_meets = (np.minimum(y1, y2) <= ry1) & (np.maximum(y1, y2) >= ry0)
    can_cross = y_meets & (np.maximum(x1, x2) >= rx0)

    def side(cx, cy):
        return (x2 - x1) * (cy - y1) - (y2 - y1) * (cx - x1)

    # closed segment ∩ closed rect, the test of _seg_intersects_rect: bbox
    # overlap and the 4 corners not all strictly on one side of the line
    s = np.stack([side(rx0, ry0), side(rx1, ry0), side(rx0, ry1), side(rx1, ry1)])
    touches = can_cross & (np.minimum(x1, x2) <= rx1) & ~(s > 0).all(0) & ~(s < 0).all(0)
    # pip_col's arithmetic at the cell centres
    mx = (-180.0 + (ix + 0.5) * g.step)[:, None]
    my = (-90.0 + (iy + 0.5) * g.step)[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        cross = ((y1 > my) != (y2 > my)) & (mx < x1 + (x2 - x1) * (my - y1) / (y2 - y1))
    centre_in = cross.sum(1) % 2 == 1
    border = (ix == 0) | (ix == g.nx - 1) | (iy == 0) | (iy == g.ny - 1)
    for k in range(len(ix)):
        cell = int(iy[k]) * g.nx + int(ix[k])
        if border[k]:
            yield cell, False, edges
        elif touches[k].any():
            yield cell, False, [edges[j] for j in np.flatnonzero(can_cross[k])]
        elif centre_in[k]:
            yield cell, True, []


def polygon_block_cover_df(
    spark: SparkSession,
    polys: list[Polygon],
    grid,
    block: int = 16,
    pad_cells: int = 0,
) -> DataFrame:
    """(_bx, _by, geom_id): coarse raster-block cover of each polygon bbox.

    The geometry half of the SINGLE-SCAN cover join over a finite raster
    grid (the GridSpec analogue of :func:`polygon_cover_df`): cells compute
    ``(ix // block, iy // block)`` and equi-join this broadcast table, so N
    polygons cost one raster scan + one hash join instead of N filtered
    subtrees (the reference's per-geometry extent pre-filter,
    `src/methods/burning/geometry.jl:96-104`, batched across geometries).

    ``pad_cells=1`` for boundary=:touches (cell rects extend half a cell
    past their centers). Indices are true floor divisions, so negative
    cells from ``extend()`` land in the correct negative blocks.

    Steps are SIGNED (north-up rasters have ``dy < 0``): dividing the bbox
    bounds by a negative step swaps which bound yields the low index, so
    the index range is min/max over both quotients — the sign-correct form
    of the reference's pre-burn axis reorder
    (`src/methods/burning/array_init.jl:54-85`).
    """
    import math

    rows = []
    for p in polys:
        xmin, xmax, ymin, ymax = p.bbox
        qx0, qx1 = (xmin - grid.x0) / grid.dx, (xmax - grid.x0) / grid.dx
        qy0, qy1 = (ymin - grid.y0) / grid.dy, (ymax - grid.y0) / grid.dy
        ix0 = math.ceil(min(qx0, qx1)) - pad_cells
        ix1 = math.floor(max(qx0, qx1)) + pad_cells
        iy0 = math.ceil(min(qy0, qy1)) - pad_cells
        iy1 = math.floor(max(qy0, qy1)) + pad_cells
        for bx in range(ix0 // block, ix1 // block + 1):
            for by in range(iy0 // block, iy1 // block + 1):
                rows.append((bx, by, p.geom_id))
    schema = StructType(
        [
            StructField("_bx", IntegerType(), False),
            StructField("_by", IntegerType(), False),
            StructField("geom_id", LongType(), False),
        ]
    )
    return _local_df(spark, rows, schema)


# --------------------------------------------------------------------------
# Point-in-polygon — JVM higher-order expression (the default hot path)
# --------------------------------------------------------------------------


def pip_col(x: Column, y: Column, edges: Column) -> Column:
    """Even-odd ray-cast: crossings of the ray (-inf, y) → (x, y).

    size(filter(edges, e -> (y1>y) != (y2>y) AND x < x_at_y(e))) % 2 == 1
    Pure Catalyst expression — whole-stage codegen, no Python, no shuffle.
    Identical formula in :func:`pip_sql` for the DuckDB oracle.
    """
    crossings = F.size(
        F.filter(
            edges,
            lambda e: ((e["y1"] > y) != (e["y2"] > y))
            & (x < e["x1"] + (e["x2"] - e["x1"]) * (y - e["y1"]) / (e["y2"] - e["y1"])),
        )
    )
    return crossings % 2 == 1


def pip_sql(x: str, y: str, edges_rel: str = "edges e", geom_match: str = "") -> str:
    """Correlated even-odd count over an ``edges(geom_id,x1,y1,x2,y2)``
    relation; same arithmetic as :func:`pip_col`."""
    where = f"(((e.y1 > {y}) <> (e.y2 > {y})) AND {x} < e.x1 + (e.x2 - e.x1) * ({y} - e.y1) / (e.y2 - e.y1))"
    if geom_match:
        where = f"{geom_match} AND {where}"
    return f"((SELECT COUNT(*) FROM {edges_rel} WHERE {where}) % 2 = 1)"


def edges_values_sql(polys: list[Polygon]) -> str:
    """``edges(geom_id,x1,y1,x2,y2) AS (VALUES ...)`` CTE body for DuckDB."""
    vals = []
    for p in polys:
        for x1, y1, x2, y2 in p.edges:
            vals.append(f"({p.geom_id}, {x1!r}, {y1!r}, {x2!r}, {y2!r})")
    return "SELECT * FROM (VALUES " + ", ".join(vals) + ") AS t(geom_id, x1, y1, x2, y2)"


def polys_values_sql(polys: list[Polygon]) -> str:
    """``polys(geom_id,xmin,xmax,ymin,ymax)`` CTE body for DuckDB."""
    vals = []
    for p in polys:
        xmin, xmax, ymin, ymax = p.bbox
        vals.append(f"({p.geom_id}, {xmin!r}, {xmax!r}, {ymin!r}, {ymax!r})")
    return (
        "SELECT * FROM (VALUES " + ", ".join(vals) + ") AS t(geom_id, xmin, xmax, ymin, ymax)"
    )


# --------------------------------------------------------------------------
# Exact polygon ∩ cell-rectangle area (Green's-theorem clamped integrals)
# --------------------------------------------------------------------------
# Area(P ∩ [X0,X1]×[Y0,Y1]) for a simple ring = Σ over directed edges of
#   −sign(x2−x1) · ∫_{a}^{b} clamp(m·x + c, Y0, Y1) dx,
#   a = max(X0, min(x1,x2)), b = min(X1, max(x1,x2)), m = slope, c = y-icept:
# the 1-D slice measure of a simple polygon at abscissa x is Σ −sgn·y_e(x),
# clamping each edge's y to the window clamps the slice to it (intervals are
# disjoint and clamp is monotone), and each clamped-line integral has the
# closed form (H(ub) − H(ua))/m with H(u) = cu²/2 + Y1·max(0,u−Y1) +
# Y0·min(0,u−Y0), cu = clamp(u, Y0, Y1). EDGE-INDEPENDENT — no
# Sutherland–Hodgman vertex-list recursion, so it unrolls to pure
# whole-stage-codegen column math (and symbolically to the DuckDB oracle,
# in the same operation order, so results are bit-identical). CW rings give
# the negated area — callers take |Σ| per ring; holes need opposite winding.


def clip_area_edge_col(exy, x0, x1, y0, y1) -> Column:
    """One directed edge's contribution (Columns). ``exy`` = (x1,y1,x2,y2)
    Columns or float literals; ``x0,x1,y0,y1`` the window bounds Columns."""
    ex1, ey1, ex2, ey2 = [v if isinstance(v, Column) else F.lit(float(v)) for v in exy]
    a = F.greatest(x0, F.least(ex1, ex2))
    b = F.least(x1, F.greatest(ex1, ex2))
    m = (ey2 - ey1) / (ex2 - ex1)
    c = ey1 - m * ex1

    def H(u):
        cu = F.greatest(y0, F.least(y1, u))
        return (
            cu * cu / F.lit(2.0)
            + y1 * F.greatest(F.lit(0.0), u - y1)
            + y0 * F.least(F.lit(0.0), u - y0)
        )

    flat = F.greatest(y0, F.least(y1, c)) * (b - a)
    integ = F.when(m == F.lit(0.0), flat).otherwise((H(m * b + c) - H(m * a + c)) / m)
    sgn = F.when(ex2 > ex1, F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.when((ex1 == ex2) | (b <= a), F.lit(0.0)).otherwise(sgn * integ)


def clip_area_edge_sql(exy, x0: str, x1: str, y0: str, y1: str) -> str:
    """IDENTICAL arithmetic as :func:`clip_area_edge_col`, as SQL text —
    ``exy`` is (x1,y1,x2,y2) as SQL fragments (column refs or reprs)."""
    ex1, ey1, ex2, ey2 = exy
    a = f"GREATEST({x0}, LEAST({ex1}, {ex2}))"
    b = f"LEAST({x1}, GREATEST({ex1}, {ex2}))"
    m = f"(({ey2} - {ey1}) / ({ex2} - {ex1}))"
    c = f"({ey1} - {m} * {ex1})"

    def H(u):
        cu = f"GREATEST({y0}, LEAST({y1}, {u}))"
        return (
            f"({cu} * {cu} / 2.0 + {y1} * GREATEST(0.0, {u} - {y1})"
            f" + {y0} * LEAST(0.0, {u} - {y0}))"
        )

    flat = f"(GREATEST({y0}, LEAST({y1}, {c})) * ({b} - {a}))"
    integ = (
        f"(CASE WHEN {m} = 0.0 THEN {flat}"
        f" ELSE ({H(f'({m} * {b} + {c})')} - {H(f'({m} * {a} + {c})')}) / {m} END)"
    )
    sgn = f"(CASE WHEN {ex2} > {ex1} THEN -1.0 ELSE 1.0 END)"
    return (
        f"(CASE WHEN {ex1} = {ex2} OR {b} <= {a} THEN 0.0"
        f" ELSE {sgn} * {integ} END)"
    )


# --------------------------------------------------------------------------
# Cell-rectangle vs polygon predicates (touches / inside boundary modes)
# --------------------------------------------------------------------------


def _seg_intersects_rect(e: Column, rx0, rx1, ry0, ry1) -> Column:
    """Closed segment ∩ closed axis-aligned rect ≠ ∅.

    Exact separating-axis test: bbox overlap AND (an endpoint inside OR the
    4 rect corners are not all strictly on one side of the segment's line).
    """
    x1, y1, x2, y2 = e["x1"], e["y1"], e["x2"], e["y2"]
    bbox_overlap = (
        (F.least(x1, x2) <= rx1)
        & (F.greatest(x1, x2) >= rx0)
        & (F.least(y1, y2) <= ry1)
        & (F.greatest(y1, y2) >= ry0)
    )
    p1_in = (x1 >= rx0) & (x1 <= rx1) & (y1 >= ry0) & (y1 <= ry1)
    p2_in = (x2 >= rx0) & (x2 <= rx1) & (y2 >= ry0) & (y2 <= ry1)

    def side(cx, cy):
        return (x2 - x1) * (cy - y1) - (y2 - y1) * (cx - x1)

    s1, s2, s3, s4 = side(rx0, ry0), side(rx1, ry0), side(rx0, ry1), side(rx1, ry1)
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    return bbox_overlap & (p1_in | p2_in | (~all_pos & ~all_neg))


def cell_touches_col(cx: Column, cy: Column, hdx: float, hdy: float, poly_row) -> Column:
    """boundary=:touches — closed cell rect [cx±hdx]×[cy±hdy] meets polygon.

    True iff the cell center is inside, OR a polygon vertex falls in the
    rect, OR a polygon edge intersects the rect. Reproduces the reference's
    21² golden (`test/methods.jl:258`).
    """
    rx0, rx1, ry0, ry1 = cx - hdx, cx + hdx, cy - hdy, cy + hdy
    center_in = pip_col(cx, cy, poly_row["edges"])
    vert_in = F.exists(
        poly_row["verts"],
        lambda v: (v["x"] >= rx0) & (v["x"] <= rx1) & (v["y"] >= ry0) & (v["y"] <= ry1),
    )
    edge_hits = F.exists(poly_row["edges"], lambda e: _seg_intersects_rect(e, rx0, rx1, ry0, ry1))
    return center_in | vert_in | edge_hits


def cell_inside_col(cx: Column, cy: Column, hdx: float, hdy: float, poly_row) -> Column:
    """boundary=:inside — cell rect fully inside the polygon (19² golden).

    All four corners pass the ray-cast AND no edge crosses the (slightly
    shrunk) rect. The half-open corner convention matches the reference's
    own open question on boundary values (`test/methods.jl:252-253`).
    """
    eps_x, eps_y = hdx * 1e-9, hdy * 1e-9
    rx0, rx1, ry0, ry1 = cx - hdx, cx + hdx, cy - hdy, cy + hdy
    edges = poly_row["edges"]
    corners_in = (
        pip_col(rx0, ry0, edges)
        & pip_col(rx1 - eps_x, ry0, edges)
        & pip_col(rx0, ry1 - eps_y, edges)
        & pip_col(rx1 - eps_x, ry1 - eps_y, edges)
    )
    edge_hits = F.exists(
        edges,
        lambda e: _seg_intersects_rect(e, rx0 + eps_x, rx1 - eps_x, ry0 + eps_y, ry1 - eps_y),
    )
    return corners_in & ~edge_hits


def boundary_pred(boundary: str, cx: Column, cy: Column, hdx: float, hdy: float, poly_row) -> Column:
    if boundary == "center":
        return pip_col(cx, cy, poly_row["edges"])
    if boundary == "touches":
        return cell_touches_col(cx, cy, hdx, hdy, poly_row)
    if boundary == "inside":
        return cell_inside_col(cx, cy, hdx, hdy, poly_row)
    raise ValueError(f"boundary must be center|touches|inside, got {boundary!r}")


# --------------------------------------------------------------------------
# Line → cells (DDA grid walk) — geometry-side pandas UDF (tiny data)
# --------------------------------------------------------------------------

_CELLS_T = ArrayType(
    StructType([StructField("ix", IntegerType()), StructField("iy", IntegerType())])
)


def line_cells(x1, y1, x2, y2, x0, y0, dx, dy, nx, ny):
    """All (ix, iy) cells a closed segment passes through — Amanatides–Woo
    grid traversal, the reference's line burn (`src/methods/burning/line.jl:
    94-199`). Runs on the *geometry* side only (thousands of segments), never
    per page. Cell (ix,iy) spans [x0+(ix-.5)dx, x0+(ix+.5)dx)."""
    # to grid units where cell ix spans [ix-0.5, ix+0.5)
    gx1, gy1 = (x1 - x0) / dx, (y1 - y0) / dy
    gx2, gy2 = (x2 - x0) / dx, (y2 - y0) / dy
    ix, iy = int(np.floor(gx1 + 0.5)), int(np.floor(gy1 + 0.5))
    ix_end, iy_end = int(np.floor(gx2 + 0.5)), int(np.floor(gy2 + 0.5))
    cells = []

    def push(i, j):
        if 0 <= i < nx and 0 <= j < ny:
            cells.append((i, j))

    push(ix, iy)
    ddx, ddy = gx2 - gx1, gy2 - gy1
    step_x = 1 if ddx > 0 else -1
    step_y = 1 if ddy > 0 else -1
    # parametric distance to the next vertical/horizontal cell boundary
    if ddx != 0:
        next_x = (ix + 0.5) if step_x > 0 else (ix - 0.5)
        t_max_x = (next_x - gx1) / ddx
        t_dx = abs(1.0 / ddx)
    else:
        t_max_x, t_dx = np.inf, np.inf
    if ddy != 0:
        next_y = (iy + 0.5) if step_y > 0 else (iy - 0.5)
        t_max_y = (next_y - gy1) / ddy
        t_dy = abs(1.0 / ddy)
    else:
        t_max_y, t_dy = np.inf, np.inf
    guard = 0
    while (ix, iy) != (ix_end, iy_end) and guard < 4 * (nx + ny):
        guard += 1
        if t_max_x < t_max_y:
            t_max_x += t_dx
            ix += step_x
        else:
            t_max_y += t_dy
            iy += step_y
        push(ix, iy)
    return cells


def line_cells_udf(x0: float, y0: float, dx: float, dy: float, nx: int, ny: int):
    """pandas UDF: (x1,y1,x2,y2) → array<struct<ix,iy>> of traversed cells."""

    @F.pandas_udf(_CELLS_T)
    def _walk(x1: pd.Series, y1: pd.Series, x2: pd.Series, y2: pd.Series) -> pd.Series:
        out = []
        for a, b, c, d in zip(x1, y1, x2, y2):
            out.append(line_cells(a, b, c, d, x0, y0, dx, dy, nx, ny))
        return pd.Series(out)

    return _walk
