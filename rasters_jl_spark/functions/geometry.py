"""Geometry kernels: polygons as broadcastable edge tables, PIP, cell cover.

The reference "burns" geometries onto grids with a scanline rasterizer
(`src/methods/burning/polygon.jl:12-134`, edges `src/methods/burning/edges.jl`).
The Spark-native re-expression keeps geometries as a *tiny broadcast side*,
built on the driver as a JVM local relation
(:func:`rasters_jl_spark.session.local_df`):

    polygons(geom_id, xmin, xmax, ymin, ymax,
             edges: array<struct<x1,y1,x2,y2:double>>)

and evaluates point-in-polygon with **JVM higher-order functions** over the
edge array (``size(filter(edges, crossing_pred)) % 2``) — an even-odd ray
cast identical to `_burn_crossings!` (`src/methods/burning/polygon.jl:97-134`)
with zero Python and zero extra shuffle. ``filter``/``exists``/``aggregate``
are interpreted (``CodegenFallback``) inside the otherwise generated stage,
so their cost grows with the edges each row carries.

Each polygon predicate is one SQL text: the per-edge even-odd term
(:func:`crossing_sql`), the segment–rectangle touch (:func:`seg_rect_sql`)
and the cell tests built from them (:func:`boundary_sql`). Spark runs the
text through ``F.expr``; the DuckDB oracles run the same per-edge texts.
Only the wrappers differ: Spark applies them with higher-order functions
over a row's edge array (``filter``, ``exists``), the oracles with a join
or a correlated subquery over the ``gedges`` relation
(:func:`edges_values_sql`). A slip in a shared text is the same in both,
so `tests/test_zonal.py` checks the texts against exact rational
arithmetic, not the oracle.

Boundary conventions (engine-defined, matching the reference's golden counts
19²/20²/21² in `test/methods.jl:254-259`):
- ``center``: ray-cast even-odd; points on the left/bottom boundary are
  inside, right/top outside (half-open), which reproduces the 20² count.
- ``touches``: closed cell rectangle intersects the closed polygon → 21².
- ``inside``: cell rectangle fully inside the polygon → 19².

Both grids join a classified cover (after Raptor): :func:`_classify` sorts
each (rectangle, polygon) pair on the driver into *exterior* (no edge
touches the padded rectangle, centre outside), *interior* (no edge touches
it, centre inside: ``inside`` true and no edges, so no per-row test) or
*boundary* (carries only the edges a test inside the rectangle can use).
Pages join :func:`polygon_cover_df`, whose rectangles are ``COVER_RES``
cells; exterior cells are dropped, and cells on the globe border stay
boundary with every edge, because ``cell_col`` clamps out-of-range points
into them. Pages refine with ``inside OR pip_col("lon", "lat", "edges")``. Raster
cells join :func:`raster_cover_df`, whose rectangles are blocks of
``GridSpec`` cells: one row per block, holding a struct for each polygon
whose bbox reaches it (exterior ones too, so the candidate rows are the
blocks of each polygon's bbox). The driver classifies a polygon one block
row at a time over the edges of that row's y-band.
"""

from __future__ import annotations

import itertools
import math
from dataclasses import dataclass

import numpy as np
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

from rasters_jl_spark.grid import COVER_RES, GridSpec, WebGrid, dbl_sql
from rasters_jl_spark.session import local_df


@dataclass(frozen=True)
class Polygon:
    """Polygon with an outer ring and optional interior rings (holes) —
    the reference accepts any GeoInterface polygon including holes; the
    even-odd ray cast over the COMBINED edge set classifies hole interiors
    as outside with no extra logic (crossing a hole edge flips parity)."""

    geom_id: int
    ring: tuple[tuple[float, float], ...]
    holes: tuple[tuple[tuple[float, float], ...], ...] = ()

    def __post_init__(self):
        # every point of a ring of >= 2 points is an edge endpoint, so the
        # edge tests also see the vertices; a shorter ring has no edge
        if any(len(r) < 2 for r in (self.ring, *self.holes)):
            raise ValueError(f"polygon {self.geom_id}: every ring needs >= 2 points")

    @staticmethod
    def _close(r) -> tuple[tuple[float, float], ...]:
        r = tuple(r)
        return r if r[0] == r[-1] else r + (r[0],)

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
    def bbox(self) -> tuple[float, float, float, float]:
        # spans ALL rings: a genuine hole nests inside the outer ring (no
        # change), while a disjoint component ring extends the extent so
        # bbox prefilters never clip it
        xs, ys = zip(*(q for r in (self.ring, *self.holes) for q in r))
        return (min(xs), max(xs), min(ys), max(ys))


_EDGE_T = StructType(
    [
        StructField("x1", DoubleType()),
        StructField("y1", DoubleType()),
        StructField("x2", DoubleType()),
        StructField("y2", DoubleType()),
    ]
)

POLY_SCHEMA = StructType(
    [
        StructField("geom_id", LongType(), False),
        StructField("xmin", DoubleType(), False),
        StructField("xmax", DoubleType(), False),
        StructField("ymin", DoubleType(), False),
        StructField("ymax", DoubleType(), False),
        StructField("edges", ArrayType(_EDGE_T), False),
    ]
)


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
            )
        )
    return local_df(spark, rows, POLY_SCHEMA)


# Pad of the cover-cell classification, in degrees. A page clamped into an
# inner cover cell by WebGrid.cell_col lies within a few ulps of 360 of the
# cell, and pip_col's x_at_y is off by a few ulps: an edge that misses the
# cell padded by 1e-9 can never flip the parity of a page in it.
_CELL_PAD = 1e-9


def polygon_cover_df(spark: SparkSession, polys: list[Polygon]) -> DataFrame:
    """Classified (cover_cell, geom_id, inside, edges) table for the
    cell-prefix join; the cell classes are in the module docstring.

    The cover is the bbox cover at ``COVER_RES`` — the Spark analogue of the
    reference's per-geometry extent pre-filter
    (`src/methods/burning/geometry.jl:96-104`): candidates are produced by an
    equi hash join on ``cover_cell`` instead of a scanline over a view. A
    boundary row keeps the edges whose y-span meets the padded cell's
    y-range and whose max x ≥ its xmin: no other edge can satisfy
    :func:`pip_col`'s crossing predicate for a point in the cell, so the
    parity is the full edge array's, bit for bit.
    """
    g = WebGrid(COVER_RES)
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
    return local_df(spark, rows, schema)


def _classify_cover(p: Polygon, g: WebGrid):
    """(cover_cell, inside, edges) of the interior and boundary cells of one
    polygon's bbox cover (see :func:`polygon_cover_df`)."""
    xmin, xmax, ymin, ymax = p.bbox
    ix0, ix1 = (int(np.clip(np.floor((v + 180.0) / g.step), 0, g.nx - 1)) for v in (xmin, xmax))
    iy0, iy1 = (int(np.clip(np.floor((v + 90.0) / g.step), 0, g.ny - 1)) for v in (ymin, ymax))
    iy, ix = np.divmod(np.arange((iy1 - iy0 + 1) * (ix1 - ix0 + 1)), ix1 - ix0 + 1)
    ix, iy = ix + ix0, iy + iy0
    edges = [tuple(map(float, e)) for e in p.edges]
    touches, can_cross, centre_in = _classify(
        -180.0 + ix * g.step - _CELL_PAD,
        -180.0 + (ix + 1) * g.step + _CELL_PAD,
        -90.0 + iy * g.step - _CELL_PAD,
        -90.0 + (iy + 1) * g.step + _CELL_PAD,
        -180.0 + (ix + 0.5) * g.step,
        -90.0 + (iy + 0.5) * g.step,
        edges,
    )
    border = (ix == 0) | (ix == g.nx - 1) | (iy == 0) | (iy == g.ny - 1)
    for k in range(len(ix)):
        cell = int(iy[k]) * g.nx + int(ix[k])
        if border[k]:
            yield cell, False, edges
        elif touches[k]:
            yield cell, False, [edges[j] for j in np.flatnonzero(can_cross[k])]
        elif centre_in[k]:
            yield cell, True, []


def _classify(rx0, rx1, ry0, ry1, mx, my, edges):
    """Classify R padded rectangles ``rx0..ry1`` (arrays, or scalars shared
    by all R) against one polygon's E ``edges``, vectorised over rectangles
    × edges. Returns ``touches`` (R,): some closed edge meets the closed
    rectangle (the test of :func:`seg_rect_sql`); ``can_cross``
    (R, E): y-span meets and max x ≥ ``rx0`` — no other edge satisfies
    :func:`pip_col`'s crossing predicate in the rectangle; ``centre_in``
    (R,): :func:`pip_col`'s arithmetic at ``(mx, my)``. An edge whose
    y-span misses a rectangle is in none of the three, so callers may pass
    only the edges of its y-band.
    """
    rx0, rx1, ry0, ry1, mx, my = (
        a[:, None]
        for a in np.broadcast_arrays(
            *(np.asarray(v, dtype=np.float64) for v in (rx0, rx1, ry0, ry1, mx, my))
        )
    )
    x1, y1, x2, y2 = np.asarray(edges, dtype=np.float64).reshape(-1, 4).T
    y_meets = (np.minimum(y1, y2) <= ry1) & (np.maximum(y1, y2) >= ry0)
    x_meets = (np.minimum(x1, x2) <= rx1) & (np.maximum(x1, x2) >= rx0)
    can_cross = y_meets & (np.maximum(x1, x2) >= rx0)

    def side(cx, cy):
        return (x2 - x1) * (cy - y1) - (y2 - y1) * (cx - x1)

    s = np.stack([side(rx0, ry0), side(rx1, ry0), side(rx0, ry1), side(rx1, ry1)])
    touches = (y_meets & x_meets & ~(s > 0).all(0) & ~(s < 0).all(0)).any(1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cross = ((y1 > my) != (y2 > my)) & (mx < x1 + (x2 - x1) * (my - y1) / (y2 - y1))
    return touches, can_cross, cross.sum(1) % 2 == 1


GEOM_BLOCK = 16  # raster cells per cover-block edge of the raster cover

# most (block, edge) pairs one _classify call sees: its temporaries stay
# ~10 MB however many blocks a polygon's bbox spans and edges it has
_CLASSIFY_PAIRS = 1 << 18


def with_blocks(raster: DataFrame) -> DataFrame:
    """``raster`` plus the cover block ``(_bx, _by)`` of each cell: true
    floor divisions, so negative cells from ``extend()`` land in negative
    blocks."""
    return raster.withColumn("_bx", F.floor(F.col("ix") / GEOM_BLOCK).cast("int")).withColumn(
        "_by", F.floor(F.col("iy") / GEOM_BLOCK).cast("int")
    )


def _raster_cover_rows(polys: list[Polygon], grid, boundary: str) -> list[tuple]:
    """(_bx, _by, geom_id, xmin, xmax, ymin, ymax, inside, edges) rows of the
    classified raster block cover; see :func:`raster_cover_df`.

    Classified one block row at a time over the edges of its y-band, in
    chunks of at most ``_CLASSIFY_PAIRS`` (block, edge) pairs; a boundary
    block adds the edges of its x-band (column) afterwards."""
    pad_cells = 1 if boundary == "touches" else 0

    def blocks(lo, hi, c0, step):
        """Block indices whose cells hold a centre of [lo, hi] (grown by
        ``pad_cells``), and each block's coordinate range."""
        q0, q1 = (lo - c0) / step, (hi - c0) / step
        i0 = math.ceil(min(q0, q1)) - pad_cells
        i1 = math.floor(max(q0, q1)) + pad_cells
        b = np.arange(i0 // GEOM_BLOCK, i1 // GEOM_BLOCK + 1)
        e = c0 + (np.stack([b, b + 1]) * GEOM_BLOCK - 0.5) * step
        return b, e.min(0), e.max(0)

    rows = []
    for p in polys:
        bbox = tuple(map(float, p.bbox))
        bx, rx0, rx1 = blocks(bbox[0], bbox[1], grid.x0, grid.dx)
        by, ry0, ry1 = blocks(bbox[2], bbox[3], grid.y0, grid.dy)
        # relative pad: far beyond the few ulps by which x_sql, pip_col and
        # these bounds round at the coordinates' magnitude
        big = max(np.abs(np.concatenate([rx0, rx1, ry0, ry1])).max(initial=1.0), *map(abs, bbox))
        pad = _CELL_PAD * big
        rx0, rx1, ry0, ry1 = rx0 - pad, rx1 + pad, ry0 - pad, ry1 + pad
        edges = [tuple(map(float, e)) for e in p.edges]
        ea = np.asarray(edges, dtype=np.float64)
        xlo, xhi = np.minimum(ea[:, 0], ea[:, 2]), np.maximum(ea[:, 0], ea[:, 2])
        ylo, yhi = np.minimum(ea[:, 1], ea[:, 3]), np.maximum(ea[:, 1], ea[:, 3])
        inside = np.zeros((len(bx), len(by)), dtype=bool)
        kept = [[]] * inside.size  # a boundary block's edges, at i * len(by) + j
        col_edges = {}
        for j in range(len(by)):
            band = np.flatnonzero((ylo <= ry1[j]) & (yhi >= ry0[j]))
            step = max(1, _CLASSIFY_PAIRS // max(len(band), 1))
            for c in range(0, len(bx), step):
                sl = slice(c, c + step)
                touches, can_cross, centre_in = _classify(
                    rx0[sl], rx1[sl], ry0[j], ry1[j], (rx0[sl] + rx1[sl]) / 2, (ry0[j] + ry1[j]) / 2, ea[band]
                )
                inside[sl, j] = centre_in & ~touches
                for k in np.flatnonzero(touches):
                    i = c + k
                    if i not in col_edges:
                        col_edges[i] = np.flatnonzero((xlo <= rx1[i]) & (xhi >= rx0[i]))
                    # x-band edges keep the clipped-area fold exact: any other
                    # edge has b <= a in clip_area_edge_sql and adds 0.0
                    keep = np.union1d(band[can_cross[k]], col_edges[i])
                    kept[i * len(by) + j] = [edges[q] for q in keep]
        const = [itertools.repeat(v) for v in (p.geom_id, *bbox)]
        bxs, bys = np.repeat(bx, len(by)).tolist(), np.tile(by, len(bx)).tolist()
        rows.extend(zip(bxs, bys, *const, inside.ravel().tolist(), kept))
    return rows


def raster_cover_df(spark: SparkSession, polys: list[Polygon], grid, boundary: str) -> DataFrame:
    """Classified block cover of a finite raster grid, one row per block:
    (_bx, _by, geoms: array<struct<geom_id, xmin, xmax, ymin, ymax, inside,
    edges>>). Cells equi-join it on their :func:`with_blocks` key — the
    reference's per-geometry extent pre-filter
    (`src/methods/burning/geometry.jl:96-104`) batched across geometries.

    Every block holding a cell centre of a polygon's bbox, grown by one
    cell for boundary=:touches, holds one struct of that polygon,
    classified over the union of its cells' closed rects, padded: interior
    and exterior structs carry no edges, boundary structs the edges that can
    cross the block or whose x-span meets it, in polygon order, so every
    boundary predicate and the clipped-area fold over them equal those over
    all edges for any cell of the block.

    Steps are SIGNED (north-up ``dy < 0``): index ranges and block rects
    are min/max over both bounds — the sign-correct form of the reference's
    pre-burn axis reorder (`src/methods/burning/array_init.jl:54-85`).
    """
    by_block = {}
    for r in _raster_cover_rows(polys, grid, boundary):
        by_block.setdefault(r[:2], []).append(r[2:])
    # nested fields stay nullable: local_df's Arrow path cannot cast them
    # to non-nullable
    geom = [StructField(f.name, f.dataType) for f in POLY_SCHEMA.fields]
    geom.insert(5, StructField("inside", BooleanType()))
    schema = StructType(
        [
            StructField("_bx", IntegerType(), False),
            StructField("_by", IntegerType(), False),
            StructField("geoms", ArrayType(StructType(geom)), False),
        ]
    )
    return local_df(spark, [(*k, v) for k, v in by_block.items()], schema)


def raster_cover_hit(grid, boundary: str, p: str) -> str:
    """SQL text: a raster cell (``ix``, ``iy``) against one cover struct,
    whose fields are read as ``{p}inside``, ``{p}xmin`` … (``p`` is ``""``
    for columns, ``"g."`` for a lambda variable ``g``): ``inside``, or in
    the bbox (grown by one cell for touches) and ``boundary``'s predicate
    over the struct's edges."""
    cx, cy = grid.x_sql("ix"), grid.y_sql("iy")
    # |step|: cell half-widths and bbox pads are magnitudes — signed steps
    # (north-up dy<0) must not flip the predicate direction
    adx, ady = abs(grid.dx), abs(grid.dy)
    bpx = dbl_sql(adx if boundary == "touches" else 0.0)
    bpy = dbl_sql(ady if boundary == "touches" else 0.0)
    in_bbox = (
        f"((({cx} >= {p}xmin - {bpx} AND {cx} <= {p}xmax + {bpx})"
        f" AND {cy} >= {p}ymin - {bpy}) AND {cy} <= {p}ymax + {bpy})"
    )
    pred = boundary_sql(boundary, cx, cy, adx / 2.0, ady / 2.0, f"{p}edges")
    return f"({p}inside OR ({in_bbox} AND {pred}))"


# --------------------------------------------------------------------------
# Polygon predicates — one SQL text each, for Spark (F.expr) and the oracles
# --------------------------------------------------------------------------


def crossing_sql(x: str, y: str, e: str) -> str:
    """Edge ``e`` (a relation alias or struct with x1, y1, x2, y2) crosses
    the ray (-inf, y) → (x, y): the even-odd term. ``x`` and ``y`` are SQL
    fragments, parenthesised if compound."""
    return (
        f"((({e}.y1 > {y}) <> ({e}.y2 > {y}))"
        f" AND {x} < {e}.x1 + ({e}.x2 - {e}.x1) * ({y} - {e}.y1) / ({e}.y2 - {e}.y1))"
    )


def seg_rect_sql(e: str, rx0: str, rx1: str, ry0: str, ry1: str) -> str:
    """Closed segment ``e`` ∩ closed axis-aligned rect ≠ ∅: the exact
    separating-axis test — bbox overlap AND the 4 rect corners are not all
    strictly on one side of the segment's line; term for term the
    ``touches`` of :func:`_classify`. An endpoint in the closed rect needs
    no term of its own, even in float64: the sides are measured from
    (x1, y1), so with it inside each factor's sign is exact; with (x2, y2)
    inside, each corner's side compares its two products with the one
    rounded product ``fl((x2-x1)*(y2-y1))`` under monotone rounding. Either
    way one corner's side comes out <= 0 and another's >= 0.
    Chains are parenthesised left-deep: the Spark parser would balance a
    flat AND chain into a different tree."""
    x1, y1, x2, y2 = (f"{e}.{c}" for c in ("x1", "y1", "x2", "y2"))
    bbox = (
        f"(((LEAST({x1}, {x2}) <= {rx1} AND GREATEST({x1}, {x2}) >= {rx0})"
        f" AND LEAST({y1}, {y2}) <= {ry1}) AND GREATEST({y1}, {y2}) >= {ry0})"
    )
    side = [
        f"(({x2} - {x1}) * ({cy} - {y1}) - ({y2} - {y1}) * ({cx} - {x1}))"
        for cx, cy in ((rx0, ry0), (rx1, ry0), (rx0, ry1), (rx1, ry1))
    ]

    def all_(op):
        s1, s2, s3, s4 = (f"{s} {op} 0" for s in side)
        return f"((({s1} AND {s2}) AND {s3}) AND {s4})"

    apart = f"((NOT {all_('>')}) AND (NOT {all_('<')}))"
    return f"({bbox} AND {apart})"


def _even_odd_sql(x: str, y: str, edges: str) -> str:
    """Even-odd count over the edge array ``edges`` (SQL text)."""
    return f"(size(filter({edges}, e -> {crossing_sql(x, y, 'e')})) % 2 = 1)"


def pip_col(x: str, y: str, edges: str) -> Column:
    """Even-odd ray cast of the point (``x``, ``y``) over the edge array
    ``edges``, all SQL text: crossings of the ray (-inf, y) → (x, y),

        size(filter(edges, e -> (y1>y) != (y2>y) AND x < x_at_y(e))) % 2 = 1

    Pure Catalyst expression — no Python, no shuffle; ``filter`` itself is
    interpreted (``CodegenFallback``), so the cost is per edge carried. The
    oracles run the same :func:`crossing_sql` per edge over ``gedges``.
    """
    return F.expr(_even_odd_sql(x, y, edges))


def boundary_sql(boundary: str, cx: str, cy: str, hdx: float, hdy: float, edges: str) -> str:
    """The cell test of ``boundary`` for the cell [cx±hdx]×[cy±hdy] over the
    edge array ``edges`` (SQL text):

    - ``center``: the even-odd test at the centre (20² golden);
    - ``touches``: the closed cell rect meets the polygon — the centre is
      inside OR an edge meets the rect (a vertex in the rect is an endpoint
      of an edge that does); the reference's 21² golden
      (`test/methods.jl:258`);
    - ``inside``: the cell rect lies in the polygon — all four corners,
      the right/top ones shrunk by 1e-9 of the half-width, pass the
      even-odd test AND no edge meets the shrunk rect (19² golden). The
      half-open corner convention matches the reference's own open
      question on boundary values (`test/methods.jl:252-253`).
    """
    if boundary == "center":
        return _even_odd_sql(cx, cy, edges)
    rx0, rx1 = f"({cx} - {dbl_sql(hdx)})", f"({cx} + {dbl_sql(hdx)})"
    ry0, ry1 = f"({cy} - {dbl_sql(hdy)})", f"({cy} + {dbl_sql(hdy)})"

    def hits(x0, x1, y0, y1):
        return f"exists({edges}, e -> {seg_rect_sql('e', x0, x1, y0, y1)})"

    if boundary == "touches":
        return f"({_even_odd_sql(cx, cy, edges)} OR {hits(rx0, rx1, ry0, ry1)})"
    if boundary == "inside":
        ex, ey = dbl_sql(hdx * 1e-9), dbl_sql(hdy * 1e-9)
        sx0, sx1 = f"({rx0} + {ex})", f"({rx1} - {ex})"
        sy0, sy1 = f"({ry0} + {ey})", f"({ry1} - {ey})"
        c1, c2, c3, c4 = (
            _even_odd_sql(x, y, edges) for x, y in ((rx0, ry0), (sx1, ry0), (rx0, sy1), (sx1, sy1))
        )
        return f"(((({c1} AND {c2}) AND {c3}) AND {c4}) AND (NOT {hits(sx0, sx1, sy0, sy1)}))"
    raise ValueError(f"boundary must be center|touches|inside, got {boundary!r}")


def pip_sql(x: str, y: str, edges_rel: str = "edges e", geom_match: str = "") -> str:
    """Correlated even-odd count over an ``edges(geom_id,x1,y1,x2,y2)``
    relation: the oracle wrapper of :func:`crossing_sql`."""
    where = crossing_sql(x, y, "e")
    if geom_match:
        where = f"{geom_match} AND {where}"
    return f"((SELECT COUNT(*) FROM {edges_rel} WHERE {where}) % 2 = 1)"


def edges_values_sql(polys: list[Polygon]) -> str:
    """``edges(geom_id,x1,y1,x2,y2) AS (VALUES ...)`` CTE body for DuckDB,
    coordinates DOUBLE (:func:`dbl_sql`)."""
    vals = [f"({p.geom_id}, {', '.join(map(dbl_sql, e))})" for p in polys for e in p.edges]
    return "SELECT * FROM (VALUES " + ", ".join(vals) + ") AS t(geom_id, x1, y1, x2, y2)"


def polys_values_sql(polys: list[Polygon]) -> str:
    """``polys(geom_id,xmin,xmax,ymin,ymax)`` CTE body for DuckDB,
    coordinates DOUBLE (:func:`dbl_sql`)."""
    vals = [f"({p.geom_id}, {', '.join(map(dbl_sql, p.bbox))})" for p in polys]
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
# Sutherland–Hodgman vertex-list recursion, so it is plain column math:
# unrolled over literal edges (`coverage_clipped`) it stays in whole-stage
# codegen, folded over an edge array with ``aggregate`` (`zonal_coverage`)
# it runs interpreted, as higher-order functions are ``CodegenFallback``.
# Spark and the DuckDB oracles run the one SQL text below; it is checked
# bit for bit against a NumPy fold in `tests/test_zonal.py`. CW rings give
# the negated area — callers take |Σ| per ring; holes need opposite winding.


def clip_area_edge_sql(exy, x0: str, x1: str, y0: str, y1: str) -> str:
    """One directed edge's contribution as SQL text, run through ``F.expr``
    by `zonal_coverage` and `coverage_clipped` and verbatim by their DuckDB
    oracles. ``exy`` is (x1,y1,x2,y2) and ``x0,x1,y0,y1`` the window bounds,
    as SQL fragments; a literal edge must be DOUBLE (:func:`dbl_sql`): both
    dialects parse a bare ``0.3`` as DECIMAL, and the edge-only
    subexpressions (slope, intercept) would then fold in decimal."""
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
# Line → cells (DDA grid walk) — on the driver (geometry-side, tiny data)
# --------------------------------------------------------------------------


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


def line_cells_df(spark: SparkSession, segments: list[tuple], grid: GridSpec) -> DataFrame:
    """(geom_id, ix, iy, fill) of every cell the segments of each geometry
    pass through, once per geometry (the reference's adjacent-duplicate
    check, `src/methods/extract.jl:307-314`), in first-seen order: a cell
    keeps the fill of the first segment that reached it.

    ``segments``: (geom_id, x1, y1, x2, y2[, fill]); ``fill`` is NULL when
    the segments carry none. The walk runs here, on the driver, and the
    cells go to Spark as a local relation, so no Python worker runs.
    """
    seen: dict[tuple[int, int, int], float | None] = {}
    for geom_id, x1, y1, x2, y2, *fill in segments:
        walked = line_cells(x1, y1, x2, y2, grid.x0, grid.y0, grid.dx, grid.dy, grid.nx, grid.ny)
        for ix, iy in walked:
            seen.setdefault((geom_id, ix, iy), fill[0] if fill else None)
    return local_df(
        spark,
        [(*key, fill) for key, fill in seen.items()],
        "geom_id long, ix int, iy int, fill double",
    )
