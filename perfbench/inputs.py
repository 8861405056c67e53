"""Seeded benchmark inputs and their NumPy oracles.

Everything the engine receives is generated here from the workload seed:
the page corpus (doc-id offset and page metric), the heavy polygon layer
(vertex jitter) and the kNN query points (query ids). The oracles
recompute the engine's answers with NumPy, from the same integer formulas
the engine uses for geotags, so a check never trusts the code it checks.
"""

from __future__ import annotations

import math

import numpy as np

from rasters_jl_spark.functions.geometry import Polygon

N_PAGES = 1_000_000
CORPUS_FILES = 8

# geotag formulas of sources/pages.py (lat_col / lon_col), in NumPy
_LAT_MOD, _LAT_MULT = 1_800_000, 2_654_435_761
_LON_MOD, _LON_MULT = 3_600_000, 40_503

# page metric: n_chars = 200 + (doc_id * CHARS_MULT + salt) % CHARS_MOD
CHARS_MULT, CHARS_MOD = 2_246_822_519, 9_973

HEAVY_SIDE = (8, 4)  # polygon centres on an 8 x 4 lon/lat lattice
HEAVY_VERTS = 32
HEAVY_RADIUS = 20.0  # degrees; lattice pitch is 45, cover cells 5.625


class Inputs:
    """All seeded inputs of one run."""

    def __init__(self, seed: int, n_pages: int = N_PAGES):
        self.seed = seed
        self.n_pages = n_pages
        # doc ids stay below 1e9 so doc_id * CHARS_MULT fits in int64
        self.doc_offset = 1 + (seed % 997) * 1_000_003
        self.chars_salt = (seed * 7_919) % CHARS_MOD
        self._rng = np.random.default_rng(seed)
        self.heavy = heavy_polygons(self._rng)
        self._pts = None

    # ---- corpus ----
    def corpus_df(self, spark):
        """(doc_id, n_chars) over the seeded id range, CORPUS_FILES slices."""
        from pyspark.sql import functions as F

        ids = spark.range(
            self.doc_offset, self.doc_offset + self.n_pages, 1, numPartitions=CORPUS_FILES
        )
        n_chars = F.lit(200) + (
            (F.col("id") * F.lit(CHARS_MULT) + F.lit(self.chars_salt)) % F.lit(CHARS_MOD)
        )
        return ids.select(F.col("id").alias("doc_id"), n_chars.cast("int").alias("n_chars"))

    def points(self):
        """(doc_id, lon, lat, n_chars) NumPy arrays of the corpus."""
        if self._pts is None:
            doc = np.arange(self.doc_offset, self.doc_offset + self.n_pages, dtype=np.int64)
            lat = ((doc % _LAT_MOD) * _LAT_MULT % _LAT_MOD) / 10000.0 - 90.0
            lon = ((doc % _LON_MOD) * _LON_MULT % _LON_MOD) / 10000.0 - 180.0
            chars = 200 + (doc * CHARS_MULT + self.chars_salt) % CHARS_MOD
            self._pts = (doc, lon, lat, chars)
        return self._pts

    # ---- kNN queries ----
    def query_batch(self, op: int, n_q: int):
        """n_q (q_id, qlat, qlon) query points for op ``op``: geotags of
        seeded ids above the corpus id range, so no query sits on a page."""
        rng = np.random.default_rng((self.seed, op + 1000))  # op >= -1000
        ids = 2_000_000_000 + rng.choice(10_000_000, size=n_q, replace=False).astype(np.int64)
        lat = ((ids % _LAT_MOD) * _LAT_MULT % _LAT_MOD) / 10000.0 - 90.0
        lon = ((ids % _LON_MOD) * _LON_MULT % _LON_MOD) / 10000.0 - 180.0
        return [(int(q), float(a), float(o)) for q, (a, o) in enumerate(zip(lat, lon))]


def heavy_polygons(rng) -> list[Polygon]:
    """HEAVY: 8 x 4 star polygons of HEAVY_VERTS vertices, one per 45-degree
    lattice square. Each vertex radius is jittered in [0.85, 1] x
    HEAVY_RADIUS, so every seed gets a different layer whose bbox cover at
    COVER_RES is always the same 8 x 8 cells per polygon, together every
    cover cell of the globe once: every page is one PIP candidate, and the
    cost does not depend on the seed."""
    nx, ny = HEAVY_SIDE
    polys = []
    for j in range(ny):
        for i in range(nx):
            cx = -180.0 + 45.0 * (i + 0.5)
            cy = -90.0 + 45.0 * (j + 0.5)
            r = HEAVY_RADIUS * rng.uniform(0.85, 1.0, size=HEAVY_VERTS)
            ring = tuple(
                (
                    float(cx + r[v] * math.cos(2 * math.pi * v / HEAVY_VERTS)),
                    float(cy + r[v] * math.sin(2 * math.pi * v / HEAVY_VERTS)),
                )
                for v in range(HEAVY_VERTS)
            )
            polys.append(Polygon(1 + j * nx + i, ring))
    return polys


def pip_mask(lon: np.ndarray, lat: np.ndarray, poly: Polygon) -> np.ndarray:
    """Even-odd ray cast with the arithmetic of geometry.pip_col."""
    inside = np.zeros(lon.shape, dtype=bool)
    with np.errstate(divide="ignore", invalid="ignore"):
        for x1, y1, x2, y2 in poly.edges:
            straddle = (y1 > lat) != (y2 > lat)
            inside ^= straddle & (lon < x1 + (x2 - x1) * (lat - y1) / (y2 - y1))
    return inside


def zonal_golden(inputs: Inputs, polys: list[Polygon]) -> dict[int, tuple]:
    """geom_id -> (n_pages, sum_val, min_val, max_val) of zonal_pages."""
    _, lon, lat, chars = inputs.points()
    out = {}
    for p in polys:
        xmin, xmax, ymin, ymax = p.bbox
        box = np.flatnonzero((lon >= xmin) & (lon <= xmax) & (lat >= ymin) & (lat <= ymax))
        hit = chars[box[pip_mask(lon[box], lat[box], p)]]
        if hit.size:
            out[p.geom_id] = (int(hit.size), int(hit.sum()), int(hit.min()), int(hit.max()))
        else:
            out[p.geom_id] = (0, None, None, None)
    return out


def knn_golden(inputs: Inputs, qlat: float, qlon: float, k: int) -> list[int]:
    """doc ids of the k nearest pages, ordered by (dist2, doc_id)."""
    doc, lon, lat, _ = inputs.points()
    d2 = (lat - qlat) * (lat - qlat) + (lon - qlon) * (lon - qlon)
    kk = k + 64  # slack for ties at the kth distance
    near = np.argpartition(d2, kk)[: kk + 1]
    order = np.lexsort((doc[near], d2[near]))[:k]
    return [int(d) for d in doc[near][order]]
