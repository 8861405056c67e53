"""Irregular / Explicit lookup spans — non-regular cell bounds.

Reference: `Irregular` spans (bounds inferred between coordinate midpoints,
`src/lookup.jl:130-139`) and `Explicit` spans (a bounds matrix per axis —
the NetCDF ``cell_bounds`` model, `src/lookup.jl:166-214`). `GridSpec`
covers Regular spans only; this module carries per-axis interval tables.

Spark-first layout: an axis is METADATA (10²–10⁵ intervals), so bounds
live in tiny broadcast DataFrames ``(i, lo, hi)``. Point→cell assignment
is the scale-sensitive operation — a naive interval join is a broadcast
nested loop, so it is BUCKETIZED into an equi hash join: every interval
registers in each coarse bucket it overlaps (bucket width = the widest
interval, so an interval spans ≤ 2 buckets), a point computes its single
bucket with one floor(), and the exact ``[lo, hi)`` predicate filters the
≤ a-few candidates after the hash join. The big side is never exploded.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark.session import local_df


@dataclass(frozen=True)
class ExplicitAxis:
    """One axis of explicit half-open intervals ``[lo, hi)``, ascending and
    non-overlapping (the reference asserts the same regularity when
    converting bounds matrices)."""

    bounds: tuple[tuple[float, float], ...]

    def __post_init__(self):
        # silent inversion would make assign() drop every point — fail loud
        for i, (lo, hi) in enumerate(self.bounds):
            if not lo < hi:
                raise ValueError(f"interval {i} has lo >= hi: ({lo}, {hi})")

    @classmethod
    def from_centers(cls, centers: list[float]) -> "ExplicitAxis":
        """Irregular span from a coordinate vector: interval edges at the
        midpoints between neighbours, end cells extended symmetrically —
        the reference's bounds inference for Irregular lookups
        (`src/lookup.jl:130-139`). DESCENDING vectors (north-up lat axes,
        the common NetCDF orientation) are supported: interval ``i`` still
        belongs to ``centers[i]``, with its (lo, hi) ordered ascending —
        assignment only needs containment, not axis order."""
        c = list(centers)
        if len(c) < 2:
            raise ValueError("need >= 2 centers to infer irregular bounds")
        diffs = [b - a for a, b in zip(c, c[1:])]
        if not (all(d > 0 for d in diffs) or all(d < 0 for d in diffs)):
            raise ValueError("centers must be strictly monotonic")
        mids = [(a + b) / 2.0 for a, b in zip(c, c[1:])]
        edge0 = [c[0] - (mids[0] - c[0])] + mids
        edge1 = mids + [c[-1] + (c[-1] - mids[-1])]
        return cls(tuple((min(a, b), max(a, b)) for a, b in zip(edge0, edge1)))

    @property
    def n(self) -> int:
        return len(self.bounds)

    @property
    def max_width(self) -> float:
        return max(hi - lo for lo, hi in self.bounds)

    def bucket_rows(self) -> list[tuple[int, int, float, float]]:
        """(bucket, i, lo, hi): each interval registered in every coarse
        bucket it overlaps (bucket width = max interval width ⇒ ≤ 2
        buckets per interval)."""
        import math

        w = self.max_width
        rows = []
        for i, (lo, hi) in enumerate(self.bounds):
            # register through floor(hi/w) inclusive: when hi sits exactly
            # on a bucket boundary this adds one harmless extra bucket (the
            # exact [lo, hi) predicate filters it), whereas an epsilon
            # subtraction could SKIP the bucket a barely-interior point
            # hashes to and silently drop it
            for b in range(math.floor(lo / w), math.floor(hi / w) + 1):
                rows.append((b, i, lo, hi))
        return rows

    def bucket_df(self, spark: SparkSession, idx_name: str) -> DataFrame:
        return local_df(
            spark, self.bucket_rows(), f"_bk int, {idx_name} int, _lo double, _hi double"
        )

    def assign(self, df: DataFrame, coord_col: str, idx_name: str) -> DataFrame:
        """Add ``idx_name`` = owning interval index of ``coord_col`` (rows
        outside every interval are DROPPED). One broadcast hash join on the
        coarse bucket + an exact range filter — no nested-loop join, no
        fan-out of the data side."""
        clash = {"_bk", "_lo", "_hi", idx_name} & set(df.columns)
        if clash:
            raise ValueError(
                f"ExplicitAxis.assign reserves columns {sorted(clash)} which "
                f"already exist on the input — rename them first (they would "
                f"be silently clobbered and corrupt the assignment)"
            )
        spark = df.sparkSession
        b = self.bucket_df(spark, idx_name)
        w = self.max_width
        x = F.col(coord_col)
        withb = df.withColumn("_bk", F.floor(x / F.lit(w)).cast("int"))
        out = (
            withb.join(F.broadcast(b), "_bk")
            .where((x >= F.col("_lo")) & (x < F.col("_hi")))
            .drop("_bk", "_lo", "_hi")
        )
        return out


@dataclass(frozen=True)
class ExplicitGrid:
    """2-D explicit-bounds grid: the Explicit/Irregular counterpart of
    :class:`rasters_jl_spark.grid.GridSpec`."""

    x: ExplicitAxis
    y: ExplicitAxis
    crs: str = "EPSG:4326"

    def assign_points(self, pts: DataFrame, x_col: str = "x", y_col: str = "y") -> DataFrame:
        """(pts columns + ix, iy): owning cell per point; out-of-grid points
        drop (the skipmissing=true extract contract)."""
        return self.y.assign(self.x.assign(pts, x_col, "ix"), y_col, "iy")

    def cells_df(self, spark: SparkSession) -> DataFrame:
        """(ix, iy, xlo, xhi, ylo, yhi) — the cell-bounds table."""
        # metadata-scale axes: force single partitions so the cross join is
        # one task, not defaultParallelism² slivers
        xs = local_df(
            spark,
            [(i, lo, hi) for i, (lo, hi) in enumerate(self.x.bounds)],
            "ix int, xlo double, xhi double",
        ).coalesce(1)
        ys = local_df(
            spark,
            [(i, lo, hi) for i, (lo, hi) in enumerate(self.y.bounds)],
            "iy int, ylo double, yhi double",
        ).coalesce(1)
        return xs.crossJoin(ys)


def cellarea_explicit(spark: SparkSession, grid: ExplicitGrid, radius_km: float) -> DataFrame:
    """(ix, iy, area_km2): spherical lat-band area from EXPLICIT bounds —
    exact for unequal interval widths (the NetCDF-bounds case the Regular
    formula can't represent; reference `_area_from_lonlat` over
    intervalbounds, `ext/RastersProjExt/cellarea.jl:56-65`)."""
    import math

    cells = grid.cells_df(spark)
    area = (
        F.lit(2.0 * math.pi * radius_km * radius_km)
        * (F.sin(F.radians(F.col("yhi"))) - F.sin(F.radians(F.col("ylo"))))
        * (F.col("xhi") - F.col("xlo"))
        / F.lit(360.0)
    )
    return cells.select("ix", "iy", area.alias("area_km2"))
