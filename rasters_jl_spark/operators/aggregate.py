"""aggregate / disaggregate — integer-factor down/up-scaling.

Reference: `src/methods/aggregate.jl:72-219` (downscale by reducer or locus
sampler, with skipmissing variants) and `:243-351` (disaggregate = nearest
replication). Spark: a floor-div groupBy (partial aggregation is free —
`_reduce_skip/_reduce_noskip` fast paths `:497-561` are what Tungsten already
does) and an explode of s×s offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the one reducer table: aggregate, resample's and warp's downscale, keyed
# by the names their callers pass (``mean`` and gdalwarp's ``average``)
_REDUCERS = {
    "sum": F.sum,
    "mean": F.avg,
    "average": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    # exact interpolated quantiles (GDAL -r med/q1/q3 surface,
    # `src/extensions.jl:59-75`); Spark `percentile` is exact, not approx,
    # and matches DuckDB quantile_cont bit-for-bit after 6 dp rounding
    "med": lambda c: F.percentile(c, F.lit(0.5)),
    "q1": lambda c: F.percentile(c, F.lit(0.25)),
    "q3": lambda c: F.percentile(c, F.lit(0.75)),
    # gdalwarp -r rms: sqrt of the mean of squares
    "rms": lambda c: F.sqrt(F.avg(F.col(c) * F.col(c))),
}


def _scales(scale) -> tuple[int, int]:
    """Per-dimension scales: int (square) or (sx, sy) — the reference's
    mixed-scale form (`test/aggregate.jl` "mixed scales")."""
    if isinstance(scale, (tuple, list)):
        sx, sy = scale
        return int(sx), int(sy)
    return int(scale), int(scale)


def _locus_off(method, s: int) -> int:
    return {"start": 0, "center": s // 2, "end": s - 1}[method]


def aggregate(
    raster: DataFrame,
    scale,
    method="mean",
    skipmissing: bool = True,
    shape: tuple[int, int] | None = None,
) -> DataFrame:
    """Downscale by integer ``scale`` (int, or (sx, sy) for mixed scales).

    - reducer methods (sum/mean/average/min/max/count/med/q1/q3/rms/mode):
      groupBy on ``(ix div sx, iy div sy)``.
    - ``skipmissing=True``: NULLs ignored (Spark agg default) — the
      reference's `_reduce_skip` (`src/methods/aggregate.jl:504-537`).
    - ``skipmissing=False``: any NULL in the block → NULL out — the
      reference's `_reduce_noskip` (`:539-561`); implemented with a
      has-null flag in the same aggregation (no second shuffle).
    - locus methods ('start'/'center'/'end', or a (mx, my) pair for mixed
      loci): pick one cell per block (`src/methods/aggregate.jl:160-180`
      locus sampling) — a filter on ``ix % s == offset``, no shuffle.
    - ``shape=(nx, ny)``: REFERENCE truncation semantics — output size is
      ``floor(n/scale)`` per axis, trailing cells that don't fill a whole
      block are DROPPED (the reference's length ÷ scale truncation,
      `src/methods/aggregate.jl:112,124,492`; golden `test/aggregate.jl:109`
      where a 3×7 array at scale 3 aggregates to 1×2). Without ``shape``
      (long-format rasters of unknown extent, e.g. after extend()), partial
      blocks are included — documented engine default.
    """
    sx, sy = _scales(scale)
    if shape is not None:
        nx, ny = shape
        raster = raster.where(
            (F.col("ix") < (nx // sx) * sx) & (F.col("iy") < (ny // sy) * sy)
        )
    # floor (not truncate-toward-zero): negative cell indices — which
    # extend() legitimately produces — must aggregate into block -1, not 0.
    # Matches the oracle's `ix // scale` floor division for all inputs.
    ox = F.floor(F.col("ix") / sx).cast("int").alias("ix")
    oy = F.floor(F.col("iy") / sy).cast("int").alias("iy")
    loci = ("start", "center", "end")
    if method in loci or (isinstance(method, (tuple, list)) and method[0] in loci):
        mx, my = method if isinstance(method, (tuple, list)) else (method, method)
        offx, offy = _locus_off(mx, sx), _locus_off(my, sy)
        # pmod, not %: Spark's % keeps the dividend's sign, so negative cell
        # indices (extend() output) would get negative remainders and never
        # match a positive locus offset — blocks would silently vanish. pmod
        # matches the floor-division block assignment above for all signs.
        return raster.where(
            (F.pmod(F.col("ix"), F.lit(sx)) == offx)
            & (F.pmod(F.col("iy"), F.lit(sy)) == offy)
        ).select(ox, oy, "value")
    if method == "mode":
        return _aggregate_mode(raster, (sx, sy), skipmissing)
    red = _REDUCERS[method]
    grouped = raster.groupBy(ox, oy).agg(
        red("value").alias("_v"),
        F.max(F.col("value").isNull().cast("int")).alias("_has_null"),
    )
    if skipmissing:
        out_v = F.col("_v")
    else:
        out_v = F.when(F.col("_has_null") == 1, F.lit(None)).otherwise(F.col("_v"))
    return grouped.select("ix", "iy", out_v.cast("double").alias("value"))


def _aggregate_mode(raster: DataFrame, scale, skipmissing: bool) -> DataFrame:
    """Deterministic mode per block: most frequent non-missing value, ties
    broken to the SMALLEST value (engine-defined; Spark's built-in ``mode``
    has unspecified tie order, so it can't be oracle-checked).

    Two-stage aggregation: counts per (block, value) — the heavy shuffle,
    partial-aggregated — then one tiny max-of-struct per block. The struct
    orders by (count, -value), so its max is the min-value modal value.
    """
    sx, sy = _scales(scale)
    ox = F.floor(F.col("ix") / sx).cast("int").alias("ix")
    oy = F.floor(F.col("iy") / sy).cast("int").alias("iy")
    blocks = raster.groupBy(ox, oy).agg(
        F.max(F.col("value").isNull().cast("int")).alias("_has_null")
    )
    counts = (
        raster.where(F.col("value").isNotNull())
        .groupBy(ox, oy, F.col("value"))
        .agg(F.count("*").alias("_c"))
    )
    modal = counts.groupBy("ix", "iy").agg(
        F.max(F.struct(F.col("_c").alias("c"), (-F.col("value")).alias("nv"))).alias("_m")
    )
    v = -F.col("_m.nv")
    if not skipmissing:
        v = F.when(F.col("_has_null") == 1, F.lit(None)).otherwise(v)
    return blocks.join(modal, ["ix", "iy"], "left").select(
        "ix", "iy", v.cast("double").alias("value")
    )


def disaggregate(raster: DataFrame, scale) -> DataFrame:
    """Upscale: replicate each cell sx×sy (nearest), ``ix_out = ix*sx + m``.

    Reference: `src/methods/aggregate.jl:243-351`. Spark: explode of a
    constant 0..s-1 sequence per axis — rows fan out sx·sy, no shuffle.
    """
    sx, sy = _scales(scale)
    return (
        raster.select("ix", "iy", "value", F.explode(F.sequence(F.lit(0), F.lit(sx - 1))).alias("_mx"))
        .select("ix", "iy", "value", "_mx", F.explode(F.sequence(F.lit(0), F.lit(sy - 1))).alias("_my"))
        .select(
            (F.col("ix") * sx + F.col("_mx")).cast("int").alias("ix"),
            (F.col("iy") * sy + F.col("_my")).cast("int").alias("iy"),
            "value",
        )
    )
