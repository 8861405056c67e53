"""Remaining reference-surface operators: missingmask, create,
fractional_resample, reproject (lookup-only), slice/combine, extract-lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark.functions.geometry import Polygon, line_cells_df
from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.operators.core import _covered
from rasters_jl_spark.session import local_df


def missingmask(raster: DataFrame, grid: GridSpec, polys: list[Polygon], boundary: str = "center") -> DataFrame:
    """Union{Missing,Bool} mask: true inside, NULL outside — the reference's
    `missingmask` (`src/methods/mask.jl:404-434`), through the per-block
    cover join like the other mask operators."""
    mask = F.when(F.col("_cov"), F.lit(True)).otherwise(F.lit(None).cast("boolean"))
    return _covered(raster, grid, polys, boundary).select("ix", "iy", mask.alias("mask"))


def create_raster(
    spark: SparkSession, grid: GridSpec, fill=None, missing_every: int | None = None
) -> DataFrame:
    """Allocate a new raster from a grid spec — the reference's `create`
    (`src/create.jl:1-100`): `spark.range` × `spark.range`, constant or NULL
    fill. No data movement; the universe is generated in executors."""
    xs = spark.range(grid.nx).select(F.col("id").cast("int").alias("ix"))
    ys = spark.range(grid.ny).select(F.col("id").cast("int").alias("iy"))
    u = xs.crossJoin(ys)
    v = F.lit(None).cast("double") if fill is None else F.lit(float(fill))
    if missing_every:
        v = F.when((F.col("ix") + F.col("iy")) % missing_every == 0, F.lit(None)).otherwise(v)
    return u.withColumn("value", v)


def fractional_resample(raster: DataFrame, scale: int) -> DataFrame:
    """Per-category fraction when downscaling a categorical raster — the
    reference's (unfinished) `fractional_resample`
    (`src/methods/fractional_resample.jl:1-33`). Output:
    (ix, iy, category, frac) with frac = category count / non-null count
    in the s×s block. One groupBy, fractions via a window-free second
    aggregation on the same key."""
    s = int(scale)
    # floor division (matches `ix // s` in the oracle for negative indices)
    ox = F.floor(F.col("ix") / s).cast("int").alias("ix")
    oy = F.floor(F.col("iy") / s).cast("int").alias("iy")
    counts = (
        raster.where(F.col("value").isNotNull())
        .groupBy(ox, oy, F.col("value").alias("category"))
        .agg(F.count("*").alias("_n"))
    )
    totals = counts.groupBy("ix", "iy").agg(F.sum("_n").alias("_tot"))
    return counts.join(totals, ["ix", "iy"]).select(
        "ix",
        "iy",
        "category",
        F.round(F.col("_n").cast("double") / F.col("_tot"), 6).alias("frac"),
    )


def reproject_grid(grid: GridSpec, crs: str, x_scale: float = 1.0, y_scale: float = 1.0, x_off: float = 0.0, y_off: float = 0.0) -> GridSpec:
    """Lossless lookup-only reprojection for axis-aligned transforms — the
    reference's `reproject` (`src/methods/reproject.jl:22-80`): the DATA is
    untouched; only the grid-spec metadata changes. General warped CRS goes
    through `resample` instead (same constraint as the reference)."""
    return GridSpec(
        x0=grid.x0 * x_scale + x_off,
        y0=grid.y0 * y_scale + y_off,
        dx=grid.dx * x_scale,
        dy=grid.dy * y_scale,
        nx=grid.nx,
        ny=grid.ny,
        crs=crs,
    )


def slice_series(df: DataFrame, ts_col: str, every: str = "1 day") -> DataFrame:
    """Raster/event series → slices along time — the reference's `slice`
    (`src/methods/slice_combine.jl:15-70`): in Spark the series dim IS a
    column; slicing is date_trunc + groupBy (partition pruning at scale)."""
    unit = every.split(" ")[-1].rstrip("s")
    return df.withColumn("slice_ts", F.date_trunc(unit, F.col(ts_col)))


def series_from_files(
    spark,
    path: str,
    date_pattern: str = r"(\d{4}-\d{2}-\d{2})",
    date_format: str = "yyyy-MM-dd",
    source_format: str = "parquet",
    at: str | None = None,
    ti_col: str = "Ti",
) -> DataFrame:
    """Lazy RasterSeries from a FILE LIST with the Ti lookup parsed from
    filenames — the reference's vector-of-filenames constructor
    (`src/series.jl:53-92`) with its filename date parsing
    (`src/series.jl:76-92`), Spark-first: ONE multi-file scan (never N
    driver-side reads), and Ti is a pure projection over the scan's
    ``_metadata.file_path`` column — to_date(regexp_extract(path)), zero
    I/O beyond the scan itself. Works on flat date-named files AND hive
    layouts (``d=2026-01-03/part-*``) — the pattern matches either.

    ``at='2026-01-03'`` is the reference's ``series[At(date)]`` selection
    as a REAL file skip: it becomes a ``pathGlobFilter``, so non-matching
    files are pruned at the file-index level and never opened (a filter on
    the derived Ti column would still list every file). At 100 TB a series
    is ~thousands of shards per day — the At() path must prune by listing,
    not by scanning."""
    reader = spark.read.format(source_format)
    if at is not None:
        reader = reader.option("pathGlobFilter", f"*{at}*")
    df = reader.load(path)
    ti = F.to_date(
        F.regexp_extract(F.col("_metadata.file_path"), date_pattern, 1), date_format
    )
    return df.withColumn(ti_col, ti)


def series_rolling(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    n_preceding: int = 3,
    tiebreak: str = "event_id",
) -> DataFrame:
    """Per-key ROLLING mean along the series dimension: a row-frame window
    over (ts, tiebreak) — the per-cell temporal smoothing a RasterSeries
    user maps over slices for (`src/methods/slice_combine.jl`; here the
    series dim is a column, so the whole series smooths in ONE window pass,
    no per-slice jobs). Shuffles once on the key; within-partition sort
    only."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col(tiebreak).asc())
        .rowsBetween(-n_preceding, 0)
    )
    # sum 6-dp micro-units: exact and summation-order-independent, so the
    # DuckDB oracle reproduces the mean bit-for-bit (same discipline as
    # pq_topk's ADC totals)
    micro = F.round(F.col(value_col) * 1e6).cast("long")
    mean = F.sum(micro).over(w) / F.lit(1e6) / F.count(F.lit(1)).over(w)
    return df.withColumn("roll_mean", mean)


def series_anomaly(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Per-key anomaly: value − the key's whole-series mean (the climatology
    baseline). One unbounded window over the key partition — partial-agg
    equivalent, no self-join."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col)
    micro = F.round(F.col(value_col) * 1e6).cast("long")
    mean = F.sum(micro).over(w) / F.lit(1e6) / F.count(F.lit(1)).over(w)
    return df.withColumn("anomaly", F.col(value_col) - mean)


def extract_lines(
    spark: SparkSession,
    segments: list[tuple[int, float, float, float, float]],
    raster: DataFrame,
    grid: GridSpec,
    skipmissing: bool = True,
) -> DataFrame:
    """Per-line extract: every cell the segment passes through, deduped per
    geometry (`src/methods/extract.jl:151-337` line path + adjacent-dup
    check `:307-314`), joined to raster values."""
    cells = line_cells_df(spark, segments, grid).drop("fill")
    how = "inner" if skipmissing else "left"
    out = cells.join(raster.select("ix", "iy", "value"), ["ix", "iy"], how)
    if skipmissing:
        out = out.where(F.col("value").isNotNull())
    return out


def sessionize(
    events: DataFrame,
    gap_minutes: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap to the
    user's previous event exceeds ``gap_minutes``. One per-user window
    (lag → boundary flag → running sum = session ordinal) — a single
    hashpartitioning(user) exchange shared by both window functions; at
    web scale the partition key is the user id, never a global order.
    ``tiebreak_col`` orders same-timestamp events deterministically.
    Returns the input columns + session_id (user-scoped 1-based ordinal)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
    # floor-second epoch; NTZ values are interpreted in the session tz
    # (UTC here) — the same convention DuckDB's epoch() applies
    es = F.unix_timestamp(F.col(ts_col))
    prev = F.lag(es).over(w)
    new_s = (prev.isNull() | (es - prev > gap_minutes * 60)).cast("int")
    return events.withColumn("_new", new_s).withColumn(
        "session_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).drop("_new")


def session_stats(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """(user_id, session_id, n_events, start_ts, end_ts, duration_s,
    sum_value): per-session rollup — the sessionize window + one
    partial-aggregated groupBy on (user, session)."""
    s = sessionize(events, gap_minutes)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))).alias("duration_s"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )
