"""rasterize — burn geometries into a grid with per-geometry fills + reducer.

Reference: `src/methods/rasterize.jl:431-496,571-656`; reducer → op lowering
`:7-16`; `count` fast path `:443-449`; `mean = sum/count` `:452-456`;
`last/first` need the geometry input order, carried here as an explicit
``geom_seq`` column (`test/rasterize.jl` "The last value overwrites the
first"). The reference's SpinLock/threadsafe machinery (`:598-619,927-942`)
disappears into shuffle semantics — `groupBy(cell).agg(op)` IS the
lock-free parallel reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.functions.geometry import Polygon, line_cells_df
from rasters_jl_spark.grid import GridSpec
from rasters_jl_spark.session import local_df

_REDUCERS = {
    "sum": lambda c: F.sum(c),
    "mean": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "count": lambda c: F.count(c).cast("double"),
    "first": lambda c: F.min_by(c, "_geom_seq"),
    "last": lambda c: F.max_by(c, "_geom_seq"),
    # reference reducer list also lowers prod/any/all
    # (src/methods/rasterize.jl:7-16); any/all treat the fill as a
    # truthiness flag (non-zero = true), returning 1.0/0.0
    "prod": lambda c: F.product(c),
    "any": lambda c: F.max((c != 0).cast("int")).cast("double"),
    "all": lambda c: F.min((c != 0).cast("int")).cast("double"),
}


def rasterize_points(
    pts: DataFrame,
    grid: GridSpec,
    fill_col: str,
    reducer: str = "sum",
    x_col: str = "x",
    y_col: str = "y",
    seq_col: str | None = None,
) -> DataFrame:
    """Burn a point table: cell ownership by half-open Contains
    (`src/methods/burning/point.jl:23-45`), then reduce per cell.

    ``seq_col`` supplies the input order for first/last — REQUIRED for
    those reducers: a distributed table has no input order, and a
    synthesized monotonically_increasing_id can renumber if the input is
    recomputed after executor loss, flipping which value "wins" (the same
    nondeterminism class fixed in asof_join). Out-of-grid points are
    dropped (the reference skips them, `extract.jl:475-484`).
    """
    if reducer in ("first", "last") and seq_col is None:
        raise ValueError(
            "rasterize_points: reducer 'first'/'last' requires an explicit "
            "seq_col (deterministic input order); a distributed table has none"
        )
    ix = grid.ix_of_x_sql(f"CAST(`{x_col}` AS DOUBLE)")
    iy = grid.iy_of_y_sql(f"CAST(`{y_col}` AS DOUBLE)")
    cells = pts.select(
        F.expr(ix).alias("ix"),
        F.expr(iy).alias("iy"),
        F.col(fill_col).alias("_fill"),
        (F.col(seq_col) if seq_col else F.lit(0).cast("long")).alias("_geom_seq"),
    ).where(F.expr(grid.in_bounds_sql("ix", "iy")))
    red = _REDUCERS[reducer]
    return cells.groupBy("ix", "iy").agg(red(F.col("_fill")).cast("double").alias("value"))


def rasterize_cells(
    cell_fills: DataFrame,
    reducer: str = "sum",
) -> DataFrame:
    """Reduce pre-computed (ix, iy, _fill, _geom_seq) candidate rows."""
    red = _REDUCERS[reducer]
    return cell_fills.groupBy("ix", "iy").agg(red(F.col("_fill")).cast("double").alias("value"))


def rasterize_lines(
    spark,
    segments: list[tuple[int, float, float, float, float, float]],
    grid: GridSpec,
    reducer: str = "sum",
) -> DataFrame:
    """Burn line segments: the DDA grid walk per segment
    (`src/methods/burning/line.jl:94-199`) runs on the driver and dedups
    cells per geometry (:func:`line_cells_df`), then one groupBy reduces.

    ``segments``: (geom_id, x1, y1, x2, y2, fill).
    """
    red = _REDUCERS[reducer]
    cells = line_cells_df(spark, segments, grid).withColumn("_geom_seq", F.col("geom_id"))
    return cells.groupBy("ix", "iy").agg(red(F.col("fill")).cast("double").alias("value"))


def rasterize_polygons(
    raster_universe: DataFrame,
    grid: GridSpec,
    polys: list[Polygon],
    fills: dict[int, float],
    reducer: str = "last",
    boundary: str = "center",
) -> DataFrame:
    """Burn polygons over a cell universe with per-geometry fills.

    ONE scan of the universe: cells equi-join the broadcast classified
    block cover (`operators/zonal.py::raster_geom_candidates`), the fill
    value and geometry order join from a second broadcast table, and one
    groupBy(cell) reduces — N polygons cost one scan and one shuffle, not
    N filtered subtrees (the reference's own scale smoke burns 10,000
    regions, `test/mosaic.jl:69-74`).
    """
    from rasters_jl_spark.operators.zonal import raster_geom_candidates

    spark = raster_universe.sparkSession
    cand = raster_geom_candidates(raster_universe, grid, polys, boundary).where(
        F.col("_inside")
    )
    meta = local_df(
        spark,
        [(p.geom_id, float(fills[p.geom_id]), seq) for seq, p in enumerate(polys)],
        "geom_id long, _fill double, _geom_seq int",
    )
    u = cand.join(F.broadcast(meta), "geom_id").select("ix", "iy", "_fill", "_geom_seq")
    red = _REDUCERS[reducer]
    return u.groupBy("ix", "iy").agg(red(F.col("_fill")).cast("double").alias("value"))


def rasterize_polygons_multi(
    raster_universe: DataFrame,
    grid: GridSpec,
    polys: list[Polygon],
    fills: dict[str, dict[int, float]],
    reducer: str = "last",
    boundary: str = "center",
) -> DataFrame:
    """NamedTuple (multi-layer) fills — the reference burns several layers
    in one pass (`src/methods/rasterize.jl:276-294`): ``fills`` maps layer
    name → {geom_id: fill}. Returns (ix, iy, layer, value).

    Still ONE universe scan: the broadcast meta table carries one row per
    (geom, layer) and the reduce keys on (ix, iy, layer) — layers ride the
    same shuffle, not one burn per layer.
    """
    from rasters_jl_spark.operators.zonal import raster_geom_candidates

    spark = raster_universe.sparkSession
    cand = raster_geom_candidates(raster_universe, grid, polys, boundary).where(
        F.col("_inside")
    )
    rows = [
        (p.geom_id, layer, float(layer_fills[p.geom_id]), seq)
        for layer, layer_fills in fills.items()
        for seq, p in enumerate(polys)
    ]
    meta = local_df(spark, rows, "geom_id long, layer string, _fill double, _geom_seq int")
    u = cand.join(F.broadcast(meta), "geom_id").select(
        "ix", "iy", "layer", "_fill", "_geom_seq"
    )
    red = _REDUCERS[reducer]
    return u.groupBy("ix", "iy", "layer").agg(
        red(F.col("_fill")).cast("double").alias("value")
    )
