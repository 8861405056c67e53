"""extract — point lookup into a raster, producing table rows.

Reference: `extract(x, geoms; skipmissing, ...)` (`src/methods/extract.jl:
151-337,431-519`): each point is matched to the unique Intervals cell that
Contains it (`src/methods/burning/point.jl:23-45`); out-of-bounds points
produce missing rows (skipmissing=false) or are dropped (skipmissing=true).

Spark: compute the integer cell per point (pure column math) and equi hash
join against the raster — `points.join(raster, ["ix","iy"], how)`. The
raster side is partitioned; the join key is the canonical integer index so
float drift can never mis-assign (SURVEY.md §4 FP-stability).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.grid import GridSpec


def _assign_cells(
    pts: DataFrame,
    grid: GridSpec,
    x_col: str,
    y_col: str,
    sampling: str,
    atol: float | None,
) -> DataFrame:
    """ix/iy per point. Intervals sampling: Contains on half-open cells
    (the default). Points sampling: At with ``atol``
    (`src/methods/burning/point.jl:47-50` `_at_or_contains` — Intervals
    dims get Contains, Points dims get At(v; atol)): the point must lie
    within atol of the nearest CENTER, else it behaves out-of-grid
    (missing row / dropped under skipmissing). atol=None is exact At."""
    x, y = f"CAST(`{x_col}` AS DOUBLE)", f"CAST(`{y_col}` AS DOUBLE)"
    p = pts.withColumn("ix", F.expr(grid.ix_of_x_sql(x))).withColumn(
        "iy", F.expr(grid.iy_of_y_sql(y))
    )
    if sampling == "points":
        tol = 0.0 if atol is None else float(atol)
        ok = (F.abs(F.col(x_col) - F.expr(grid.x_sql("ix"))) <= tol) & (
            F.abs(F.col(y_col) - F.expr(grid.y_sql("iy"))) <= tol
        )
        p = p.withColumn("ix", F.when(ok, F.col("ix"))).withColumn(
            "iy", F.when(ok, F.col("iy"))
        )
    elif sampling != "intervals":
        raise ValueError(f"sampling must be intervals|points, got {sampling!r}")
    return p


def ordered_id(df: DataFrame, cols: list[str], name: str = "id") -> DataFrame:
    """Global 1-based sequential id in ``cols`` sort order WITHOUT a
    one-partition window.

    Plan shape (scale-safe at any row count):
      1. range-exchange on ``cols`` → partition i holds keys ≤ partition i+1
         (balanced by the range partitioner's reservoir sample);
      2. ``row_number`` within each range partition (the window's hash
         exchange on the constant-per-partition ``_pid`` moves whole
         partitions, never scattering rows);
      3. per-partition counts → cumulative offsets. This branch is
         PARTITION-COUNT-sized (one row per shuffle partition), the same
         accepted metadata-scale class as the LM vocab tables — its tiny
         single-partition window is over ≤ ``spark.sql.shuffle.partitions``
         rows;
      4. broadcast-join the offsets back and add.

    Ties across a range-partition boundary still yield a valid row_number
    (ties are arbitrary-order in any engine); with a total ordering the ids
    are exactly the global ``row_number() OVER (ORDER BY cols)``. The
    ranged table is pinned (``localCheckpoint()``, run here) before fanning
    out: the range exchange samples partition boundaries
    NON-deterministically, and correctness requires the offsets branch and
    the main branch to see the SAME boundaries — exchange reuse usually
    guarantees that, but it is a physical-plan optimization Spark may skip
    (AQE stage dedup has been observed leaving identical exchanges
    unreused), and a re-run would draw a fresh sample. The checkpoint pins
    one materialisation for both consumers (and computes the exchange
    exactly once).
    """
    from pyspark.sql import Window

    order = [F.col(c) for c in cols]
    part = (
        df.repartitionByRange(*order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    offsets = (
        part.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_off")
    )
    w = Window.partitionBy("_pid").orderBy(*order)
    return (
        part.withColumn("_rn", F.row_number().over(w))
        .join(F.broadcast(offsets), "_pid")
        .withColumn(name, (F.col("_off") + F.col("_rn")).cast("int"))
        .drop("_pid", "_rn", "_off")
    )


def extract_points(
    pts: DataFrame,
    raster: DataFrame,
    grid: GridSpec,
    skipmissing: bool = True,
    x_col: str = "x",
    y_col: str = "y",
    keep_geometry: bool = True,
    keep_index: bool = False,
    sampling: str = "intervals",
    atol: float | None = None,
    with_id: bool = False,
) -> DataFrame:
    """Join points to raster values.

    skipmissing=True  → inner join + drop NULL values (reference inner-join
    flavour, `src/methods/extract.jl:475-484`);
    skipmissing=False → left join, out-of-bounds and missing cells yield
    NULL value rows (`geometry`/`index` keywords become select-list columns).
    ``sampling``/``atol``: Points-sampling At lookups — see
    :func:`_assign_cells`. ``with_id`` adds the reference's sequential
    ``id`` (`src/methods/extract.jl:151-337` `id=true`): 1-based over the
    input's column sort order, because a distributed DataFrame has no
    input order to number. Computed via :func:`ordered_id` (range-exchange
    + per-partition numbering + metadata-scale offsets), so the keyword
    survives any corpus size — no one-partition window."""
    p = _assign_cells(pts, grid, x_col, y_col, sampling, atol)
    if with_id:
        p = ordered_id(p, list(pts.columns), "id")
    how = "inner" if skipmissing else "left"
    joined = p.join(raster.select("ix", "iy", "value"), ["ix", "iy"], how)
    if skipmissing:
        joined = joined.where(F.col("value").isNotNull())
    cols = []
    if with_id:
        cols += [F.col("id")]
    if keep_geometry:
        cols += [F.col(x_col), F.col(y_col)]
    if keep_index:
        cols += [F.col("ix"), F.col("iy")]
    other = [c for c in pts.columns if c not in (x_col, y_col)]
    return joined.select(*cols, *[F.col(c) for c in other], F.col("value"))


def extract_points_stack(
    pts: DataFrame,
    stack: DataFrame,
    grid: GridSpec,
    names: tuple[str, ...],
    skipmissing: bool = True,
    x_col: str = "x",
    y_col: str = "y",
    sampling: str = "intervals",
    atol: float | None = None,
) -> DataFrame:
    """``extract(stack; name=(:a, :b))`` — layer selection on a stacked
    raster (`src/methods/extract.jl:157-159` `names`/`name` keywords):
    one output COLUMN per selected layer, reference row shape
    ``(geometry, bio1, bio3, ...)``. The stacked raster is long format
    (ix, iy, layer, value); selection is a filter BEFORE the join (the
    scan prunes non-selected layers), then one equi join + one
    conditional-aggregation pivot per point — two shuffles total,
    layer-count-independent. skipmissing drops points where ANY selected
    layer is missing (the reference's stack semantics).

    Duplicate input rows: the pivot groups on the point columns, so
    byte-identical duplicate points would collapse — the reference emits
    one output row PER input geometry, so multiplicity is counted before
    the pivot and re-expanded after (the asof.py pattern)."""
    sel = stack.where(F.col("layer").isin(list(names))).select(
        "ix", "iy", "layer", "value"
    )
    counted = pts.groupBy(*[F.col(c) for c in pts.columns]).agg(
        F.count("*").alias("_mult")
    )
    p = _assign_cells(counted, grid, x_col, y_col, sampling, atol)
    joined = p.join(sel, ["ix", "iy"], "left")
    keys = [c for c in pts.columns]
    wide = joined.groupBy(*[F.col(c) for c in keys], F.col("_mult")).agg(
        *[
            F.max(F.when(F.col("layer") == n, F.col("value"))).alias(n)
            for n in names
        ]
    )
    if skipmissing:
        cond = F.lit(True)
        for n in names:
            cond = cond & F.col(n).isNotNull()
        wide = wide.where(cond)
    return wide.withColumn(
        "_e", F.explode(F.sequence(F.lit(1), F.col("_mult")))
    ).drop("_mult", "_e")


def extract_polygons(
    raster, grid, polys, boundary: str = "center", skipmissing: bool = True
):
    """Polygon extraction: one row per (geom_id, cell) whose center the
    polygon covers — the reference's `extract(x, polygons)` = boolmask →
    row per true cell (`src/methods/extract.jl:151-337` polygon branch).

    ONE raster scan through the broadcast classified block-cover join
    (:func:`rasters_jl_spark.operators.zonal.raster_geom_candidates`):
    expression size is O(1) in the polygon count — the boundary predicate
    runs over a boundary block's edge ARRAY, not a per-polygon literal
    subtree, and interior blocks skip it — so
    1,024 polygons cost the same plan as 2 (no Union, no shuffle at all;
    the output is a filtered projection of the candidate join).
    """
    from pyspark.sql import functions as F

    from rasters_jl_spark.operators.zonal import raster_geom_candidates

    out = (
        raster_geom_candidates(raster, grid, polys, boundary)
        .where(F.col("_inside"))
        .select("geom_id", "ix", "iy", "value")
    )
    if skipmissing:
        out = out.where(F.col("value").isNotNull())
    return out


def extract_polygons_nested(
    raster, grid, polys, boundary: str = "center", skipmissing: bool = True
):
    """``extract(flatten=false)`` — one row PER GEOMETRY with its covered
    cells collected (`src/methods/extract.jl:151-337`, the flatten=false
    row shape). Returns (geom_id, n_cells, values_str) where values_str is
    the comma-joined cell values in (ix, iy) order — values are
    integer-valued by the raster synthesis contract, serialized via BIGINT
    so both engines format identically. The collect_list is bounded by a
    geometry's cell cover (the caller's responsibility for continent-sized
    geometries — flatten=true is the scale path)."""
    from pyspark.sql import functions as F

    hits = extract_polygons(raster, grid, polys, boundary, skipmissing)
    ordered = F.sort_array(F.collect_list(F.struct("ix", "iy", "value")))
    vals = F.transform(ordered, lambda s: s["value"].cast("bigint").cast("string"))
    return hits.groupBy("geom_id").agg(
        F.count("value").alias("n_cells"),
        F.array_join(vals, ",").alias("values_str"),
    )
