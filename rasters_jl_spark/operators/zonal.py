"""zonal — the flagship: per-geometry statistics.

Reference: `zonal(f, x; of=geoms)` (`src/methods/zonal.jl:67-165`) = per
geometry crop → mask → reduce-skipmissing, threaded over geometries. The
Spark plan is ONE job over all geometries:

    pages ⋈ polygon-cover (equi hash join on coarse cell — broadcast)
          → PIP refine on boundary cells (higher-order expr over their edges)
          ∪ one NULL-valued row per polygon (empty zones, `emptyval`)
          → groupBy(geom_id).agg(...)

`skipmissing=true` is Spark's NULL-ignoring aggregation; `skipmissing=false`
adds a has-null guard in the same pass (`src/methods/zonal.jl:155-165`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from rasters_jl_spark.functions.geometry import (
    POLY_SCHEMA,
    Polygon,
    pip_col,
    polygon_cover_df,
    raster_cover_df,
    raster_cover_hit,
    with_blocks,
)
from rasters_jl_spark.grid import COVER_RES, GridSpec, WebGrid
from rasters_jl_spark.session import local_df


def spatial_join_pages(pages: DataFrame, polys: list[Polygon]) -> DataFrame:
    """pages × polygons inner join on point-in-polygon.

    The cell-prefix hash join: pages carry a precomputed fine cell; the
    polygon side is exploded to coarse cover cells and **broadcast** (the
    geometry side is metadata-scale). The equi join on the coarse cell does
    the candidate reduction (the reference's extent pre-filter,
    `src/methods/burning/geometry.jl:96-104`). Cover cells are classified
    on the driver (:func:`polygon_cover_df`): exterior cells never join,
    interior cells pass with no PIP test, and boundary cells refine exactly
    with PIP over the few edges that can cross them.

    Returns pages columns + ``geom_id``. The join is a map-side probe of the
    broadcast cover, so the pages are never shuffled for it: a hot cell
    costs probe CPU in the tasks that hold its pages, not a skewed
    partition, and needs no salting.
    """
    g = WebGrid(COVER_RES)
    cover = polygon_cover_df(pages.sparkSession, polys)
    p = pages.withColumn("_cover_cell", g.cell_col("lon", "lat"))
    cand = p.join(F.broadcast(cover), p["_cover_cell"] == cover["cover_cell"]).drop(
        "cover_cell"
    )
    hit = pip_col("lon", "lat", "edges")
    # interior cover cells need no ray cast; boundary cells carry the edges
    refined = cand.where(F.col("inside") | hit)
    return refined.select("geom_id", *pages.columns)


def zonal_pages(
    pages: DataFrame,
    polys: list[Polygon],
    value_col: str = "n_chars",
    n_salt: int = 1,
    emptyval=None,
) -> DataFrame:
    """Per-polygon count / sum / mean / min / max of a page metric.

    Empty zones come back with count 0 and NULL stats (the reference's
    ``missing`` default; `emptyval` overrides, `src/methods/zonal.jl:133-152`).

    ``n_salt`` has no effect and is not forwarded; it is accepted only so
    existing callers that pass it keep working. Salting spreads a hot key
    over the partitions of a shuffled join, but the cover join is a
    broadcast probe that never shuffles the pages (:func:`spatial_join_pages`).
    """
    joined = spatial_join_pages(pages, polys).select("geom_id", value_col)
    # one NULL-valued row per polygon: every zone forms a group, so an empty
    # zone's count is 0 and its stats NULL with no join back to the polygons
    empty = local_df(
        pages.sparkSession, [(p.geom_id,) for p in polys], StructType([POLY_SCHEMA["geom_id"]])
    ).coalesce(1)
    empty = empty.select("geom_id", F.lit(None).cast(pages.schema[value_col].dataType).alias(value_col))
    v = F.col(value_col)
    # one partition, as the result is one row per polygon: a batch of the
    # tile-ledger job writes one file, not one per shuffle partition
    out = joined.union(empty).groupBy("geom_id").agg(
        F.count(v).alias("n_pages"),
        F.sum(v).alias("sum_val"),
        F.avg(v).alias("mean_val"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    ).coalesce(1)
    if emptyval is not None:
        for c in ("sum_val", "mean_val", "min_val", "max_val"):
            out = out.withColumn(c, F.coalesce(F.col(c), F.lit(emptyval)))
    return out


def merge_zonal_partials(parts: DataFrame) -> DataFrame:
    """Re-aggregate per-batch zonal partials (the ledger-mode job appends
    one row per geom per tile batch) into the final one-row-per-geom table.

    count/sum/min/max merge exactly; the mean is recomputed as
    sum_val / n_pages (never averaged across partials — that would weight
    batches, not pages). Geoms whose every partial was empty keep
    n_pages=0 / NULL stats, matching ``zonal_pages`` semantics."""
    merged = parts.groupBy("geom_id").agg(
        F.sum("n_pages").alias("n_pages"),
        F.sum("sum_val").alias("sum_val"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
    )
    return merged.select(
        "geom_id",
        "n_pages",
        "sum_val",
        F.when(
            F.col("n_pages") > 0, F.col("sum_val") / F.col("n_pages")
        ).alias("mean_val"),
        "min_val",
        "max_val",
    )


def raster_geom_candidates(
    raster: DataFrame,
    grid: GridSpec,
    polys: list[Polygon],
    boundary: str = "center",
    keep_arrays: bool = False,
) -> DataFrame:
    """ONE-SCAN (cell, geometry) candidates over a finite raster grid.

    Returns the raster columns plus ``geom_id``, the polygon bbox columns,
    and ``_inside`` (the boundary predicate); ``keep_arrays`` also keeps the
    block's ``inside`` flag and ``edges``. Plan: cells compute their
    coarse block, equi-join the ONE broadcast classified block cover
    (:func:`raster_cover_df`) and ``inline`` its polygon structs into one
    candidate row each; interior blocks pass with no per-cell test,
    exterior blocks fail, and boundary blocks evaluate the boundary
    predicate over the few edges they carry — expression size is O(1) in
    the polygon count, and N polygons cost one raster scan instead of N
    filtered subtrees. Each cell lives in exactly one block, so no
    candidate is produced twice.
    """
    cover = raster_cover_df(raster.sparkSession, polys, grid, boundary)
    cand = with_blocks(raster).join(F.broadcast(cover), ["_bx", "_by"])
    cand = cand.select(*raster.columns, F.inline("geoms"))
    out = cand.withColumn("_inside", F.expr(raster_cover_hit(grid, boundary, "")))
    return out if keep_arrays else out.drop("inside", "edges")


def zonal_raster(
    raster: DataFrame,
    grid: GridSpec,
    polys: list[Polygon],
    boundary: str = "center",
    skipmissing: bool = True,
) -> DataFrame:
    """Zonal over a raster: per-polygon reduce of masked cells — the exact
    `zonal == f∘skipmissing∘mask` identity the reference tests
    (`test/methods.jl:332-338`).

    ``skipmissing=False`` reproduces the reference's crop→mask→f semantics
    (`src/methods/zonal.jl:100-107,155-165`): f runs over the polygon's
    *crop box*, where cells outside the polygon have just been masked to
    missing — so the result is missing unless the polygon exactly tiles its
    box AND no data cell is missing (`test/methods.jl:358-365` golden).

    Plan: ONE raster scan through the classified block-cover join
    (:func:`raster_geom_candidates`) + one groupBy(geom_id) — N polygons no
    longer mean N scans (the reference's own scale smoke is 10,000 regions,
    `test/mosaic.jl:69-74`).
    """
    cand = raster_geom_candidates(raster, grid, polys, boundary)
    cx = F.expr(grid.x_sql("ix"))
    cy = F.expr(grid.y_sql("iy"))
    in_box = (
        (cx >= F.col("xmin"))
        & (cx <= F.col("xmax"))
        & (cy >= F.col("ymin"))
        & (cy <= F.col("ymax"))
    )
    u = cand.where(in_box).select(
        "geom_id", F.when(F.col("_inside"), F.col("value")).alias("_mval")
    )
    agg = u.groupBy("geom_id").agg(
        F.sum("_mval").alias("sum_val"),
        F.avg("_mval").alias("mean_val"),
        F.count("_mval").alias("n_cells"),
        F.max(F.col("_mval").isNull().cast("int")).alias("_has_null"),
    )
    if not skipmissing:
        agg = agg.select(
            "geom_id",
            F.when(F.col("_has_null") == 1, F.lit(None)).otherwise(F.col("sum_val")).alias("sum_val"),
            F.when(F.col("_has_null") == 1, F.lit(None)).otherwise(F.col("mean_val")).alias("mean_val"),
            "n_cells",
        )
    else:
        agg = agg.drop("_has_null")
    return agg


def zonal_extent(
    raster: DataFrame, grid: GridSpec, xmin: float, xmax: float, ymin: float, ymax: float
) -> DataFrame:
    """Zonal over a bare extent: crop-only then reduce
    (`src/methods/zonal.jl:84-92`)."""
    from rasters_jl_spark.operators.core import crop

    c = crop(raster, grid, xmin, xmax, ymin, ymax)
    return c.agg(
        F.sum("value").alias("sum_val"),
        F.avg("value").alias("mean_val"),
        F.count("value").alias("n_cells"),
    )


def zonal_stack(stack: DataFrame, grid, polys, boundary: str = "center") -> DataFrame:
    """Per-(geometry, layer) zonal stats over a stacked raster
    (`src/methods/zonal.jl:67-165` RasterStack form: one NamedTuple entry
    per layer → here one row per (geom_id, layer)).

    ``stack``: (ix, iy, layer, value). ONE scan: cells join the broadcast
    classified block cover (:func:`raster_geom_candidates`) — expression
    size and scan count are O(1) in the polygon count — then a single
    groupBy(geom_id, layer) with map-side partial aggregation.
    Empty (geom, layer) zones come back n_cells=0 / NULL stats.
    """
    hits = (
        raster_geom_candidates(stack, grid, polys, boundary)
        .where(F.col("_inside"))
        .groupBy("geom_id", "layer")
        .agg(
            F.count("value").alias("n_cells"),
            F.sum("value").alias("sum_val"),
            F.avg("value").alias("mean_val"),
            F.min("value").alias("min_val"),
            F.max("value").alias("max_val"),
        )
    )
    spark = stack.sparkSession
    geoms = local_df(spark, [(p.geom_id,) for p in polys], "geom_id int")
    layers = stack.select("layer").distinct()
    universe = geoms.crossJoin(layers)
    return universe.join(F.broadcast(hits), ["geom_id", "layer"], "left").withColumn(
        "n_cells", F.coalesce(F.col("n_cells"), F.lit(0))
    )


def zonal_coverage(
    raster: DataFrame,
    grid,
    polys: list[Polygon],
    frac_units: int = 1_000_000_000,
    prod_units: int = 1_000_000,
) -> DataFrame:
    """COVERAGE-WEIGHTED zonal statistics (exactextract-style): each cell
    contributes its value weighted by the EXACT fraction of the cell the
    polygon covers — the analytic bridge between the reference's `coverage`
    (`src/methods/coverage.jl:46-117`) and `zonal` (`src/methods/zonal.jl:
    67-165`), which a Rasters.jl user composes as
    ``zonal(sum, raster .* coverage(geom))``.

    Per (cell, geom) candidate the clipped fraction is 1 on an interior
    block and otherwise the closed-form per-edge clamped Green's-theorem
    integral fold over the block's edges
    (`functions/geometry.py::clip_area_edge_sql`; the edges a boundary
    block drops add exactly 0.0) — an interpreted ``aggregate``, no
    subpixel explode. Plan: one scan → broadcast block-cover join →
    fraction expression → groupBy(geom_id) with map-side partial agg.

    Shuffle-payload determinism: the per-cell fraction and value×fraction
    are quantized to INTEGER units (``frac_units``/``prod_units``) BEFORE
    the aggregation, so the shuffled sums are order-independent BIGINTs —
    float summation order can never perturb the result (same discipline as
    the ppl-bucket scores). ``cov_cells`` = Σ fraction is the polygon area
    in cell units — an analytic invariant tested against the shoelace
    area. Weights are planar cell fractions; for spherical-area weighting
    multiply by `cellarea` per row before aggregating.
    """
    from rasters_jl_spark.functions.geometry import clip_area_edge_sql

    cand = raster_geom_candidates(
        raster, grid, polys, boundary="touches", keep_arrays=True
    ).where(F.col("_inside"))
    hdx, hdy = abs(grid.dx) / 2.0, abs(grid.dy) / 2.0
    cx, cy = grid.x_sql("ix"), grid.y_sql("iy")
    x0, x1 = f"({cx} - {hdx!r})", f"({cx} + {hdx!r})"
    y0, y1 = f"({cy} - {hdy!r})", f"({cy} + {hdy!r})"
    edge = clip_area_edge_sql(("e.x1", "e.y1", "e.x2", "e.y2"), x0, x1, y0, y1)
    signed = F.expr(f"aggregate(edges, CAST(0 AS DOUBLE), (acc, e) -> acc + {edge})")
    frac = F.when(F.col("inside"), F.lit(1.0)).otherwise(
        F.abs(signed) / F.lit(abs(grid.dx) * abs(grid.dy))
    )
    q = cand.select(
        "geom_id",
        F.round(frac * F.lit(float(frac_units))).cast("long").alias("_fi"),
        F.round(F.col("value") * frac * F.lit(float(prod_units))).cast("long").alias("_pi"),
    )
    agg = q.groupBy("geom_id").agg(
        F.sum("_fi").alias("_sfi"), F.sum("_pi").alias("_spi")
    )
    fu, pu = float(frac_units), float(prod_units)
    return (
        agg.where(F.col("_sfi") > 0)
        .select(
            "geom_id",
            F.round(F.col("_sfi") / F.lit(fu), 6).alias("cov_cells"),
            F.round(F.col("_spi") / F.lit(pu), 6).alias("w_sum"),
            F.round(
                (F.col("_spi") / F.lit(pu)) / (F.col("_sfi") / F.lit(fu)), 6
            ).alias("w_mean"),
        )
    )
