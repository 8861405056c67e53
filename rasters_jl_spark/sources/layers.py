"""Layer metadata table — per-layer missingval / dtype / unit / gain
provenance.

The reference's RasterStack carries one missingval per layer
(`src/stack.jl:31-32`), and `replace_missing` accepts a NamedTuple of
per-layer sentinels (`src/methods/replace_missing.jl:24-66`). The engine's
data convention is NULL end-to-end, so the metadata table's job is
SENTINEL PROVENANCE: which sentinel each layer's external format used, so
ingest can normalise (sentinel → NULL) and sinks can re-materialise
(NULL → sentinel) per layer. In production this is a tiny catalog table
(or Iceberg table properties); here it is a broadcastable DataFrame.

The table also carries the reference's per-layer READ MODIFIERS — the
``scale``/``offset`` gain pair a GeoTIFF/NetCDF stores so integer DNs
decode to physical values (`src/modifieddiskarray.jl` ``Mod``/``_applymod``;
the ``scaled``/``raw`` keywords `src/array.jl:374-384`). NULL scale/offset
means "no gain" for that layer, exactly the reference's ``Nothing`` legs of
``_scaleoffset`` (`src/modifieddiskarray.jl:137-141`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark.session import local_df

LAYERS_SCHEMA = (
    "layer string, missingval double, dtype string, unit string, "
    "scale double, offset double"
)

_INT_DTYPES = ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32")


def layers_meta(spark: SparkSession, entries: list[tuple]) -> DataFrame:
    """(layer, missingval, dtype, unit[, scale, offset]) — one row per stack
    layer. 4-tuples (no gain) are padded with NULL scale/offset."""
    rows = [tuple(e) + (None,) * (6 - len(e)) for e in entries]
    return local_df(spark, rows, LAYERS_SCHEMA)


def replace_missing_stack(stack: DataFrame, meta: DataFrame, to_null: bool = True) -> DataFrame:
    """Per-layer sentinel ⇄ NULL over a stacked raster (ix, iy, layer,
    value) — the reference's NamedTuple `replace_missing` form.

    One broadcast join on the (tiny) metadata table + a CASE — no shuffle.
    Layers absent from the metadata table pass through unchanged.
    """
    m = meta.select("layer", F.col("missingval").alias("_mv"))
    j = stack.join(F.broadcast(m), "layer", "left")
    v = F.col("value")
    if to_null:
        out = F.when(F.col("_mv").isNotNull() & (v == F.col("_mv")), F.lit(None)).otherwise(v)
    else:
        out = F.when(v.isNull(), F.col("_mv")).otherwise(v)
    return j.select("ix", "iy", "layer", out.alias("value"))


def _meta_cols(stack: DataFrame, meta: DataFrame) -> DataFrame:
    m = meta.select(
        "layer",
        F.col("missingval").alias("_mv"),
        F.col("dtype").alias("_dtype"),
        F.col("scale").alias("_scale"),
        F.col("offset").alias("_offset"),
    )
    return stack.join(F.broadcast(m), "layer", "left")


def apply_layer_mods(stack: DataFrame, meta: DataFrame, scaled: bool = True,
                     raw: bool = False) -> DataFrame:
    """Per-layer READ modifiers over a stacked raster (ix, iy, layer,
    value): sentinel → NULL, then physical = raw·scale + offset — the
    reference's ``_applymod`` read path (`src/modifieddiskarray.jl:125-141`)
    as ONE broadcast join on the layer catalog + codegen CASE, zero shuffle.

    Keyword parity with `src/array.jl:374-384` / `_raw_check`:
    ``raw=True`` ignores BOTH the sentinel and the gain (the reference's
    ``raw`` keyword — bytes exactly as stored); ``scaled=False`` keeps
    sentinel normalisation but skips the gain. NULL scale (offset) in the
    catalog means multiply-by-nothing (add-nothing), per layer — layers
    absent from the catalog pass through unchanged."""
    if raw:
        return stack.select("ix", "iy", "layer", "value")
    j = _meta_cols(stack, meta)
    v: Column = F.col("value")
    v = F.when(F.col("_mv").isNotNull() & (v == F.col("_mv")), F.lit(None)).otherwise(v)
    if scaled:
        v = v * F.coalesce(F.col("_scale"), F.lit(1.0)) + F.coalesce(
            F.col("_offset"), F.lit(0.0)
        )
    return j.select("ix", "iy", "layer", v.alias("value"))


def invert_layer_mods(stack: DataFrame, meta: DataFrame, scaled: bool = True,
                      coerce: str = "round") -> DataFrame:
    """Per-layer WRITE modifiers — the sink-side inverse (`_invertmod`,
    `src/modifieddiskarray.jl:143-161`): raw = (physical − offset) / scale,
    coerced back to the layer's storage dtype, then NULL → sentinel.

    ``coerce`` maps the reference's coerce callable (default ``convert``;
    users pass ``round``/``trunc`` for integer-backed layers): 'round' |
    'trunc' apply only to integer ``dtype`` layers (float layers keep the
    exact quotient); 'none' skips coercion entirely. The value column stays
    double — the DN domain, not the physical one; the parquet/GeoTIFF sink
    casts on write."""
    j = _meta_cols(stack, meta)
    v: Column = F.col("value")
    if scaled:
        v = (v - F.coalesce(F.col("_offset"), F.lit(0.0))) / F.coalesce(
            F.col("_scale"), F.lit(1.0)
        )
    if coerce in ("round", "trunc"):
        fn = F.round if coerce == "round" else lambda c: c.cast("long").cast("double")
        v = F.when(F.col("_dtype").isin(*_INT_DTYPES), fn(v)).otherwise(v)
    elif coerce != "none":
        raise ValueError(f"coerce must be round|trunc|none, got {coerce!r}")
    v = F.when(v.isNull(), F.col("_mv")).otherwise(v)
    return j.select("ix", "iy", "layer", v.alias("value"))
