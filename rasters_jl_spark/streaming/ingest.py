"""Structured Streaming ingest: pages stream → geotag → windowed zonal.

The reference is batch-only (`SURVEY.md §2.9`); RasterSeries over `Ti` is
the closest analogue. The engine's streaming path:

    readStream (file source of page parquet)
      → geotag + cell assignment (same column math as batch — shared code)
      → watermark on warc_ts (late data bound)
      → tumbling-window groupBy(window, geom/cell) counts
      → writeStream foreachBatch appending results + lineage rows

Checkpointing is Spark's own (`checkpointLocation`); cell assignment is
deterministic so replays are idempotent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark.grid import PAGES_RES, TILE_RES
from rasters_jl_spark.sources.pages import warc_ts_col, with_geotag


def stream_pages(
    spark: SparkSession, input_dir: str, schema: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def geotag_stream(pages: DataFrame, res: int = PAGES_RES) -> DataFrame:
    """The batch path's geotag rule (:func:`sources.pages.with_geotag`)."""
    if "warc_ts" not in pages.columns:
        pages = pages.withColumn("warc_ts", warc_ts_col(F.col("doc_id")))
    return with_geotag(pages, res, TILE_RES)


def windowed_cell_counts(
    geo: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling-window per-tile page counts with a watermark for late data."""
    return (
        geo.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("tile_id"))
        .agg(F.count("*").alias("n_pages"), F.sum("n_chars").alias("sum_chars"))
    )


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    schema: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "10 minutes",
    max_files_per_trigger: int | None = None,
):
    """Launch the streaming ingest; returns the StreamingQuery handle.
    ``max_files_per_trigger=1`` forces one micro-batch per input file —
    the watermark/late-data tests use it to control batch boundaries."""
    geo = geotag_stream(stream_pages(spark, input_dir, schema, max_files_per_trigger))
    agg = windowed_cell_counts(geo, window=window)

    def _write_batch(batch_df: DataFrame, batch_id: int):
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(_write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_decontaminate_stream(
    spark,
    src_dir: str,
    schema,
    eval_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int | None = None,
    max_files_per_trigger: int = 1,
):
    """Streaming eval-set decontamination: documents arrive as files, the
    eval gram-hash set is a STATIC broadcast side (stream-static join —
    Spark re-broadcasts it per micro-batch), and every (doc_id, gh) hit is
    appended. Stateless by design: flagging needs no cross-batch memory,
    so the stream scales with the micro-batch, not the corpus. Consumers
    anti-join the hit sink, same as the batch pipeline stage."""
    from pyspark.sql import functions as F

    from rasters_jl_spark.functions.dedup import DECON_N, eval_gram_hashes, ngrams_col

    k = n or DECON_N
    eg = eval_gram_hashes(eval_docs, k)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    hits = (
        stream.select("doc_id", F.explode(ngrams_col(F.col("text"), k)).alias("g"))
        .select("doc_id", F.md5("g").alias("gh"))
        .join(F.broadcast(eg), "gh")
        .select("doc_id", "gh")
    )
    return (
        hits.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_curate_stream(
    spark,
    src_dir: str,
    schema,
    out_dir: str,
    checkpoint_dir: str,
    min_words: int = 50,
    min_stops: int = 2,
    max_files_per_trigger: int = 1,
    c4: bool = False,
    c4_min_words: int = 5,
    c4_min_sentences: int = 3,
):
    """Streaming curation map stage: optional C4 line-level cleaning
    (rewrites text to the surviving lines, drops failing pages), Gopher
    quality gate, PII redaction — per micro-batch. STATELESS by
    construction (pure projections and filters — no cross-batch memory),
    so the streaming twin is row-identical to the batch stage over the
    same input and scales with the micro-batch, not the corpus.
    ``c4=True`` mirrors the batch pipeline's ``--c4`` stage, including
    its ``--c4-min-words``/``--c4-min-sentences`` knobs (published rules
    need terminal-punctuation prose — the synthetic fixture is
    legitimately rejected, see jobs/pipeline_job.py)."""
    from pyspark.sql import functions as F

    from rasters_jl_spark.functions.pii import redact_pii
    from rasters_jl_spark.functions.textstats import c4_clean, gopher_signals

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    if c4:
        stream = (
            c4_clean(
                stream,
                min_words_per_line=c4_min_words,
                min_sentences=c4_min_sentences,
            )
            .where(F.col("c4_pass"))
            .select("doc_id", F.col("clean_text").alias("text"))
        )
    gated = (
        gopher_signals(stream, min_words=min_words, min_stops=min_stops, keep=("text",))
        .where(F.col("gopher_pass"))
        .select("doc_id", "text")
    )
    curated = redact_pii(gated)
    return (
        curated.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_bloom_stream(
    spark,
    src_dir: str,
    schema,
    packed: list[int],
    out_dir: str,
    checkpoint_dir: str,
    m: int | None = None,
    k: int | None = None,
    max_files_per_trigger: int = 1,
):
    """Streaming Bloom incremental decontamination: the prior corpus's
    packed bitset (``functions/dedup.py::bloom_build`` — O(m) state
    regardless of prior size) rides into the streaming plan as an
    array<long> LITERAL, and every arriving document probes it with pure
    column math — zero joins, zero shuffles, zero cross-batch state. This
    is the incremental-crawl production shape: membership against N prior
    docs costs broadcast bytes, never a join against the prior corpus.
    Appends (doc_id, maybe_seen) per micro-batch."""
    from rasters_jl_spark.functions.dedup import BLOOM_K, BLOOM_M, bloom_probe

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    probed = bloom_probe(
        stream.select("doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")),
        packed,
        F.col("text"),
        m=m or BLOOM_M,
        k=k or BLOOM_K,
    ).select("doc_id", "maybe_seen")
    return (
        probed.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_ppl_stream(
    spark,
    src_dir: str,
    schema,
    ref_docs: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 3,
    max_files_per_trigger: int = 1,
):
    """Streaming CCNet perplexity bucketing against a FROZEN snapshot:
    the unigram model and the head/middle/tail cutoffs are trained ONCE on
    the reference corpus (`functions/textstats.py::ppl_snapshot` — CCNet
    trains its LM + quantile cuts on a reference crawl and applies them to
    every new shard), then each micro-batch scores its documents against
    the static state inside ``foreachBatch`` (the per-doc aggregation is
    batch-local — a document never spans source files) and appends
    (doc_id, n_words, bits_per_token, ppl_bucket). Stateless across
    batches; the stream never re-estimates quantiles, so bucket boundaries
    are stable under any arrival order."""
    from rasters_jl_spark.functions.textstats import (
        ppl_snapshot,
        snapshot_bucket,
        snapshot_score,
    )

    vocab, tot, cuts = ppl_snapshot(ref_docs, n_buckets)
    # Freeze the snapshot: without this every micro-batch would recompute
    # the reference plans from scratch.
    vocab, tot, cuts = vocab.cache(), tot.cache(), cuts.cache()
    cuts.count()

    def _score_batch(batch_df: DataFrame, batch_id: int):
        scored = snapshot_score(
            batch_df.select("doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")),
            vocab,
            tot,
        )
        snapshot_bucket(scored, cuts, n_buckets).write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.foreachBatch(_score_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
