"""Sequence packing — the concat-then-chunk batching step of LLM
pretraining: the corpus is one long token stream (docs concatenated in a
deterministic order) cut into fixed-length training sequences; each doc
contributes to the chunks its token interval [start, end) overlaps.

The only global quantity is the PREFIX SUM of token counts in doc order —
computed distributed: range-partition by doc id, one per-partition window
cumsum, then add per-partition offsets (a P-row driver reduction, P =
#partitions — metadata-scale, same class as the documented knn count).
The ranged table is pinned (``localCheckpoint()``, run inside the call)
so the offsets and the output read one materialisation of the same
sampled range cuts.
A single unpartitioned window would serialize the corpus through one task;
this shape never does. The output is invariant to the (sampled) range
boundaries because disjoint ordered ranges reconstruct the same global
prefix sum regardless of where the cuts fall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SEQ_LEN = 128  # tokens per training sequence (2k-8k in production — parameter)


def pack_sequences(
    docs: DataFrame,
    seq_len: int = SEQ_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_parts: int = 32,
) -> DataFrame:
    """(doc_id, chunk_id, tok_start_in_doc, n_toks): which slice of each
    doc lands in which fixed-length training chunk, under concatenation
    in ``id_col`` order. Deterministic — no shuffle randomness can move a
    token between chunks."""
    # Count non-empty tokens only: split('', ' ') == [''] would reserve a
    # phantom slot for an empty/whitespace-only doc, inconsistent with the
    # tokenizer (bpe.word_freqs filters empty tokens). Zero-token docs
    # contribute no chunk rows (their [s, s) interval overlaps nothing).
    n_tok = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    ).cast("long")
    t = docs.select(
        F.col(id_col).alias("doc_id"), n_tok.alias("n_tok")
    ).repartitionByRange(n_parts, "doc_id")
    # ROWS frame, not the default RANGE frame: RANGE gives duplicate ids
    # IDENTICAL cumulative ends (both rows' intervals would overlap and
    # tokens double-assign). With ROWS, duplicate ids still tile the
    # stream — only their relative order within the tie is unspecified;
    # ids are unique in every fixture and should be upstream too.
    w = (
        Window.partitionBy("_p")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t2 = t.withColumn("_p", F.spark_partition_id()).withColumn(
        "_local_end", F.sum("n_tok").over(w)
    )
    t2 = t2.localCheckpoint()  # pin partitioning: _p must not be recomputed
    # P partition totals -> prefix offsets (driver-side, P rows)
    totals = t2.groupBy("_p").agg(F.max("_local_end").alias("tot")).collect()
    offs, acc = {}, 0
    for r in sorted(totals, key=lambda r: r["_p"]):
        offs[int(r["_p"])] = acc
        acc += int(r["tot"])
    off_map = F.create_map(*[F.lit(x) for kv in offs.items() for x in kv])
    e = (F.col("_local_end") + off_map[F.col("_p")]).alias("e")
    x = t2.select("doc_id", "n_tok", e).select(
        "doc_id", "n_tok", "e", (F.col("e") - F.col("n_tok")).alias("s")
    )
    first = F.floor(F.col("s") / seq_len).cast("long")
    last = F.floor((F.col("e") - 1) / seq_len).cast("long")
    k = F.col("chunk_id")
    # n_tok = 0 → empty interval; must drop BEFORE the explode (Spark's
    # sequence(first, last) runs DESCENDING when first > last, which would
    # fabricate chunk rows rather than none)
    x = x.where(F.col("n_tok") > 0)
    return (
        x.select("doc_id", "s", "e", F.explode(F.sequence(first, last)).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            F.greatest(k * seq_len - F.col("s"), F.lit(0)).alias("tok_start_in_doc"),
            (
                F.least(F.col("e"), (k + 1) * seq_len)
                - F.greatest(F.col("s"), k * seq_len)
            ).alias("n_toks"),
        )
    )
