"""Blocklist filtering — the C4-style content gate (Raffel et al. 2020
filter documents containing any term from a blocklist) plus a substring
tier for phrases/URLs.

Two tiers by pattern shape:
- ``mode="word"``: the blocklist holds whole tokens → pure Spark: one
  token explode + broadcast semi-join against the (tiny) term table —
  no Python anywhere, the plan every Spark engineer should write first.
- ``mode="substring"``: terms may span token boundaries ("how to build
  a...") → one Arrow-batched pandas UDF running an Aho-Corasick
  automaton whose tables are built once on the driver and travel in the
  UDF closure (linear scan per document regardless of blocklist size —
  the production multi-pattern matcher; a per-term contains() loop is
  O(terms × text)).

Both tiers return the per-doc HIT COUNT so callers choose drop vs flag;
`blocklist_filter` applies the drop.
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf type-hint inference needs it
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.session import local_df


def _aho_corasick(terms: tuple[str, ...]):
    """Build goto/fail/output tables. Pure Python, run once on the driver;
    the tables travel in the UDF closure. Matching is O(len(text))."""
    goto: list[dict[str, int]] = [{}]
    out: list[int] = [0]
    for t in terms:
        s = 0
        for ch in t:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                out.append(0)
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s] += 1
    fail = [0] * len(goto)
    from collections import deque

    q = deque(goto[0].values())
    while q:
        s = q.popleft()
        for ch, t in goto[s].items():
            q.append(t)
            f = fail[s]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[t] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != t else 0
            out[t] += out[fail[t]]
    return goto, fail, out


def blocklist_hits(
    docs: DataFrame,
    terms: tuple[str, ...],
    mode: str = "word",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits): blocklist occurrences per document (0 included)."""
    if mode == "word":
        spark = docs.sparkSession
        tdf = local_df(spark, [(t,) for t in sorted(set(terms))], "term string")
        # split on ANY whitespace run (C4 tokenizes the same way): a term
        # at a newline/tab boundary must still hit
        toks = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), "\\s+")).alias("term"),
        )
        hits = (
            toks.join(F.broadcast(tdf), "term")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits"))
        )
        base = docs.select(F.col(id_col).alias("doc_id"))
        return base.join(hits, "doc_id", "left").select(
            "doc_id", F.coalesce("n_hits", F.lit(0)).alias("n_hits")
        )
    if mode == "substring":
        tt = tuple(sorted(set(terms)))
        # build the automaton ONCE here (driver); the three tables pickle
        # into the UDF closure — building inside the UDF body would redo
        # the O(blocklist chars) construction per Arrow batch
        goto, fail, out = _aho_corasick(tt)

        @F.pandas_udf("long")
        def _ac(texts: pd.Series) -> pd.Series:
            def count(text) -> int:
                if text is None:
                    return 0  # null text = zero hits, matching word mode
                s, n = 0, 0
                for ch in text:
                    while s and ch not in goto[s]:
                        s = fail[s]
                    s = goto[s].get(ch, 0)
                    n += out[s]
                return n

            return texts.map(count)

        return docs.select(
            F.col(id_col).alias("doc_id"), _ac(F.col(text_col)).alias("n_hits")
        )
    raise ValueError(f"mode must be word|substring, got {mode!r}")


def blocklist_filter(
    docs: DataFrame,
    terms: tuple[str, ...],
    mode: str = "word",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Docs with ZERO blocklist hits (the C4 drop policy)."""
    h = blocklist_hits(docs, terms, mode, id_col, text_col)
    keep = h.where(F.col("n_hits") == 0).select("doc_id")
    return docs.join(
        keep.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    )
