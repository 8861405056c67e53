"""Unigram-LM (SentencePiece) subword tokenizer: trainer + Viterbi apply.

The second production tokenizer family next to BPE (functions/bpe.py):
Kudo 2018, "Subword Regularization" — a unigram language model over
subword pieces, trained by EM over the distinct-word frequency table and
applied by Viterbi segmentation. This implementation is the deterministic
**hard-EM (Viterbi-EM) variant**: the E-step uses the single best
segmentation per word instead of forward–backward expectations, and
pruning keeps the top pieces by count rather than by Kudo's
loss-increase ranking — both standard simplifications, chosen here
because they make every training step EXACTLY recomputable in SQL, so
the full trainer (seed → EM rounds → prune → costs) has a DuckDB oracle
with no inlined model state.

Shapes (and why they scale):

- Training reads the corpus ONCE (`word_freqs` — the same table BPE
  trains on). Each EM round is one zero-shuffle Viterbi fold over the
  distinct-word table plus one bounded-cardinality (≤ vocab-size)
  piece-count groupBy; only the piece-count table (≤ seed cap rows) is
  ever collected. ``iters`` rounds = ``iters`` cheap Spark jobs.
- The Viterbi DP is a pure column fold (`F.aggregate`) over character
  positions carrying the last-K best (cost, segmentation) states — the
  same O(L)-per-word shifted-window trick as the LM tiers, zero Python.
  Piece costs ride in a literal map (bounded by the seed cap). For
  serving vocabularies beyond literal-map comfort (32k+), use
  :func:`unigram_tokenize_udf` — one Arrow-batched pandas UDF with the
  vocab in the closure and a per-batch word cache (the vocab_tokenize
  shape).
- All costs are integer nano-units: cost(piece) = round_half_away(1e9 ·
  ln(total/cnt)). Both engines sum BIGINTs, so DP comparisons and
  tie-breaks are bit-exact across Spark / DuckDB / pure Python. (The
  ln() itself is computed from identical doubles on each engine;
  tests assert every fixture value sits ≥1e-4 nano-fractions from a
  rounding boundary, dwarfing any last-ulp libm disagreement.)

Determinism contract (identical in Spark fold, DuckDB oracle, and the
pure-Python local trainer):
  - DP ties broken by (cost, k) — the SHORTEST candidate piece wins a
    cost tie;
  - seed keeps all single characters plus the top-``seed_multi``
    longer substrings by (count desc, piece asc);
  - per-round prune keeps all single characters (count floored at 1 so
    costs stay finite) plus the top-(vocab_size − n_chars) longer
    pieces with nonzero count by (count desc, piece asc);
  - unknown characters at apply time segment as single chars at a large
    UNK cost (byte-fallback analogue) without ever beating a known path.

Reference parity note: Rasters.jl has no tokenizer (geospatial scope);
this belongs to the LLM-pipeline mandate (Kudo 2018; the BPE trainer in
functions/bpe.py cites Sennrich 2016).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.functions.bpe import word_freqs
from rasters_jl_spark.session import local_df

try:  # module scope so pandas_udf type-hint inference works (house rule)
    import pandas as pd
except ImportError:  # pragma: no cover
    pd = None

UNIGRAM_BIG = 4_000_000_000_000_000  # unreachable-path sentinel (nano units)
UNIGRAM_UNK = 1_000_000_000_000  # unknown single-char fallback cost


def _round_half_away(x: float) -> int:
    """Positive-x half-away rounding == DuckDB ROUND (Python round() is
    half-to-even and would diverge at exact .5 — excluded by test)."""
    return int(math.floor(x + 0.5))


def costs_from_counts(counts: dict[str, int]) -> dict[str, int]:
    """piece → nano cost −1e9·ln(cnt/total), the exact formula the oracle
    recomputes as ROUND(1e9 * ln(CAST(total AS DOUBLE) / cnt))."""
    total = sum(counts.values())
    return {p: _round_half_away(1e9 * math.log(total / c)) for p, c in counts.items()}


def _piece_arrays(w: Column, max_piece_len: int) -> list[Column]:
    """Per k: the array of all length-k substrings of w (1..len−k+1)."""
    def _sub(kk: int):
        # closure factory, NOT a default-arg lambda: a 2-parameter lambda
        # would receive (element, index) from F.transform (house rule)
        return lambda i: w.substr(i, F.lit(kk))

    arrs = []
    for k in range(1, max_piece_len + 1):
        seq = F.sequence(F.lit(1), F.length(w) - k + 1)
        arrs.append(
            F.when(F.length(w) >= k, F.transform(seq, _sub(k))).otherwise(
                F.array().cast("array<string>")
            )
        )
    return arrs


def seed_counts(wf: DataFrame, max_piece_len: int) -> DataFrame:
    """(piece, cnt): substring occurrence counts weighted by word freq —
    the standard seed-vocabulary statistic (every substring up to
    max_piece_len, counted with multiplicity)."""
    return (
        wf.select(
            "freq",
            F.explode(F.concat(*_piece_arrays(F.col("w"), max_piece_len))).alias(
                "piece"
            ),
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
    )


def viterbi_struct(w: Column, costs: dict[str, int], max_piece_len: int) -> Column:
    """struct(c: total nano cost, s: space-joined best segmentation) of
    word ``w`` under the piece-cost table — an O(L) fold carrying the
    last-K best states; ties prefer the shorter candidate piece (struct
    sort on (c, k))."""
    K = max_piece_len
    entries = [x for p, c in sorted(costs.items()) for x in (F.lit(p), F.lit(c))]
    cmap = F.create_map(*entries)

    def st(c: Column, s: Column) -> Column:
        return F.struct(c.cast("long").alias("c"), s.alias("s"))

    zero = F.array(
        st(F.lit(0), F.lit("")), *[st(F.lit(UNIGRAM_BIG), F.lit("")) for _ in range(K - 1)]
    )

    def step(acc: Column, i: Column) -> Column:
        cands = []
        for k in range(1, K + 1):
            start = F.greatest(i - (k - 1), F.lit(1))
            piece = w.substr(start, F.lit(k))
            prev = F.element_at(acc, k)
            pc = F.coalesce(
                F.element_at(cmap, piece),
                F.lit(UNIGRAM_UNK if k == 1 else UNIGRAM_BIG).cast("long"),
            )
            c = F.when(i >= k, prev["c"] + pc).otherwise(
                F.lit(UNIGRAM_BIG).cast("long")
            )
            s = F.when(prev["s"] == "", piece).otherwise(
                F.concat(prev["s"], F.lit(" "), piece)
            )
            cands.append(
                F.struct(c.alias("c"), F.lit(k).alias("k"), s.alias("s"))
            )
        best = F.element_at(F.array_sort(F.array(*cands)), 1)
        return F.concat(F.array(st(best["c"], best["s"])), F.slice(acc, 1, K - 1))

    acc = F.aggregate(F.sequence(F.lit(1), F.length(w)), zero, step)
    return F.element_at(acc, 1)


def _viterbi_py(w: str, costs: dict[str, int], max_piece_len: int) -> list[str]:
    """Pure-Python Viterbi with the identical (cost, k) tie-break — the
    local-trainer twin of :func:`viterbi_struct`."""
    n = len(w)
    best = [(0, [])] + [(UNIGRAM_BIG, [])] * n
    for i in range(1, n + 1):
        cand = None
        for k in range(1, min(max_piece_len, i) + 1):
            piece = w[i - k : i]
            pc = costs.get(piece, UNIGRAM_UNK if k == 1 else UNIGRAM_BIG)
            c = best[i - k][0] + pc
            if cand is None or (c, k) < cand[:2]:
                cand = (c, k, best[i - k][1] + [piece])
        best[i] = (cand[0], cand[2])
    return best[n][1]


def _prune(
    counts: dict[str, int], chars: set[str], vocab_size: int
) -> dict[str, int]:
    """Per-round prune: all single chars (count floored at 1) + the top
    (vocab_size − n_chars) multi-char pieces with nonzero count by
    (count desc, piece asc)."""
    budget = max(vocab_size - len(chars), 0)
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1 and c > 0),
        key=lambda pc: (-pc[1], pc[0]),
    )[:budget]
    out = {p: c for p, c in multi}
    for ch in sorted(chars):
        out[ch] = max(counts.get(ch, 0), 1)
    return out


def unigram_lm_train(
    docs: DataFrame,
    max_piece_len: int = 3,
    seed_multi: int = 80,
    vocab_size: int = 60,
    iters: int = 2,
    text_col: str = "text",
) -> tuple[dict[str, int], dict[str, int], DataFrame]:
    """Distributed hard-EM unigram-LM training. Returns (counts, costs,
    DataFrame(piece, cnt, cost_nano)).

    One corpus pass (word_freqs, pinned with ``localCheckpoint()`` for
    the seed counts and every round), then per round: a zero-shuffle
    Viterbi fold over the distinct-word table + a ≤-vocab-sized piece
    groupBy; only bounded piece tables are collected. Bit-identical to
    :func:`unigram_lm_train_local` (asserted in tests) and to the DuckDB
    oracle, which recomputes the whole pipeline from the corpus.
    """
    spark = docs.sparkSession
    wf = word_freqs(docs, text_col).localCheckpoint()
    seed = seed_counts(wf, max_piece_len)
    singles = {
        r["piece"]: int(r["cnt"])
        for r in seed.where(F.length("piece") == 1).collect()
    }
    multi_rows = (
        seed.where(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(seed_multi)
        .collect()
    )
    counts = dict(singles)
    counts.update({r["piece"]: int(r["cnt"]) for r in multi_rows})
    chars = set(singles)
    for _ in range(iters):
        costs = costs_from_counts(counts)
        seg = wf.select(
            "freq", viterbi_struct(F.col("w"), costs, max_piece_len)["s"].alias("seg")
        )
        n = (
            seg.select("freq", F.explode(F.split("seg", " ")).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").alias("cnt"))
        )
        counts = _prune(
            {r["piece"]: int(r["cnt"]) for r in n.collect()}, chars, vocab_size
        )
    costs = costs_from_counts(counts)
    rows = [(p, counts[p], costs[p]) for p in sorted(counts)]
    df = local_df(spark, rows, "piece string, cnt bigint, cost_nano bigint")
    return counts, costs, df


def unigram_lm_train_local(
    docs: DataFrame,
    max_piece_len: int = 3,
    seed_multi: int = 80,
    vocab_size: int = 60,
    iters: int = 2,
    text_col: str = "text",
) -> tuple[dict[str, int], dict[str, int], DataFrame]:
    """Driver-local twin (the bpe_train_local shape): one Spark pass for
    the word table, then pure-Python seed/EM/prune with the identical
    determinism contract — bit-identical output, shares the oracle."""
    spark = docs.sparkSession
    rows = word_freqs(docs, text_col).collect()
    words = [(r["w"], int(r["freq"])) for r in rows]
    counts: dict[str, int] = {}
    for w, f in words:
        for k in range(1, max_piece_len + 1):
            for i in range(len(w) - k + 1):
                p = w[i : i + k]
                counts[p] = counts.get(p, 0) + f
    chars = {p for p in counts if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )[:seed_multi]
    singles = {p: c for p, c in counts.items() if len(p) == 1}
    counts = dict(singles)
    counts.update(dict(multi))
    for _ in range(iters):
        costs = costs_from_counts(counts)
        n: dict[str, int] = {}
        for w, f in words:
            for p in _viterbi_py(w, costs, max_piece_len):
                n[p] = n.get(p, 0) + f
        counts = _prune(n, chars, vocab_size)
    costs = costs_from_counts(counts)
    out = [(p, counts[p], costs[p]) for p in sorted(counts)]
    df = local_df(spark, out, "piece string, cnt bigint, cost_nano bigint")
    return counts, costs, df


def unigram_tokenize(
    docs: DataFrame,
    costs: dict[str, int],
    max_piece_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens): Viterbi-segment every word of every document under
    the trained piece costs — the fold nested in one transform over the
    word array: a single JVM expression tree, zero shuffle, zero Python."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    toks = F.flatten(
        F.transform(
            words, lambda w: F.split(viterbi_struct(w, costs, max_piece_len)["s"], " ")
        )
    )
    return docs.select(F.col(id_col).alias("doc_id"), toks.alias("tokens"))


def unigram_tokenize_udf(
    docs: DataFrame,
    costs: dict[str, int],
    max_piece_len: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Serving tier for big vocabularies: one Arrow-batched pandas UDF,
    costs dict in the closure, per-batch word cache (the vocab_tokenize
    shape). Token-for-token equal to :func:`unigram_tokenize` (tested)."""
    costs_local = dict(costs)
    K = max_piece_len

    @F.pandas_udf("array<string>")
    def _tok(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def tok_word(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is None:
                hit = _viterbi_py(w, costs_local, K)
                cache[w] = hit
            return hit

        return texts.map(
            lambda t: [p for w in (t or "").split(" ") if w for p in tok_word(w)]
        )

    return docs.select(F.col(id_col).alias("doc_id"), _tok(F.col(text_col)).alias("tokens"))
