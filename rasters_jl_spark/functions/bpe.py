"""Byte-pair encoding — learned subword vocabulary (Sennrich, Haddow &
Birch 2016, "Neural Machine Translation of Rare Words with Subword
Units"): iteratively merge the most frequent adjacent symbol pair.

Distributed shape: training operates on the DISTINCT-WORD frequency table
(one corpus-wide groupBy builds it — at web scale ~10⁸ rows vs 10¹²
tokens; this is how production BPE trainers work too). Each merge round is
one zip_with pair-explode + partial-aggregated groupBy over that table;
the argmax is a single-row driver collect per round (same documented class
as the k-means/connected-components round loop), and the merge itself is
a left-to-right greedy fold (F.aggregate — no Python, no UDF). Each
round starts by pinning the symbol table (``localCheckpoint()``, one job):
the round's count and the next round's fold read that one copy, and round
R's plan doesn't embed R copies of the training DAG.

Determinism: ties in pair frequency break by (left, right) lexicographic —
both engines produce the identical merge sequence, so the DuckDB oracle
replicates training round-for-round (recursive-CTE folds).
"""

from __future__ import annotations

import pandas as pd  # module scope: pandas_udf type-hint inference needs it here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.session import local_df

BPE_MERGES = 8  # sandbox rounds (30k-50k in production — a parameter)


def chars_col(word: Column) -> Column:
    """Initial symbol sequence: the word's characters. (No end-of-word
    marker — the fixture vocabulary is whitespace-tokenized words, so
    word boundaries are already explicit; production BPE appends '</w>'
    by the same column op.)"""
    return F.split(word, "")


def sym_pairs_col(syms: Column) -> Column:
    """array<struct<l,r>> of ADJACENT symbol pairs — linear-time zip_with
    over two shifted slices (house rule: transform lambdas re-evaluate
    captured expressions per element)."""
    n = F.size(syms)
    a = F.slice(syms, 1, F.greatest(n - 1, F.lit(0)))
    b = F.slice(syms, 2, F.greatest(n - 1, F.lit(0)))
    return F.zip_with(a, b, lambda x, y: F.struct(x.alias("l"), y.alias("r")))


def apply_merge_col(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of (left, right) → left||right: a fold
    whose accumulator replaces its last element when it equals ``left``
    and the incoming symbol equals ``right``. Merged output can't cascade
    within the round (acc's last becomes left||right ≠ left) — exactly
    the reference BPE semantics, overlaps included ('aaaa' → aa aa)."""
    merged = F.array(F.lit(left + right))
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), merged),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, freq): the distinct-word frequency table — the ONLY corpus-wide
    pass in BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .where(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _greedy_disjoint(cands, cap: int):
    """Greedy prefix selection of up to ``cap`` mutually NON-INTERACTING
    pairs from a (f desc, l asc, r asc)-ordered candidate list. Two pairs
    interact when they share any symbol, or one's merged output (l||r) is
    a symbol (or output) of the other — disjointness guarantees that
    applying the batch sequentially in selection order equals applying
    each against the round-start state: no selected merge can create or
    destroy an occurrence of another selected pair. (Selection is still
    frequency-frozen within the round — the standard batched-BPE
    approximation; batch=1 recovers exact Sennrich training.)"""
    used: set[str] = set()
    sel = []
    for l, r, f in cands:
        if len(sel) >= cap:
            break
        if {l, r, l + r} & used:
            continue
        sel.append((l, r, int(f)))
        used |= {l, r, l + r}
    return sel


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    text_col: str = "text",
    batch: int = 1,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges. Returns (merges, merges_df) where
    merges is [(round, left, right, pair_freq)] in application order and
    merges_df is the same as a DataFrame (the registry/oracle surface).

    ``batch=B`` selects up to B mutually non-interacting pairs per count
    round (greedy by frequency over the top ``8*B`` candidates — one
    bounded driver collect) and applies them as ONE chained-fold
    projection, cutting the number of sequential rounds (a pin and a
    count each) from n_merges to ceil(n_merges/B). batch=1 (default) is
    exact sequential Sennrich training. The round schedule is fixed
    (min(batch, remaining) per round); if disjointness underfills a
    round the total comes up short rather than re-counting mid-batch —
    deterministic, so the DuckDB oracle replicates it round-for-round.
    For vocab-scale training (30k+ merges) prefer
    :func:`bpe_train_local`, which runs the merge loop driver-side over
    the collected word-frequency table — zero per-merge Spark jobs."""
    if batch < 1:
        raise ValueError(f"batch must be >= 1, got {batch}")
    spark = docs.sparkSession
    state = word_freqs(docs, text_col).select("w", "freq", chars_col(F.col("w")).alias("syms"))
    merges: list[tuple[int, str, str, int]] = []
    n_rounds = -(-n_merges // batch)
    for r in range(n_rounds):
        # PLANNED schedule (r*batch consumed), not len(merges): an
        # underfilled round must not inflate later rounds' caps, or the
        # engine would select more merges than the oracle's fixed
        # round-for-round replication applies
        cap = min(batch, n_merges - r * batch)
        if cap <= 0:
            break
        state = state.localCheckpoint()
        counts = (
            state.select("freq", F.explode(sym_pairs_col(F.col("syms"))).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("f"))
        )
        k_cand = candidate_pool(cap)
        top = (
            counts.orderBy(F.col("f").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(k_cand)
            .collect()
        )
        sel = _greedy_disjoint([(t["l"], t["r"], t["f"]) for t in top], cap)
        if not sel:
            break
        syms = F.col("syms")
        for l, rr, f in sel:
            merges.append((len(merges), l, rr, f))
            syms = apply_merge_col(syms, l, rr)
        state = state.withColumn("syms", syms)
    df = local_df(
        spark, merges, "round int, left string, right string, pair_freq bigint"
    )
    return merges, df


def candidate_pool(cap: int) -> int:
    """Candidate rows collected per round for batched selection — shared
    with the oracle SQL generator so both engines scan the same prefix."""
    return max(32, 8 * cap)


def bpe_train_local(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    text_col: str = "text",
    max_words: int | None = None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Vocab-scale BPE training: ONE corpus-wide Spark pass builds the
    distinct-word frequency table; the merge loop runs driver-local with
    incrementally maintained pair counts — the production trainer shape
    (SentencePiece / HF tokenizers train exactly this way), because 30k+
    sequential cluster jobs is the wrong tool for a loop whose working
    set is the word table, not the corpus. Produces BIT-IDENTICAL merges
    to ``bpe_train(batch=1)`` on the same table (same counts, same
    (freq desc, pair asc) tie-break) — asserted in tests and by sharing
    the sequential recursive-CTE oracle.

    ``max_words`` truncates to the most frequent words (freq desc, word
    asc) when the distinct-word table outgrows the driver — at web scale
    ~10^8 rows ≈ a few GB, and Zipf puts almost all pair mass in the top
    slice. Truncation changes counts, so it is OFF by default and the
    cut is the caller's explicit, logged choice."""
    wf = word_freqs(docs, text_col)
    if max_words is not None:
        wf = wf.orderBy(F.col("freq").desc(), F.col("w").asc()).limit(max_words)
    rows = wf.collect()

    import heapq

    words = [list(r["w"]) for r in rows]
    freqs = [int(r["freq"]) for r in rows]
    # pair -> total freq, and pair -> {word_idx} containment index; the
    # argmax is a lazy-deletion heap (stale entries skipped when popped) —
    # O(log P) per touched pair instead of an O(P) scan per merge, which
    # is what keeps 30k+ merges tractable at a 10^7-pair vocabulary
    pair_f: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, str, str, int]] = []

    def _count_word(syms, wi, sign):
        fq = freqs[wi] * sign
        for a, b in zip(syms, syms[1:]):
            p = (a, b)
            nf = pair_f.get(p, 0) + fq
            pair_f[p] = nf
            heapq.heappush(heap, (-nf, a, b, nf))
            if sign > 0:
                pair_words.setdefault(p, set()).add(wi)

    for wi, syms in enumerate(words):
        _count_word(syms, wi, +1)

    merges: list[tuple[int, str, str, int]] = []
    for r in range(n_merges):
        best = None
        while heap:
            negf, a, b, f = heap[0]
            if f <= 0 or pair_f.get((a, b), 0) != f:
                heapq.heappop(heap)  # stale or dead entry
                continue
            best = (a, b, f)
            break
        if best is None:
            break
        l, rr, f = best
        merges.append((r, l, rr, int(f)))
        merged = l + rr
        # re-count only words containing the pair; stale zero/neg entries
        # are skipped by the f <= 0 guard above
        for wi in list(pair_words.get((l, rr), ())):
            syms = words[wi]
            _count_word(syms, wi, -1)
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == rr:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
            _count_word(out, wi, +1)
    df = local_df(
        docs.sparkSession, merges, "round int, left string, right string, pair_freq bigint"
    )
    return merges, df


def bpe_tokenize(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens): apply the learned merges in order to every word —
    n_merges chained folds NESTED inside one transform over the word
    array, so the whole tokenizer is a single JVM expression tree: no
    explode, no shuffle, word order preserved by construction. (The
    transform lambda only touches its own variable — no captured-column
    re-evaluation, per the house zip_with rule. A production tokenizer
    would push the final vocab into a trie UDF; the fold chain is the
    reference semantics.)"""

    def _tok(w: Column) -> Column:
        s = chars_col(w)
        for _r, left, right, _f in merges:
            s = apply_merge_col(s, left, right)
        return s

    words = F.filter(F.split(F.col(text_col), " "), lambda w: F.length(w) > 0)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.flatten(F.transform(words, _tok)).alias("tokens"),
    )


def vocab_tokenize(
    docs: DataFrame,
    vocab: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, tokens): greedy LONGEST-MATCH vocabulary tokenizer — the
    inference-time apply tier (WordPiece/fast-tokenizer shape) for a
    trained vocabulary, vs :func:`bpe_tokenize`'s merge-fold chain which
    replays training exactly but grows one fold per merge (fine at 8,
    wrong at 100k). Runs as ONE Arrow-batched pandas UDF with the vocab
    in the closure (broadcast with the serialized udf) and a per-batch
    word cache — web corpora repeat words heavily, so each distinct word
    tokenizes once per batch. Unmatched positions fall back to the
    single character (byte-fallback analogue). Zero shuffle.

    Note the two tiers can differ on words where greedy longest-match
    diverges from the merge order — the standard, documented difference
    between training-time and inference-time BPE tokenization."""
    vocab_set = frozenset(v for v in vocab if len(v) > 1)
    max_len = max((len(v) for v in vocab), default=1)

    @F.pandas_udf("array<string>")
    def _tok(texts: pd.Series) -> pd.Series:
        cache: dict[str, list[str]] = {}

        def tok_word(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is not None:
                return hit
            out: list[str] = []
            i = 0
            n = len(w)
            while i < n:
                for ln in range(min(max_len, n - i), 0, -1):
                    piece = w[i : i + ln]
                    if ln == 1 or piece in vocab_set:
                        out.append(piece)
                        i += ln
                        break
            cache[w] = out
            return out

        return texts.map(
            lambda t: [p for w in t.split(" ") if w for p in tok_word(w)]
        )

    return docs.select(F.col(id_col).alias("doc_id"), _tok(F.col(text_col)).alias("tokens"))
