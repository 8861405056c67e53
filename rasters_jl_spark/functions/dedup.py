"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

All hash primitives are md5-based (identical in Spark and DuckDB) so the
correctness oracle can reproduce candidate sets bit-for-bit — a deliberate
departure from xxhash-style engines whose hashes aren't portable.

Scale notes (100 TB): exact dedup is one hash-groupBy (partial agg);
MinHash signatures are one shingle-explode + partial-agg min per doc; LSH
candidates are one groupBy(band, signature) bucket build with in-bucket
pair generation; SimHash is one explode+groupBy keyed by doc_id; dup
clusters are hash-to-min label propagation (O(diameter) rounds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MINHASH_BANDS = 4  # LSH bands (candidate if ANY band matches entirely)
MINHASH_ROWS = 2  # min-hashes concatenated per band: s50 = (1/b)^(1/r) = 0.5
SHINGLE_K = 3  # tokens per shingle
SIMHASH_BITS = 16  # one bit per md5 hex position, bit = hexdigit >= 8
HIGH_HEX = ("8", "9", "a", "b", "c", "d", "e", "f")
# LSH buckets bigger than this are dropped from pair generation: one
# degenerate bucket (empty/boilerplate docs) would otherwise hold the
# whole bucket in a single collect_list row (executor OOM) and explode
# O(n²) pairs. Dropped buckets are NOT silent — surface them with
# :func:`oversized_buckets` (the dedup job logs the count).
BUCKET_CAP = 1000


def shingles_col(text: Column) -> Column:
    """3-token shingles, built linear-time: zip_with over three shifted
    slices of the token array.

    The naive formulation — ``transform(sequence(...), j ->
    element_at(toks, j+...))`` — re-evaluates the captured ``toks``
    expression (and anything Catalyst's CollapseProject inlined into it,
    like the ``split``) once per lambda reference per element: O(n²) work
    per document. ``zip_with`` lambdas reference only their element
    variables, so the token array is evaluated a constant number of times
    per row no matter what CollapseProject does upstream.
    """
    return shingles_from_tokens(F.split(text, " "), text)


def shingles_from_tokens(toks: Column, fallback: Column) -> Column:
    n = F.size(toks)
    m = F.greatest(n - (SHINGLE_K - 1), F.lit(1))  # shingle count (guarded ≥1)
    a = F.slice(toks, 1, m)
    b = F.slice(toks, 2, m)
    c = F.slice(toks, 3, m)
    pair = F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y))
    tri = F.zip_with(pair, c, lambda xy, z: F.concat_ws(" ", xy, z))
    return F.when(n >= SHINGLE_K, tri).otherwise(F.array(fallback))


def minhash_sig_col(text: Column, band: int) -> Column:
    """Band signature = concat of MINHASH_ROWS salted min-hashes: row i of
    band b is min over shingles of md5((b*r+i) || '|' || shingle).

    b×r banding (b=4 bands, r=2 rows): P(candidate) = 1-(1-s^r)^b with
    threshold s50 = (1/b)^(1/r) = 0.5 — one band of one hash admitted
    mildly-similar pairs (s=0.2 → 59%!) and scaled quadratically on a real
    corpus. String-min of salted md5 is a valid min-hash family and is
    portable: DuckDB computes the identical value.
    """
    # closure, NOT a default-arg lambda: F.transform treats a 2-parameter
    # lambda as (element, index) and would silently bind the salt to the
    # element index
    def _salted(salt: int):
        return lambda s: F.md5(F.concat(F.lit(f"{salt}|"), s))

    mins = [
        F.array_min(F.transform(shingles_col(text), _salted(band * MINHASH_ROWS + i)))
        for i in range(MINHASH_ROWS)
    ]
    return F.concat(*mins)


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc band signatures as a ZERO-SHUFFLE two-step projection.

    Step 1 materialises the shingle array once per row; step 2 computes the
    BANDS×ROWS salted ``array_min(transform(...))`` folds over that
    materialised column. CollapseProject leaves the alias alone (a non-cheap
    expression referenced 8×), so the split/zip_with runs once per doc and
    each salt is one md5 pass over the array — identical values to the
    streaming twin's :func:`minhash_sig_col`.

    The previous formulation (shingle explode + groupBy(doc_id) min) paid a
    map-side Sort + SortAggregate over every *shingle* row — ``min(string)``
    has a variable-width buffer, so HashAggregate is ineligible and Spark
    sorts the exploded stream — plus a doc-count exchange. The projection
    form has no Generate, no sort, no exchange at any corpus size."""
    sh = docs.select("doc_id", shingles_col(F.col(text_col)).alias("_sh"))

    def _salted(salt: int):
        return lambda s: F.md5(F.concat(F.lit(f"{salt}|"), s))

    sig_cols = [
        F.concat(
            *[
                F.array_min(F.transform(F.col("_sh"), _salted(b * MINHASH_ROWS + i)))
                for i in range(MINHASH_ROWS)
            ]
        ).alias(f"sig{b}")
        for b in range(MINHASH_BANDS)
    ]
    return sh.select("doc_id", *sig_cols)


def minhash_band_rows(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band, sig): signatures unpivoted by ONE explode (a b-way
    union would re-run the whole signature subtree per branch — measured
    28 shuffles in the old plan)."""
    sigs = minhash_signatures(docs, text_col)
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"sig{b}").alias("sig"))
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))


def oversized_buckets(
    docs: DataFrame, text_col: str = "text", bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """(band, sig, n) of LSH buckets the pair generator DROPS (> cap) —
    surface these (log/alert) so truncation is never silent; degenerate
    buckets are re-processed out-of-band (tighter shingles, re-salt) or
    explicitly written off as boilerplate."""
    return (
        minhash_band_rows(docs, text_col)
        .groupBy("band", "sig")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > bucket_cap)
    )


def capped_buckets(long: DataFrame, collect_expr: Column, bucket_cap: int) -> DataFrame:
    """(band, sig, ids): LSH buckets of size in [2, cap], built OOM-safe.

    Counts BEFORE collecting: filtering after collect_list would still
    materialize a degenerate bucket's whole membership in one aggregation
    row. The count is a window over (band, sig) — rows of dropped buckets
    are filtered before the collect aggregate ever sees them — and the
    groupBy keys match the window partitioning, so the single
    hashpartitioning exchange is shared (a count-aggregate + filter-join
    formulation measured 17 shuffles / 6 SortMergeJoins because it
    re-evaluated the whole signature subtree per side)."""
    from pyspark.sql import Window

    w = Window.partitionBy("band", "sig")
    return (
        long.withColumn("_n", F.count(F.lit(1)).over(w))
        .where((F.col("_n") >= 2) & (F.col("_n") <= bucket_cap))
        .groupBy("band", "sig")
        .agg(F.sort_array(collect_expr).alias("ids"))
    )


def minhash_candidate_pairs(
    docs: DataFrame, text_col: str = "text", bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """LSH: docs whose signature matches in ANY band → candidate pairs
    (a < b).

    Shape: ONE groupBy(band, sig) builds each LSH bucket and pairs are
    generated in-bucket from the sorted id list. Per-bucket pair fan-out
    is quadratic in bucket size — the standard LSH trade — so buckets
    larger than ``bucket_cap`` are dropped (see :func:`oversized_buckets`
    for surfacing them); the shuffle is one row per bucket."""
    long = minhash_band_rows(docs, text_col)
    buckets = capped_buckets(long, F.collect_list("doc_id"), bucket_cap)
    ids = F.col("ids")
    # pairs (ids[i], ids[j]) for i<j; ids sorted so doc_a < doc_b holds
    pair_arrays = F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    )
    return (
        buckets.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_dedup_pairs(docs: DataFrame, text_col: str = "text", threshold: float = 0.5) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates → verify Jaccard ≥ t.

    The verify join carries pre-distincted token SETS (split+distinct run
    once per doc, not once per candidate pair); the intersection size is
    computed in a single projection so codegen CSE evaluates it once."""
    cand = minhash_candidate_pairs(docs, text_col)
    t = docs.select(
        "doc_id",
        F.array_distinct(F.split(F.col(text_col), " ")).alias("_toks"),
    ).withColumn("_n", F.size(F.col("_toks")))
    ta = t.select(
        F.col("doc_id").alias("doc_a"), F.col("_toks").alias("_ta"), F.col("_n").alias("_na")
    )
    tb = t.select(
        F.col("doc_id").alias("doc_b"), F.col("_toks").alias("_tb"), F.col("_n").alias("_nb")
    )
    inter = F.size(F.array_intersect(F.col("_ta"), F.col("_tb"))).cast("double")
    pairs = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", F.round(inter / (F.col("_na") + F.col("_nb") - inter), 6))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash: per token, md5 hex position j contributes ±1 to bit j
    (+1 if the hex digit ≥ 8); doc bit j = sign of the sum.

    One explode + groupBy(doc_id) — a single shuffle keyed by doc id; the
    16 CASE sums ride the same partial aggregation.
    """
    toks = docs.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("_tok"))
    h = F.md5(F.col("_tok"))
    aggs = []
    for j in range(1, SIMHASH_BITS + 1):
        bit = F.when(F.substring(h, j, 1).isin(*HIGH_HEX), F.lit(1)).otherwise(F.lit(-1))
        aggs.append(F.sum(bit).alias(f"_s{j}"))
    sums = toks.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0)
    for j in range(1, SIMHASH_BITS + 1):
        fp = fp + F.when(F.col(f"_s{j}") > 0, F.lit(1 << (j - 1))).otherwise(F.lit(0))
    return sums.select("doc_id", fp.cast("bigint").alias("simhash"))


def exact_dedup_groups(docs: DataFrame, key_col: Column, min_count: int = 2) -> DataFrame:
    """Exact duplicate groups by content hash: (key, n_dups, keeper).

    keeper = min doc_id (the canonical survivor). One hash-groupBy.
    """
    return (
        docs.select(key_col.alias("dup_key"), "doc_id")
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper"))
        .where(F.col("n_dups") >= min_count)
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: (node, component) where component is
    the min doc_id reachable through the pair graph — the canonical keeper.

    Hash-to-min label propagation (Rastogi et al., "Finding Connected
    Components in Map-Reduce", ICDE'13 — public algorithm): every node
    starts labelled with itself; each round takes the min of its own and
    its neighbours' labels; converges in O(graph diameter) rounds (dup
    clusters are near-cliques, so 2-3 rounds in practice). Per round: one
    equi join + one groupBy — both partial-aggregated; the per-round
    ``localCheckpoint`` truncates the lineage so plans stay O(1) deep at
    any scale instead of growing by two joins per iteration.
    """
    F_ = F
    edges = pairs.select(F_.col(a_col).alias("a"), F_.col(b_col).alias("b"))
    edges = edges.unionByName(
        edges.select(F_.col("b").alias("a"), F_.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        edges.select(F_.col("a").alias("node")).distinct().withColumn("label", F_.col("node"))
    ).localCheckpoint()
    # Convergence check without an extra join pass: per-node labels are
    # monotonically non-increasing, so the label SUM strictly decreases
    # exactly when any node changed — one tiny agg over the checkpointed
    # (already-materialized) labels per round.
    prev_sum = None
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["a"] == labels["node"])
            .select(F_.col("b").alias("node"), "label")
        )
        labels = (
            labels.unionByName(neigh)
            .groupBy("node")
            .agg(F_.min("label").alias("label"))
        ).localCheckpoint()
        s = labels.agg(F_.sum("label")).first()[0]
        if s == prev_sum:
            break
        prev_sum = s
    return labels.select("node", F_.col("label").alias("component"))


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """SimHash near-dup pairs: hamming(fp_a, fp_b) ≤ max_hamming.

    TEACHING BASELINE, not the scale path: 4-bit bands give 16 buckets per
    band (64 total), so in-bucket pair generation degenerates toward
    all-pairs on any real corpus — use :func:`simhash_wide_pairs` (15-bit
    bands, 32k buckets/band) in production. Kept because the 16-bit
    construction is the compact, fully-portable illustration of pigeonhole
    blocking: hamming ≤ 3 over 4 bands ⇒ ≥1 identical band, so the
    candidate join is the same groupBy(band, sig) bucket build as MinHash
    LSH. Fingerprints ride the bucket structs, so verification (bit_count
    of xor) needs no second join. Buckets over ``bucket_cap`` are dropped
    (count-first, so the degenerate bucket is never materialized).
    """
    fp = simhash(docs, text_col)
    n_bands = SIMHASH_BITS // 4
    long = fp.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 4 * b).bitwiseAND(F.lit(15)).alias("sig"),
                        F.col("doc_id"),
                        F.col("simhash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs")
    ).select("bs.band", "bs.sig", "bs.doc_id", "bs.simhash")
    buckets = capped_buckets(
        long, F.collect_list(F.struct("doc_id", "simhash")), bucket_cap
    )
    ids = F.col("ids")
    pair_arrays = F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["simhash"].alias("_sa"),
                y["simhash"].alias("_sb"),
            ),
        ),
    )
    hamming = F.bit_count(F.col("p._sa").bitwiseXOR(F.col("p._sb"))).cast("int")
    return (
        buckets.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.doc_a", "p.doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Wide (60-bit) SimHash — the PRODUCTION near-dup tier (15-bit bands, 32k
# buckets per band); the 16-bit variant above is the teaching baseline.
# 60 bits (not 64) keeps the fingerprint strictly inside int64 in BOTH
# engines (DuckDB sums in HUGEINT and casts down; 2^63 terms would overflow
# the cast).
# ---------------------------------------------------------------------------

SIMHASH_WIDE_BITS = 60
_WIDE_PER_MD5 = 30  # hex positions used per salted md5 (two salts cover 60)


def simhash_wide(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit SimHash: bit j comes from hex position (j mod 30)+1 of
    md5((j div 30) || '|' || token) — two salted md5s per token, one
    explode + one partial-aggregated groupBy(doc_id), same plan shape as
    the 16-bit variant."""
    toks = docs.select("doc_id", F.explode(F.split(F.col(text_col), " ")).alias("_tok"))
    h0 = F.md5(F.concat(F.lit("0|"), F.col("_tok")))
    h1 = F.md5(F.concat(F.lit("1|"), F.col("_tok")))
    aggs = []
    for j in range(SIMHASH_WIDE_BITS):
        h = h0 if j < _WIDE_PER_MD5 else h1
        pos = j % _WIDE_PER_MD5 + 1
        bit = F.when(F.substring(h, pos, 1).isin(*HIGH_HEX), F.lit(1)).otherwise(F.lit(-1))
        aggs.append(F.sum(bit).alias(f"_w{j}"))
    sums = toks.groupBy("doc_id").agg(*aggs)
    fp = F.lit(0).cast("bigint")
    for j in range(SIMHASH_WIDE_BITS):
        fp = fp + F.when(F.col(f"_w{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_wide_pairs(
    docs: DataFrame, text_col: str = "text", max_hamming: int = 3, bucket_cap: int = BUCKET_CAP
) -> DataFrame:
    """Near-dup pairs on the 60-bit fingerprint: pigeonhole blocking with
    4 bands of 15 bits (hamming ≤ 3 ⇒ ≥1 identical band), bucket groupBy +
    in-bucket pair generation (buckets over ``bucket_cap`` dropped,
    count-first), bit_count(xor) verify."""
    fp = simhash_wide(docs, text_col)
    n_bands, band_bits = 4, SIMHASH_WIDE_BITS // 4
    mask = (1 << band_bits) - 1
    long = fp.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), band_bits * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("sig"),
                        F.col("doc_id"),
                        F.col("simhash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs")
    ).select("bs.band", "bs.sig", "bs.doc_id", "bs.simhash")
    buckets = capped_buckets(
        long, F.collect_list(F.struct("doc_id", "simhash")), bucket_cap
    )
    ids = F.col("ids")
    pair_arrays = F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(
                x["doc_id"].alias("doc_a"),
                y["doc_id"].alias("doc_b"),
                x["simhash"].alias("_sa"),
                y["simhash"].alias("_sb"),
            ),
        ),
    )
    hamming = F.bit_count(F.col("p._sa").bitwiseXOR(F.col("p._sb"))).cast("int")
    return (
        buckets.select(F.explode(F.flatten(pair_arrays)).alias("p"))
        .select("p.doc_a", "p.doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination — the GPT-3 appendix-C recipe (Brown et al. 2020):
# a training document is contaminated if it shares any n-token gram with a
# benchmark/eval document. The eval side is small by construction
# (benchmarks are thousands of docs; the corpus is billions), so its
# distinct gram hashes BROADCAST and the corpus-side hit count is one
# map-side explode + partial aggregation — no corpus-wide shuffle.
# ---------------------------------------------------------------------------

DECON_N = 8  # gram size (13 in the GPT-3 recipe; 8 fits the sandbox docs)


def ngrams_col(text: Column, n: int = DECON_N) -> Column:
    """n-token grams, linear-time: iterated zip_with over n shifted slices
    (same O(n²)-avoidance reasoning as :func:`shingles_col` — transform
    lambdas re-evaluate captured expressions per element; zip_with lambdas
    only touch their element variables). Docs with < n tokens yield []."""
    toks = F.split(text, " ")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, m)
    for i in range(1, n):
        acc = F.zip_with(acc, F.slice(toks, 1 + i, m), lambda a, b: F.concat_ws(" ", a, b))
    return acc


def eval_gram_hashes(eval_docs: DataFrame, n: int = DECON_N, text_col: str = "text") -> DataFrame:
    """(gh): distinct md5 n-gram hashes of the eval set — the broadcast
    side of every decontamination join (batch or stream-static)."""
    return (
        eval_docs.select(F.explode(ngrams_col(F.col(text_col), n)).alias("g"))
        .select(F.md5("g").alias("gh"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = DECON_N,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hit_grams) for every training doc sharing ≥1 n-gram with
    the eval set. Hashes are md5 (engine-portable); repeated hits of the
    same gram count once. Consumers anti-join the result against the
    corpus (the same shape as the curation pipeline's dedup stages)."""
    eg = eval_gram_hashes(eval_docs, n, eval_text_col)
    dg = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(ngrams_col(F.col(text_col), n)).alias("g")
    )
    hits = dg.select("doc_id", F.md5("g").alias("gh")).join(F.broadcast(eg), "gh")
    return hits.groupBy("doc_id").agg(F.count_distinct("gh").alias("n_hit_grams"))


def canonical_text_col(text: Column) -> Column:
    """CCNet-style normalization before exact dedup: lowercase, strip
    non-alphanumerics, collapse whitespace — so case/punctuation variants
    of the same content hash identically. Pure codegen (lower +
    regexp_replace), portable verbatim to the oracle."""
    c = F.lower(text)
    c = F.regexp_replace(c, "[^a-z0-9 ]", "")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


# ---------------------------------------------------------------------------
# Duplicated-span detection — the windowed form of ExactSubstr dedup
# (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
# Better"): instead of a suffix array (global order, hostile to
# distribution), hash every K-token window, keep windows whose hash occurs
# ≥2 times in the corpus, and merge per-doc runs of adjacent duplicated
# windows into MAXIMAL spans. Any shared substring of ≥ K tokens is found
# exactly; the distributed cost is one groupBy(window-hash) + one
# groupBy(doc, run) — both partial-aggregated, no global sort.
# ---------------------------------------------------------------------------

SPAN_K = 16  # window size (50-token stride-1 windows in the paper's scale)


def duplicated_spans(
    docs: DataFrame, k: int = SPAN_K, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, span_start, span_len): maximal token spans whose every
    K-window recurs somewhere in the corpus. span_start is the 0-based
    token offset; span_len ≥ k tokens. Consumers cut or drop the spans
    (the ExactSubstr removal policy).

    Duplicate-window detection is a COUNT WINDOW over gh, not a
    groupBy+self-join: the join formulation re-evaluates the whole
    gram-explode subtree per side and sort-merges two corpus-gram-sized
    inputs (measured 7 shuffles / 2 SMJs); the window shares ONE
    hashpartitioning(gh) exchange — same discipline as
    :func:`capped_buckets`."""
    w = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ngrams_col(F.col(text_col), k)).alias("pos", "g"),
    ).select("doc_id", "pos", F.md5("g").alias("gh"))
    cw = Window.partitionBy("gh")
    dup = (
        w.withColumn("_n", F.count(F.lit(1)).over(cw))
        .where(F.col("_n") >= 2)
        .select("doc_id", "pos")
    )
    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy("pos"))
    runs = dup.withColumn("_grp", F.col("pos") - rn)
    return (
        runs.groupBy("doc_id", "_grp")
        .agg(F.min("pos").alias("span_start"), (F.count("*") + k - 1).alias("span_len"))
        .select("doc_id", "span_start", "span_len")
    )


def remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2021 cut policy, as in their
    released dedup tool: every occurrence of a duplicated span is excised
    — both copies, the acknowledged slight over-removal): rewrite
    ``text_col`` with all tokens covered by a (span_start, span_len) row
    of ``spans`` dropped and the remainder re-joined; uncovered tokens
    are byte-preserved. Mirrors the boilerplate-strip rewrite: per-doc
    span list collected (bounded by duplicated-span count, not doc
    length), then the cut is pure higher-order column math — one
    groupBy(doc) + one join, no second shuffle over tokens."""
    cov = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("long").alias("span_start"),
                F.col("span_len").cast("long").alias("span_len"),
            )
        ).alias("_sp")
    )
    toks = F.split(F.col(text_col), " ")
    idx = F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            F.col("_sp"),
            lambda sp: (sp["span_start"] <= s["i"])
            & (s["i"] < sp["span_start"] + sp["span_len"]),
        ),
    )
    clean = F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    empty = F.array().cast("array<struct<span_start:bigint,span_len:bigint>>")
    return (
        docs.join(cov, id_col, "left")
        .withColumn("_sp", F.coalesce(F.col("_sp"), empty))
        .withColumn(text_col, clean)
        .drop("_sp")
    )


def strip_duplicate_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_words: int = 3,
) -> DataFrame:
    """CCNet-style paragraph dedup (Wenzek et al. 2020): a paragraph that
    occurs more than once in the CORPUS is kept only at its first
    occurrence (min (doc_id, position)); every later occurrence is
    removed from its document. Paragraphs under ``min_words`` words
    (headings, blank separators) are exempt — deduping them would shred
    formatting for no signal.

    Shape: one posexplode, ONE window over the paragraph hash (the only
    corpus-wide exchange — same class as exact dedup), one per-doc
    regroup, one left join restoring fully-stripped docs as empty text.
    Returns the input columns with ``text_col`` rewritten."""
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pidx", "para"),
    )
    n_words = F.size(F.filter(F.split(F.col("para"), " "), lambda w: F.length(w) > 0))
    paras = paras.withColumn("_exempt", n_words < min_words).withColumn(
        "_h", F.md5(F.col("para"))
    )
    w = Window.partitionBy("_h").orderBy("doc_id", "pidx")
    nonex = paras.where(~F.col("_exempt")).withColumn("_rn", F.row_number().over(w))
    kept = nonex.where(F.col("_rn") == 1).drop("_rn").unionByName(
        paras.where(F.col("_exempt"))
    )
    ordered = F.array_sort(F.collect_list(F.struct("pidx", "para")))
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(F.transform(ordered, lambda s: s["para"]), sep).alias("_clean")
    )
    others = [c for c in docs.columns if c != text_col]
    out = docs.select(*[F.col(c) for c in others], F.col(text_col)).join(
        rebuilt.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    return out.select(
        *[F.col(c) for c in others],
        F.coalesce(F.col("_clean"), F.lit("")).alias(text_col),
    )


# ---------------------------------------------------------------- bloom
BLOOM_M = 1 << 18  # bits (power of two)
BLOOM_K = 4  # hash functions


def bloom_positions(key: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> list[Column]:
    """The k bloom bit positions of a key: salted-md5 family
    ``conv(substr(md5('bloom{j}|' || key), 1, 8), 16, 10) % m`` — the same
    portable construction every hash in this module uses, so DuckDB can
    recompute membership exactly (a bloom filter is DETERMINISTIC given
    (m, k, family); false positives are part of the semantics and the
    oracle reproduces them too)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"bloom{j}|"), key)), 1, 8), 16, 10
        ).cast("long")
        % m
        for j in range(k)
    ]


def bloom_build(
    prior: DataFrame, key: Column, m: int = BLOOM_M, k: int = BLOOM_K
) -> list[int]:
    """Pack the prior corpus's bloom bitset into ``m/64`` int64 words.

    Scale shape: positions explode (k rows/doc) → groupBy(word)
    ``bit_or`` of single-bit masks — partial aggregation collapses each
    word map-side, so the exchange and the driver collect are bounded by
    ``m/64`` rows (4,096 at the default 2^18 bits) REGARDLESS of prior
    corpus size. This is the same driver-bounded class as Spark's own
    ``DataFrameStatFunctions.bloomFilter`` aggregate, with a portable
    hash family instead of an opaque JVM sketch."""
    pos = prior.select(F.explode(F.array(*bloom_positions(key, m, k))).alias("pos"))
    words = (
        pos.groupBy(F.shiftright("pos", 6).alias("word"))
        .agg(
            F.bit_or(
                # Python-API shiftleft needs a literal numBits; the SQL
                # expression takes a column — route through call_function.
                F.call_function(
                    "shiftleft", F.lit(1).cast("long"), (F.col("pos") % 64).cast("int")
                )
            ).alias("mask")
        )
        .collect()
    )
    packed = [0] * ((m + 63) // 64)
    for r in words:
        packed[int(r["word"])] = int(r["mask"])
    return packed


def bloom_probe(
    docs: DataFrame,
    packed: list[int],
    key: Column,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """``maybe_seen`` per row: packed-bitset probe as PURE column math —
    ``(element_at(words, (pos>>6)+1) >> (pos%64)) & 1`` per hash, AND-ed —
    zero joins, zero shuffles, whole-stage codegen; the bitset rides into
    the plan as an ``array<long>`` literal (2^18 bits = 32 KB). For a
    bitset too big to inline (m ≳ 2^24), use :func:`bloom_probe_join`.

    The incremental-crawl scale win: membership against N prior docs costs
    O(m) broadcast state, never a join against the prior corpus."""
    words = F.lit(packed)
    hit = None
    for pos in bloom_positions(key, m, k):
        bit = (
            F.call_function(
                "shiftright",
                F.element_at(words, F.shiftright(pos, 6).cast("int") + 1),
                (pos % 64).cast("int"),
            )
            % 2 != 0
        )
        hit = bit if hit is None else hit & bit
    return docs.withColumn("maybe_seen", hit)


def bloom_probe_join(
    docs: DataFrame,
    bits: DataFrame,
    key: Column,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Escape hatch for bitsets past literal size: ``bits`` is the distinct
    set-position table (``pos long``, ≤ m rows — still metadata-scale).
    k broadcast left joins, one hit flag each, AND-ed — the probe side is
    never shuffled and never grouped (no explode → no regroup exchange)."""
    out = docs
    flags = []
    for j, pos in enumerate(bloom_positions(key, m, k)):
        b = F.broadcast(bits.select(F.col("pos").alias(f"_p{j}")).distinct())
        out = out.withColumn(f"_q{j}", pos).join(
            b, F.col(f"_q{j}") == F.col(f"_p{j}"), "left"
        )
        flags.append(F.col(f"_p{j}").isNotNull())
        out = out.drop(f"_q{j}")
    hit = flags[0]
    for fl in flags[1:]:
        hit = hit & fl
    return out.withColumn("maybe_seen", hit).drop(*[f"_p{j}" for j in range(k)])


def bloom_decon(
    new_docs: DataFrame,
    prior: DataFrame,
    key_col: str = "text",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Incremental-snapshot decontamination: drop new docs whose key was
    (probably) in the prior snapshot. False negatives are impossible —
    every prior key's bits are set — so nothing seen survives; false
    positives over-remove at the standard ``(1-e^{-kn/m})^k`` rate, the
    documented bloom trade for O(m)-state scaling."""
    packed = bloom_build(prior, F.col(key_col), m, k)
    probed = bloom_probe(new_docs, packed, F.col(key_col), m, k)
    return probed.where(~F.col("maybe_seen")).drop("maybe_seen")
