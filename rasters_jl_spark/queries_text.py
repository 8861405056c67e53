"""Training-data pipeline queries (dedup / text stats / ANN / sampling /
temporal) with DuckDB oracle SQL. See `queries_core.py` for conventions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.functions import ann, dedup, langid, textstats
from rasters_jl_spark.operators.asof import select_near
from rasters_jl_spark.operators.sample import sample_weighted, u_sql
from rasters_jl_spark.sources.pages import pages_geo
from rasters_jl_spark.session import local_df

# ---------------------------------------------------------- corpora CTEs
AUG_EXACT_CTE = f"""aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {FX.DUP_OFFSET}, text FROM documents WHERE doc_id % {FX.DUP_EVERY} = 0
)"""

AUG_NEAR_CTE = f"""aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {FX.DUP_OFFSET}, text || '{FX.NEARDUP_SUFFIX}' FROM documents
    WHERE doc_id % {FX.DUP_EVERY} = 0
    UNION ALL
    SELECT * FROM (VALUES (-1, '{FX.SHORT_DOC_TEXT}'), (-2, '{FX.SHORT_DOC_TEXT}')) s(doc_id, text)
)"""


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan, re-spread over the executors: the sandbox table is a
    single parquet file (one scan partition); real corpora arrive in many
    files. Repartition so per-row CPU work (md5, shingles) parallelises.

    Pinned (``localCheckpoint()``, run here) for the same reasons as
    ``_aug_near``: several text queries consume this subtree from
    self-joined branches (doc spine + freq tables + verify sides),
    self-join attribute dedup re-aliases each branch, and AQE stage reuse
    then misses the identical scan+repartition exchange — measured
    recomputing up to 5x per query.
    One fixture-scale materialisation per call; computed fresh every run."""
    n = spark.sparkContext.defaultParallelism
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .repartition(n, "doc_id")
        .localCheckpoint()
    )


def _aug_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE repartition AFTER the union: repartitioning each branch first made
    # the downstream map stage a 2n-partition union of per-branch exchanges
    # (2 exchanges, 2n tasks for the same rows); union-then-spread is one
    # exchange and n tasks, and the hashpartitioning(doc_id, n) survives for
    # any downstream doc_id-keyed join/agg to reuse
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dups = raw.where(F.col("doc_id") % FX.DUP_EVERY == 0).select(
        (F.col("doc_id") + FX.DUP_OFFSET).alias("doc_id"), "text"
    )
    n = spark.sparkContext.defaultParallelism
    return raw.unionByName(dups).repartition(n, "doc_id")


def _aug_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    dups = raw.where(F.col("doc_id") % FX.DUP_EVERY == 0).select(
        (F.col("doc_id") + FX.DUP_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(FX.NEARDUP_SUFFIX)).alias("text"),
    )
    # two planted <3-token docs exercise the whole-text shingle fallback —
    # the engine/oracle parity the fixture corpus (no short docs) would
    # otherwise never test
    shorts = local_df(
        spark, [(-1, FX.SHORT_DOC_TEXT), (-2, FX.SHORT_DOC_TEXT)], "doc_id long, text string"
    )
    # single post-union spread (see _aug_exact): one exchange, n tasks.
    # The localCheckpoint pins ONE materialisation of the augmented
    # corpus: the dedup pipelines consume it from several self-joined
    # branches (signatures, verify-a, verify-b), and self-join attribute
    # dedup re-aliases each branch's subtree so AQE stage reuse misses the
    # otherwise-identical exchange (measured: the scan+union+repartition
    # ran 5x per dedup_minhash run). The pin runs here, before any
    # consumer (the one pin form: see the session module). Fixture-scale
    # table; computed fresh inside every run.
    n = spark.sparkContext.defaultParallelism
    return (
        raw.unionByName(dups)
        .unionByName(shorts)
        .repartition(n, "doc_id")
        .localCheckpoint()
    )


# ------------------------------------------------------------ dedup_exact
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _aug_exact(spark, sf_dir)
    return dedup.exact_dedup_groups(aug, F.md5(F.col("text")), min_count=2)


SQL_dedup_exact = f"""WITH {AUG_EXACT_CTE}
SELECT dup_key, n_dups, keeper FROM (
    SELECT md5(text) AS dup_key, COUNT(*) AS n_dups, MIN(doc_id) AS keeper
    FROM aug GROUP BY 1
) WHERE n_dups >= 2"""


# ---------------------------------------------------------- dedup_minhash
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    aug = _aug_near(spark, sf_dir)
    return dedup.minhash_dedup_pairs(aug, threshold=0.5)


def minhash_cand_ctes(src: str) -> str:
    """sh/sigs/lng/bc/cand CTE chain over source relation ``src`` —
    shared by the batch minhash oracle and the streaming-parity oracle."""
    toks = "string_split(text, ' ')"
    # mirrors shingles_from_tokens: docs with <3 tokens fall back to the
    # whole text as their single shingle (range(...) alone would yield an
    # empty list → NULL signature and silent engine/oracle divergence)
    sh = (
        f"CASE WHEN len({toks}) >= 3 THEN "
        f"list_transform(range(1, len({toks}) - 1), "
        f"j -> {toks}[j] || ' ' || {toks}[j+1] || ' ' || {toks}[j+2]) "
        f"ELSE [text] END"
    )

    def sig(b: int) -> str:
        mins = " || ".join(
            f"list_min(list_transform(sh, s -> md5('{b * dedup.MINHASH_ROWS + i}|' || s)))"
            for i in range(dedup.MINHASH_ROWS)
        )
        return f"({mins}) AS sig{b}"

    sig_cols = ", ".join(sig(b) for b in range(dedup.MINHASH_BANDS))
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, sig{b} AS sig FROM sigs" for b in range(dedup.MINHASH_BANDS)
    )
    return f"""sh AS (SELECT doc_id, text, {sh} AS sh FROM {src}),
sigs AS (SELECT doc_id, text, {sig_cols} FROM sh),
lng AS ({band_union}),
bc AS (SELECT band, sig, COUNT(*) AS n FROM lng GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM lng a JOIN lng b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    JOIN bc ON bc.band = a.band AND bc.sig = a.sig AND bc.n <= {dedup.BUCKET_CAP}
)"""


def _minhash_sql() -> str:
    return f"""WITH {AUG_NEAR_CTE},
{minhash_cand_ctes('aug')},
tok AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM aug),
scored AS (
    SELECT c.doc_a, c.doc_b,
           ROUND(CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE) /
                 (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 6) AS jaccard
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.doc_a
    JOIN tok tb ON tb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= 0.5"""


SQL_dedup_minhash = _minhash_sql()


# ---------------------------------------------------------- dedup_simhash
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    return dedup.simhash(docs)


def _simhash_sql() -> str:
    hexes = "', '".join(dedup.HIGH_HEX)
    sums = ", ".join(
        f"SUM(CASE WHEN substr(md5(tok), {j}, 1) IN ('{hexes}') THEN 1 ELSE -1 END) AS s{j}"
        for j in range(1, dedup.SIMHASH_BITS + 1)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << (j - 1)} ELSE 0 END)"
        for j in range(1, dedup.SIMHASH_BITS + 1)
    )
    return f"""WITH tk AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
s AS (SELECT doc_id, {sums} FROM tk GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s"""


SQL_dedup_simhash = _simhash_sql()


# --------------------------------------------------------- ngram_jaccard
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    blk = F.concat_ws(" ", F.element_at(toks, 1), F.element_at(toks, 2))
    sh = F.array_distinct(dedup.shingles_col(F.col("text")))
    base = docs.select("doc_id", blk.alias("blk"), sh.alias("sh"))
    a = base.select(F.col("doc_id").alias("doc_a"), "blk", F.col("sh").alias("sha"))
    b = base.select(F.col("doc_id").alias("doc_b"), "blk", F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect(F.col("sha"), F.col("shb")))
    jac = F.round(
        inter.cast("double") / (F.size("sha") + F.size("shb") - inter), 6
    )
    return (
        a.join(b, "blk")
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard3", jac)
        .where(F.col("jaccard3") >= 0.15)
        .select("doc_a", "doc_b", "jaccard3")
    )


def _ngram_sql() -> str:
    toks = "string_split(text, ' ')"
    sh = (
        f"list_distinct(list_transform(range(1, len({toks}) - 1), "
        f"j -> {toks}[j] || ' ' || {toks}[j+1] || ' ' || {toks}[j+2]))"
    )
    return f"""WITH base AS (
    SELECT doc_id, {toks}[1] || ' ' || {toks}[2] AS blk, {sh} AS sh FROM documents
),
scored AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS jaccard3
    FROM base a JOIN base b ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard3 FROM scored WHERE jaccard3 >= 0.15"""


SQL_ngram_jaccard = _ngram_sql()


# ------------------------------------------------------------ token_count
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    return textstats.token_count(docs)


SQL_token_count = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(LENGTH(text) AS INT) AS n_chars_m,
       CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS bpe_est
FROM documents"""


# ---------------------------------------------------------------- quality
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    return textstats.quality_score(docs)


def _quality_sql() -> str:
    stops = "', '".join(textstats.STOPWORDS_EN)
    toks = "string_split(text, ' ')"
    nt = f"len({toks})"
    ns = f"len(list_filter({toks}, t -> list_contains(['{stops}'], t)))"
    sr = f"(CAST({ns} AS DOUBLE) / {nt})"
    mw = f"(CAST(LENGTH(text) - ({nt} - 1) AS DOUBLE) / {nt})"
    score = (
        f"0.4 * LEAST(1.0, CAST({nt} AS DOUBLE) / 100.0) "
        f"+ LEAST(0.4, 0.4 * {sr} * 5.0) "
        f"+ (CASE WHEN {mw} >= 3.0 AND {mw} <= 8.0 THEN 0.2 ELSE 0.0 END)"
    )
    return f"""
SELECT doc_id,
       CAST({nt} AS INT) AS n_tokens,
       ROUND({sr}, 6) AS stop_ratio,
       ROUND({mw}, 6) AS mean_wlen,
       ROUND({score}, 6) AS quality
FROM documents"""


SQL_quality = _quality_sql()


# ---------------------------------------------------------------- lang_id
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    return textstats.lang_id(docs)


def _lang_sql() -> str:
    toks = "string_split(text, ' ')"

    def cnt(markers):
        lst = "', '".join(markers)
        return f"CAST(len(list_filter({toks}, t -> list_contains(['{lst}'], t))) AS INT)"

    en = cnt(textstats.LANG_MARKERS["en"])
    es = cnt(textstats.LANG_MARKERS["es"])
    de = cnt(textstats.LANG_MARKERS["de"])
    return f"""
SELECT doc_id, {en} AS score_en, {es} AS score_es, {de} AS score_de,
       CASE WHEN {en} >= {es} AND {en} >= {de} THEN 'en'
            WHEN {es} >= {de} THEN 'es' ELSE 'de' END AS lang_pred
FROM documents"""


SQL_lang_id = _lang_sql()


# ------------------------------------------------------- langid_fasttext
def q_langid_fasttext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production language-ID: hashed char-2/3-gram multinomial NB
    (fastText feature space, langid.py estimator) with deterministic
    driver-trained nano-int weights — see functions/langid.py."""
    docs = read_documents(spark, sf_dir)
    return langid.langid_score(docs)


SQL_langid_fasttext = langid.langid_oracle_sql()


# ------------------------------------------------------------ fingerprint
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir)
    return textstats.fingerprint(docs)


SQL_fingerprint = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
FROM documents"""


# -------------------------------------------------------------- ann_brute
def q_ann_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.brute_topk(emb, FX.ANN_QUERY_IDS, k=FX.ANN_K)


_QIDS = ", ".join(str(i) for i in FX.ANN_QUERY_IDS)
SQL_ann_brute = f"""WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN ({_QIDS})),
p AS (
    SELECT q.q_id, c.vec_id AS cand_id,
           list_dot_product(q.qv, c.v) /
           (SQRT(list_dot_product(q.qv, q.qv)) * SQRT(list_dot_product(c.v, c.v))) AS sim
    FROM q CROSS JOIN e c WHERE c.vec_id <> q.q_id
)
SELECT q_id, CAST(rank AS INT) AS rank, cand_id, ROUND(sim, 6) AS cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS rank FROM p)
WHERE rank <= {FX.ANN_K}"""


# -------------------------------------------------------- ann_lsh_buckets
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.lsh_buckets(emb)


def _lsh_bucket_sql(vec: str) -> str:
    terms = []
    for j in range(ann.N_PLANES):
        w = ", ".join(f"{x!r}" for x in ann.plane_weights(j))
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, [{w}]) > 0 THEN {1 << j} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


SQL_ann_lsh_buckets = f"""WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
)
SELECT vec_id, {_lsh_bucket_sql('v')} AS bucket FROM e"""


# ----------------------------------------------------------- ann_lsh_topk
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.lsh_topk(emb, FX.ANN_QUERY_IDS, k=3)


SQL_ann_lsh_topk = f"""WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
wb AS (SELECT vec_id, v, {_lsh_bucket_sql('v')} AS bucket FROM e),
q0 AS (SELECT vec_id AS q_id, v AS qv, bucket FROM wb WHERE vec_id IN ({_QIDS})),
q AS (
    SELECT q_id, qv,
           CASE WHEN pj.j = -1 THEN bucket
                ELSE xor(bucket, CAST(1 << pj.j AS BIGINT)) END AS bucket
    FROM q0 CROSS JOIN generate_series(-1, {ann.N_PLANES - 1}) pj(j)
),
p AS (
    SELECT q.q_id, c.vec_id AS cand_id,
           list_dot_product(q.qv, c.v) /
           (SQRT(list_dot_product(q.qv, q.qv)) * SQRT(list_dot_product(c.v, c.v))) AS sim
    FROM q JOIN wb c ON c.bucket = q.bucket AND c.vec_id <> q.q_id
)
SELECT q_id, CAST(rank AS INT) AS rank, cand_id, ROUND(sim, 6) AS cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS rank FROM p)
WHERE rank <= 3"""


# -------------------------------------------------------------- asof_near
def q_asof_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = select_near(events, "ts", FX.ASOF_T, ["user_id"])
    return out.select("user_id", "event_id", "ts", "event_type")


SQL_asof_near = f"""
SELECT user_id, event_id, ts, event_type FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id
        ORDER BY ABS(epoch_us(ts) - epoch_us(TIMESTAMP '{FX.ASOF_T}')), ts, event_id
    ) AS rn FROM events
) WHERE rn = 1"""


# -------------------------------------------------------- sample_weighted
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "n_chars")
    return sample_weighted(docs, FX.SAMPLE_N, weight_col="n_chars", id_col="doc_id")


SQL_sample_weighted = f"""
SELECT doc_id, n_chars FROM (
    SELECT doc_id, n_chars, LN({u_sql('doc_id')}) / n_chars AS k
    FROM documents ORDER BY k DESC, doc_id LIMIT {FX.SAMPLE_N}
)"""


# ------------------------------------------------------------ source_stats
def q_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level curation stats (the source/domain-filtering step of a
    crawl pipeline): per-source doc counts + length profile — one partial-
    aggregated groupBy, the shape that survives 10⁹ domains."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


SQL_source_stats = """
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       ROUND(AVG(n_chars), 6) AS mean_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM documents GROUP BY source"""


# ------------------------------------------------------- boilerplate_ngrams
BOILER_SUFFIX = "site footer contact terms privacy policy"  # planted banner
BOILER_EVERY = 10  # doc_id % BOILER_EVERY == 0 carries the banner
BOILER_MIN_DOCS = 30  # 5-gram must appear in this many docs to be boilerplate
BOILER_K = 5


def _kgrams_col(text):
    """Distinct 5-grams per doc, linear-time zip_with build (same pattern
    as the minhash shingles; docs shorter than k contribute nothing)."""
    toks = F.split(text, " ")
    n = F.size(toks)
    m = F.greatest(n - (BOILER_K - 1), F.lit(1))
    acc = F.slice(toks, 1, m)
    for i in range(1, BOILER_K):
        acc = F.zip_with(acc, F.slice(toks, i + 1, m), lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= BOILER_K, F.array_distinct(acc)).otherwise(
        F.array().cast("array<string>")
    )


def _aug_boiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    return docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % BOILER_EVERY == 0,
            F.concat(F.col("text"), F.lit(" " + BOILER_SUFFIX)),
        ).otherwise(F.col("text")),
    )


def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: 5-grams shared by ≥ BOILER_MIN_DOCS distinct
    docs (the planted banner is the ground truth). One explode of distinct
    per-doc grams + one partial-aggregated groupBy — at 100 TB the shuffle
    carries (gram, 1) pre-combined rows, and a frequency cut this high is
    the standard first pass of template removal."""
    aug = _aug_boiler(spark, sf_dir)
    grams = aug.select(F.explode(_kgrams_col(F.col("text"))).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= BOILER_MIN_DOCS)
    )


def _boiler_sql() -> str:
    toks = "string_split(text, ' ')"
    joined = " || ' ' || ".join(f"{toks}[j+{i}]" for i in range(BOILER_K))
    sh = (
        f"CASE WHEN len({toks}) >= {BOILER_K} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {BOILER_K - 2}), j -> {joined})) "
        f"ELSE [] END"
    )
    return f"""WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % {BOILER_EVERY} = 0 THEN text || ' {BOILER_SUFFIX}' ELSE text END AS text
    FROM documents
),
grams AS (SELECT unnest({sh}) AS ngram FROM aug)
SELECT ngram, COUNT(*) AS n_docs FROM grams GROUP BY ngram HAVING COUNT(*) >= {BOILER_MIN_DOCS}"""


SQL_boilerplate_ngrams = _boiler_sql()


# ------------------------------------------------------- boilerplate_frac
def q_boilerplate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate fraction — the quality feature downstream
    filters cut on: share of a doc's distinct 5-grams that are corpus
    boilerplate. The boilerplate set is tiny (frequency-cut output), so
    the membership join broadcasts; docs with no grams report NULL frac."""
    aug = _aug_boiler(spark, sf_dir)
    grams = aug.select("doc_id", _kgrams_col(F.col("text")).alias("_g"))
    boiler = q_boilerplate_ngrams(spark, sf_dir).select("ngram")
    hits = (
        grams.select("doc_id", F.explode("_g").alias("ngram"))
        .join(F.broadcast(boiler), "ngram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_boiler"))
    )
    return (
        grams.select("doc_id", F.size("_g").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_boiler"), F.lit(0)).alias("n_boiler"),
            F.round(
                F.when(
                    F.col("n_grams") > 0,
                    F.coalesce(F.col("n_boiler"), F.lit(0)).cast("double") / F.col("n_grams"),
                ),
                6,
            ).alias("boiler_frac"),
        )
    )


def _boiler_frac_sql() -> str:
    toks = "string_split(text, ' ')"
    joined = " || ' ' || ".join(f"{toks}[j+{i}]" for i in range(BOILER_K))
    sh = (
        f"CASE WHEN len({toks}) >= {BOILER_K} THEN "
        f"list_distinct(list_transform(range(1, len({toks}) - {BOILER_K - 2}), j -> {joined})) "
        f"ELSE [] END"
    )
    return f"""WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % {BOILER_EVERY} = 0 THEN text || ' {BOILER_SUFFIX}' ELSE text END AS text
    FROM documents
),
g AS (SELECT doc_id, {sh} AS gs FROM aug),
gr AS (SELECT doc_id, unnest(gs) AS ngram FROM g),
boiler AS (SELECT ngram FROM (SELECT ngram, COUNT(*) AS n FROM gr GROUP BY ngram) WHERE n >= {BOILER_MIN_DOCS}),
hits AS (SELECT gr.doc_id, COUNT(*) AS n_boiler FROM gr JOIN boiler USING (ngram) GROUP BY gr.doc_id)
SELECT g.doc_id, CAST(len(g.gs) AS INT) AS n_grams,
       CAST(COALESCE(h.n_boiler, 0) AS BIGINT) AS n_boiler,
       ROUND(CASE WHEN len(g.gs) > 0
                  THEN CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / len(g.gs) END, 6) AS boiler_frac
FROM g LEFT JOIN hits h ON h.doc_id = g.doc_id"""


SQL_boilerplate_frac = _boiler_frac_sql()


# ------------------------------------------------------- boilerplate_strip
def _kgrams_pos_col(text):
    """POSITIONAL 5-grams (no distinct): element j (0-based) is the gram
    starting at token j — the index is what lets removal map a detected
    gram back to its covered token span."""
    toks = F.split(text, " ")
    n = F.size(toks)
    m = F.greatest(n - (BOILER_K - 1), F.lit(1))
    acc = F.slice(toks, 1, m)
    for i in range(1, BOILER_K):
        acc = F.zip_with(acc, F.slice(toks, i + 1, m), lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= BOILER_K, acc).otherwise(F.array().cast("array<string>"))


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate REMOVAL — the first operator that legitimately rewrites
    `text`: every token covered by any detected boilerplate 5-gram
    occurrence is dropped and the remainder re-joined. (The byte-identity
    invariant `text_identity` is scoped to pre-curation stages; curation
    stages like this one change bytes BY CONTRACT.) Plan: positional grams
    explode once, membership join against the tiny broadcast boilerplate
    set, covered START positions collect per doc (bounded by occurrences of
    boilerplate, not doc length), and the rewrite is pure higher-order
    column math — no second shuffle."""
    aug = _aug_boiler(spark, sf_dir)
    boiler = q_boilerplate_ngrams(spark, sf_dir).select("ngram")
    grams = aug.select(
        "doc_id", F.posexplode(_kgrams_pos_col(F.col("text"))).alias("pos", "ngram")
    )
    covers = (
        grams.join(F.broadcast(boiler), "ngram")
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("_cov"))
    )
    toks = F.split(F.col("text"), " ")
    idx = F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i")))
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            F.col("_cov"), lambda c: (c <= s["i"]) & (s["i"] <= c + (BOILER_K - 1))
        ),
    )
    clean = F.array_join(F.transform(kept, lambda s: s["t"]), " ")
    return (
        aug.join(covers, "doc_id", "left")
        .withColumn("_cov", F.coalesce(F.col("_cov"), F.array().cast("array<int>")))
        .select(
            "doc_id",
            F.size(toks).alias("n_tokens"),
            F.size(kept).alias("n_kept"),
            F.md5(clean).alias("clean_md5"),
        )
    )


def _boiler_strip_sql() -> str:
    toks = "string_split(text, ' ')"
    joined = " || ' ' || ".join(f"ts[j+{i}]" for i in range(BOILER_K))
    return f"""WITH aug AS (
    SELECT doc_id,
           CASE WHEN doc_id % {BOILER_EVERY} = 0 THEN text || ' {BOILER_SUFFIX}' ELSE text END AS text
    FROM documents
),
t AS (SELECT doc_id, {toks} AS ts FROM aug),
g AS (
    SELECT doc_id, ts,
           CASE WHEN len(ts) >= {BOILER_K}
                THEN list_transform(range(1, len(ts) - {BOILER_K - 2}), j -> {joined})
                ELSE [] END AS gs
    FROM t
),
gr AS (SELECT doc_id, j, gs[j] AS ngram FROM g, unnest(range(1, len(gs) + 1)) u(j)),
boiler AS (
    SELECT ngram FROM (SELECT ngram, COUNT(DISTINCT doc_id) AS n FROM gr GROUP BY ngram)
    WHERE n >= {BOILER_MIN_DOCS}
),
cov AS (SELECT doc_id, list(DISTINCT j) AS cv FROM gr JOIN boiler USING (ngram) GROUP BY doc_id),
kept AS (
    SELECT g.doc_id, g.ts,
           list_filter(range(1, len(g.ts) + 1),
                       i -> len(list_filter(COALESCE(c.cv, []),
                                            s -> s <= i AND i <= s + {BOILER_K - 1})) = 0) AS ki
    FROM g LEFT JOIN cov c USING (doc_id)
)
SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens, CAST(len(ki) AS INT) AS n_kept,
       md5(array_to_string(list_transform(ki, i -> ts[i]), ' ')) AS clean_md5
FROM kept"""


SQL_boilerplate_strip = _boiler_strip_sql()


# ---------------------------------------------------------- text_identity
def q_text_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identity invariant: text through geotag + cell assignment is
    unchanged (BASELINE.json input_hint per-row invariant)."""
    pages = pages_geo(spark, sf_dir)
    return pages.select(
        "doc_id", F.md5(F.col("text")).alias("text_md5"), F.length("text").alias("n")
    )


SQL_text_identity = """
SELECT doc_id, md5(text) AS text_md5, CAST(LENGTH(text) AS INT) AS n FROM documents"""


# ------------------------------------------------------- dedup_components
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: hash-to-min connected components over the
    verified minhash near-dup pair graph; component = canonical keeper."""
    aug = _aug_near(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(aug, threshold=0.5)
    return dedup.connected_components(pairs)


# oracle: transitive closure by recursive CTE (tractable at sf0.01 scale);
# MIN over reachable nodes == the hash-to-min fixpoint label
SQL_dedup_components = f"""WITH RECURSIVE
p AS (SELECT doc_a, doc_b FROM ({SQL_dedup_minhash}) mh),
e AS (SELECT doc_a AS a, doc_b AS b FROM p UNION ALL SELECT doc_b AS a, doc_a AS b FROM p),
reach(node, r) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM e) t
    UNION
    SELECT reach.node, e.b FROM reach JOIN e ON reach.r = e.a
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node"""


# --------------------------------------------------------- simhash_pairs
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via pigeonhole band blocking."""
    aug = _aug_near(spark, sf_dir)
    return dedup.simhash_pairs(aug, max_hamming=3)


def _simhash_pairs_sql() -> str:
    hexes = "', '".join(dedup.HIGH_HEX)
    sums = ", ".join(
        f"SUM(CASE WHEN substr(md5(tok), {j}, 1) IN ('{hexes}') THEN 1 ELSE -1 END) AS s{j}"
        for j in range(1, dedup.SIMHASH_BITS + 1)
    )
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << (j - 1)} ELSE 0 END)"
        for j in range(1, dedup.SIMHASH_BITS + 1)
    )
    return f"""WITH {AUG_NEAR_CTE},
tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM aug),
sm AS (SELECT doc_id, {sums} FROM tk GROUP BY doc_id),
s AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sm),
l AS (
    SELECT doc_id, simhash, bb.band, (simhash >> (4 * bb.band)) & 15 AS sig
    FROM s CROSS JOIN generate_series(0, {dedup.SIMHASH_BITS // 4 - 1}) bb(band)
),
bc AS (SELECT band, sig, COUNT(*) AS n FROM l GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sa, b.simhash AS sb
    FROM l a JOIN l b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    JOIN bc ON bc.band = a.band AND bc.sig = a.sig AND bc.n <= {dedup.BUCKET_CAP}
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""


SQL_simhash_pairs = _simhash_pairs_sql()


# --------------------------------------------------- simhash_wide_pairs
def q_simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash near-dup pairs (hamming ≤ 3, 4×15-bit pigeonhole)."""
    aug = _aug_near(spark, sf_dir)
    return dedup.simhash_wide_pairs(aug, max_hamming=3)


def _simhash_wide_pairs_sql() -> str:
    hexes = "', '".join(dedup.HIGH_HEX)
    per = dedup._WIDE_PER_MD5
    sums = []
    for j in range(dedup.SIMHASH_WIDE_BITS):
        salt = j // per
        pos = j % per + 1
        sums.append(
            f"SUM(CASE WHEN substr(md5('{salt}|' || tok), {pos}, 1) IN ('{hexes}')"
            f" THEN 1 ELSE -1 END) AS w{j}"
        )
    fp = " + ".join(
        f"(CASE WHEN w{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(dedup.SIMHASH_WIDE_BITS)
    )
    band_bits = dedup.SIMHASH_WIDE_BITS // 4
    mask = (1 << band_bits) - 1
    return f"""WITH {AUG_NEAR_CTE},
tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM aug),
sm AS (SELECT doc_id, {', '.join(sums)} FROM tk GROUP BY doc_id),
s AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sm),
l AS (
    SELECT doc_id, simhash, bb.band, (simhash >> ({band_bits} * bb.band)) & {mask} AS sig
    FROM s CROSS JOIN generate_series(0, 3) bb(band)
),
bc AS (SELECT band, sig, COUNT(*) AS n FROM l GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash AS sa, b.simhash AS sb
    FROM l a JOIN l b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    JOIN bc ON bc.band = a.band AND bc.sig = a.sig AND bc.n <= {dedup.BUCKET_CAP}
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3"""


SQL_simhash_wide_pairs = _simhash_wide_pairs_sql()


# ------------------------------------------------------------- ann_ivf
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: seed-centroid coarse quantizer, nprobe=2 lists, exact
    cosine within lists."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.ivf_topk(emb, FX.ANN_QUERY_IDS, k=3)


def _ivf_sql() -> str:
    """IVF oracle with the SAME seeded k-means training as the engine:
    init = first IVF_K vectors, IVF_ITERS Lloyd rounds (argmax-cosine
    assignment → element-wise ROUND(AVG, 6) centroid update) as nested
    CTEs, then nprobe-list search on the trained table."""

    def asg_cte(cent: str) -> str:
        return f"""(
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cw) /
                            (SQRT(list_dot_product(e.v, e.v)) * SQRT(list_dot_product(c.cw, c.cw))) DESC,
                            c.cid ASC
               ) AS rn
        FROM e CROSS JOIN {cent} c
    ) WHERE rn = 1
)"""

    def mean_cte(asg: str) -> str:
        return f"""(
    SELECT cid, list(m ORDER BY pos) AS cw FROM (
        SELECT a.cid, p.pos, ROUND(AVG(e.v[p.pos]), {ann.CENT_ROUND}) AS m
        FROM {asg} a JOIN e ON e.vec_id = a.vec_id
        CROSS JOIN generate_series(1, {ann.EMB_DIM}) p(pos)
        GROUP BY a.cid, p.pos
    ) GROUP BY cid
)"""

    train = [f"cent0 AS (SELECT vec_id AS cid, v AS cw FROM e WHERE vec_id < {ann.IVF_K})"]
    for i in range(ann.IVF_ITERS):
        train.append(f"tasg{i} AS {asg_cte(f'cent{i}')}")
        train.append(f"cent{i + 1} AS {mean_cte(f'tasg{i}')}")
    cent = f"cent{ann.IVF_ITERS}"
    return f"""WITH e AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
{','.join(train)},
asg AS {asg_cte(cent)},
probes AS (
    SELECT q_id, qv, cid FROM (
        SELECT q.vec_id AS q_id, q.v AS qv, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.cw) /
                            (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.cw, c.cw))) DESC,
                            c.cid ASC
               ) AS rn
        FROM e q CROSS JOIN {cent} c WHERE q.vec_id IN ({_QIDS})
    ) WHERE rn <= {ann.IVF_NPROBE}
),
p AS (
    SELECT pr.q_id, cl.vec_id AS cand_id,
           list_dot_product(pr.qv, cl.v) /
           (SQRT(list_dot_product(pr.qv, pr.qv)) * SQRT(list_dot_product(cl.v, cl.v))) AS sim
    FROM probes pr
    JOIN asg a ON a.cid = pr.cid
    JOIN e cl ON cl.vec_id = a.vec_id
    WHERE cl.vec_id <> pr.q_id
)
SELECT q_id, CAST(rank AS INT) AS rank, cand_id, ROUND(sim, 6) AS cosine
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) AS rank FROM p)
WHERE rank <= 3"""


SQL_ann_ivf_topk = _ivf_sql()


# ------------------------------------------------------------- ann_pq_topk
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC search: per-subspace seeded k-means codebooks (M=8, K'=4,
    2 Lloyd rounds, 6-dp rounding), corpus compressed to integer codes,
    query-side distance tables broadcast, approximate distance = one SUM of
    table lookups per (query, candidate). The oracle reproduces training,
    encoding, and ranking as nested CTEs in the same subspace-long format."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.pq_topk(emb, FX.ANN_QUERY_IDS, k=3)


def _pq_sql(prefix_ctes: str = "", subs_cte: str | None = None) -> str:
    from rasters_jl_spark.functions.ann import PQ_ITERS, PQ_K, PQ_M, PQ_SUB

    qid_list = ", ".join(str(i) for i in FX.ANN_QUERY_IDS)
    # subspace-long unpivot: one row per (vec, m, pos); an OPQ caller
    # swaps in a rotated source via subs_cte (+ its prefix CTEs)
    subs = subs_cte or f"""subs AS (
    SELECT vec_id, CAST((d.p - 1) // {PQ_SUB} AS INT) AS m,
           CAST((d.p - 1) % {PQ_SUB} AS INT) AS pos,
           CAST(embedding[d.p] AS DOUBLE) AS val
    FROM embeddings CROSS JOIN generate_series(1, {PQ_M * PQ_SUB}) d(p)
)"""
    cent = f"""cent0 AS (
    SELECT m, CAST(vec_id AS INT) AS code, pos, val AS w FROM subs WHERE vec_id < {PQ_K}
)"""
    rounds = []
    for r in range(PQ_ITERS):
        rounds.append(f"""dist{r} AS (
    SELECT s.vec_id, s.m, c.code, ROUND(SUM((s.val - c.w) * (s.val - c.w)), 6) AS d
    FROM subs s JOIN cent{r} c ON c.m = s.m AND c.pos = s.pos
    GROUP BY s.vec_id, s.m, c.code
),
asg{r} AS (
    -- argmin via window: MIN(code ORDER BY ...) would ignore the ordering
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
        FROM dist{r}) WHERE rn = 1
),
cent{r + 1} AS (
    SELECT s.m, a.code, s.pos, ROUND(AVG(s.val), 6) AS w
    FROM subs s JOIN asg{r} a ON a.vec_id = s.vec_id AND a.m = s.m
    GROUP BY s.m, a.code, s.pos
)""")
    final = f"""edist AS (
    SELECT s.vec_id, s.m, c.code, ROUND(SUM((s.val - c.w) * (s.val - c.w)), 6) AS d
    FROM subs s JOIN cent{PQ_ITERS} c ON c.m = s.m AND c.pos = s.pos
    GROUP BY s.vec_id, s.m, c.code
),
codes AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
        FROM edist) WHERE rn = 1
),
qtab AS (
    SELECT s.vec_id AS q_id, s.m, c.code, ROUND(SUM((s.val - c.w) * (s.val - c.w)), 6) AS qd
    FROM subs s JOIN cent{PQ_ITERS} c ON c.m = s.m AND c.pos = s.pos
    WHERE s.vec_id IN ({qid_list})
    GROUP BY s.vec_id, s.m, c.code
),
approx AS (
    -- 6-dp table entries summed as integer micro-units: exact and
    -- order-independent (mirrors the engine)
    SELECT q.q_id, k.vec_id AS cand_id,
           SUM(CAST(ROUND(q.qd * 1000000) AS BIGINT)) / 1000000.0 AS adist
    FROM codes k JOIN qtab q ON q.m = k.m AND q.code = k.code
    WHERE k.vec_id <> q.q_id
    GROUP BY q.q_id, k.vec_id
),
ranked AS (
    SELECT q_id, cand_id, adist,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, cand_id ASC) AS rank
    FROM approx
)"""
    ctes = ",\n".join(([prefix_ctes] if prefix_ctes else []) + [subs, cent] + rounds + [final])
    return f"""WITH {ctes}
SELECT q_id, CAST(rank AS INT) AS rank, cand_id, adist FROM ranked WHERE rank <= 3"""


SQL_ann_pq_topk = _pq_sql()


# ----------------------------------------------------------- ann_opq_topk
def q_ann_opq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ/ADC search (Ge et al. 2013): vectors rotated by the seeded HD
    rotation (Walsh–Hadamard × md5-parity sign diagonal — the fixed-seed
    rotation BOTH engines regenerate from the rule; a data-learned R
    cannot be recomputed in SQL, see `opq_train_rotation` +
    tools/ann_recall.py for the learned tier) before the identical PQ
    pipeline at equal M/K'. Rotation terms sum as integer nano-units so
    the relational oracle's arbitrary-order SUM matches the engine's
    sequential fold exactly."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.opq_topk(emb, FX.ANN_QUERY_IDS, k=3)


def _opq_sql() -> str:
    from rasters_jl_spark.functions.ann import EMB_DIM, PQ_SUB

    dim = EMB_DIM
    scale = dim ** -0.5
    prefix = f"""dsign AS (
    SELECT j, CASE WHEN CAST(concat('0x', substr(md5(CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                   THEN 1 ELSE -1 END AS dj
    FROM generate_series(0, {dim - 1}) t(j)
),
rot AS (
    SELECT e.vec_id, ii.i AS p,
           ROUND(SUM(CAST(ROUND({scale!r} * (CASE WHEN bit_count(CAST(ii.i AS BIGINT) & CAST(d.j AS BIGINT)) % 2 = 0
                                                  THEN 1 ELSE -1 END)
                                 * d.dj * CAST(e.embedding[d.j + 1] AS DOUBLE) * 1000000000) AS BIGINT))
                 / 1000000000.0, 6) AS val
    FROM embeddings e CROSS JOIN generate_series(0, {dim - 1}) ii(i) CROSS JOIN dsign d
    GROUP BY e.vec_id, ii.i
)"""
    subs = f"""subs AS (
    SELECT vec_id, CAST(p // {PQ_SUB} AS INT) AS m, CAST(p % {PQ_SUB} AS INT) AS pos, val
    FROM rot
)"""
    return _pq_sql(prefix_ctes=prefix, subs_cte=subs)


SQL_ann_opq_topk = _opq_sql()


# ----------------------------------------------------------- ann_ivfpq
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011): coarse k-means lists + product
    quantization of the RESIDUALS, ADC search within nprobe probed lists.
    The oracle reproduces IVF training, residual PQ training, encoding,
    probing and ranking as nested CTEs — both engines round centroids and
    distance-table entries to 6 dp so the index matches bit-for-bit."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.ivfpq_topk(emb, FX.ANN_QUERY_IDS, k=3)


def _ivfpq_sql(rerank: int = 0) -> str:
    from rasters_jl_spark.functions.ann import (
        IVF_ITERS,
        IVF_K,
        IVF_NPROBE,
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_SUB,
    )

    # --- coarse quantizer: identical training CTEs to _ivf_sql ---
    def asg_cte(cent: str) -> str:
        return f"""(
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cw) /
                            (SQRT(list_dot_product(e.v, e.v)) * SQRT(list_dot_product(c.cw, c.cw))) DESC,
                            c.cid ASC
               ) AS rn
        FROM e CROSS JOIN {cent} c
    ) WHERE rn = 1
)"""

    def mean_cte(asg: str) -> str:
        return f"""(
    SELECT cid, list(m ORDER BY pos) AS cw FROM (
        SELECT a.cid, p.pos, ROUND(AVG(e.v[p.pos]), {ann.CENT_ROUND}) AS m
        FROM {asg} a JOIN e ON e.vec_id = a.vec_id
        CROSS JOIN generate_series(1, {ann.EMB_DIM}) p(pos)
        GROUP BY a.cid, p.pos
    ) GROUP BY cid
)"""

    train = [f"cent0 AS (SELECT vec_id AS cid, v AS cw FROM e WHERE vec_id < {IVF_K})"]
    for i in range(IVF_ITERS):
        train.append(f"tasg{i} AS {asg_cte(f'cent{i}')}")
        train.append(f"cent{i + 1} AS {mean_cte(f'tasg{i}')}")
    cent = f"cent{IVF_ITERS}"

    # --- residual subspace-long table (v − assigned centroid) ---
    rsubs = f"""rsubs AS (
    SELECT a.vec_id, a.cid,
           CAST((d.p - 1) // {PQ_SUB} AS INT) AS m,
           CAST((d.p - 1) % {PQ_SUB} AS INT) AS pos,
           e.v[d.p] - c.cw[d.p] AS val
    FROM asg a JOIN e ON e.vec_id = a.vec_id
    JOIN {cent} c ON c.cid = a.cid
    CROSS JOIN generate_series(1, {PQ_M * PQ_SUB}) d(p)
)"""

    # --- residual PQ codebook: same Lloyd rounds as _pq_sql, over rsubs ---
    pq = [f"""pcent0 AS (
    SELECT m, CAST(vec_id AS INT) AS code, pos, val AS w FROM rsubs WHERE vec_id < {PQ_K}
)"""]
    for r in range(PQ_ITERS):
        pq.append(f"""pdist{r} AS (
    SELECT s.vec_id, s.m, c.code, ROUND(SUM((s.val - c.w) * (s.val - c.w)), 6) AS d
    FROM rsubs s JOIN pcent{r} c ON c.m = s.m AND c.pos = s.pos
    GROUP BY s.vec_id, s.m, c.code
),
pasg{r} AS (
    SELECT vec_id, m, code FROM (
        SELECT vec_id, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
        FROM pdist{r}) WHERE rn = 1
),
pcent{r + 1} AS (
    SELECT s.m, a.code, s.pos, ROUND(AVG(s.val), 6) AS w
    FROM rsubs s JOIN pasg{r} a ON a.vec_id = s.vec_id AND a.m = s.m
    GROUP BY s.m, a.code, s.pos
)""")
    pcent = f"pcent{PQ_ITERS}"

    search = f"""edist AS (
    SELECT s.vec_id, s.cid, s.m, c.code, ROUND(SUM((s.val - c.w) * (s.val - c.w)), 6) AS d
    FROM rsubs s JOIN {pcent} c ON c.m = s.m AND c.pos = s.pos
    GROUP BY s.vec_id, s.cid, s.m, c.code
),
codes AS (
    SELECT vec_id, cid, m, code FROM (
        SELECT vec_id, cid, m, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d ASC, code ASC) AS rn
        FROM edist) WHERE rn = 1
),
probes AS (
    SELECT q_id, qv, cid, cw FROM (
        SELECT q.vec_id AS q_id, q.v AS qv, c.cid, c.cw,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY list_dot_product(q.v, c.cw) /
                            (SQRT(list_dot_product(q.v, q.v)) * SQRT(list_dot_product(c.cw, c.cw))) DESC,
                            c.cid ASC
               ) AS rn
        FROM e q CROSS JOIN {cent} c WHERE q.vec_id IN ({_QIDS})
    ) WHERE rn <= {IVF_NPROBE}
),
qres AS (
    SELECT p.q_id, p.cid,
           CAST((d.p - 1) // {PQ_SUB} AS INT) AS m,
           CAST((d.p - 1) % {PQ_SUB} AS INT) AS pos,
           p.qv[d.p] - p.cw[d.p] AS val
    FROM probes p CROSS JOIN generate_series(1, {PQ_M * PQ_SUB}) d(p)
),
qtab AS (
    SELECT r.q_id, r.cid, r.m, c.code, ROUND(SUM((r.val - c.w) * (r.val - c.w)), 6) AS qd
    FROM qres r JOIN {pcent} c ON c.m = r.m AND c.pos = r.pos
    GROUP BY r.q_id, r.cid, r.m, c.code
),
approx AS (
    SELECT q.q_id, k.vec_id AS cand_id,
           SUM(CAST(ROUND(q.qd * 1000000) AS BIGINT)) / 1000000.0 AS adist
    FROM codes k JOIN qtab q ON q.cid = k.cid AND q.m = k.m AND q.code = k.code
    WHERE k.vec_id <> q.q_id
    GROUP BY q.q_id, k.vec_id
    HAVING COUNT(*) = {PQ_M}
),
ranked AS (
    SELECT q_id, cand_id, adist,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist ASC, cand_id ASC) AS rank
    FROM approx
)"""
    ctes = ",\n".join(
        [
            "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        ]
        + train
        + [f"asg AS {asg_cte(cent)}", rsubs]
        + pq
        + [search]
    )
    if not rerank:
        return f"""WITH {ctes}
SELECT q_id, CAST(rank AS INT) AS rank, cand_id, adist FROM ranked WHERE rank <= 3"""
    # IVFADC-R: exact L2² re-rank of the codes-only shortlist. The diff
    # vector feeds list_dot_product(d, d) — the same sequential fold the
    # engine's dot_col uses, so the double matches bit-for-bit before the
    # 6-dp round.
    return f"""WITH {ctes},
short AS (SELECT q_id, cand_id FROM ranked WHERE rank <= {rerank}),
ex AS (
    SELECT s.q_id, s.cand_id,
           ROUND(list_dot_product(d.d, d.d), 6) AS dist
    FROM short s
    JOIN e q ON q.vec_id = s.q_id
    JOIN e c ON c.vec_id = s.cand_id
    CROSS JOIN LATERAL (SELECT list_transform(list_zip(q.v, c.v), x -> x[1] - x[2]) AS d) d
),
rr AS (
    SELECT q_id, cand_id, dist,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY dist ASC, cand_id ASC) AS rank
    FROM ex
)
SELECT q_id, CAST(rank AS INT) AS rank, cand_id, dist FROM rr WHERE rank <= 3"""


SQL_ann_ivfpq_topk = _ivfpq_sql()


def q_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC-R: the ADC pass becomes a shortlist generator (top-20 by
    codes-only distance) and the top-3 are re-ranked by exact L2² — the
    only float-vector read in the search path is |queries|×20 rows via a
    broadcast semi-join. This is the production recipe where quantization
    error rivals true distance gaps (measured in tools/ann_recall.py)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ann.ivfpq_topk(emb, FX.ANN_QUERY_IDS, k=3, rerank=20)


SQL_ann_ivfpq_rerank = _ivfpq_sql(rerank=20)


# ------------------------------------------------------------ bpe_train
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE training (Sennrich et al. 2016): 8 merge rounds
    over the distinct-word frequency table — per round one zip_with
    pair-explode + partial-aggregated groupBy, greedy left-to-right
    merge as an F.aggregate fold, deterministic (freq desc, pair asc)
    tie-break. The oracle replicates training round-for-round: pair
    counts, argmax, and a recursive-CTE fold per round."""
    from rasters_jl_spark.functions.bpe import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _merges, mdf = bpe_train(docs, n_merges=8)
    return mdf


def _bpe_train_ctes(n_merges: int) -> list[str]:
    """The shared training CTE chain: word freqs → per-round pair counts
    (p{r}) → argmax (b{r}) → recursive-CTE merge fold (f{r}) → next
    state (s{r+1})."""
    ctes = [
        """wf AS MATERIALIZED (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE len(w) > 0 GROUP BY w
)""",
        "s0 AS MATERIALIZED (SELECT w, freq, string_split(w, '') AS syms FROM wf)",
    ]
    for r in range(n_merges):
        ctes.append(f"""p{r} AS (
    SELECT z[1] AS l, z[2] AS rr, SUM(freq) AS f
    FROM (SELECT freq,
                 unnest(list_zip(syms[1:len(syms) - 1], syms[2:len(syms)])) AS z
          FROM s{r})
    GROUP BY 1, 2
)""")
        ctes.append(f"b{r} AS MATERIALIZED (SELECT l, rr, f FROM p{r} ORDER BY f DESC, l ASC, rr ASC LIMIT 1)")
        ctes.append(f"""f{r} AS (
    SELECT w, freq, syms, CAST([] AS VARCHAR[]) AS acc, 1 AS i FROM s{r}
  UNION ALL
    SELECT w, freq, syms,
           CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT l FROM b{r})
                     AND syms[i] = (SELECT rr FROM b{r})
                THEN acc[1:len(acc) - 1] || [(SELECT l || rr FROM b{r})]
                ELSE acc || [syms[i]] END,
           i + 1
    FROM f{r} WHERE i <= len(syms)
)""")
        ctes.append(f"s{r + 1} AS MATERIALIZED (SELECT w, freq, acc AS syms FROM f{r} WHERE i = len(syms) + 1)")
    return ctes


def _bpe_sql(n_merges: int = 8) -> str:
    finals = [
        f"SELECT CAST({r} AS INT) AS round, l AS \"left\", rr AS \"right\", "
        f"CAST(f AS BIGINT) AS pair_freq FROM b{r}"
        for r in range(n_merges)
    ]
    return (
        "WITH RECURSIVE "
        + ",\n".join(_bpe_train_ctes(n_merges))
        + "\n"
        + "\nUNION ALL\n".join(finals)
    )


SQL_bpe_train = _bpe_sql()


def q_bpe_train_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocab-scale BPE training: one Spark pass builds the word-frequency
    table, the merge loop runs driver-local with heap-maintained
    incremental pair counts (the SentencePiece/HF-tokenizers shape — the
    loop's working set is the word table, not the corpus, so 30k+
    sequential cluster jobs is the wrong tool). Exactly equivalent to
    sequential distributed training, so it shares SQL_bpe_train verbatim:
    the oracle match IS the equivalence proof."""
    from rasters_jl_spark.functions.bpe import bpe_train_local

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _merges, mdf = bpe_train_local(docs, n_merges=8)
    return mdf


SQL_bpe_train_local = _bpe_sql()  # equivalence: same oracle as bpe_train


def q_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE: per count round select the top-B mutually
    NON-INTERACTING pairs (no shared symbol, no output/symbol collision —
    so applying the batch sequentially equals applying each against the
    round-start state) and apply them as one chained-fold projection —
    ceil(n/B) Spark jobs instead of n. Selection is frequency-frozen
    within a round (standard batched-BPE approximation; batch=1 is exact
    Sennrich). The oracle replicates the greedy disjoint selection with
    a recursive CTE over the ranked candidate prefix."""
    from rasters_jl_spark.functions.bpe import bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _merges, mdf = bpe_train(docs, n_merges=8, batch=4)
    return mdf


def _bpe_batched_sql(n_merges: int = 8, batch: int = 4) -> str:
    from rasters_jl_spark.functions.bpe import candidate_pool

    ctes = [
        """wf AS MATERIALIZED (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE len(w) > 0 GROUP BY w
)""",
        "s0 AS MATERIALIZED (SELECT w, freq, string_split(w, '') AS syms FROM wf)",
    ]
    n_rounds = -(-n_merges // batch)
    done = 0
    for r in range(n_rounds):
        cap = min(batch, n_merges - done)
        done += cap
        k_cand = candidate_pool(cap)
        ctes.append(f"""p{r} AS (
    SELECT z[1] AS l, z[2] AS rr, SUM(freq) AS f
    FROM (SELECT freq,
                 unnest(list_zip(syms[1:len(syms) - 1], syms[2:len(syms)])) AS z
          FROM s{r})
    GROUP BY 1, 2
)""")
        # ranked candidate prefix — the same top-K the engine collects
        ctes.append(f"""c{r} AS MATERIALIZED (
    SELECT l, rr, f, rn FROM (
        SELECT l, rr, f, row_number() OVER (ORDER BY f DESC, l ASC, rr ASC) AS rn
        FROM p{r}) WHERE rn <= {k_cand}
)""")
        # greedy disjoint selection: walk rn ascending, a candidate joins
        # the batch iff none of (l, rr, l||rr) touches the used-symbol set
        ctes.append(f"""g{r} AS (
    SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS used,
           CAST([] AS STRUCT(l VARCHAR, rr VARCHAR, f BIGINT)[]) AS sel
  UNION ALL
    SELECT c.rn,
           CASE WHEN len(g.sel) < {cap}
                     AND NOT (list_contains(g.used, c.l) OR list_contains(g.used, c.rr)
                              OR list_contains(g.used, c.l || c.rr))
                THEN g.used || [c.l, c.rr, c.l || c.rr] ELSE g.used END,
           CASE WHEN len(g.sel) < {cap}
                     AND NOT (list_contains(g.used, c.l) OR list_contains(g.used, c.rr)
                              OR list_contains(g.used, c.l || c.rr))
                THEN g.sel || [{{'l': c.l, 'rr': c.rr, 'f': c.f}}] ELSE g.sel END
    FROM g{r} g JOIN c{r} c ON c.rn = g.rn + 1
)""")
        ctes.append(
            f"b{r} AS MATERIALIZED (SELECT sel FROM g{r} ORDER BY rn DESC LIMIT 1)"
        )
        # apply the batch as cap chained folds, slot j a no-op when the
        # round underfilled (sel[j] IS NULL -> CASE never fires)
        state = f"s{r}"
        for j in range(1, cap + 1):
            ctes.append(f"""f{r}_{j} AS (
    SELECT w, freq, syms, CAST([] AS VARCHAR[]) AS acc, 1 AS i FROM {state}
  UNION ALL
    SELECT w, freq, syms,
           CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT sel[{j}].l FROM b{r})
                     AND syms[i] = (SELECT sel[{j}].rr FROM b{r})
                THEN acc[1:len(acc) - 1] || [(SELECT sel[{j}].l || sel[{j}].rr FROM b{r})]
                ELSE acc || [syms[i]] END,
           i + 1
    FROM f{r}_{j} WHERE i <= len(syms)
)""")
            nxt = f"s{r + 1}" if j == cap else f"s{r}_{j}"
            ctes.append(
                f"{nxt} AS MATERIALIZED (SELECT w, freq, acc AS syms FROM f{r}_{j} WHERE i = len(syms) + 1)"
            )
            state = nxt
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS rno, g.j AS slot, sel[g.j] AS u "
        f"FROM b{r}, LATERAL unnest(range(1, len(sel) + 1)) AS g(j)"
        for r in range(n_rounds)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(row_number() OVER (ORDER BY rno, slot) - 1 AS INT) AS round,
       u.l AS "left", u.rr AS "right", CAST(u.f AS BIGINT) AS pair_freq
FROM ({finals})"""
    )


SQL_bpe_train_batched = _bpe_batched_sql()


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize with the learned merges: a single nested higher-order
    expression (fold chain inside transform — no explode, no shuffle,
    word order preserved). Output: per-doc token count + joined token
    string md5 (checks exact token SEQUENCES, not just counts)."""
    from rasters_jl_spark.functions.bpe import bpe_tokenize, bpe_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges, _mdf = bpe_train(docs, n_merges=8)
    t = bpe_tokenize(docs, merges)
    return t.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.md5(F.array_join("tokens", " ")).alias("tok_md5"),
    )


def _bpe_tokenize_sql(n_merges: int = 8) -> str:
    # training CTEs reproduce the merge sequence; tokenization re-runs the
    # fold chain over EVERY word occurrence (doc_id, word position kept so
    # the md5 checks exact order)
    folds = []
    state = "tw0"
    pre = """tw0 AS MATERIALIZED (
    SELECT doc_id, wi, string_split(w, '') AS syms FROM (
        SELECT doc_id, g.i AS wi, ws[g.i] AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
             LATERAL unnest(range(1, len(t.ws) + 1)) AS g(i)
    ) WHERE len(w) > 0
)"""
    for r in range(n_merges):
        folds.append(f"""tf{r} AS (
    SELECT doc_id, wi, syms, CAST([] AS VARCHAR[]) AS acc, 1 AS i FROM tw{r}
  UNION ALL
    SELECT doc_id, wi, syms,
           CASE WHEN len(acc) > 0 AND acc[-1] = (SELECT l FROM b{r})
                     AND syms[i] = (SELECT rr FROM b{r})
                THEN acc[1:len(acc) - 1] || [(SELECT l || rr FROM b{r})]
                ELSE acc || [syms[i]] END,
           i + 1
    FROM tf{r} WHERE i <= len(syms)
)""")
        folds.append(
            f"tw{r + 1} AS MATERIALIZED (SELECT doc_id, wi, acc AS syms FROM tf{r} WHERE i = len(syms) + 1)"
        )
        state = f"tw{r + 1}"
    return (
        "WITH RECURSIVE "
        + ",\n".join(_bpe_train_ctes(n_merges))
        + ",\n"
        + pre
        + ",\n"
        + ",\n".join(folds)
        + f"""
-- LEFT JOIN from documents so a doc with NO non-empty words still gets a
-- row (n_tokens=0, md5('')) — matching the engine, whose transform over
-- an empty word array yields [] rather than dropping the doc
SELECT d.doc_id,
       CAST(COALESCE(g.n_tokens, 0) AS INT) AS n_tokens,
       COALESCE(g.tok_md5, md5('')) AS tok_md5
FROM documents d LEFT JOIN (
    SELECT doc_id,
           SUM(len(syms)) AS n_tokens,
           md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY wi)) AS tok_md5
    FROM {state} GROUP BY doc_id
) g USING (doc_id)"""
    )


SQL_bpe_tokenize = _bpe_tokenize_sql()


# ------------------------------------------------------- mixture_sample
MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: per-source keep rates (keep src0 whole,
    halve src1, quarter src2, drop src3, default 0.75) applied as a
    deterministic md5 per-mille bucket filter over the ':mix'-salted id
    (independent of the dataset-split variate) — the static data-mixing
    stage of a pretraining pipeline. Output: per-source survivor counts +
    id sum (checks the exact survivor SET, not just proportions)."""
    from rasters_jl_spark.operators.sample import mixture_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = mixture_sample(docs, MIX_RATES, default_rate=0.75)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("doc_id").alias("sum_ids")
    )


def _mixture_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {r!r}" for s, r in sorted(MIX_RATES.items())
    )
    bucket = "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) % 1000 AS DOUBLE)"
    return f"""WITH k AS (
    SELECT doc_id, source FROM documents
    WHERE {bucket} < (CASE {cases} ELSE 0.75 END) * 1000.0
)
SELECT source, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
FROM k GROUP BY source"""


SQL_mixture_sample = _mixture_sql()


# ----------------------------------------------------- mixture_upsample
MIX_RATES_UP = {"src0": 2.5, "src1": 1.0, "src2": 0.5, "src3": 0.0}


def q_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling with UPSAMPLING: rate 2.5 replicates every
    src0 doc 2 times plus a half-probability third copy (same ':mix'
    salted variate as the downsampling filter), emitted with a 0-based
    ``epoch`` copy index — a pure deterministic explode projection.
    Output pins the exact copy multiset per source: row count, distinct
    docs, id sum over copies, and the epoch-index sum."""
    from rasters_jl_spark.operators.sample import mixture_sample_epochs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = mixture_sample_epochs(docs, MIX_RATES_UP, default_rate=0.75)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("doc_id").alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("epoch").alias("sum_epochs"),
    )


def _mixture_up_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{s}' THEN {r!r}" for s, r in sorted(MIX_RATES_UP.items())
    )
    bucket = "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT) % 1000 AS DOUBLE)"
    return f"""WITH r AS (
    SELECT doc_id, source, (CASE {cases} ELSE 0.75 END) AS rate, {bucket} AS b
    FROM documents
),
k AS (
    SELECT doc_id, source,
           CAST(FLOOR(rate) AS INT)
           + CASE WHEN b < (rate - FLOOR(rate)) * 1000.0 THEN 1 ELSE 0 END AS n
    FROM r
),
c AS (SELECT doc_id, source, g.e AS epoch FROM k, LATERAL unnest(range(0, k.n)) AS g(e))
SELECT source, COUNT(*) AS n_rows, COUNT(DISTINCT doc_id) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_ids, CAST(SUM(epoch) AS BIGINT) AS sum_epochs
FROM c GROUP BY source"""


SQL_mixture_upsample = _mixture_up_sql()


# ------------------------------------------------------- pack_sequences
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (concat-then-chunk): which token slice of each doc
    lands in which fixed-length training chunk. The global prefix sum is
    computed as range-partitioned window cumsums + per-partition offsets
    (never one unpartitioned window); the oracle is the plain SQL running
    cumsum over the same doc order."""
    from rasters_jl_spark.functions.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, seq_len=128)


SQL_pack_sequences = """WITH t AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT) AS n_tok
    FROM documents
),
c AS (
    SELECT doc_id, n_tok,
           CAST(SUM(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
    FROM t
),
x AS (SELECT doc_id, n_tok, e - n_tok AS s, e FROM c WHERE n_tok > 0)
SELECT x.doc_id, g.k AS chunk_id,
       GREATEST(g.k * 128 - x.s, 0) AS tok_start_in_doc,
       LEAST(x.e, (g.k + 1) * 128) - GREATEST(x.s, g.k * 128) AS n_toks
FROM x, LATERAL unnest(range(x.s // 128, (x.e - 1) // 128 + 1)) AS g(k)"""


# ---------------------------------------------------------- dedup_spans
def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2021,
    windowed form): maximal token spans whose every 8-window recurs in the
    corpus — the near-dup copies share their whole original text, so each
    planted pair surfaces as full-length spans in both docs. No suffix
    array: one groupBy(window-hash) + one run-merge groupBy."""
    aug = _aug_near(spark, sf_dir)
    return dedup.duplicated_spans(aug, k=8)


SQL_dedup_spans = f"""WITH {AUG_NEAR_CTE},
w AS (
    SELECT t.doc_id, g.i - 1 AS pos, md5(array_to_string(t.toks[g.i:g.i+7], ' ')) AS gh
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM aug) t,
         LATERAL unnest(range(1, len(t.toks) - 6)) AS g(i)
),
dh AS (SELECT gh FROM w GROUP BY gh HAVING COUNT(*) >= 2),
dup AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (gh)),
runs AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM dup
)
SELECT doc_id, MIN(pos) AS span_start, COUNT(*) + 7 AS span_len
FROM runs GROUP BY doc_id, grp"""


# --------------------------------------------------- dedup_spans_strip
def q_dedup_spans_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2021 cut policy): every token
    covered by a duplicated span is excised, uncovered tokens
    byte-preserved — completing the detect→cut story. Output: per-doc
    token counts before/after + md5 of the rewritten text (checks the
    exact cut, not just sizes)."""
    aug = _aug_near(spark, sf_dir)
    spans = dedup.duplicated_spans(aug, k=8)
    # n_tokens rides THROUGH remove_spans as a pre-computed column (it
    # preserves non-text columns) — no second docs-sized join to fetch
    # the before-size
    aug2 = aug.withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
    out = dedup.remove_spans(aug2, spans)
    return out.select(
        "doc_id",
        "n_tokens",
        F.when(F.length("text") > 0, F.size(F.split(F.col("text"), " ")))
        .otherwise(F.lit(0))
        .alias("n_kept"),
        F.md5(F.col("text")).alias("clean_md5"),
    )


SQL_dedup_spans_strip = f"""WITH {AUG_NEAR_CTE},
w AS (
    SELECT t.doc_id, g.i - 1 AS pos, md5(array_to_string(t.toks[g.i:g.i+7], ' ')) AS gh
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM aug) t,
         LATERAL unnest(range(1, len(t.toks) - 6)) AS g(i)
),
dh AS (SELECT gh FROM w GROUP BY gh HAVING COUNT(*) >= 2),
dup AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (gh)),
runs AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM dup
),
sp AS (
    SELECT doc_id, MIN(pos) AS s, COUNT(*) + 7 AS n
    FROM runs GROUP BY doc_id, grp
),
cov AS (SELECT doc_id, list({{'s': s, 'n': n}}) AS sps FROM sp GROUP BY doc_id),
kept AS (
    SELECT t.doc_id, t.ts,
           list_filter(range(1, len(t.ts) + 1),
                       i -> len(list_filter(COALESCE(c.sps, []),
                                            sp -> sp.s <= i - 1 AND i - 1 < sp.s + sp.n)) = 0) AS ki
    FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM aug) t
    LEFT JOIN cov c USING (doc_id)
)
SELECT doc_id, CAST(len(ts) AS INT) AS n_tokens,
       -- n_kept derives from the REBUILT STRING exactly as the engine's
       -- (re-split of the rewritten text; 0 when empty) so a surviving
       -- empty token from a double-space artifact can't diverge the count
       CAST(CASE WHEN len(clean) > 0 THEN len(string_split(clean, ' ')) ELSE 0 END AS INT) AS n_kept,
       md5(clean) AS clean_md5
FROM (SELECT doc_id, ts,
             -- array_to_string([]) is NULL in DuckDB but '' under Spark's array_join
             COALESCE(array_to_string(list_transform(ki, i -> ts[i]), ' '), '') AS clean
      FROM kept)"""


# ------------------------------------------------------ gopher_quality
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality & repetition signals (Rae et al. 2021 App. A1, the
    full battery minus the scan-requiring dup-5..10-gram tier — see
    dup_ngrams): word count / mean word length / alphabetic-word fraction
    / stop-word presence / symbol-to-word ratio / bullet + ellipsis line
    fractions / top-2/3/4-gram character fractions / duplicate line +
    paragraph count and character fractions, plus the published pass
    thresholds — every signal a pure higher-order column expression over
    SORTED per-doc arrays (O(L log L) per doc), zero shuffle."""
    from rasters_jl_spark.functions.textstats import gopher_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_signals(docs)


def _gopher_sql(table: str = "documents", min_words=None, min_stops=None) -> str:
    """The full Gopher-signal SELECT over ``table`` — reused by the batch
    query (defaults) and composed into the streaming-curate oracle
    (planted CTE + overridden thresholds). The oracle recomputes the
    repeated-element signals relationally (unnest + GROUP BY + MAX/SUM)
    — an independent formulation of the engine's sorted-run folds."""
    from rasters_jl_spark.functions.textstats import (
        GOPHER_BULLETS,
        GOPHER_MAX_BULLET_LINE,
        GOPHER_MAX_DUP_LINE,
        GOPHER_MAX_DUP_LINE_CHAR,
        GOPHER_MAX_DUP_PARA,
        GOPHER_MAX_DUP_PARA_CHAR,
        GOPHER_MAX_ELLIPSIS_LINE,
        GOPHER_MAX_MWL,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_TOP2,
        GOPHER_MAX_TOP3,
        GOPHER_MAX_TOP4,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA,
        GOPHER_MIN_MWL,
        GOPHER_MIN_STOPS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPS,
    )

    if min_words is None:
        min_words = GOPHER_MIN_WORDS
    if min_stops is None:
        min_stops = GOPHER_MIN_STOPS
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    bullets = ", ".join(f"'{b}'" for b in GOPHER_BULLETS)
    return f"""WITH base AS (
    SELECT doc_id, text,
           list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws,
           list_filter(string_split(text, chr(10)), x -> len(trim(x)) > 0) AS ls,
           list_filter(string_split(text, chr(10) || chr(10)), x -> len(trim(x)) > 0) AS ps
    FROM {table}
),
b AS (
    SELECT doc_id, text, ws, ls, ps, len(ws) AS n,
           len(array_to_string(ws, ' ')) AS total_chars
    FROM base
),
wu AS (
    SELECT b.doc_id, b.ws[g.i] AS w
    FROM b, LATERAL unnest(range(1, b.n + 1)) AS g(i)
),
wagg AS (
    SELECT doc_id, SUM(len(w)) AS sum_len,
           COUNT(CASE WHEN regexp_matches(w, '[a-zA-Z]') THEN 1 END) AS n_alpha,
           COUNT(DISTINCT CASE WHEN w IN ({stops}) THEN w END) AS n_stop
    FROM wu GROUP BY doc_id
),
g2 AS (
    SELECT b.doc_id, b.ws[g.i] || ' ' || b.ws[g.i + 1] AS g
    FROM b, LATERAL unnest(range(1, b.n)) AS g(i)
),
t2 AS (
    SELECT doc_id, MAX(cnt * len(g)) AS top_chars
    FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, g)
    GROUP BY doc_id
),
g3 AS (
    SELECT b.doc_id, b.ws[g.i] || ' ' || b.ws[g.i + 1] || ' ' || b.ws[g.i + 2] AS g
    FROM b, LATERAL unnest(range(1, b.n - 1)) AS g(i)
),
t3 AS (
    SELECT doc_id, MAX(cnt * len(g)) AS top_chars
    FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY doc_id, g)
    GROUP BY doc_id
),
g4 AS (
    SELECT b.doc_id, b.ws[g.i] || ' ' || b.ws[g.i + 1] || ' ' || b.ws[g.i + 2] || ' ' || b.ws[g.i + 3] AS g
    FROM b, LATERAL unnest(range(1, b.n - 2)) AS g(i)
),
t4 AS (
    SELECT doc_id, MAX(cnt * len(g)) AS top_chars
    FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM g4 GROUP BY doc_id, g)
    GROUP BY doc_id
),
lu AS (
    SELECT b.doc_id, b.ls[g.i] AS l
    FROM b, LATERAL unnest(range(1, len(b.ls) + 1)) AS g(i)
),
ldup AS (
    SELECT doc_id, SUM(cnt * len(l)) AS lc, SUM((cnt - 1) * len(l)) AS dupc
    FROM (SELECT doc_id, l, COUNT(*) AS cnt FROM lu GROUP BY doc_id, l)
    GROUP BY doc_id
),
pu AS (
    SELECT b.doc_id, b.ps[g.i] AS p
    FROM b, LATERAL unnest(range(1, len(b.ps) + 1)) AS g(i)
),
pdup AS (
    SELECT doc_id, SUM(cnt * len(p)) AS pc, SUM((cnt - 1) * len(p)) AS dupc
    FROM (SELECT doc_id, p, COUNT(*) AS cnt FROM pu GROUP BY doc_id, p)
    GROUP BY doc_id
),
sig AS (
    SELECT b.doc_id,
           CAST(b.n AS INT) AS n_words,
           ROUND(COALESCE(w.sum_len, 0) * 1.0 / GREATEST(b.n, 1), 6) AS mean_word_len,
           ROUND(COALESCE(w.n_alpha, 0) * 1.0 / GREATEST(b.n, 1), 6) AS frac_alpha_words,
           CAST(COALESCE(w.n_stop, 0) AS INT) AS n_stop_words,
           ROUND(GREATEST((len(b.text) - len(replace(b.text, '#', ''))) * 1.0,
                          (len(b.text) - len(replace(b.text, '...', ''))) / 3.0
                          + (len(b.text) - len(replace(b.text, '…', ''))))
                 / GREATEST(b.n, 1), 6) AS symbol_word_ratio,
           ROUND(len(list_filter(b.ls, x -> list_contains([{bullets}], substr(trim(x), 1, 1)))) * 1.0
                 / GREATEST(len(b.ls), 1), 6) AS bullet_line_frac,
           ROUND(len(list_filter(b.ls, x -> ends_with(trim(x), '...') OR ends_with(trim(x), '…'))) * 1.0
                 / GREATEST(len(b.ls), 1), 6) AS ellipsis_line_frac,
           ROUND(COALESCE(t2.top_chars, 0) * 1.0 / GREATEST(b.total_chars, 1), 6) AS top2gram_char_frac,
           ROUND(COALESCE(t3.top_chars, 0) * 1.0 / GREATEST(b.total_chars, 1), 6) AS top3gram_char_frac,
           ROUND(COALESCE(t4.top_chars, 0) * 1.0 / GREATEST(b.total_chars, 1), 6) AS top4gram_char_frac,
           ROUND((len(b.ls) - len(list_distinct(b.ls))) * 1.0 / GREATEST(len(b.ls), 1), 6) AS dup_line_frac,
           ROUND((len(b.ps) - len(list_distinct(b.ps))) * 1.0 / GREATEST(len(b.ps), 1), 6) AS dup_para_frac,
           ROUND(COALESCE(ld.dupc, 0) * 1.0 / GREATEST(COALESCE(ld.lc, 0), 1), 6) AS dup_line_char_frac,
           ROUND(COALESCE(pd.dupc, 0) * 1.0 / GREATEST(COALESCE(pd.pc, 0), 1), 6) AS dup_para_char_frac
    FROM b LEFT JOIN wagg w USING (doc_id) LEFT JOIN t2 USING (doc_id)
           LEFT JOIN t3 USING (doc_id) LEFT JOIN t4 USING (doc_id)
           LEFT JOIN ldup ld USING (doc_id) LEFT JOIN pdup pd USING (doc_id)
)
SELECT *,
       (n_words >= {min_words} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len >= {GOPHER_MIN_MWL!r} AND mean_word_len <= {GOPHER_MAX_MWL!r}
        AND frac_alpha_words > {GOPHER_MIN_ALPHA!r}
        AND n_stop_words >= {min_stops}
        AND symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO!r}
        AND bullet_line_frac <= {GOPHER_MAX_BULLET_LINE!r}
        AND ellipsis_line_frac <= {GOPHER_MAX_ELLIPSIS_LINE!r}
        AND top2gram_char_frac <= {GOPHER_MAX_TOP2!r}
        AND top3gram_char_frac <= {GOPHER_MAX_TOP3!r}
        AND top4gram_char_frac <= {GOPHER_MAX_TOP4!r}
        AND dup_line_frac <= {GOPHER_MAX_DUP_LINE!r}
        AND dup_para_frac <= {GOPHER_MAX_DUP_PARA!r}
        AND dup_line_char_frac <= {GOPHER_MAX_DUP_LINE_CHAR!r}
        AND dup_para_char_frac <= {GOPHER_MAX_DUP_PARA_CHAR!r}) AS gopher_pass
FROM sig"""


SQL_gopher_quality = _gopher_sql()


# ---------------------------------------------------------- dup_ngrams
_DUP_PHRASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"


def q_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1 duplicate 5..10-gram char fractions (overlap-union
    accounting) over docs with a planted repeated 12-word phrase on every
    3rd doc — those must show non-zero fractions and fail the published
    thresholds; unplanted synthetic docs stay clean."""
    from rasters_jl_spark.functions.textstats import dup_ngram_char_fracs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # COALESCE on BOTH engines before the plant: Spark's concat_ws skips
    # NULL args while DuckDB's || propagates NULL — without the coalesce a
    # NULL-text doc at doc_id % 3 == 0 would plant "PHRASE PHRASE" here
    # but NULL in the oracle (same class as the c4_clean hardening).
    txt = F.coalesce(F.col("text"), F.lit(""))
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat_ws(" ", txt, F.lit(_DUP_PHRASE), F.lit(_DUP_PHRASE)),
        )
        .otherwise(txt)
        .alias("text"),
    )
    return dup_ngram_char_fracs(planted)


def _dup_ngrams_sql() -> str:
    from rasters_jl_spark.functions.textstats import GOPHER_MAX_DUP_NGRAM

    ns = sorted(GOPHER_MAX_DUP_NGRAM)
    max_n = max(ns)
    leads_w = ",\n         ".join(
        f"lead(w, {i}) OVER win AS w{i}" for i in range(1, max_n)
    )
    leads_e = ",\n         ".join(
        f"lead(off + wl, {n - 1}) OVER win AS e{n}" for n in ns
    )
    branches = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {n} AS n, concat_ws(' ', w{ws}) AS gram, off AS s, e{n} AS e, tc "
        "FROM lt WHERE w{last} IS NOT NULL".format(
            n=n, ws="".join(f", w{i}" for i in range(1, n)), last=n - 1
        )
        for n in ns
    )
    frac_cols = ",\n         ".join(
        f"ROUND(COALESCE(MAX(CASE WHEN n = {n} THEN covd END), 0) * 1.0 / GREATEST(MAX(tc), 1), 6) AS dup{n}gram_char_frac"
        for n in ns
    )
    out_cols = ",\n       ".join(
        f"COALESCE(w.dup{n}gram_char_frac, 0.0) AS dup{n}gram_char_frac" for n in ns
    )
    gate = " AND ".join(
        f"COALESCE(w.dup{n}gram_char_frac, 0.0) <= {GOPHER_MAX_DUP_NGRAM[n]!r}" for n in ns
    )
    return f"""WITH planted AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN COALESCE(text, '') || ' {_DUP_PHRASE} {_DUP_PHRASE}'
                ELSE COALESCE(text, '') END AS text
    FROM documents
),
d AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM planted
),
wu AS (
    SELECT d.doc_id, g.i AS pos, d.ws[g.i] AS w
    FROM d, LATERAL unnest(range(1, len(d.ws) + 1)) AS g(i)
),
offs AS (
    SELECT doc_id, pos, w, len(w) AS wl,
           COALESCE(SUM(len(w) + 1) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
    FROM wu
),
lt AS (
    SELECT doc_id, pos, w, off, wl,
           MAX(off + wl) OVER (PARTITION BY doc_id) AS tc,
         {leads_w},
         {leads_e}
    FROM offs
    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
allg AS (
{branches}
),
dup AS (
    SELECT * FROM (SELECT *, COUNT(*) OVER (PARTITION BY doc_id, n, gram) AS cnt FROM allg)
    WHERE cnt >= 2
),
cov AS (
    SELECT doc_id, n, tc,
           GREATEST(0, e - GREATEST(s, COALESCE(MAX(e) OVER (PARTITION BY doc_id, n ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS addc
    FROM dup
),
per_n AS (SELECT doc_id, n, SUM(addc) AS covd, MAX(tc) AS tc FROM cov GROUP BY doc_id, n),
wide AS (
    SELECT doc_id,
         {frac_cols}
    FROM per_n GROUP BY doc_id
)
SELECT p.doc_id,
       {out_cols},
       ({gate}) AS repetition_pass
FROM planted p LEFT JOIN wide w USING (doc_id)"""


SQL_dup_ngrams = _dup_ngrams_sql()


# --------------------------------------------------------- vocab_tokenize
# Static literal vocabulary (so the oracle shares it verbatim): multi-char
# pieces over the fixture lexicon; single chars are the implicit fallback.
VOCAB_APPLY = (
    "table", "tab", "ta", "ab", "le", "value", "val", "ue", "query", "que",
    "ry", "scan", "an", "row", "key", "agg", "fast", "slow", "part", "ar",
    "window", "wind", "batch", "ba", "ch", "er", "or", "st", "en",
)


def q_vocab_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inference-time vocabulary tokenizer: greedy LONGEST-MATCH against a
    fixed vocab (the WordPiece/fast-tokenizer apply tier — one Arrow
    batched pandas UDF with a per-batch word cache, zero shuffle), vs the
    training-replay fold chain of `bpe_tokenize`. Output pins per-doc
    token counts and exact token sequences (md5). Oracle: per-(word, pos)
    longest match precomputed by MAX over the vocab join, then a
    recursive-CTE walk follows it — no aggregate in the recursive term."""
    from rasters_jl_spark.functions.bpe import vocab_tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = vocab_tokenize(docs, VOCAB_APPLY)
    return t.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.md5(F.array_join("tokens", " ")).alias("tok_md5"),
    )


def _vocab_tokenize_sql() -> str:
    vals = ", ".join(f"('{v}')" for v in sorted(set(VOCAB_APPLY)))
    return f"""WITH RECURSIVE v(tok) AS (VALUES {vals}),
dw AS MATERIALIZED (
    SELECT DISTINCT unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS word
    FROM documents
),
pos AS (
    SELECT dw.word, g.p AS p
    FROM dw, LATERAL unnest(range(1, len(dw.word) + 1)) AS g(p)
),
best AS MATERIALIZED (
    SELECT p.word, p.p,
           COALESCE(MAX(CASE WHEN substr(p.word, p.p, len(v.tok)) = v.tok
                             THEN len(v.tok) END), 1) AS sl
    FROM pos p LEFT JOIN v ON substr(p.word, p.p, len(v.tok)) = v.tok
    GROUP BY p.word, p.p
),
walk AS (
    SELECT word, 1 AS p, CAST([] AS VARCHAR[]) AS toks FROM dw
  UNION ALL
    SELECT w.word, w.p + b.sl, w.toks || [substr(w.word, w.p, b.sl)]
    FROM walk w JOIN best b ON b.word = w.word AND b.p = w.p
    WHERE w.p <= len(w.word)
),
tok AS MATERIALIZED (SELECT word, toks FROM walk WHERE p = len(word) + 1),
wp AS MATERIALIZED (
    SELECT t.doc_id, g.i AS wi, t.ws[g.i] AS word
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
          FROM documents) t,
         LATERAL unnest(range(1, len(t.ws) + 1)) AS g(i)
)
SELECT d.doc_id,
       CAST(COALESCE(s.n, 0) AS INT) AS n_tokens,
       COALESCE(s.m, md5('')) AS tok_md5
FROM documents d LEFT JOIN (
    SELECT wp.doc_id, SUM(len(t.toks)) AS n,
           md5(string_agg(array_to_string(t.toks, ' '), ' ' ORDER BY wp.wi)) AS m
    FROM wp JOIN tok t USING (word)
    GROUP BY wp.doc_id
) s USING (doc_id)"""


SQL_vocab_tokenize = _vocab_tokenize_sql()


# ------------------------------------------------- unigram LM (SentencePiece)
UNIGRAM_K = 3  # max piece length
UNIGRAM_SEED_MULTI = 80  # seed cap for multi-char pieces
UNIGRAM_VOCAB = 60  # final vocab size (incl. single chars)
UNIGRAM_ITERS = 2  # hard-EM rounds


def q_unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece, Kudo 2018) trainer, deterministic
    hard-EM variant: substring seed counts → per-round Viterbi E-step
    (zero-shuffle fold over the distinct-word table) → bounded piece
    groupBy → count-rank prune → integer nano-costs. The oracle
    recomputes the ENTIRE pipeline from the corpus — no inlined model."""
    from rasters_jl_spark.functions.unigram_lm import unigram_lm_train

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _c, _k, df = unigram_lm_train(
        docs, UNIGRAM_K, UNIGRAM_SEED_MULTI, UNIGRAM_VOCAB, UNIGRAM_ITERS
    )
    return df


def q_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi apply tier of the trained unigram LM over every document —
    the fold nested in one transform (single JVM expression tree, zero
    shuffle). Output pins per-doc token counts and exact sequences (md5),
    the vocab_tokenize convention."""
    from rasters_jl_spark.functions.unigram_lm import (
        unigram_lm_train,
        unigram_tokenize,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _cnt, costs, _df = unigram_lm_train(
        docs, UNIGRAM_K, UNIGRAM_SEED_MULTI, UNIGRAM_VOCAB, UNIGRAM_ITERS
    )
    t = unigram_tokenize(docs, costs, UNIGRAM_K)
    return t.select(
        "doc_id",
        F.size("tokens").alias("n_tokens"),
        F.md5(F.array_join("tokens", " ")).alias("tok_md5"),
    )


def _unigram_ctes(K: int, S: int, V: int, iters: int) -> list[str]:
    """Shared CTE chain recomputing unigram-LM training: wf → substring
    seed (sc/chars/v0) → per round t: costs (t{t}/c{t}) → per-(word,pos)
    candidate-cost pivot (pc{t}) → Viterbi recursion carrying the last-K
    best (cost, seg) states (vt{t}) → segmentations (seg{t}) → E-step
    counts (n{t+1}) → prune (v{t+1}). Costs are BIGINT nano-units so DP
    comparisons are integer-exact; DP ties prefer the shorter piece via
    lexicographic struct sort on (c, k)."""
    from rasters_jl_spark.functions.unigram_lm import UNIGRAM_BIG, UNIGRAM_UNK

    BIG, UNK = UNIGRAM_BIG, UNIGRAM_UNK
    ctes = [
        """wf AS MATERIALIZED (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    WHERE len(w) > 0 GROUP BY w
)""",
        f"""sc AS MATERIALIZED (
    SELECT substr(w, CAST(i AS INT), CAST(k AS INT)) AS piece, SUM(freq) AS cnt
    FROM wf,
         LATERAL unnest(range(1, len(w) + 1)) gi(i),
         LATERAL unnest(range(1, {K} + 1)) gk(k)
    WHERE i + k - 1 <= len(w)
    GROUP BY 1
)""",
        "chars AS MATERIALIZED (SELECT piece, cnt FROM sc WHERE len(piece) = 1)",
        f"""v0 AS MATERIALIZED (
    SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
        FROM sc WHERE len(piece) > 1) WHERE rn <= {S}
    UNION ALL
    SELECT piece, cnt FROM chars
)""",
    ]

    def cand(k: int, t: int) -> str:
        fallback = UNK if k == 1 else BIG
        piece = f"substr(s.w, CAST(greatest(s.i + 1 - {k} + 1, 1) AS INT), {k})"
        return (
            f"struct_pack(c := CASE WHEN s.i + 1 >= {k} "
            f"THEN s.bc[{k}] + COALESCE(p.k{k}, {fallback}) ELSE {BIG} END, "
            f"k := {k}, "
            f"s := CASE WHEN s.bs[{k}] = '' THEN {piece} "
            f"ELSE s.bs[{k}] || ' ' || {piece} END)"
        )

    for t in range(iters + 1):
        ctes.append(
            f"t{t} AS MATERIALIZED (SELECT SUM(cnt) AS total FROM v{t})"
        )
        ctes.append(
            f"""c{t} AS MATERIALIZED (
    SELECT piece, CAST(ROUND(1e9 * ln(CAST((SELECT total FROM t{t}) AS DOUBLE) / cnt)) AS BIGINT) AS cost
    FROM v{t}
)"""
        )
        if t == iters:
            break
        pivot = ",\n           ".join(
            f"MAX(CASE WHEN p.k = {k} THEN c.cost END) AS k{k}"
            for k in range(1, K + 1)
        )
        ctes.append(
            f"""pc{t} AS MATERIALIZED (
    SELECT p.w, p.i,
           {pivot}
    FROM (SELECT w, i, k, substr(w, CAST(i - k + 1 AS INT), CAST(k AS INT)) AS piece
          FROM wf,
               LATERAL unnest(range(1, len(w) + 1)) gi(i),
               LATERAL unnest(range(1, {K} + 1)) gk(k)
          WHERE i - k + 1 >= 1) p
    LEFT JOIN c{t} c ON c.piece = p.piece
    GROUP BY p.w, p.i
)"""
        )
        best = f"list_sort([{', '.join(cand(k, t) for k in range(1, K + 1))}])[1]"
        init_bc = ", ".join(["CAST(0 AS BIGINT)"] + [str(BIG)] * (K - 1))
        init_bs = ", ".join(["''"] * K)
        ctes.append(
            f"""vt{t} AS (
    SELECT w, freq, 0 AS i, [{init_bc}] AS bc, [{init_bs}] AS bs FROM wf
  UNION ALL
    SELECT s.w, s.freq, s.i + 1,
           [{best}.c] || s.bc[1:{K - 1}],
           [{best}.s] || s.bs[1:{K - 1}]
    FROM vt{t} s JOIN pc{t} p ON p.w = s.w AND p.i = s.i + 1
    WHERE s.i < len(s.w)
)"""
        )
        ctes.append(
            f"seg{t} AS MATERIALIZED (SELECT w, freq, bs[1] AS seg FROM vt{t} WHERE i = len(w))"
        )
        ctes.append(
            f"""n{t + 1} AS MATERIALIZED (
    SELECT tok AS piece, SUM(freq) AS cnt
    FROM (SELECT freq, unnest(string_split(seg, ' ')) AS tok FROM seg{t})
    GROUP BY 1
)"""
        )
        ctes.append(
            f"""v{t + 1} AS MATERIALIZED (
    SELECT piece, cnt FROM (
        SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece ASC) AS rn
        FROM n{t + 1} WHERE len(piece) > 1 AND cnt > 0)
    WHERE rn <= {V} - (SELECT COUNT(*) FROM chars)
    UNION ALL
    SELECT ch.piece, GREATEST(COALESCE(n.cnt, 0), 1) AS cnt
    FROM chars ch LEFT JOIN n{t + 1} n ON n.piece = ch.piece
)"""
        )
    return ctes


def _unigram_train_sql(
    K: int = UNIGRAM_K,
    S: int = UNIGRAM_SEED_MULTI,
    V: int = UNIGRAM_VOCAB,
    iters: int = UNIGRAM_ITERS,
) -> str:
    return (
        "WITH RECURSIVE "
        + ",\n".join(_unigram_ctes(K, S, V, iters))
        + f"""
SELECT v.piece, CAST(v.cnt AS BIGINT) AS cnt, c.cost AS cost_nano
FROM v{iters} v JOIN c{iters} c USING (piece)"""
    )


SQL_unigram_lm_train = _unigram_train_sql()


def _unigram_tokenize_sql(
    K: int = UNIGRAM_K,
    S: int = UNIGRAM_SEED_MULTI,
    V: int = UNIGRAM_VOCAB,
    iters: int = UNIGRAM_ITERS,
) -> str:
    """Apply oracle: the train chain, then one more Viterbi pass (pc/vt/seg
    over the final costs c{iters}) and the per-doc reassembly tail from
    the vocab_tokenize oracle pattern."""
    ctes = _unigram_ctes(K, S, V, iters + 1)
    # the extra round's Viterbi CTEs (pc{iters}, vt{iters}, seg{iters})
    # segment every corpus word under the FINAL costs; drop the unused
    # n/v/t/c of round iters+1 by truncating after seg{iters}
    keep = []
    for cte in ctes:
        keep.append(cte)
        if cte.startswith(f"seg{iters} "):
            break
    tail = f"""wp AS MATERIALIZED (
    SELECT t.doc_id, g.i AS wi, t.ws[g.i] AS word
    FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
          FROM documents) t,
         LATERAL unnest(range(1, len(t.ws) + 1)) AS g(i)
)
SELECT d.doc_id,
       CAST(COALESCE(s.n, 0) AS INT) AS n_tokens,
       COALESCE(s.m, md5('')) AS tok_md5
FROM documents d LEFT JOIN (
    SELECT wp.doc_id, SUM(len(string_split(t.seg, ' '))) AS n,
           md5(string_agg(t.seg, ' ' ORDER BY wp.wi)) AS m
    FROM wp JOIN seg{iters} t ON t.w = wp.word
    GROUP BY wp.doc_id
) s USING (doc_id)"""
    return "WITH RECURSIVE " + ",\n".join(keep) + ",\n" + tail


SQL_unigram_tokenize = _unigram_tokenize_sql()


# ----------------------------------------------------- dedup_paragraphs
PARA_BANNER = "this exact banner paragraph recurs across documents"


def _para_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newline-bearing twin of documents: first-8-words paragraph, an
    identical banner paragraph planted in every 3rd doc, then the rest."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ws = F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 0)
    p1 = F.array_join(F.slice(ws, 1, 8), " ")
    rest = F.array_join(F.slice(ws, 9, F.greatest(F.size(ws) - 8, F.lit(0))), " ")
    text2 = F.when(
        F.col("doc_id") % 3 == 0, F.concat_ws("\n", p1, F.lit(PARA_BANNER), rest)
    ).otherwise(F.concat_ws("\n", p1, rest))
    return docs.select("doc_id", text2.alias("text"))


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph dedup (Wenzek et al. 2020): a paragraph
    occurring more than once in the corpus survives only at its first
    (doc_id, position) occurrence; short paragraphs (<3 words) are
    exempt. The planted banner must survive exactly once (doc 0) and the
    rewritten bytes are pinned by md5."""
    from rasters_jl_spark.functions.dedup import strip_duplicate_paragraphs

    d = _para_docs(spark, sf_dir)
    out = strip_duplicate_paragraphs(d)
    n_paras = F.size(F.split(F.col("_t0"), "\n"))
    n_kept = F.when(F.length("text") > 0, F.size(F.split(F.col("text"), "\n"))).otherwise(
        F.lit(0)
    )
    return (
        d.select("doc_id", F.col("text").alias("_t0"))
        .join(out, "doc_id")
        .select(
            "doc_id",
            n_paras.alias("n_paras"),
            n_kept.alias("n_kept"),
            F.md5("text").alias("clean_md5"),
        )
    )


SQL_dedup_paragraphs = f"""WITH ws AS (
    SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS w
    FROM documents
),
t AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN concat_ws(chr(10), p1, '{PARA_BANNER}', rest)
                ELSE concat_ws(chr(10), p1, rest) END AS text
    FROM (SELECT doc_id, array_to_string(w[1:8], ' ') AS p1,
                 array_to_string(w[9:len(w)], ' ') AS rest
          FROM ws)
),
p AS (
    SELECT s.doc_id, g.i - 1 AS pidx, s.ps[g.i] AS para
    FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM t) s,
         LATERAL unnest(range(1, len(s.ps) + 1)) AS g(i)
),
e AS (
    SELECT doc_id, pidx, para,
           len(list_filter(string_split(para, ' '), w -> len(w) > 0)) < 3 AS exempt,
           md5(para) AS h
    FROM p
),
ne AS (
    SELECT doc_id, pidx, para FROM e WHERE NOT exempt
    QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id, pidx) = 1
),
keep AS (
    SELECT doc_id, pidx, para FROM ne
  UNION ALL
    SELECT doc_id, pidx, para FROM e WHERE exempt
),
reb AS (
    SELECT doc_id, string_agg(para, chr(10) ORDER BY pidx) AS clean,
           COUNT(*) AS nk
    FROM keep GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(string_split(t.text, chr(10))) AS INT) AS n_paras,
       CAST(CASE WHEN len(COALESCE(reb.clean, '')) > 0 THEN reb.nk ELSE 0 END AS INT) AS n_kept,
       md5(COALESCE(reb.clean, '')) AS clean_md5
FROM t LEFT JOIN reb USING (doc_id)"""


# ---------------------------------------------------------- domain_stats
def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus statistics over planted varied hosts (20 hosts ×
    mixed casing/ports so extraction is exercised): one partial-aggregated
    groupBy on the canonical host — the table a domain-filtering pass
    broadcasts back against the corpus."""
    from rasters_jl_spark.functions.urls import domain_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = docs.select(
        F.concat(
            F.lit("https://"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
            F.lit("h"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.org"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "n_chars",
    )
    return domain_stats(urls)


SQL_domain_stats = """WITH u AS (
    SELECT 'https://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END
           || 'h' || CAST(doc_id % 20 AS VARCHAR) || '.example.org'
           || CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END
           || '/p/' || CAST(doc_id AS VARCHAR) AS url,
           n_chars
    FROM documents
),
h AS (
    SELECT regexp_replace(
               lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)),
               ':\\d+$', '') AS host,
           n_chars
    FROM u
)
SELECT host, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM h GROUP BY host"""


# ------------------------------------------------------------ tfidf_topk
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 characteristic terms by tf·idf (tf × ln(N/df)): one
    groupBy for the corpus df table (broadcast), one for per-doc tf, one
    per-doc ranking window — ranking on the 6-dp rounded score with a
    term tiebreak so both engines agree exactly."""
    from rasters_jl_spark.functions.textstats import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_topk(docs, k=3)


SQL_tfidf_topk = """WITH w AS (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS term
    FROM documents
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
dfq AS (SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM w) GROUP BY term),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term),
scored AS (
    SELECT tf.doc_id, tf.term,
           ROUND(tf.tf * ln(n.n_docs * 1.0 / dfq.df), 6) AS tfidf
    FROM tf JOIN dfq USING (term) CROSS JOIN n
),
r AS (
    SELECT doc_id, term, tfidf,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
    FROM scored
)
SELECT doc_id, rank, term, tfidf FROM r WHERE rank <= 3"""


# ------------------------------------------------------------ url_dedup
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup: every 5th doc gets a messy
    twin (uppercase host, :443, trailing slash, utm_ param, fragment,
    shuffled query order) that must collapse onto its clean base URL —
    one canonical-hash groupBy, the crawl pipeline's first dedup pass."""
    from rasters_jl_spark.functions.urls import dedup_urls

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select(
        F.col("doc_id").alias("uid"),
        F.concat(
            F.lit("https://example.org/d/"),
            F.col("doc_id").cast("string"),
            F.lit("?a=1&b="),
            (F.col("doc_id") % 3).cast("string"),
        ).alias("url"),
    )
    messy = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("uid"),
        F.concat(
            F.lit("HTTPS://EXAMPLE.org:443/d/"),
            F.col("doc_id").cast("string"),
            F.lit("/?utm_source=feed&b="),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("&a=1#sec"),
        ).alias("url"),
    )
    out = dedup_urls(base.unionByName(messy), id_col="uid")
    return out.select(
        F.md5("url_canon").alias("canon_md5"), "n_urls", "keep_id"
    )


def _url_dedup_sql() -> str:
    from rasters_jl_spark.functions.urls import (
        HEAD_RE,
        PORT_HTTP_RE,
        PORT_HTTPS_RE,
        TRACKING_RE,
    )

    canon = f"""
    lower_head || path || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
    """
    return f"""WITH u AS (
    SELECT doc_id AS uid,
           'https://example.org/d/' || CAST(doc_id AS VARCHAR) || '?a=1&b=' || CAST(doc_id % 3 AS VARCHAR) AS url
    FROM documents
  UNION ALL
    SELECT doc_id + 1000000000,
           'HTTPS://EXAMPLE.org:443/d/' || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&b='
           || CAST(doc_id % 3 AS VARCHAR) || '&a=1#sec'
    FROM documents WHERE doc_id % 5 = 0
),
s AS (
    SELECT uid, regexp_replace(url, '#.*$', '') AS u0 FROM u
),
p AS (
    SELECT uid, u0, regexp_extract(u0, '{HEAD_RE}') AS head0 FROM s
),
c AS (
    SELECT uid,
           regexp_replace(regexp_replace(lower(head0), '{PORT_HTTP_RE}', '\\1'), '{PORT_HTTPS_RE}', '\\1') AS lower_head,
           regexp_replace(regexp_extract(substr(u0, len(head0) + 1), '^[^?]*'), '/+$', '') AS path,
           array_to_string(
               list_sort(list_filter(
                   string_split(regexp_extract(substr(u0, len(head0) + 1), '^[^?]*\\?(.*)$', 1), '&'),
                   x -> len(x) > 0 AND NOT regexp_matches(x, '{TRACKING_RE}'))),
               '&') AS qs
    FROM p
)
SELECT md5({canon}) AS canon_md5, COUNT(*) AS n_urls, MIN(uid) AS keep_id
FROM c GROUP BY 1"""


SQL_url_dedup = _url_dedup_sql()


# --------------------------------------------------------- url_blocklist
_BLOCK_HOSTS = [
    "ads.tracker.net",       # 0: exact blocklist match
    "cdn.ads.tracker.net",   # 1: subdomain of a blocked domain
    "news.example.org",      # 2: clean
    "tracker.net",           # 3: clean — parent of a blocked domain must NOT match
    "xads.tracker.net",      # 4: clean — label-anchored (string-suffix would match)
    "spam.example",          # 5: exact match of the second entry
]
_BLOCK_DOMAINS = ["ads.tracker.net", "spam.example"]


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subdomain-aware domain blocklist: hosts planted to cover exact
    match, subdomain match, parent-of-blocked (must not match) and
    label-anchoring (`xads.tracker.net` vs `ads.tracker.net`). One
    suffix-chain explode + broadcast join + partial-agg groupBy
    (`functions/urls.py::blocked_domains`) — never a LIKE scan."""
    from rasters_jl_spark.functions.urls import blocked_domains

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.element_at(
                F.array(*[F.lit(h) for h in _BLOCK_HOSTS]),
                (F.col("doc_id") % 6).cast("int") + 1,
            ),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return blocked_domains(pages, _BLOCK_DOMAINS)


def _url_blocklist_sql() -> str:
    hosts = ", ".join(f"'{h}'" for h in _BLOCK_HOSTS)
    entries = ", ".join(f"('{e}')" for e in sorted(set(_BLOCK_DOMAINS)))
    return f"""WITH u AS (
    SELECT doc_id,
           ([{hosts}])[CAST(doc_id % 6 AS INT) + 1] AS host
    FROM documents
),
s AS (
    SELECT doc_id, host,
           unnest(list_transform(
               generate_series(1, len(string_split(host, '.'))),
               i -> array_to_string(
                   list_slice(string_split(host, '.'), i,
                              len(string_split(host, '.'))), '.')
           )) AS entry
    FROM u
),
b AS (SELECT * FROM (VALUES {entries}) AS t(entry))
SELECT s.doc_id, s.host, MIN(s.entry) AS matched
FROM s JOIN b USING (entry) GROUP BY s.doc_id, s.host"""


SQL_url_blocklist = _url_blocklist_sql()


# ----------------------------------------------------------- pii_redact
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: planted emails / IPv4s / phone numbers (every 7th doc
    gets one of each, id-derived so the fixture is deterministic) are
    counted and replaced by typed placeholders — chained codegen
    regexp_replace, zero shuffle. Output pins counts AND the exact
    redacted bytes (md5)."""
    from rasters_jl_spark.functions.pii import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.format_string(
                    " contact user%d@example.com or 10.0.%d.%d or +1555%07d now",
                    F.col("doc_id") % 100,
                    F.col("doc_id") % 256,
                    (F.col("doc_id") * 3) % 256,
                    F.col("doc_id") % 10000,
                ),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = redact_pii(planted)
    return out.select(
        "doc_id", "n_email", "n_ip", "n_phone", F.md5("text").alias("clean_md5")
    )


def _pii_sql() -> str:
    from rasters_jl_spark.functions.pii import PII_PATTERNS

    plant = (
        "CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || (doc_id % 100) "
        "|| '@example.com or 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) "
        "|| ' or +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') || ' now' "
        "ELSE text END"
    )
    # counts mirror the engine: each pattern counted on the text AFTER the
    # previous patterns' replacements (sequential-redaction semantics)
    counts, red = [], "text"
    for name, pat, repl in PII_PATTERNS:
        counts.append(f"CAST(len(regexp_extract_all({red}, '{pat}')) AS INT) AS n_{name}")
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""WITH planted AS (
    SELECT doc_id, {plant} AS text FROM documents
)
SELECT doc_id, {", ".join(counts)}, md5({red}) AS clean_md5
FROM planted"""


SQL_pii_redact = _pii_sql()


# ------------------------------------------------------ unigram_logloss
def q_unigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under the corpus's own unigram MLE model —
    the SQL-expressible CCNet perplexity-bucket analogue (globally rare
    vocabulary scores high, boilerplate scores low). One word-frequency
    groupBy + broadcast join + per-doc integer-micro-unit aggregation."""
    from rasters_jl_spark.functions.textstats import unigram_logloss

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logloss(docs)


SQL_unigram_logloss = """WITH w AS (
    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS w
    FROM documents
),
wf AS (SELECT w, COUNT(*) AS cnt FROM w GROUP BY w),
n AS (SELECT COUNT(*) AS total FROM w),
s AS (
    SELECT w.doc_id,
           CAST(ROUND(ROUND(-log2(wf.cnt * 1.0 / n.total), 6) * 1000000) AS BIGINT) AS u
    FROM w JOIN wf USING (w) CROSS JOIN n
)
SELECT doc_id, COUNT(*) AS n_words,
       ROUND(CAST(SUM(u) AS BIGINT) / (COUNT(*) * 1000000.0), 6) AS bits_per_token
FROM s GROUP BY doc_id"""


# ------------------------------------------------------- ppl_buckets
def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    §4.4) over the unigram cross-entropy score. Exact terciles WITHOUT a
    global NTILE sort: the 6-dp score is a histogram, so the quantiles
    come from one metadata-scale groupBy + cumulative window + 1-row
    broadcast cutoffs (`functions/textstats.py::perplexity_buckets`)."""
    from rasters_jl_spark.functions.textstats import perplexity_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return perplexity_buckets(docs)


SQL_ppl_buckets = f"""WITH u AS (
{SQL_unigram_logloss}
),
d AS (SELECT doc_id, n_words, bits_per_token,
             CAST(ROUND(bits_per_token * 1000000) AS BIGINT) AS q FROM u),
hist AS (SELECT q, COUNT(*) AS c FROM d GROUP BY q),
cum AS (SELECT q, SUM(c) OVER (ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hist),
nn AS (SELECT SUM(c) AS n FROM hist),
cut AS (SELECT MIN(CASE WHEN cum * 3 >= n * 1 THEN q END) AS c1,
               MIN(CASE WHEN cum * 3 >= n * 2 THEN q END) AS c2
        FROM cum CROSS JOIN nn)
SELECT d.doc_id, d.n_words, d.bits_per_token,
       CASE WHEN d.q <= cut.c1 THEN 'head'
            WHEN d.q <= cut.c2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM d CROSS JOIN cut"""


# ------------------------------------------------------ bigram_logloss
_BIGRAM_LAM = 0.7


def q_bigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under an interpolated bigram model trained
    on the corpus itself — the tier above unigram_logloss toward CCNet's
    KenLM perplexity buckets. Pairs built by zip-indexed transform before
    the explode (no doc-keyed exchange); unigram + bigram groupBys;
    three broadcast joins; 6-dp micro-unit sums."""
    from rasters_jl_spark.functions.textstats import bigram_logloss

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_logloss(docs, lam=_BIGRAM_LAM)


def _bigram_logloss_sql() -> str:
    # interpolation weights serialized from the SAME Python floats the
    # Spark side uses (1.0-0.7 is 0.30000000000000004 — repr round-trips
    # so both engines multiply by the identical double)
    lam, mu = _BIGRAM_LAM, 1.0 - _BIGRAM_LAM
    return f"""WITH d AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents
),
t AS (
    SELECT d.doc_id, d.ws[g.i] AS w,
           CASE WHEN g.i > 1 THEN d.ws[g.i - 1] END AS prev
    FROM d, LATERAL unnest(range(1, len(d.ws) + 1)) AS g(i)
),
wf AS (SELECT w, COUNT(*) AS cnt FROM t GROUP BY w),
n AS (SELECT SUM(cnt) * 1.0 AS total FROM wf),
bf AS (SELECT prev, w, COUNT(*) AS cnt2 FROM t WHERE prev IS NOT NULL GROUP BY prev, w),
s AS (
    SELECT t.doc_id,
           CASE WHEN t.prev IS NULL THEN wf.cnt / n.total
                ELSE {lam!r} * (bf.cnt2 / wp.cnt) + {mu!r} * (wf.cnt / n.total) END AS p
    FROM t JOIN wf USING (w) CROSS JOIN n
         LEFT JOIN wf wp ON wp.w = t.prev
         LEFT JOIN bf ON bf.prev = t.prev AND bf.w = t.w
)
SELECT doc_id, COUNT(*) AS n_words,
       ROUND(CAST(SUM(CAST(ROUND(ROUND(-log2(p), 6) * 1000000) AS BIGINT)) AS BIGINT)
             / (COUNT(*) * 1000000.0), 6) AS bits_per_token
FROM s GROUP BY doc_id"""


SQL_bigram_logloss = _bigram_logloss_sql()


# ----------------------------------------------------- trigram_logloss
_TRIGRAM_LAMS = (0.5, 0.3, 0.2)


def q_trigram_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc cross-entropy under an interpolated trigram model trained
    on the corpus itself — the top tier of the KenLM-shaped quality
    ladder (unigram → bigram → trigram). Triples built by two nested
    shifted-array zips before the explode (O(L) per doc, no doc-keyed
    exchange); unigram + bigram + trigram groupBys; five broadcast
    joins; 6-dp micro-unit sums."""
    from rasters_jl_spark.functions.textstats import trigram_logloss

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return trigram_logloss(docs, lams=_TRIGRAM_LAMS)


def _trigram_logloss_sql() -> str:
    # weights serialized from the SAME Python floats the Spark side uses
    # (repr round-trips, so both engines multiply by identical doubles —
    # including the derived lam_b = l3 + l2 computed ONCE here)
    l3, l2, l1 = _TRIGRAM_LAMS
    lam_b = l3 + l2
    return f"""WITH d AS (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents
),
t AS (
    SELECT d.doc_id, d.ws[g.i] AS w,
           CASE WHEN g.i > 1 THEN d.ws[g.i - 1] END AS prev,
           CASE WHEN g.i > 2 THEN d.ws[g.i - 2] END AS prev2
    FROM d, LATERAL unnest(range(1, len(d.ws) + 1)) AS g(i)
),
wf AS (SELECT w, COUNT(*) AS cnt FROM t GROUP BY w),
n AS (SELECT SUM(cnt) * 1.0 AS total FROM wf),
bf AS (SELECT prev, w, COUNT(*) AS cnt2 FROM t WHERE prev IS NOT NULL GROUP BY prev, w),
tf AS (SELECT prev2, prev, w, COUNT(*) AS cnt3 FROM t WHERE prev2 IS NOT NULL
       GROUP BY prev2, prev, w),
s AS (
    SELECT t.doc_id,
           CASE WHEN t.prev IS NULL THEN wf.cnt / n.total
                WHEN t.prev2 IS NULL
                     THEN {lam_b!r} * (bf.cnt2 / wp.cnt) + {l1!r} * (wf.cnt / n.total)
                ELSE {l3!r} * (tf.cnt3 / ctx.cnt2) + {l2!r} * (bf.cnt2 / wp.cnt)
                     + {l1!r} * (wf.cnt / n.total) END AS p
    FROM t JOIN wf USING (w) CROSS JOIN n
         LEFT JOIN wf wp ON wp.w = t.prev
         LEFT JOIN bf ON bf.prev = t.prev AND bf.w = t.w
         LEFT JOIN bf ctx ON ctx.prev = t.prev2 AND ctx.w = t.prev
         LEFT JOIN tf ON tf.prev2 = t.prev2 AND tf.prev = t.prev AND tf.w = t.w
)
SELECT doc_id, COUNT(*) AS n_words,
       ROUND(CAST(SUM(CAST(ROUND(ROUND(-log2(p), 6) * 1000000) AS BIGINT)) AS BIGINT)
             / (COUNT(*) * 1000000.0), 6) AS bits_per_token
FROM s GROUP BY doc_id"""


SQL_trigram_logloss = _trigram_logloss_sql()


# ----------------------------------------------------------- c4_clean
def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning battery (Raffel et al. 2020 §2.2):
    terminal-punctuation + min-words + javascript/policy-phrase line
    filters, page gates on sentence count / lorem ipsum / curly brace.
    One zero-shuffle codegen projection."""
    from rasters_jl_spark.functions.textstats import c4_clean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return c4_clean(docs)


def _c4_clean_sql() -> str:
    from rasters_jl_spark.functions.textstats import C4_POLICY_PHRASES

    phrase_preds = " AND ".join(
        f"NOT contains(lower(trim(x)), '{p}')" for p in C4_POLICY_PHRASES
    )
    return f"""WITH d AS (
    -- NULL text -> empty; strip CR so CRLF crawls pass the end-of-line test
    SELECT doc_id, replace(COALESCE(text, ''), chr(13), '') AS text,
           string_split(replace(COALESCE(text, ''), chr(13), ''), chr(10)) AS ls
    FROM documents
),
k AS (
    SELECT doc_id, text, len(ls) AS n_lines,
           list_filter(ls, x ->
               substr(trim(x), -1, 1) IN ('.', '!', '?', '"')
               AND len(list_filter(string_split_regex(trim(x), '\\s+'), w -> len(w) > 0)) >= 5
               AND NOT contains(lower(trim(x)), 'javascript')
               AND {phrase_preds}) AS kept
    FROM d
),
c AS (
    SELECT doc_id, text, n_lines, len(kept) AS n_lines_kept,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
    FROM k
),
s AS (
    SELECT doc_id, clean_text, n_lines, n_lines_kept,
           (len(clean_text) - len(replace(clean_text, '.', '')))
         + (len(clean_text) - len(replace(clean_text, '!', '')))
         + (len(clean_text) - len(replace(clean_text, '?', ''))) AS n_sentences,
           text
    FROM c
)
SELECT doc_id, clean_text,
       CAST(n_lines AS INT) AS n_lines,
       CAST(n_lines_kept AS INT) AS n_lines_kept,
       CAST(n_sentences AS INT) AS n_sentences,
       (n_sentences >= 3
        AND NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{{')) AS c4_pass
FROM s"""


SQL_c4_clean = _c4_clean_sql()


# ------------------------------------------------------- blocklist tiers
BLOCK_WORDS = ("table", "query", "spark")
# phrases span token boundaries; none self-overlaps (prefix != suffix), so
# the oracle's non-overlapping replace() count equals Aho-Corasick's
BLOCK_PHRASES = ("fast scan", "the line", "batch window")


def q_blocklist_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style word blocklist (Raffel et al. 2020): per-doc hit counts
    via ONE token explode + broadcast semi-join — no Python; zero-hit
    docs kept with 0 (callers drop or flag)."""
    from rasters_jl_spark.functions.blocklist import blocklist_hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return blocklist_hits(docs, BLOCK_WORDS, mode="word")


def _block_word_sql() -> str:
    vals = ", ".join(f"('{t}')" for t in sorted(set(BLOCK_WORDS)))
    return f"""WITH t(term) AS (VALUES {vals}),
w AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term FROM documents),
h AS (SELECT doc_id, COUNT(*) AS n FROM w JOIN t USING (term) GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits
FROM documents d LEFT JOIN h USING (doc_id)"""


SQL_blocklist_word = _block_word_sql()


def q_blocklist_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-tier blocklist: phrases that span token boundaries,
    matched by an Aho-Corasick automaton in one Arrow-batched pandas UDF
    (linear per document regardless of blocklist size — the production
    multi-pattern matcher). Oracle counts occurrences per term via the
    replace() length delta (terms chosen non-self-overlapping, where the
    two counting schemes agree exactly)."""
    from rasters_jl_spark.functions.blocklist import blocklist_hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return blocklist_hits(docs, BLOCK_PHRASES, mode="substring")


def _block_sub_sql() -> str:
    parts = " + ".join(
        f"(len(text) - len(replace(text, '{t}', ''))) // {len(t)}"
        for t in sorted(set(BLOCK_PHRASES))
    )
    return f"""SELECT doc_id, CAST({parts} AS BIGINT) AS n_hits FROM documents"""


SQL_blocklist_substring = _block_sub_sql()


# --------------------------------------------------------- session_stats
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization over the events table (30-min gap): one
    per-user window (lag → boundary flag → running sum) sharing a single
    user-hash exchange, then one partial-aggregated per-session rollup.
    Timestamps compare at floor-second granularity in both engines."""
    from rasters_jl_spark.operators.extras import session_stats

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(events, gap_minutes=30)


SQL_session_stats = """WITH e AS (
    SELECT user_id, event_id, ts, value,
           CAST(floor(epoch(ts)) AS BIGINT) AS es,
           lag(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pes
    FROM events
),
s AS (
    SELECT *, SUM(CASE WHEN pes IS NULL OR es - pes > 1800 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM e
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       CAST(MAX(es) - MIN(es) AS BIGINT) AS duration_s,
       ROUND(CAST(SUM(value) AS DOUBLE), 6) AS sum_value
FROM s GROUP BY user_id, session_id"""


# --------------------------------------------------------- stream_curate
def q_stream_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation map stage checked against the batch operators:
    planted-PII docs drain as two micro-batches through the Gopher gate
    (fixture thresholds) + PII redaction; the appended union must equal
    the batch composition (the oracle) — stateless streaming, so
    equality is exact row-for-row."""
    import tempfile

    from rasters_jl_spark.streaming.ingest import start_curate_stream

    base = tempfile.mkdtemp(prefix="stream_curate_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.format_string(
                    " contact user%d@example.com or 10.0.%d.%d or +1555%07d now",
                    F.col("doc_id") % 100,
                    F.col("doc_id") % 256,
                    (F.col("doc_id") * 3) % 256,
                    F.col("doc_id") % 10000,
                ),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    planted.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    planted.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    q = start_curate_stream(
        spark, src, planted.schema, out, ck, min_words=30, min_stops=1
    )
    drained = q.awaitTermination(600)
    assert drained, "availableNow curate stream did not finish draining"
    return spark.read.parquet(out).select(
        "doc_id", "n_email", "n_ip", "n_phone", F.md5("text").alias("clean_md5")
    )


def _stream_curate_sql() -> str:
    from rasters_jl_spark.functions.pii import PII_PATTERNS

    plant = (
        "CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' || (doc_id % 100) "
        "|| '@example.com or 10.0.' || (doc_id % 256) || '.' || ((doc_id * 3) % 256) "
        "|| ' or +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') || ' now' "
        "ELSE text END"
    )
    gop = _gopher_sql(table="planted", min_words=30, min_stops=1)
    # lift the gopher WITH-chain into this query's chain: wrap its final
    # SELECT as one more CTE (gsig) and keep only the passing doc ids
    gop_inner = gop[len("WITH ") :]
    gop_inner = gop_inner.replace(")\nSELECT *,", "),\ngsig AS (\nSELECT doc_id AS gid,", 1)
    assert gop_inner.rstrip().endswith("FROM sig")
    gop_inner = gop_inner.rstrip() + ")"
    counts, red = [], "p.text"
    for name, pat, repl in PII_PATTERNS:
        counts.append(f"CAST(len(regexp_extract_all({red}, '{pat}')) AS INT) AS n_{name}")
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(counts)
    return f"""WITH planted AS (
    SELECT doc_id, {plant} AS text FROM documents
),
{gop_inner}
SELECT p.doc_id, {counts}, md5({red}) AS clean_md5
FROM planted p JOIN gsig g ON g.gid = p.doc_id AND g.gopher_pass"""


SQL_stream_curate = _stream_curate_sql()


# ------------------------------------------------------ dedup_canonical
def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after CCNet-style canonicalization (lowercase, strip
    punctuation, collapse whitespace): planted UPPERCASE+'!!' variants
    hash identically to their sources and dedup as one group — raw-byte
    exact dedup would miss every one of them. Same one-hash-groupBy plan
    as `dedup_exact`, the normalization is pure codegen."""
    base = read_documents(spark, sf_dir).select("doc_id", "text")
    variants = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!")).alias("text"),
    )
    aug = base.unionByName(variants)
    key = F.md5(dedup.canonical_text_col(F.col("text")))
    return (
        aug.groupBy(key.alias("canon_key"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
        .where(F.col("n_docs") >= 2)
    )


SQL_dedup_canonical = """WITH aug AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 90000, upper(text) || '!!' FROM documents WHERE doc_id % 7 = 0
),
c AS (
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS canon_key
    FROM aug
)
SELECT canon_key, COUNT(*) AS n_docs, MIN(doc_id) AS keeper
FROM c GROUP BY canon_key HAVING COUNT(*) >= 2"""


# -------------------------------------------------------- dataset_split
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5 per-mille buckets from
    md5 of the stable doc id) — reproducible under re-sharding, appends,
    and engine changes because the split is a pure function of the id.
    Output: per-split doc counts + the per-doc assignment checksum."""
    from rasters_jl_spark.operators.sample import split_by_hash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    s = split_by_hash(docs)
    return s.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("sum_ids"),
        F.sum("bucket").alias("sum_buckets"),
    )


SQL_dataset_split = """WITH s AS (
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 AS INT) AS bucket
    FROM documents
)
SELECT CASE WHEN bucket < 900 THEN 'train' WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
       CAST(SUM(bucket) AS BIGINT) AS sum_buckets
FROM s GROUP BY 1"""


# -------------------------------------------------------- decontaminate
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (GPT-3 appendix-C): flag training docs
    sharing any 8-token gram with a benchmark set. The eval fixture is a
    16-token window (tokens 2–17) of every 50th base doc, so the planted
    contamination is (a) the source docs themselves and (b) their
    near-dup copies in the augmented corpus — both must surface. Eval
    gram hashes broadcast; corpus grams explode map-side (no corpus-wide
    shuffle)."""
    aug = _aug_near(spark, sf_dir)
    ev = read_documents(spark, sf_dir).where(F.col("doc_id") % 50 == 0).select(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 2, 16)).alias("text")
    )
    return dedup.decontaminate(aug, ev)


SQL_decontaminate = f"""WITH {AUG_NEAR_CTE},
ev AS (
    SELECT array_to_string((string_split(text, ' '))[2:17], ' ') AS etext
    FROM documents WHERE doc_id % 50 = 0
),
eg AS (
    SELECT DISTINCT md5(array_to_string(t.toks[g.i:g.i+7], ' ')) AS gh
    FROM (SELECT string_split(etext, ' ') AS toks FROM ev) t,
         LATERAL unnest(range(1, len(t.toks) - 6)) AS g(i)
),
dg AS (
    SELECT t.doc_id, md5(array_to_string(t.toks[g.i:g.i+7], ' ')) AS gh
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM aug) t,
         LATERAL unnest(range(1, len(t.toks) - 6)) AS g(i)
)
SELECT dg.doc_id, COUNT(DISTINCT dg.gh) AS n_hit_grams
FROM dg JOIN eg ON eg.gh = dg.gh
GROUP BY dg.doc_id"""


# -------------------------------------------------------- bloom_decon
_BLOOM_M_Q = 1024  # deliberately small at fixture scale: exercises real FPs


def q_bloom_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental-crawl membership: even doc_ids are the
    PRIOR snapshot; every doc probes the prior's packed bitset. No false
    negatives (every even doc flags maybe_seen) and a documented
    ``(1-e^{-kn/m})^k`` false-positive rate among odd docs — both
    reproduced EXACTLY by the oracle because the hash family is the
    module's portable salted-md5. m=1024 here so fixture-scale FPs are
    actually exercised; production default is 2^18+ bits
    (``functions/dedup.py::BLOOM_M``). The probe is pure column math over
    an array<long> literal — zero joins, zero shuffles; membership
    against N prior docs costs O(m) broadcast state, never a join
    against the prior corpus."""
    from rasters_jl_spark.functions import dedup

    docs = read_documents(spark, sf_dir).select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    )
    prior = docs.where(F.col("doc_id") % 2 == 0)
    packed = dedup.bloom_build(prior, F.col("text"), m=_BLOOM_M_Q)
    return dedup.bloom_probe(docs, packed, F.col("text"), m=_BLOOM_M_Q).select(
        "doc_id", "maybe_seen"
    )


SQL_bloom_decon = f"""WITH d AS (
    SELECT doc_id, COALESCE(text, '') AS text FROM documents
),
pos AS (
    SELECT doc_id, doc_id % 2 = 0 AS is_prior,
           CAST(concat('0x', substr(md5(concat('bloom', CAST(t.j AS VARCHAR), '|', text)), 1, 8)) AS BIGINT)
               % {_BLOOM_M_Q} AS pos
    FROM d, LATERAL unnest([0, 1, 2, 3]) AS t(j)
),
bits AS (SELECT DISTINCT pos FROM pos WHERE is_prior)
SELECT p.doc_id, BOOL_AND(p.pos IN (SELECT pos FROM bits)) AS maybe_seen
FROM pos p GROUP BY p.doc_id"""


# ------------------------------------------------------ stream_bloom
def q_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom incremental decontamination checked against the
    BATCH probe: even doc_ids are the PRIOR snapshot packed into the
    bitset once (O(m) state), then the whole corpus drains as two
    micro-batches through `streaming/ingest.py::start_bloom_stream` —
    the probe is an array<long> literal + column math inside the
    streaming plan, zero joins, zero cross-batch state, so the appended
    union must equal the batch `bloom_decon` semantics exactly
    (including the documented false positives — same salted-md5 family,
    same m=1024 fixture bitset)."""
    import tempfile

    from rasters_jl_spark.functions import dedup
    from rasters_jl_spark.streaming.ingest import start_bloom_stream

    base = tempfile.mkdtemp(prefix="stream_bloom_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    prior = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    ).where(F.col("doc_id") % 2 == 0)
    packed = dedup.bloom_build(prior, F.col("text"), m=_BLOOM_M_Q)
    q = start_bloom_stream(spark, src, docs.schema, packed, out, ck, m=_BLOOM_M_Q)
    drained = q.awaitTermination(600)
    assert drained, "availableNow bloom stream did not finish draining"
    return spark.read.parquet(out)


SQL_stream_bloom = SQL_bloom_decon


# -------------------------------------------------------- stream_ppl
def q_stream_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CCNet perplexity bucketing against a FROZEN snapshot,
    checked against a DuckDB recomputation of the whole pipeline: the
    unigram model + head/middle/tail cutoffs are trained once on the even
    doc_ids (the reference corpus), then ALL docs drain as two
    micro-batches scored per-batch against the static state
    (`streaming/ingest.py::start_ppl_stream`). OOV tokens (odd-doc words
    absent from the even-doc vocab) get add-half mass — deterministic, so
    the oracle reproduces every score and bucket bit-for-bit."""
    import tempfile

    from rasters_jl_spark.streaming.ingest import start_ppl_stream

    base = tempfile.mkdtemp(prefix="stream_ppl_")
    src, out, ck = f"{base}/src", f"{base}/out", f"{base}/ck"
    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    ref = docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    ).where(F.col("doc_id") % 2 == 0)
    q = start_ppl_stream(spark, src, docs.schema, ref, out, ck)
    drained = q.awaitTermination(600)
    assert drained, "availableNow ppl stream did not finish draining"
    return spark.read.parquet(out)


SQL_stream_ppl = """WITH w AS (
    SELECT doc_id,
           unnest(list_filter(string_split(COALESCE(text, ''), ' '), x -> len(x) > 0)) AS w
    FROM documents
),
vf AS (SELECT w, COUNT(*) AS cnt FROM w WHERE doc_id % 2 = 0 GROUP BY w),
n AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM vf),
s AS (
    SELECT w.doc_id,
           CAST(ROUND(ROUND(-log2(COALESCE(vf.cnt * 1.0, 0.5) / n.total), 6) * 1000000) AS BIGINT) AS u
    FROM w LEFT JOIN vf USING (w) CROSS JOIN n
),
d AS (
    SELECT doc_id, COUNT(*) AS n_words,
           ROUND(CAST(SUM(u) AS BIGINT) / (COUNT(*) * 1000000.0), 6) AS bits_per_token
    FROM s GROUP BY doc_id
),
dq AS (SELECT *, CAST(ROUND(bits_per_token * 1000000) AS BIGINT) AS q FROM d),
hist AS (SELECT q, COUNT(*) AS c FROM dq WHERE doc_id % 2 = 0 GROUP BY q),
cum AS (SELECT q, SUM(c) OVER (ORDER BY q
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM hist),
nn AS (SELECT SUM(c) AS n FROM hist),
cut AS (SELECT MIN(CASE WHEN cum * 3 >= n * 1 THEN q END) AS c1,
               MIN(CASE WHEN cum * 3 >= n * 2 THEN q END) AS c2
        FROM cum CROSS JOIN nn)
SELECT dq.doc_id, dq.n_words, dq.bits_per_token,
       CASE WHEN dq.q <= cut.c1 THEN 'head'
            WHEN dq.q <= cut.c2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM dq CROSS JOIN cut"""


# ------------------------------------------------------ html_extract
# Deterministic crawl-page fixture: the document text wrapped in realistic
# chrome — head/title/style/script, a nav of links, an ads div, a footer, a
# too-short paragraph and an HTML comment containing a fake tag. The
# extractor must keep exactly the <h1> and the main <p> and drop the rest.
_HTML_P1 = "<html><head><title>Doc "
_HTML_P2 = (
    '</title><style>p{margin:0}</style>'
    '<script type="text/javascript">var n=1; if (n<2) { n = n+1; }</script>'
    '</head><body>'
    '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>'
    "<h1>Page "
)
_HTML_P3 = " report &amp; summary</h1><p>"
_HTML_P4 = (
    '</p><div class="ads"><a href="/buy">Buy now</a> <a href="/click">Click here</a></div>'
    "<p>Short.</p><!-- tracking pixel <div> inside a comment -->"
    "<footer>&copy; 2025 <a href="
    '"/t">Terms</a></footer></body></html>'
)


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """html→text main-content extraction (jusText-family block classifier,
    Pomikálek 2011 §4): block split at block-level tags, per-block
    link-density / word-count gates in pure integer math, newline re-join.
    One zero-shuffle codegen projection (functions/html.py) — the crawl
    pipeline stage upstream of every text operator in this registry."""
    from rasters_jl_spark.functions.html import html_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    page = docs.withColumn(
        "html",
        F.concat(
            F.lit(_HTML_P1),
            F.col("doc_id").cast("string"),
            F.lit(_HTML_P2),
            F.col("doc_id").cast("string"),
            F.lit(_HTML_P3),
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(_HTML_P4),
        ),
    )
    return html_text(page, "html").select("doc_id", "n_blocks", "n_kept", "content")


def _html_extract_sql() -> str:
    from rasters_jl_spark.functions.html import html_text_sql

    frags = html_text_sql("html")
    return f"""WITH p AS (
    SELECT doc_id,
           '{_HTML_P1}' || CAST(doc_id AS VARCHAR) || '{_HTML_P2}'
           || CAST(doc_id AS VARCHAR) || '{_HTML_P3}'
           || COALESCE(text, '') || '{_HTML_P4}' AS html
    FROM documents
),
b AS (SELECT doc_id, {frags['bl_expr']} AS bl FROM p)
SELECT doc_id, {frags['n_blocks']} AS n_blocks, {frags['n_kept']} AS n_kept,
       {frags['content']} AS content
FROM b"""


SQL_html_extract = _html_extract_sql()


# ---------------------------------------------------------- pagerank_hosts
# Deterministic host graph: src host = doc_id % 31 (hosts h31..h36 are
# DANGLING — they receive links but never send); three anchor links per doc
# target (7d+1)%37, (13d+2)%37, (5d+3)%37, so out-degrees diversify with
# corpus size. The pipeline exercises extract_links (href regex) → host
# parse → distinct edges → quantized PageRank.
_PR_HOST_MODS = (31, 37)
_PR_LINKS = ((7, 1), (13, 2), (5, 3))
_RE_HOST = r"^https?://([^/]+)"


def q_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level PageRank over the hyperlink graph (the crawl-pipeline
    quality prior, Common Crawl host-rank shape): href extraction from
    html, host-edge dedup, 3 integer-quantized power iterations — ranks
    are BIGINT units end-to-end, so iterative message passing is exactly
    SQL-recomputable (no FP drift across shuffle order or iteration)."""
    from rasters_jl_spark.functions.html import extract_links_col
    from rasters_jl_spark.functions.linkgraph import pagerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    sm, dm = _PR_HOST_MODS
    frags = [F.lit("<p>page</p>")]
    for a, b in _PR_LINKS:
        frags += [
            F.lit('<a href="https://h'),
            ((d * a + b) % dm).cast("string"),
            F.lit('.example.org/p">l</a>'),
        ]
    pages = docs.select(
        F.concat(F.lit("h"), (d % sm).cast("string")).alias("src"),
        F.concat(*frags).alias("html"),
    )
    links = pages.select(
        "src", F.explode(extract_links_col(F.col("html"))).alias("href")
    )
    edges = (
        links.select(
            "src",
            F.concat(
                F.regexp_extract(F.col("href"), _RE_HOST, 1),
            ).alias("dst"),
        )
        .withColumn("dst", F.regexp_replace(F.col("dst"), r"\.example\.org$", ""))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    return pagerank(edges)


def _pagerank_hosts_sql() -> str:
    from rasters_jl_spark.functions.html import extract_links_sql
    from rasters_jl_spark.functions.linkgraph import pagerank_sql

    sm, dm = _PR_HOST_MODS
    parts = ["'<p>page</p>'"]
    for a, b in _PR_LINKS:
        parts.append(
            "'<a href=\"https://h' || CAST((doc_id * %d + %d) %% %d AS VARCHAR)"
            " || '.example.org/p\">l</a>'" % (a, b, dm)
        )
    html = " || ".join(parts)
    edges_cte = f"""pages AS (
    SELECT 'h' || CAST(doc_id % {sm} AS VARCHAR) AS src, {html} AS html
    FROM documents
),
lnk AS (
    SELECT src, unnest({extract_links_sql('html')}) AS href FROM pages
),
edges AS (
    SELECT DISTINCT src,
           regexp_replace(regexp_extract(href, '{_RE_HOST}', 1),
                          '\\.example\\.org$', '') AS dst
    FROM lnk
    WHERE src != regexp_replace(regexp_extract(href, '{_RE_HOST}', 1),
                                '\\.example\\.org$', '')
)"""
    return pagerank_sql(edges_cte)


SQL_pagerank_hosts = _pagerank_hosts_sql()


# -------------------------------------------------------------- pii_cards
def q_pii_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-gated card redaction: planted VALID cards (every 7th doc a
    16-digit Visa test number, every 13th the 15-digit AmEx) are counted
    and replaced; a planted checksum-FAILING near-card (every 11th doc)
    must survive untouched — the gate is the ISO/IEC 7812 integer fold,
    pure codegen, zero shuffle. Output pins counts + exact redacted
    bytes (md5)."""
    from rasters_jl_spark.functions.pii import redact_cards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(d % 7 == 0, F.lit(" pay 4111 1111 1111 1111 ok")).otherwise(F.lit("")),
            F.when(d % 11 == 0, F.lit(" ref 4111-1111-1111-1112 x")).otherwise(F.lit("")),
            F.when(d % 13 == 0, F.lit(" amex 378282246310005.")).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = redact_cards(aug)
    return out.select("doc_id", "n_card", F.md5(F.col("text")).alias("text_md5"))


def _pii_cards_sql() -> str:
    from rasters_jl_spark.functions.pii import cards_sql

    f = cards_sql("text")
    return f"""WITH aug AS (
    SELECT doc_id,
           COALESCE(text, '')
           || CASE WHEN doc_id % 7 = 0 THEN ' pay 4111 1111 1111 1111 ok' ELSE '' END
           || CASE WHEN doc_id % 11 = 0 THEN ' ref 4111-1111-1111-1112 x' ELSE '' END
           || CASE WHEN doc_id % 13 = 0 THEN ' amex 378282246310005.' ELSE '' END AS text
    FROM documents
)
SELECT doc_id, {f['n_card']} AS n_card, md5({f['text']}) AS text_md5 FROM aug"""


SQL_pii_cards = _pii_cards_sql()


# ------------------------------------------------------------ robots_filter
_ROBOTS_N_HOSTS = 13
_ROBOTS_WITH_TXT = 10
_ROBOTS_A = (
    "User-agent: gptbot\nDisallow: /\n\nUser-agent: *\nDisallow: /private/\n"
    "Allow: /private/ok\nDisallow: /tmp\nDisallow:\n"
)
_ROBOTS_B = "User-agent: *\nDisallow: /\n"
_ROBOTS_C = "User-agent: gptbot\nDisallow: /\n"
_ROBOTS_PATHS = ("/", "/private/page", "/private/ok/page", "/tmp42", "/public/x")


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness gate (RFC 9309-lite): per-host wildcard-group
    parse on the BROADCAST side, longest-prefix-wins (allow breaks ties)
    path decision in pure codegen over the corpus. Fixture exercises
    allow-override inside a disallowed subtree, bare-prefix matching
    (/tmp blocks /tmp42), empty-Disallow drop, a block-all host, a host
    whose robots has NO wildcard group, and hosts with no robots at all."""
    from rasters_jl_spark.functions.urls import filter_robots

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    path = F.element_at(
        F.array(*[F.lit(p) for p in _ROBOTS_PATHS]), (d % 5).cast("int") + 1
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (d % _ROBOTS_N_HOSTS).cast("string"),
            F.lit(".example.org"), path,
        ).alias("url"),
    )
    h = F.col("id")
    robots = spark.range(_ROBOTS_WITH_TXT).select(
        F.concat(F.lit("h"), h.cast("string"), F.lit(".example.org")).alias("host"),
        F.when(h % 3 == 0, F.lit(_ROBOTS_A))
        .when(h % 3 == 1, F.lit(_ROBOTS_B))
        .otherwise(F.lit(_ROBOTS_C))
        .alias("robots_txt"),
    )
    out = filter_robots(pages, robots)
    return out.select("doc_id", "host", "path", "allowed")


def _robots_filter_sql() -> str:
    from rasters_jl_spark.functions.urls import (
        robots_allowed_sql,
        robots_rules_sql,
        url_path_sql,
    )

    a = _ROBOTS_A.replace("\n", "' || chr(10) || '")
    b = _ROBOTS_B.replace("\n", "' || chr(10) || '")
    c = _ROBOTS_C.replace("\n", "' || chr(10) || '")
    paths = ", ".join(f"'{p}'" for p in _ROBOTS_PATHS)
    return f"""WITH pages AS (
    SELECT doc_id,
           'https://h' || CAST(doc_id % {_ROBOTS_N_HOSTS} AS VARCHAR) || '.example.org'
           || ([{paths}])[CAST(doc_id % 5 AS INT) + 1] AS url
    FROM documents
),
robots AS (
    SELECT 'h' || CAST(i AS VARCHAR) || '.example.org' AS host,
           CASE WHEN i % 3 = 0 THEN '{a}'
                WHEN i % 3 = 1 THEN '{b}'
                ELSE '{c}' END AS robots_txt
    FROM generate_series(0, {_ROBOTS_WITH_TXT - 1}) t(i)
),
rl AS (SELECT host, {robots_rules_sql('robots_txt')} AS rules FROM robots),
p AS (
    SELECT doc_id,
           lower(regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1), ':\\d+$', '')) AS host,
           {url_path_sql('url')} AS path
    FROM pages
)
SELECT p.doc_id, p.host, p.path,
       {robots_allowed_sql('p.path', "COALESCE(rl.rules, [])")} AS allowed
FROM p LEFT JOIN rl ON rl.host = p.host"""


SQL_robots_filter = _robots_filter_sql()


# ----------------------------------------------------------- crawl_revisits
def q_crawl_revisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl revisit classification (WARC revisit semantics):
    snapshot A = all docs; snapshot B drops every 17th url (gone),
    rewrites every 5th page (changed), and discovers a new url per 9th
    doc (new) — one full-outer join on url, digests = md5(text)."""
    from rasters_jl_spark.functions.urls import classify_revisits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    url = F.concat(F.lit("https://example.org/d/"), d.cast("string"))
    prev = docs.select(url.alias("url"), F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("digest"))
    curbase = docs.where(d % 17 != 0).select(
        url.alias("url"),
        F.md5(
            F.when(d % 5 == 0, F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")))
            .otherwise(F.coalesce(F.col("text"), F.lit("")))
        ).alias("digest"),
    )
    newpages = docs.where(d % 9 == 0).select(
        F.concat(F.lit("https://example.org/n/"), d.cast("string")).alias("url"),
        F.md5(F.concat(F.lit("new"), d.cast("string"))).alias("digest"),
    )
    return classify_revisits(prev, curbase.unionByName(newpages))


SQL_crawl_revisits = """WITH prev AS (
    SELECT 'https://example.org/d/' || CAST(doc_id AS VARCHAR) AS url,
           md5(COALESCE(text, '')) AS digest
    FROM documents
),
cur AS (
    SELECT 'https://example.org/d/' || CAST(doc_id AS VARCHAR) AS url,
           md5(CASE WHEN doc_id % 5 = 0 THEN COALESCE(text, '') || ' v2'
                    ELSE COALESCE(text, '') END) AS digest
    FROM documents WHERE doc_id % 17 != 0
    UNION ALL
    SELECT 'https://example.org/n/' || CAST(doc_id AS VARCHAR),
           md5('new' || CAST(doc_id AS VARCHAR))
    FROM documents WHERE doc_id % 9 = 0
)
SELECT COALESCE(c.url, p.url) AS url,
       CASE WHEN p.url IS NULL THEN 'new'
            WHEN c.url IS NULL THEN 'gone'
            WHEN c.digest = p.digest THEN 'unchanged'
            ELSE 'changed' END AS status,
       c.digest AS digest, p.digest AS prev_digest
FROM cur c FULL OUTER JOIN prev p ON c.url = p.url"""
