"""Hashed character-n-gram language identification.

The production design every published curation pipeline (CCNet, C4, Gopher)
gates on first: a linear classifier over HASHED character n-grams — fastText
(Joulin et al. 2016, "Bag of Tricks for Efficient Text Classification") for
the feature space, langid.py (Lui & Baldwin 2012) for the multinomial
Naive-Bayes estimator, which is closed-form and therefore exactly
reproducible (no SGD ordering effects).

Pipeline shape (the same plan as every other broadcast-model tier here):

  lower(text) → char 2/3-grams (sequence+transform, zero Python)
             → bucket = md5-prefix hash mod B
             → broadcast join against the (B × n_langs) weight table
             → per-doc SUM of integer nano-log-probs (partial agg map-side,
               the exchange carries ≤ one row per document)
             → argmax CASE

Cross-engine exactness: training happens driver-side in pure Python
(deterministic closed-form counts + ln), and the weights are shipped as
**nano-unit BIGINTs** (round(ln p * 1e9)) — both engines sum integers, so
scores are bit-equal and the DuckDB oracle can recompute the whole query
from a VALUES weight table.  The gram/bucket pipeline uses only functions
with verified cross-engine parity (lower, length, substr, md5, conv-hex).

Scale notes (100 TB): the model side is B rows (a fixed hash-bucket count,
e.g. 512–4096) — broadcast is always correct by construction, unlike the
corpus-derived LM tables in textstats.py which need the ``broadcast=``
escape knob.  The explode is 2·len(text) rows per doc but collapses back to
one row per doc in the map-side partial aggregate before the exchange.

Training data: synthesized deterministically from per-language common-word
lists (public function-word vocabulary) — no external data, per the build
rules.  `tools/langid_eval.py` measures held-out accuracy under vocabulary
contamination; results in COVERAGE.md.

Reference parity note: Rasters.jl has no language-ID (geospatial scope);
this tier belongs to the LLM-pipeline mandate of the build.
"""

from __future__ import annotations

import hashlib
import math
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rasters_jl_spark.session import local_df

LANGID_LANGS = ("de", "en", "es", "fr")  # alphabetical == argmax tie order
LANGID_BUCKETS = 512
LANGID_GRAM_SIZES = (2, 3)

# Common-word (function-word) vocabularies — standard public frequency-list
# heads. ASCII-folded forms included alongside accented ones so the
# synthesized corpus exercises both byte shapes.
LANGID_VOCAB = {
    "de": (
        "der die und in den von zu das mit sich des auf fur ist im dem nicht "
        "ein eine als auch es an werden aus er hat dass sie nach wird bei "
        "einer um am sind noch wie einem uber einen so zum war haben nur oder"
    ).split(),
    "en": (
        "the of and to in is was that for it with as his on be at by had not "
        "are this but from they which she you we have were all their one has "
        "will there been who more when out into them then some could him time"
    ).split(),
    "es": (
        "el la de que y a en un ser se no haber por con su para como estar "
        "tener le lo todo pero mas hacer o poder decir este ir otro ese si "
        "me ya ver porque dar cuando muy sin vez mucho saber sobre mi tambien"
    ).split(),
    "fr": (
        "le de un etre et il avoir ne je son que se qui ce dans en du elle "
        "au pour pas vous par sur faire plus dire me on mon lui nous comme "
        "mais avec tout y aller voir bien ou sans tu pouvoir ces leur si deux"
    ).split(),
}


def _h32(s: str) -> int:
    """32-bit md5-prefix hash — the repo-standard deterministic hash, equal
    to Spark ``conv(substring(md5(x),1,8),16,10)`` and DuckDB
    ``CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)


def _grams(text: str, sizes=LANGID_GRAM_SIZES):
    t = text.lower()
    for n in sizes:
        for i in range(len(t) - n + 1):
            yield t[i : i + n]


def synth_labeled_corpus(
    n_per_lang: int = 200,
    words_per_doc: int = 30,
    seed: str = "langid-train-v1",
    contamination: float = 0.0,
):
    """Deterministic labeled corpus: doc j of language L draws word k from
    L's vocabulary by md5(seed:L:j:k). With ``contamination`` > 0, that
    fraction of word slots is swapped (again md5-decided) for a word from a
    different language — used by the held-out accuracy eval."""
    langs = tuple(LANGID_VOCAB)
    out = []
    for lang in langs:
        vocab = LANGID_VOCAB[lang]
        for j in range(n_per_lang):
            words = []
            for k in range(words_per_doc):
                key = f"{seed}:{lang}:{j}:{k}"
                h = _h32(key)
                if contamination > 0.0 and (h % 1_000_000) < contamination * 1_000_000:
                    other = langs[(langs.index(lang) + 1 + _h32(key + ":o") % (len(langs) - 1)) % len(langs)]
                    words.append(LANGID_VOCAB[other][_h32(key + ":w") % len(LANGID_VOCAB[other])])
                else:
                    words.append(vocab[_h32(key + ":w") % len(vocab)])
            out.append((lang, " ".join(words)))
    return out


@lru_cache(maxsize=4)
def langid_train(
    n_buckets: int = LANGID_BUCKETS,
    n_per_lang: int = 200,
    words_per_doc: int = 30,
    seed: str = "langid-train-v1",
):
    """Closed-form multinomial-NB training (langid.py design) over the
    deterministic corpus. Returns ``[(bucket, w_de, w_en, w_es, w_fr), ...]``
    for every bucket 0..B-1, weights as nano-unit BIGINT log-probs
    ``round(1e9 · ln((c+1)/(T+B)))`` (add-one smoothed). Equal docs per
    language ⇒ the class prior is uniform and drops out of the argmax."""
    counts = {lang: [0] * n_buckets for lang in LANGID_LANGS}
    for lang, text in synth_labeled_corpus(n_per_lang, words_per_doc, seed):
        for g in _grams(text):
            counts[lang][_h32(g) % n_buckets] += 1
    totals = {lang: sum(c) for lang, c in counts.items()}
    rows = []
    for b in range(n_buckets):
        w = tuple(
            int(round(1e9 * math.log((counts[lang][b] + 1) / (totals[lang] + n_buckets))))
            for lang in LANGID_LANGS
        )
        rows.append((b, *w))
    return rows


def _gram_array(text: Column, n: int) -> Column:
    t = F.lower(text)
    seq = F.sequence(F.lit(1), F.length(t) - n + 1)
    return F.when(
        F.length(t) >= n, F.transform(seq, lambda i: t.substr(i, F.lit(n)))
    ).otherwise(F.array().cast("array<string>"))


def bucket_col(gram: Column, n_buckets: int) -> Column:
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long") % n_buckets


def langid_score(
    docs: DataFrame,
    weight_rows=None,
    n_buckets: int = LANGID_BUCKETS,
    text_col: str = "text",
) -> DataFrame:
    """Score + argmax-classify every document against the NB weight table.

    One projection (gram build, ``explode_outer`` so gram-less documents —
    empty/NULL text shorter than the smallest n — keep a NULL-gram row and
    classify as 'und'), one broadcast LEFT join (B-row model — broadcast is
    always safe because B is a fixed hash-bucket count), and ONE
    partial+final aggregate keyed by doc_id: the exchange carries at most
    one row per document, and there is no spine re-join (a doc_id⋈doc_id
    SMJ the explode_outer form avoids entirely).
    """
    if weight_rows is None:
        weight_rows = langid_train(n_buckets)
    spark = docs.sparkSession
    wcols = [f"w_{l}" for l in LANGID_LANGS]
    weights = local_df(
        spark, weight_rows, f"bucket long, {', '.join(c + ' long' for c in wcols)}"
    )
    t = F.coalesce(F.col(text_col), F.lit(""))
    grams = docs.select(
        "doc_id",
        F.explode_outer(
            F.concat(*[_gram_array(t, n) for n in LANGID_GRAM_SIZES])
        ).alias("g"),
    ).select("doc_id", bucket_col(F.col("g"), n_buckets).alias("bucket"))
    sums = (
        grams.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count("bucket").alias("n_grams"),
            *[F.sum(c).alias(f"s_{l}") for c, l in zip(wcols, LANGID_LANGS)],
        )
    )
    s = {l: F.coalesce(F.col(f"s_{l}"), F.lit(0)) for l in LANGID_LANGS}
    pred = F.when(F.coalesce(F.col("n_grams"), F.lit(0)) == 0, F.lit("und"))
    remaining = list(LANGID_LANGS)
    while len(remaining) > 1:
        l0 = remaining[0]
        cond = None
        for other in remaining[1:]:
            c = s[l0] >= s[other]
            cond = c if cond is None else (cond & c)
        pred = pred.when(cond, F.lit(l0))
        remaining = remaining[1:]
    pred = pred.otherwise(F.lit(remaining[0]))
    return sums.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        *[F.round(s[l] / 1e9, 6).alias(f"score_{l}") for l in LANGID_LANGS],
        pred.alias("lang_pred"),
    )


def langid_oracle_sql(
    table: str = "documents",
    n_buckets: int = LANGID_BUCKETS,
    text_expr: str = "text",
) -> str:
    """DuckDB SQL recomputing :func:`langid_score` exactly — the weight
    table is inlined as VALUES (nano BIGINTs), the gram/bucket pipeline uses
    the verified-parity md5-prefix hash, and all sums are integer sums."""
    rows = langid_train(n_buckets)
    values = ",\n    ".join(f"({b}, {wd}, {we}, {ws}, {wf})" for b, wd, we, ws, wf in rows)
    gram_selects = []
    for n in LANGID_GRAM_SIZES:
        gram_selects.append(
            f"SELECT doc_id, substr(t, CAST(i AS INT), {n}) AS g\n"
            f"    FROM d, unnest(range(1, greatest(length(t) - {n} + 1, 0) + 1)) u(i)"
        )
    grams = "\n    UNION ALL\n    ".join(gram_selects)
    sum_cols = ", ".join(f"SUM(w_{l}) AS s_{l}" for l in LANGID_LANGS)
    coal = {l: f"COALESCE(s_{l}, 0)" for l in LANGID_LANGS}
    score_cols = ", ".join(
        f"ROUND({coal[l]} / 1e9, 6) AS score_{l}" for l in LANGID_LANGS
    )
    pred_cases = []
    remaining = list(LANGID_LANGS)
    while len(remaining) > 1:
        l0 = remaining[0]
        cond = " AND ".join(f"{coal[l0]} >= {coal[o]}" for o in remaining[1:])
        pred_cases.append(f"WHEN {cond} THEN '{l0}'")
        remaining = remaining[1:]
    pred = (
        "CASE WHEN COALESCE(n_grams, 0) = 0 THEN 'und' "
        + " ".join(pred_cases)
        + f" ELSE '{remaining[0]}' END"
    )
    return f"""WITH w(bucket, {', '.join('w_' + l for l in LANGID_LANGS)}) AS (VALUES
    {values}),
d AS (SELECT doc_id, lower(COALESCE({text_expr}, '')) AS t FROM {table}),
g AS (
    {grams}
),
b AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {n_buckets} AS bucket
      FROM g),
s AS (SELECT doc_id, COUNT(*) AS n_grams, {sum_cols}
      FROM b JOIN w USING (bucket) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       {score_cols},
       {pred} AS lang_pred
FROM d LEFT JOIN s ON d.doc_id = s.doc_id"""
