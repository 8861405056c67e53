"""Held-out accuracy for the hashed char-n-gram NB language identifier.

Scores deterministic held-out corpora (unseen md5-seeded word draws from
the same per-language vocabularies, plus contaminated variants where a
fraction of word slots are swapped for another language's words) through
the REAL Spark scoring path and reports per-language accuracy + a
confusion summary. Results are recorded in COVERAGE.md.

Run: python tools/langid_eval.py
"""

from __future__ import annotations

import os
import sys

# the checkout in place of tools/: tools/profile.py would shadow the standard
# library's profile module, which pyspark imports (via cProfile)
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Python workers (UDFs) import this checkout's package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [sys.path[0], os.environ.get("PYTHONPATH")]))

from pyspark.sql import SparkSession

from rasters_jl_spark.functions import langid


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for contamination in (0.0, 0.2, 0.4):
        corpus = langid.synth_labeled_corpus(
            n_per_lang=150, words_per_doc=30,
            seed="langid-heldout-v1", contamination=contamination,
        )
        rows = [(i, lang, text) for i, (lang, text) in enumerate(corpus)]
        docs = spark.createDataFrame(rows, "doc_id long, truth string, text string")
        scored = langid.langid_score(docs).join(
            docs.select("doc_id", "truth"), "doc_id"
        )
        pdf = scored.toPandas()
        acc = (pdf.lang_pred == pdf.truth).mean()
        pdf["hit"] = pdf.lang_pred == pdf.truth
        per_lang = pdf.groupby("truth")["hit"].mean()
        wrong = pdf[pdf.lang_pred != pdf.truth]
        conf = wrong.groupby(["truth", "lang_pred"]).size().sort_values(ascending=False)
        print(f"contamination={contamination:.1f}  overall acc={acc:.4f}")
        for lang, a in per_lang.items():
            print(f"  {lang}: {a:.4f}")
        if len(conf):
            print("  top confusions:", dict(conf.head(5)))
    spark.stop()


if __name__ == "__main__":
    main()
