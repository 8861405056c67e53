"""ANN recall at REALISTIC parameters — the measured evidence behind the
sizing guidance in `functions/ann.py` (VERDICT r02 #8).

Corpus: a deterministic CLUSTERED synthetic embedding table (the shape real
text/image embeddings have; the sandbox parquet embeddings are near-uniform,
which is the documented IVF worst case). n_vec vectors in dim 64 drawn
around n_clusters centers with small noise, all from a seeded NumPy
generator so reruns reproduce the table bit-for-bit.

Measured: recall@10 vs brute cosine for
  - sign-LSH at n_planes=16 with multiprobe 0 / 1 / 2 (hamming-ball probing)
  - IVF at K=32 lists (3 Lloyd rounds) with nprobe 1 / 2 / 4 / 8
plus the mean candidate fraction scanned (the selectivity the recall is
bought at). Results are pasted into COVERAGE.md's ANN table.

Run: python tools/ann_recall.py   (~2-3 min on local[32])
"""

from __future__ import annotations

import os
import sys

# the checkout in place of tools/: tools/profile.py would shadow the standard
# library's profile module, which pyspark imports (via cProfile)
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Python workers (UDFs) import this checkout's package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [sys.path[0], os.environ.get("PYTHONPATH")]))

import numpy as np
from pyspark.sql import functions as F

from rasters_jl_spark.functions.ann import brute_topk, ivf_topk, lsh_bucket_col, lsh_topk
from rasters_jl_spark.session import get_spark

N_VEC = 50_000
DIM = 64
N_CLUSTERS = 64
N_QUERIES = 50
K = 10
SEED = 42


def clustered_corpus(spark):
    rng = np.random.default_rng(SEED)
    centers = rng.normal(0.0, 1.0, size=(N_CLUSTERS, DIM))
    assign = rng.integers(0, N_CLUSTERS, size=N_VEC)
    vecs = centers[assign] + rng.normal(0.0, 0.25, size=(N_VEC, DIM))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(N_VEC)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").repartition(32)


def recall_at_k(got_df, want: dict[int, set]) -> float:
    got: dict[int, set] = {}
    for r in got_df.collect():
        got.setdefault(r["q_id"], set()).add(r["cand_id"])
    return float(np.mean([len(got.get(q, set()) & w) / len(w) for q, w in want.items()]))


SECTIONS = {"lsh", "ivf", "pq", "ivfpq", "opq", "opqivf"}


def main():
    # optional section filter: any of {lsh, ivf, pq, ivfpq} — default all
    only = set(sys.argv[1:]) or SECTIONS
    unknown = only - SECTIONS
    if unknown:
        raise SystemExit(f"unknown section(s) {sorted(unknown)}; valid: {sorted(SECTIONS)}")
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    emb = clustered_corpus(spark).cache()
    emb.count()
    qids = list(range(0, N_QUERIES))

    # brute cosine ground truth: only the lsh/ivf rows consume it — the
    # dominant fixed cost, skipped when filtering to the PQ sections
    want: dict[int, set] = {}
    if only & {"lsh", "ivf"}:
        for r in brute_topk(emb, qids, k=K).collect():
            want.setdefault(r["q_id"], set()).add(r["cand_id"])

    print(f"corpus: {N_VEC} vecs, dim {DIM}, {N_CLUSTERS} true clusters, "
          f"{N_QUERIES} queries, recall@{K} vs brute")
    print("| index | params | recall@10 | mean candidate fraction |")
    print("|---|---|---|---|")

    n_planes = 16
    if "lsh" in only:
        _lsh_rows(emb, qids, want, n_planes)
    if "ivf" in only:
        for nprobe in (1, 2, 4, 8):
            res = ivf_topk(emb, qids, k=K, nprobe=nprobe, k_lists=32, iters=3)
            rec = recall_at_k(res, want)
            print(f"| IVF | K=32, iters=3, nprobe={nprobe} | {rec:.3f} | {nprobe / 32:.4f} |")

    if not (only & {"pq", "ivfpq", "opq", "opqivf"}):
        return

    # PQ/ADC vs a brute L2 ground truth (PQ approximates L2, not cosine);
    # the full-corpus collect feeds only these sections
    from rasters_jl_spark.functions.ann import ivfpq_topk, pq_topk

    rows = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    mat = np.stack([rows[i] for i in sorted(rows)])
    want_l2: dict[int, set] = {}
    for q in qids:
        d = ((mat - mat[q]) ** 2).sum(axis=1)
        d[q] = np.inf
        want_l2[q] = set(np.argsort(d, kind="stable")[:K].tolist())
    if "pq" in only:
        for kc in (4, 64):
            rec = recall_at_k(pq_topk(emb, qids, k=K, k_codes=kc, iters=3), want_l2)
            print(f"| flat PQ/ADC | M=8, K'={kc}, iters=3 | {rec:.3f} | codes only — same-cluster members share codes, so WITHIN-cluster ranking ties (why IVFADC exists) |")
    if "ivfpq" in only:
        for nprobe in (1, 2):
            rec = recall_at_k(
                ivfpq_topk(emb, qids, k=K, k_lists=64, nprobe=nprobe, k_codes=16, iters=3),
                want_l2,
            )
            print(f"| IVF-PQ (residual ADC) | K=64 lists, nprobe={nprobe}, M=8, K'=16 | {rec:.3f} | codes only within probed lists |")

        # IVFADC-R: ADC shortlist + exact re-rank of R floats per query
        for nprobe, rr in ((1, 100), (2, 100), (2, 400), (4, 1000)):
            rec = recall_at_k(
                ivfpq_topk(emb, qids, k=K, k_lists=64, nprobe=nprobe, k_codes=16, iters=3, rerank=rr),
                want_l2,
            )
            print(f"| IVF-PQ + rerank | K=64, nprobe={nprobe}, M=8, K'=16, R={rr} | {rec:.3f} | {rr}/{len(rows)} floats read per query |")

    if "opq" in only:
        _opq_rows(spark, mat, qids)
    if "opqivf" in only:
        _opq_ivfpq_rows(spark, mat, qids)


def _opq_ivfpq_rows(spark, mat, qids):
    """OPQ composed with IVFADC (Ge et al. 2013 §5): the rotation is
    learned on the engine's OWN coarse residuals (ivf_residuals sample →
    opq_train_rotation) and applied inside ivfpq_topk via rotation_rows —
    this exercises the full engine path (rotated index residuals, rotated
    query residuals, ADC, optional exact re-rank), unlike _opq_rows'
    driver-side flat-PQ comparison. Measured on the clustered corpus and
    the anisotropic decaying-spectrum variant."""
    from rasters_jl_spark.functions.ann import (
        ivf_residuals,
        ivfpq_topk,
        opq_train_rotation,
        trained_centroids,
    )

    def df_of(m):
        rws = [(int(i), [float(x) for x in m[i]]) for i in range(len(m))]
        return spark.createDataFrame(rws, "vec_id long, embedding array<double>").repartition(32)

    for label, base in (
        ("clustered", mat),
        ("anisotropic", mat * (2.0 ** (-np.arange(DIM) / 8.0))),
    ):
        df = df_of(base).cache()
        df.count()
        want_l2: dict[int, set] = {}
        for q in qids:
            d = ((base - base[q]) ** 2).sum(axis=1)
            d[q] = np.inf
            want_l2[q] = set(np.argsort(d, kind="stable")[:K].tolist())
        # coarse centroids trained ONCE per corpus and passed into every
        # call — the "train once, persist, pass it in" production contract
        cent = trained_centroids(df, "vec_id", "embedding", k_lists=64).cache()
        cent.count()
        res_sample = np.array(
            [r["residual"] for r in ivf_residuals(df, cent).limit(5000).collect()]
        )
        R_rows, hist = opq_train_rotation(
            res_sample, n_sub=8, k_codes=16, opq_iters=6, lloyd_iters=3
        )
        for name, rot in (("IVF-PQ (identity)", None), ("OPQ-IVFADC (learned on residuals)", R_rows)):
            rec = recall_at_k(
                ivfpq_topk(df, qids, k=K, k_lists=64, nprobe=2, k_codes=16, iters=3, rotation_rows=rot, centroids=cent),
                want_l2,
            )
            print(f"| {name} [{label}] | K=64, nprobe=2, M=8, K'=16, ADC only | {rec:.3f} | codes only within probed lists |")
        rec = recall_at_k(
            ivfpq_topk(df, qids, k=K, k_lists=64, nprobe=2, k_codes=16, iters=3, rerank=100, rotation_rows=R_rows, centroids=cent),
            want_l2,
        )
        print(f"| OPQ-IVFADC + rerank [{label}] | K=64, nprobe=2, M=8, K'=16, R=100 | {rec:.3f} | 100/{len(base)} floats read per query |")
        print(f"|   (OPQ-on-residuals train MSE {label}: {hist[0]:.4f} -> {hist[-1]:.4f} over {len(hist)} alternations) ||||")
        df.unpersist()


def _opq_rows(spark, mat, qids):
    """OPQ vs plain PQ at equal M/K' (Ge et al. 2013): on the isotropic
    clustered corpus AND on an anisotropic variant (per-dim exponential
    energy decay — the decaying spectrum real embeddings have, where
    axis-aligned subspaces concentrate all energy in the first subspace).
    Rotations applied driver-side in NumPy here (recall measurement, not
    plan validation — the engine path is rotate_embeddings/opq_topk,
    oracled by ann_opq_topk); PQ train/encode/search run through the
    engine on the rotated table."""
    from rasters_jl_spark.functions.ann import hd_rotation_rows, opq_train_rotation, pq_topk

    def df_of(m):
        rws = [(int(i), [float(x) for x in m[i]]) for i in range(len(m))]
        return spark.createDataFrame(rws, "vec_id long, embedding array<double>").repartition(32)

    H = np.array(hd_rotation_rows(DIM))
    for label, base in (
        ("clustered", mat),
        ("anisotropic", mat * (2.0 ** (-np.arange(DIM) / 8.0))),
    ):
        want_l2: dict[int, set] = {}
        for q in qids:
            d = ((base - base[q]) ** 2).sum(axis=1)
            d[q] = np.inf
            want_l2[q] = set(np.argsort(d, kind="stable")[:K].tolist())
        R_rows, hist = opq_train_rotation(base[:5000], n_sub=8, k_codes=16, opq_iters=6, lloyd_iters=3)
        R = np.array(R_rows)
        for name, m in (
            ("PQ (identity)", base),
            ("PQ + HD rotation", base @ H.T),
            ("OPQ (learned)", base @ R.T),
        ):
            rec = recall_at_k(pq_topk(df_of(m), qids, k=K, k_codes=16, iters=3), want_l2)
            print(f"| {name} [{label}] | M=8, K'=16, iters=3 | {rec:.3f} | codes only |")
        print(f"|   (OPQ train MSE {label}: {hist[0]:.4f} -> {hist[-1]:.4f} over {len(hist)} alternations) ||||")


def _lsh_rows(emb, qids, want, n_planes):
    bucket_sizes = (
        emb.select(lsh_bucket_col(F.col("embedding"), n_planes=n_planes).alias("b"))
        .groupBy("b").count().agg(F.avg("count")).first()[0]
    )
    for mp in (0, 1, 2):
        res = lsh_topk(emb, qids, k=K, n_planes=n_planes, multiprobe=mp)
        rec = recall_at_k(res, want)
        n_probes = 1 + (n_planes if mp >= 1 else 0) + (n_planes * (n_planes - 1) // 2 if mp >= 2 else 0)
        frac = n_probes * bucket_sizes / N_VEC
        print(f"| LSH | n_planes={n_planes}, multiprobe={mp} | {rec:.3f} | {frac:.4f} |")


if __name__ == "__main__":
    main()
