"""Dedup / text-stats / ANN invariants."""

import pytest
from pyspark.sql import functions as F

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.functions import ann, dedup, textstats


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


def test_all_texts_have_3plus_tokens(docs):
    """Shingle/minhash SQL assumes ≥3 tokens per doc (queries_text.py)."""
    mn = docs.select(F.min(F.size(F.split("text", " "))).alias("m")).collect()[0]["m"]
    assert mn >= 3


def test_minhash_finds_planted_neardups(spark, docs):
    base = docs.select("doc_id", "text")
    dups = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    aug = base.unionByName(dups)
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in dedup.minhash_dedup_pairs(aug, threshold=0.5).collect()
    }
    planted = {(i, i + 50000) for i in range(0, 500, 10)}
    found = planted & pairs
    # LSH with 4 bands of 1 hash finds near-identical docs with overwhelming
    # probability; require at least 90% recall on the planted pairs
    assert len(found) >= 0.9 * len(planted)


def test_exact_dedup(spark, docs):
    base = docs.select("doc_id", "text")
    dups = base.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 90000).alias("doc_id"), "text"
    )
    aug = base.unionByName(dups)
    groups = dedup.exact_dedup_groups(aug, F.md5(F.col("text"))).collect()
    n_planted = base.where(F.col("doc_id") % 25 == 0).count()
    assert sum(r["n_dups"] - 1 for r in groups) >= n_planted
    for r in groups:
        assert r["keeper"] < 90000 or r["n_dups"] >= 2


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df).collect()}
    ham12 = bin(h[1] ^ h[2]).count("1")
    ham13 = bin(h[1] ^ h[3]).count("1")
    assert ham12 < ham13


def test_quality_and_tokens(docs):
    q = textstats.quality_score(docs).collect()
    for r in q[:50]:
        assert 0.0 <= r["quality"] <= 1.0
        assert r["n_tokens"] > 0
    t = textstats.token_count(docs).collect()[0]
    assert t["bpe_est"] >= 1


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id long, text string",
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(df).collect()}
    assert fp[1] == fp[2] != fp[3]


def test_ann_brute_self_similarity(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = ann.brute_topk(emb, [0], k=3).collect()
    assert len(out) == 3
    sims = [r["cosine"] for r in out]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_ann_lsh_candidates_subset_of_brute(spark, sf_dir):
    """LSH top-k cosines can never beat brute-force top-k cosines."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    brute = {r["rank"]: r["cosine"] for r in ann.brute_topk(emb, [0], k=1).collect()}
    lsh = ann.lsh_topk(emb, [0], k=1).collect()
    if lsh:
        assert lsh[0]["cosine"] <= brute[1] + 1e-9


def test_connected_components_chain(spark):
    """Hash-to-min label propagation: a 4-chain collapses to one component
    across >1 iteration (diameter 3); disjoint pair stays separate."""
    from rasters_jl_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_contain_planted_neardups(spark, sf_dir):
    """Every planted near-dup (doc_id, doc_id+DUP_OFFSET) lands in the same
    component, and the component id is the min member (the keeper)."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.queries_text import q_dedup_components

    comp = {r["node"]: r["component"] for r in q_dedup_components(spark, sf_dir).collect()}
    planted = [d for d in comp if d + FX.DUP_OFFSET in comp]
    assert planted, "no planted pairs found"
    for d in planted:
        assert comp[d] == comp[d + FX.DUP_OFFSET]
    assert all(c <= n for n, c in comp.items())


def test_simhash_pairs_find_planted_neardups(spark, sf_dir):
    """Pigeonhole blocking (4×4-bit bands) + hamming ≤ 3 verify recovers
    the planted near-dups; every emitted pair respects the threshold."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.queries_text import q_simhash_pairs

    rows = q_simhash_pairs(spark, sf_dir).collect()
    assert all(0 <= r["hamming"] <= 3 for r in rows)
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = [
        int(r["doc_id"])
        for r in docs.where(f"doc_id % {FX.DUP_EVERY} = 0").collect()
    ]
    found = sum((d, d + FX.DUP_OFFSET) in got for d in planted)
    assert found >= 0.9 * len(planted), (found, len(planted))


def test_simhash_wide_precision_and_recall(spark, sf_dir):
    """60-bit SimHash: every emitted pair respects hamming ≤ 3, planted
    near-dups are found where the suffix perturbs ≤ 3 of 60 bits (short
    sf0.001 docs put ~half beyond that — the intrinsic simhash
    threshold/recall dial, not an implementation defect: the oracle
    verifies the fingerprints bit-for-bit), and the pair count is >10×
    smaller than the 16-bit baseline (width buys precision)."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.queries_text import q_simhash_pairs, q_simhash_wide_pairs

    wide = q_simhash_wide_pairs(spark, sf_dir).collect()
    assert all(0 <= r["hamming"] <= 3 for r in wide)
    got = {(r["doc_a"], r["doc_b"]) for r in wide}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    planted = [
        int(r["doc_id"]) for r in docs.where(f"doc_id % {FX.DUP_EVERY} = 0").collect()
    ]
    found = sum((d, d + FX.DUP_OFFSET) in got for d in planted)
    assert found >= 0.4 * len(planted), (found, len(planted))
    n16 = q_simhash_pairs(spark, sf_dir).count()
    assert len(wide) < n16 / 10  # width buys precision


def test_ivf_topk_consistent_with_brute(spark, sf_dir):
    """IVF results carry the exact brute-force cosine for each returned
    pair (same kernel, restricted candidate set) and ranks are contiguous
    per query."""
    from rasters_jl_spark import fixtures as FX
    from rasters_jl_spark.functions import ann

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ivf = ann.ivf_topk(emb, FX.ANN_QUERY_IDS, k=3).collect()
    brute = {
        (r["q_id"], r["cand_id"]): round(r["cosine"], 6)
        for r in ann.brute_topk(emb, FX.ANN_QUERY_IDS, k=len(FX.ANN_QUERY_IDS) and 500).collect()
    }
    by_q = {}
    for r in ivf:
        by_q.setdefault(r["q_id"], []).append(r["rank"])
        assert brute[(r["q_id"], r["cand_id"])] == round(r["cosine"], 6)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_lsh_multiprobe2_probes_full_hamming_ball(spark, sf_dir):
    """multiprobe=2 must probe the hamming<=2 ball (not just single-bit
    flips): its candidate pool is a superset of multiprobe=1's, so each
    returned rank's cosine is pointwise >= the multiprobe=1 result."""
    from rasters_jl_spark.functions.ann import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = [r["vec_id"] for r in emb.select("vec_id").orderBy("vec_id").limit(5).collect()]
    r1 = {(r["q_id"], r["rank"]): r["cosine"]
          for r in lsh_topk(emb, qids, k=3, multiprobe=1).collect()}
    r2 = {(r["q_id"], r["rank"]): r["cosine"]
          for r in lsh_topk(emb, qids, k=3, multiprobe=2).collect()}
    assert set(r1) <= set(r2)  # superset of candidates -> at least as many ranks
    for key, c1 in r1.items():
        assert r2[key] >= c1 - 1e-9


def test_boilerplate_strip_recall(spark, sf_dir):
    """Planted-banner recall: stripping detected boilerplate from a marked
    doc recovers EXACTLY the original text (the banner's 6 tokens go, no
    original token is touched); unmarked docs pass through byte-identical."""
    from rasters_jl_spark.queries_text import (
        BOILER_EVERY,
        q_boilerplate_strip,
        read_documents,
    )

    docs = read_documents(spark, sf_dir).select("doc_id", "text")
    orig = {
        r["doc_id"]: (r["md5"], r["n"]) for r in docs.select(
            "doc_id", F.md5("text").alias("md5"), F.size(F.split("text", " ")).alias("n")
        ).collect()
    }
    got = {r["doc_id"]: r for r in q_boilerplate_strip(spark, sf_dir).collect()}
    assert set(got) == set(orig)
    for d, r in got.items():
        want_md5, want_n = orig[d]
        assert r["clean_md5"] == want_md5, d           # banner fully removed / untouched
        assert r["n_kept"] == want_n, d
        if d % BOILER_EVERY == 0:
            assert r["n_tokens"] == want_n + 6, d      # 6 banner tokens were present
        else:
            assert r["n_tokens"] == want_n, d


def test_pq_adc_matches_numpy(spark, sf_dir):
    """PQ encode + ADC: for sampled (query, candidate) pairs the engine's
    approximate distance equals a NumPy recomputation through the same
    codebook, and every vector gets exactly PQ_M codes in [0, PQ_K)."""
    import numpy as np

    from rasters_jl_spark.functions.ann import (
        PQ_K,
        PQ_M,
        PQ_SUB,
        pq_codebook,
        pq_encode,
        pq_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    cb = pq_codebook(emb)
    cbn = {}
    for r in cb.collect():
        cbn.setdefault((r["m"], r["code"]), np.zeros(PQ_SUB))[r["pos"]] = r["w"]
    codes = {}
    for r in pq_encode(emb, cb).collect():
        assert 0 <= r["code"] < PQ_K
        codes.setdefault(r["vec_id"], {})[r["m"]] = r["code"]
    assert all(len(c) == PQ_M for c in codes.values())
    # every vector's code is the true argmin of its subvector (ties -> min)
    for vid in list(vecs)[:20]:
        for m in range(PQ_M):
            sub = vecs[vid][m * PQ_SUB : (m + 1) * PQ_SUB]
            ds = [round(float(((sub - cbn[(m, c)]) ** 2).sum()), 6) for c in range(PQ_K)]
            assert codes[vid][m] == min(range(PQ_K), key=lambda c: (ds[c], c))
    got = {(r["q_id"], r["cand_id"]): r["adist"]
           for r in pq_topk(emb, [0, 1, 2], k=3).collect()}
    for (q, cand), adist in got.items():
        want = 0
        for m in range(PQ_M):
            sub = vecs[q][m * PQ_SUB : (m + 1) * PQ_SUB]
            qd = round(float(((sub - cbn[(m, codes[cand][m])]) ** 2).sum()), 6)
            want += round(qd * 1e6)
        assert abs(adist - want / 1e6) < 1e-9, (q, cand)


def test_ivfpq_residual_index_and_search(spark, sf_dir):
    """IVF-PQ: every candidate returned is in one of the query's nprobe
    probed lists, ranks are dense 1..k, and the approximate distance
    equals a NumPy recomputation through the engine's own residual
    codebook and codes (index-consistency — the ADC sum is exactly the
    sum of 6-dp table entries in integer micro-units)."""
    import numpy as np

    from rasters_jl_spark.functions.ann import (
        PQ_M,
        PQ_SUB,
        _pq_train,
        _residual_subs,
        cosine_col,
        ivfpq_topk,
        trained_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    cent = trained_centroids(emb).cache()
    cents = {r["cid"]: np.array(r["_cw"], dtype=np.float64) for r in cent.collect()}
    rsubs = _residual_subs(emb, cent, "vec_id", "embedding").cache()
    asg = {r["vec_id"]: r["cid"] for r in rsubs.select("vec_id", "cid").distinct().collect()}
    # residual really is v - centroid(assigned cid)
    for vid in list(vecs)[:5]:
        got = {(r["m"], r["pos"]): r["val"] for r in rsubs.where(F.col("vec_id") == vid).collect()}
        want = vecs[vid] - cents[asg[vid]]
        for p in range(len(want)):
            assert got[(p // PQ_SUB, p % PQ_SUB)] == pytest.approx(want[p], abs=0), (vid, p)
    cb = _pq_train(rsubs, 4, 2)
    cbn = {}
    for r in cb.collect():
        cbn.setdefault((r["m"], r["code"]), np.zeros(PQ_SUB))[r["pos"]] = r["w"]
    qids = FX.ANN_QUERY_IDS
    res = ivfpq_topk(emb, qids, k=3).collect()
    # probed lists per query (same tie order as the engine)
    probed = {}
    for q in qids:
        sims = sorted(
            ((float(np.dot(vecs[q], c) / (np.linalg.norm(vecs[q]) * np.linalg.norm(c))), cid)
             for cid, c in cents.items()),
            key=lambda t: (-t[0], t[1]),
        )
        probed[q] = {cid for _s, cid in sims[:2]}
    by_q = {}
    for r in res:
        by_q.setdefault(r["q_id"], []).append(r)
        assert asg[r["cand_id"]] in probed[r["q_id"]], (r["q_id"], r["cand_id"])
    for q, rows in by_q.items():
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))
        # recompute ADC distance: residual of q vs probed centroid of the
        # CANDIDATE's list, against the candidate's codes
        for r in rows:
            cid = asg[r["cand_id"]]
            qres = vecs[q] - cents[cid]
            cres = vecs[r["cand_id"]] - cents[cid]
            want = 0
            for m in range(PQ_M):
                sub = cres[m * PQ_SUB : (m + 1) * PQ_SUB]
                code = min(
                    cbn, key=lambda k_: (
                        float("inf") if k_[0] != m
                        else round(float(((sub - cbn[k_]) ** 2).sum()), 6),
                        k_[1],
                    ),
                )
                qd = round(float(((qres[m * PQ_SUB : (m + 1) * PQ_SUB] - cbn[code]) ** 2).sum()), 6)
                want += round(qd * 1e6)
            assert abs(r["adist"] - want / 1e6) < 1e-9, (q, r["cand_id"])


def test_decontaminate_finds_planted_overlap(spark, docs):
    """Every eval-window source doc AND its near-dup copy (suffix appended
    at the end, so the leading-window grams survive) must be flagged; docs
    sharing no 8-gram with the eval set must not be."""
    base = docs.select("doc_id", "text")
    dups = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    aug = base.unionByName(dups)
    ev = base.where(F.col("doc_id") % 50 == 0).select(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 2, 16)).alias("text")
    )
    got = {r["doc_id"]: r["n_hit_grams"] for r in dedup.decontaminate(aug, ev).collect()}
    planted = {i for i in range(0, 500, 50)} | {i + 50000 for i in range(0, 500, 50)}
    assert planted <= set(got), planted - set(got)
    # a source doc with >= 16+1 tokens contains its full 16-token window:
    # 9 grams; shorter docs contain proportionally fewer but >= 1
    assert all(n >= 1 for n in got.values())
    # an 8-gram is 8 consecutive tokens from a ~40-word vocab: incidental
    # hits are possible but must stay rare (planted dominate)
    assert len(set(got) - planted) <= 0.1 * len(planted) + 2


def test_ivfpq_rerank_is_exact_within_probed_lists(spark, sf_dir):
    """With a shortlist spanning the whole probed region, IVFADC-R equals
    brute-force L2 restricted to the probed lists (the ADC pass orders the
    shortlist, the exact pass fixes the ranking)."""
    import numpy as np

    from rasters_jl_spark.functions.ann import ivfpq_topk, trained_centroids, _residual_subs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    cent = trained_centroids(emb).cache()
    cents = {r["cid"]: np.array(r["_cw"], dtype=np.float64) for r in cent.collect()}
    asg = {
        r["vec_id"]: r["cid"]
        for r in _residual_subs(emb, cent, "vec_id", "embedding")
        .select("vec_id", "cid").distinct().collect()
    }
    qids = [0, 1, 2]
    res = ivfpq_topk(emb, qids, k=3, rerank=len(vecs)).collect()
    for q in qids:
        sims = sorted(
            ((float(np.dot(vecs[q], c) / (np.linalg.norm(vecs[q]) * np.linalg.norm(c))), cid)
             for cid, c in cents.items()),
            key=lambda t: (-t[0], t[1]),
        )
        probed = {cid for _s, cid in sims[:2]}
        cands = [v for v in vecs if v != q and asg[v] in probed]
        exact = sorted(
            cands, key=lambda v: (round(float(((vecs[q] - vecs[v]) ** 2).sum()), 6), v)
        )[:3]
        got = [r["cand_id"] for r in sorted((r for r in res if r["q_id"] == q), key=lambda r: r["rank"])]
        assert got == exact, (q, got, exact)


def test_opq_ivfpq_rotation_preserves_rerank_exactness(spark, sf_dir):
    """OPQ-IVFADC plumbing invariant: rotating index AND query residuals
    by the same orthogonal R must not change what the exact re-rank stage
    returns — the coarse quantizer (probed lists) is unrotated, the
    full-shortlist rerank reads original floats, so rotated and unrotated
    runs at identical params agree row-for-row. A key mismatch between
    the rotated index side and the rotated query side (the bug class this
    guards) would drop candidates and break the equality."""
    import numpy as np

    from rasters_jl_spark.functions.ann import hd_rotation_rows, ivf_residuals, ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    qids = [0, 1, 2]
    base = ivfpq_topk(emb, qids, k=3, rerank=n).collect()
    rot = ivfpq_topk(emb, qids, k=3, rerank=n, rotation_rows=hd_rotation_rows()).collect()
    assert sorted(((r["q_id"], r["rank"], r["cand_id"], r["dist"]) for r in rot)) == sorted(
        ((r["q_id"], r["rank"], r["cand_id"], r["dist"]) for r in base)
    )
    # ivf_residuals: residual == v − centroid(cid), dim preserved
    row = ivf_residuals(emb).first()
    assert len(row["residual"]) == 64


def test_split_by_hash_stable_under_resharding(spark, docs):
    """The split is a pure function of the id: repartitioning, subsetting,
    or re-ordering the table cannot move a doc between splits, and the
    per-mille thresholds bound the split sizes."""
    from rasters_jl_spark.operators.sample import split_by_hash

    base = docs.select("doc_id")
    a = {r["doc_id"]: r["split"] for r in split_by_hash(base).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in split_by_hash(base.repartition(7).orderBy(F.col("doc_id").desc())).collect()
    }
    assert a == b
    sub = {r["doc_id"]: r["split"] for r in split_by_hash(base.where(F.col("doc_id") % 3 == 0)).collect()}
    assert all(a[d] == s for d, s in sub.items())
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]


def test_canonical_dedup_catches_case_punct_variants(spark, docs):
    """UPPERCASE+'!!' variants dedup with their sources under the
    canonical key but NOT under the raw md5 — the reason the
    normalization stage exists."""
    base = docs.select("doc_id", "text")
    variants = base.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!")).alias("text"),
    )
    aug = base.unionByName(variants)
    n_planted = variants.count()
    canon = dedup.exact_dedup_groups(aug, F.md5(dedup.canonical_text_col(F.col("text"))))
    raw = dedup.exact_dedup_groups(aug, F.md5(F.col("text")))
    assert canon.count() == n_planted
    assert raw.count() == 0


def test_duplicated_spans_find_planted_copies(spark, docs):
    """Every planted near-dup source doc (≥8 tokens) must surface one
    maximal span covering its ENTIRE text (all its windows recur in the
    copy), and each copy a span starting at token 0."""
    base = docs.select("doc_id", "text")
    dups = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz")).alias("text"),
    )
    aug = base.unionByName(dups)
    spans = {}
    for r in dedup.duplicated_spans(aug, k=8).collect():
        spans.setdefault(r["doc_id"], []).append((r["span_start"], r["span_len"]))
    n_tok = {r["doc_id"]: len(r["text"].split(" ")) for r in base.collect()}
    for d in range(0, 500, 10):
        if n_tok[d] < 8:
            continue
        assert (0, n_tok[d]) in spans.get(d, []), d          # full-doc span in the source
        assert any(s == 0 and ln >= n_tok[d] - 1 for s, ln in spans.get(d + 50000, [])), d


def test_pack_sequences_invariants(spark, docs):
    """Concat-then-chunk: chunks tile the token stream exactly (every
    chunk sums to seq_len except the last), each doc's slices tile
    [0, n_tok), and the result is INVARIANT to the number of range
    partitions (the distributed prefix sum equals the serial one)."""
    from collections import defaultdict

    from rasters_jl_spark.functions.packing import pack_sequences

    L = 128
    n_tok = {r["doc_id"]: len(r["text"].split(" ")) for r in docs.collect()}
    total = sum(n_tok.values())
    out = pack_sequences(docs, seq_len=L, n_parts=32).collect()
    by_chunk, by_doc = defaultdict(int), defaultdict(list)
    for r in out:
        by_chunk[r["chunk_id"]] += r["n_toks"]
        by_doc[r["doc_id"]].append((r["tok_start_in_doc"], r["n_toks"]))
    assert sum(by_chunk.values()) == total
    last = max(by_chunk)
    assert set(by_chunk) == set(range(last + 1))
    for c, n in by_chunk.items():
        assert n == (L if c < last else total - last * L), c
    for d, slices in by_doc.items():
        slices.sort()
        pos = 0
        for s, n in slices:
            assert s == pos
            pos += n
        assert pos == n_tok[d], d
    a = {(r["doc_id"], r["chunk_id"], r["tok_start_in_doc"], r["n_toks"])
         for r in pack_sequences(docs, seq_len=L, n_parts=1).collect()}
    assert a == {(r["doc_id"], r["chunk_id"], r["tok_start_in_doc"], r["n_toks"]) for r in out}


def test_pack_sequences_pin_counts(spark, sf_dir, counted):
    """The range-partitioned table is pinned inside the call, before the
    driver reads its partition totals: the call and its collect run a
    fixed job and stage count, so a changed plan shape fails here."""
    from rasters_jl_spark.functions.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows, jobs, stages = counted("pack-sequences", lambda: pack_sequences(docs).collect())
    assert rows
    assert (jobs, stages) == (7, 11)


def test_mixture_sample_rates_and_determinism(spark, docs):
    """Per-source keep rates: rate-1.0 sources survive whole, rate-0
    sources vanish, fractional rates land near target, and the survivor
    SET is identical under resharding (deterministic acceptance)."""
    from rasters_jl_spark.operators.sample import mixture_sample

    rates = {"src0": 1.0, "src1": 0.5, "src3": 0.0}
    kept = mixture_sample(docs, rates, default_rate=0.75)
    ids = {r["doc_id"] for r in kept.collect()}
    by_src = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n_per = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert by_src["src0"] == n_per["src0"]
    assert "src3" not in by_src
    assert 0.2 * n_per["src1"] <= by_src.get("src1", 0) <= 0.8 * n_per["src1"]
    ids2 = {r["doc_id"] for r in mixture_sample(docs.repartition(13), rates, default_rate=0.75).collect()}
    assert ids == ids2
    # independence from the train/val/test variate: the survivors of a
    # fractional-rate source must spread across ALL splits (the unsalted
    # bucket would confine every rate<=0.9 survivor to 'train')
    from rasters_jl_spark.operators.sample import split_by_hash

    surv = split_by_hash(kept.where(F.col("source") != "src0"))
    splits = {r["split"] for r in surv.select("split").distinct().collect()}
    assert "val" in splits or "test" in splits


def test_bpe_learns_textbook_merges(spark):
    """The classic low/lower/newest corpus: merge sequence matches the
    hand-computed Sennrich algorithm with (freq desc, pair asc)
    tie-breaks, and tokenization preserves every character in order."""
    from rasters_jl_spark.functions.bpe import bpe_tokenize, bpe_train

    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest new"), (2, "low new")],
        "doc_id long, text string",
    )
    merges, mdf = bpe_train(docs, n_merges=5)
    # hand-verified: (l,o) and (o,w) tie at 6 -> 'l'<'o'; then lo+w;
    # (n,e)/(e,w) tie at 5 -> 'e'<'n' picks (e,w); then n+ew; then the
    # freq-2 ties resolve to (e,r)
    assert [(m[1], m[2], m[3]) for m in merges] == [
        ("l", "o", 6), ("lo", "w", 6), ("e", "w", 5), ("n", "ew", 5), ("e", "r", 2),
    ]
    assert mdf.count() == 5
    toks = {r["doc_id"]: r["tokens"] for r in bpe_tokenize(docs, merges).collect()}
    assert toks[0] == ["low", "low", "er", "low", "e", "s", "t", "low", "low"]
    assert toks[2] == ["low", "new"]
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for d, t in toks.items():
        assert "".join(t) == texts[d].replace(" ", "")  # lossless, ordered


def test_bpe_merge_fold_overlaps(spark):
    """Greedy left-to-right fold: overlapping pair occurrences merge
    non-overlapping ('aaaa' -> aa aa, 'aaa' -> aa a), and merged output
    does not cascade within the round."""
    from rasters_jl_spark.functions.bpe import apply_merge_col, chars_col

    df = spark.createDataFrame([("aaaa",), ("aaa",), ("baab",)], "w string")
    out = {
        r["w"]: r["m"]
        for r in df.select(
            "w", apply_merge_col(chars_col(F.col("w")), "a", "a").alias("m")
        ).collect()
    }
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]
    assert out["baab"] == ["b", "aa", "b"]


def test_pack_sequences_ignores_empty_docs(spark):
    """Empty / whitespace-only docs hold ZERO tokens (split('', ' ') == ['']
    must not reserve a phantom slot — tokenizer parity) and contribute no
    chunk rows; the stream still tiles exactly."""
    from rasters_jl_spark.functions.packing import pack_sequences

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, ""), (2, "  "), (3, "d e")], "doc_id long, text string"
    )
    out = pack_sequences(docs, seq_len=4, n_parts=2).collect()
    assert {r["doc_id"] for r in out} == {0, 3}
    assert sum(r["n_toks"] for r in out) == 5
    # doc 3 starts right after doc 0's three tokens: slice (3,1) in chunk 0
    by = {(r["doc_id"], r["chunk_id"]): (r["tok_start_in_doc"], r["n_toks"]) for r in out}
    assert by[(0, 0)] == (0, 3)
    assert by[(3, 0)] == (0, 1)
    assert by[(3, 1)] == (1, 1)


def test_bpe_train_local_equals_distributed(spark):
    """The driver-local trainer (one Spark pass for word freqs, then a
    heap-maintained incremental merge loop — the production 30k-merge
    path) produces BIT-IDENTICAL merges to sequential distributed
    training, including tie-breaks; vocab-exhaustion stops cleanly."""
    from rasters_jl_spark.functions.bpe import bpe_train, bpe_train_local

    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest new"), (2, "low new")],
        "doc_id long, text string",
    )
    m_seq, _ = bpe_train(docs, n_merges=5)
    m_loc, _ = bpe_train_local(docs, n_merges=5)
    assert m_loc == m_seq
    # far past vocab exhaustion: terminates, prefix-consistent
    m_all, _ = bpe_train_local(docs, n_merges=500)
    assert m_all[:5] == m_seq
    assert len(m_all) < 500  # every word reduced to one symbol


def test_bpe_batched_non_interacting_merges(spark):
    """batch=B applies up to B mutually non-interacting merges per count
    round: batch=1 equals sequential training exactly; batched merges
    share no symbols within a round (so one-projection application equals
    sequential application of the batch); the merge count still reaches
    n_merges when candidates allow."""
    from rasters_jl_spark.functions.bpe import bpe_train

    docs = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "new newer newest new"), (2, "low new")],
        "doc_id long, text string",
    )
    m_seq, _ = bpe_train(docs, n_merges=4)
    m_b1, _ = bpe_train(docs, n_merges=4, batch=1)
    assert m_b1 == m_seq
    m_b2, _ = bpe_train(docs, n_merges=4, batch=2)
    assert len(m_b2) == 4
    # per-round disjointness: rounds are [0:2] and [2:4]
    for lo in (0, 2):
        syms = set()
        for _r, l, rr, _f in m_b2[lo:lo + 2]:
            assert not ({l, rr, l + rr} & syms)
            syms |= {l, rr, l + rr}
    # the round-0 top pair is the sequential argmax in both schedules
    assert m_b2[0][1:] == m_seq[0][1:]


def test_remove_spans_cuts_duplicates_then_dedup_collapses(spark):
    """ExactSubstr detect -> cut: duplicated spans are excised from EVERY
    occurrence (the Lee et al. tool's policy), uncovered tokens
    byte-preserved — so a full copy and its original both reduce to their
    unshared residue and collapse under exact dedup afterwards."""
    from rasters_jl_spark.functions.dedup import duplicated_spans, remove_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (0, shared),                                        # original
            (1, shared),                                        # exact copy
            (2, "one two three four five six seven eight"),     # untouched
            (3, shared + " uniq1 uniq2 uniq3"),                 # copy + tail
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, k=4)
    out = {r["doc_id"]: r["text"] for r in remove_spans(docs, spans).collect()}
    assert out[0] == "" and out[1] == ""          # both copies fully cut
    assert out[2] == "one two three four five six seven eight"  # byte-preserved
    assert out[3] == "uniq1 uniq2 uniq3"          # residue only, in order
    # copies now collapse under exact dedup
    assert out[0] == out[1]


def test_mixture_upsample_epochs_and_reshard_invariance(spark):
    """Rate 2.5 gives every doc 2 copies plus a half-probability third
    (deterministic, ':mix'-salted variate); rate 0.5 degenerates to the
    filter with epoch 0; rate 0 drops; and the copy multiset is invariant
    to resharding."""
    from rasters_jl_spark.operators.sample import mixture_sample, mixture_sample_epochs

    docs = spark.createDataFrame(
        [(i, f"s{i % 2}", f"t{i}") for i in range(200)],
        "doc_id long, source string, text string",
    )
    rates = {"s0": 2.5, "s1": 0.5}
    out = mixture_sample_epochs(docs, rates).collect()
    by = {}
    for r in out:
        by.setdefault(r["doc_id"], []).append(r["epoch"])
    s0 = [d for d in by if d % 2 == 0]
    # every s0 doc appears 2 or 3 times with contiguous 0-based epochs
    counts = {len(by[d]) for d in s0}
    assert counts <= {2, 3} and 3 in counts and 2 in counts
    for d in s0:
        assert sorted(by[d]) == list(range(len(by[d])))
    # s1 at 0.5: epoch-0 single copies, same survivor set as the filter
    s1 = {d for d in by if d % 2 == 1}
    assert all(by[d] == [0] for d in s1)
    filt = {r["doc_id"] for r in mixture_sample(docs, rates).collect() if r["doc_id"] % 2 == 1}
    assert s1 == filt
    # half-probability third copy is near half of s0 (deterministic exact set)
    n3 = sum(1 for d in s0 if len(by[d]) == 3)
    assert 0.3 < n3 / len(s0) < 0.7
    # reshard invariance
    a = sorted((r["doc_id"], r["epoch"]) for r in out)
    b = sorted((r["doc_id"], r["epoch"])
               for r in mixture_sample_epochs(docs.repartition(13), rates).collect())
    assert a == b


GOOD_PROSE = (
    "the quick brown fox jumps over lazy dogs while autumn winds carry "
    "fallen leaves across quiet meadows and children gather near warm fires "
    "to hear stories of distant lands that sailors have told with great "
    "wonder describing oceans mountains deserts rivers forests villages "
    "markets temples bridges towers gardens harbors islands valleys"
)


def test_gopher_signals_thresholds(spark):
    """Gopher A1 signals on hand-built docs: repetition (top-n-grams,
    duplicate lines/paragraphs) and quality (length, stop words,
    alphabetic words, symbols, bullets, ellipses) flip pass/fail exactly
    at the published thresholds."""
    from rasters_jl_spark.functions.textstats import gopher_signals

    spam = ("buy now " * 40).strip()                     # one 2-gram dominates
    dup_lines = "\n".join(["the same line of text and that have with be to of"] * 10)
    nums = " ".join(str(i) for i in range(80))           # no alphabetic words
    bullets = "\n".join(f"• item number {i} listed here" for i in range(20))
    hashes = GOOD_PROSE + " " + "# # # # # # # # #"      # symbol ratio > 0.1
    dup_paras = "\n\n".join(["one whole paragraph of text that repeats"] * 6)
    ell = "\n".join(f"line {i} trails off..." for i in range(10))
    docs = spark.createDataFrame(
        [
            (0, GOOD_PROSE),
            (1, spam),
            (2, dup_lines),
            (3, nums),
            (4, "too short"),
            (5, bullets),
            (6, hashes),
            (7, dup_paras),
            (8, ell),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_signals(docs).collect()}
    assert out[0]["gopher_pass"]
    assert out[0]["n_stop_words"] >= 2 and out[0]["frac_alpha_words"] == 1.0
    # repeat-free prose: the "top" 3-gram occurs once, covering only its
    # own chars — small, under every gate
    assert 0.0 < out[0]["top3gram_char_frac"] < 0.18
    assert out[0]["dup_para_frac"] == 0.0
    # spam: 'buy now' covers nearly all characters at every gram size
    assert out[1]["top2gram_char_frac"] > 0.8 and not out[1]["gopher_pass"]
    assert out[1]["top3gram_char_frac"] > 0.8 and out[1]["top4gram_char_frac"] > 0.8
    # 10 identical lines -> dup count fraction 0.9, char fraction 0.9
    assert abs(out[2]["dup_line_frac"] - 0.9) < 1e-9 and not out[2]["gopher_pass"]
    assert abs(out[2]["dup_line_char_frac"] - 0.9) < 1e-9
    assert out[3]["frac_alpha_words"] == 0.0 and not out[3]["gopher_pass"]
    assert out[4]["n_words"] == 2 and not out[4]["gopher_pass"]
    # every line is a bullet -> fraction 1.0 > 0.90
    assert out[5]["bullet_line_frac"] == 1.0 and not out[5]["gopher_pass"]
    # 9 hashes over ~60 words > 0.1
    assert out[6]["symbol_word_ratio"] > 0.1 and not out[6]["gopher_pass"]
    # 6 identical paragraphs -> dup para count frac 5/6, char frac 5/6
    assert abs(out[7]["dup_para_frac"] - round(5 / 6, 6)) < 1e-9
    assert abs(out[7]["dup_para_char_frac"] - round(5 / 6, 6)) < 1e-9
    assert not out[7]["gopher_pass"]
    # every line ends with '...' -> 1.0 > 0.30 (also drives symbol ratio)
    assert out[8]["ellipsis_line_frac"] == 1.0 and not out[8]["gopher_pass"]


def test_gopher_symbol_ratio_counts_unicode_ellipsis(spark):
    """Mid-line '…' counts toward the symbol ratio exactly like '...' —
    otherwise Unicode-ellipsis spam passes the symbol gate its ASCII twin
    fails (the two ellipsis spellings must be one signal)."""
    from rasters_jl_spark.functions.textstats import gopher_signals

    base = GOOD_PROSE + " "
    docs = spark.createDataFrame(
        [
            (0, base + "click … buy … now … offer … ends … soon … act … fast"),
            (1, base + "click ... buy ... now ... offer ... ends ... soon ... act ... fast"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_signals(docs).collect()}
    assert out[0]["symbol_word_ratio"] == out[1]["symbol_word_ratio"] > 0.1
    assert not out[0]["gopher_pass"] and not out[1]["gopher_pass"]


def test_gopher_long_pathological_doc(spark):
    """A 100k-word two-token document (the Gopher max-words bound — such
    docs must still be SCORED to be rejected) completes quickly: the
    sorted-run fold is O(L log L), where the old per-distinct-gram rescan
    was O(L²) (~10¹⁰ comparisons — an executor-stalling tail at scale).
    Golden values pinned by hand."""
    from rasters_jl_spark.functions.textstats import gopher_signals

    doc = ("spam ham " * 50_000).strip()       # 100,000 words
    docs = spark.createDataFrame([(0, doc)], "doc_id long, text string")
    row = gopher_signals(docs).collect()[0]
    assert row["n_words"] == 100_000
    assert row["mean_word_len"] == 3.5
    # 'spam ham' occurs 50,000× covering 8 chars; total = 350,000 letters
    # + 99,999 spaces = 449,999 chars
    assert abs(row["top2gram_char_frac"] - round(400_000 / 449_999, 6)) < 1e-9
    # 'spam ham spam' (13 chars) occurs 49,999× — occurrence×len coverage
    # legitimately exceeds 1.0 for overlapping top-grams
    assert abs(row["top3gram_char_frac"] - round(49_999 * 13 / 449_999, 6)) < 1e-9
    assert not row["gopher_pass"]


def test_dup_ngram_char_fracs_union_coverage(spark):
    """Duplicate 5..10-gram char fractions use overlap-union accounting:
    a doc that is one phrase repeated is ~fully covered at every n; a
    repeat-free doc is untouched; fractions decrease with n."""
    from rasters_jl_spark.functions.textstats import dup_ngram_char_fracs

    rep = ("red blue green gold pink gray " * 6).strip()   # 36 words, 6-word cycle
    docs = spark.createDataFrame(
        [(0, rep), (1, GOOD_PROSE)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dup_ngram_char_fracs(docs).collect()}
    # every char position of the cyclic doc sits inside a repeated n-gram
    # for all n up to 10 (cycle length 6 < 36 - n)
    for n in range(5, 11):
        assert out[0][f"dup{n}gram_char_frac"] == 1.0, n
        assert out[1][f"dup{n}gram_char_frac"] == 0.0, n
    assert not out[0]["repetition_pass"] and out[1]["repetition_pass"]


def test_dup_ngram_partial_coverage_golden(spark):
    """Hand-computed union coverage: 'a b c d e' repeated at the START and
    END of an otherwise unique 15-word doc covers exactly the two 5-gram
    spans (chars counted once despite the doc-level overlap at n>5)."""
    from rasters_jl_spark.functions.textstats import dup_ngram_char_fracs

    # words: a b c d e u1 u2 u3 u4 u5 a b c d e   (15 words)
    doc = "a b c d e u1 u2 u3 u4 u5 a b c d e"
    docs = spark.createDataFrame([(0, doc)], "doc_id long, text string")
    row = dup_ngram_char_fracs(docs).collect()[0]
    # normalized text = the doc itself: 20 letters + 14 spaces = 34 chars;
    # each 'a b c d e' span = 9 chars, disjoint → union 18
    assert abs(row["dup5gram_char_frac"] - round(18 / 34, 6)) < 1e-9
    # no repeated 6-gram
    assert row["dup6gram_char_frac"] == 0.0
    # 18/34 ≈ 0.529 > the 0.15 threshold at n=5 → gated out
    assert not row["repetition_pass"]


def test_pii_redaction_patterns(spark):
    """Emails / IPv4s / phones are counted and replaced by placeholders;
    clean text is untouched; counts precede redaction."""
    from rasters_jl_spark.functions.pii import redact_pii

    docs = spark.createDataFrame(
        [
            (0, "mail a.b+c@ex-ample.co.uk and x@y.io now"),
            (1, "server at 192.168.0.1 and 10.0.0.255"),
            (2, "call +4915512345678 or 555-123-4567 today"),
            (3, "nothing sensitive here 1.2 3.4"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[0]["n_email"] == 2
    assert out[0]["text"] == "mail [EMAIL] and [EMAIL] now"
    assert out[1]["n_ip"] == 2
    assert out[1]["text"] == "server at [IP] and [IP]"
    assert out[2]["n_phone"] == 2
    assert out[2]["text"] == "call [PHONE] or [PHONE] today"
    assert out[3] ["text"] == "nothing sensitive here 1.2 3.4"
    assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_phone"]) == (0, 0, 0)


def test_url_canonicalization_and_dedup(spark):
    """Messy crawl variants (case, default port, trailing slash, fragment,
    tracking params, query order) collapse onto one canonical URL; the
    dedup keeps the min id and counts variants."""
    from pyspark.sql import functions as F

    from rasters_jl_spark.functions.urls import canonical_url_col, dedup_urls

    urls = spark.createDataFrame(
        [
            (1, "https://example.org/d/5?a=1&b=2"),
            (2, "HTTPS://Example.ORG:443/d/5/?utm_source=f&b=2&a=1#x"),
            (3, "http://Host:80/"),
            (4, "http://host"),
            (5, "http://host/x?utm_campaign=c&z=1"),
            (6, "http://host/x?z=1"),
            (7, "http://other.net/p?q=1"),
            # non-default scheme/port pairs are DISTINCT origins — must survive
            (8, "http://host:443/"),
            (9, "https://host:80/"),
            # ref= is semantic by default (branch refs, referral codes)
            (10, "http://host/x?ref=abc&z=1"),
            # default-port stripping must survive colons in the authority
            (11, "http://user:pw@host:80/x"),
            (12, "https://[2001:db8::1]:443/x"),
            (13, "http://host:8080/x"),
        ],
        "doc_id long, url string",
    )
    canon = {r["doc_id"]: r["c"] for r in
             urls.select("doc_id", canonical_url_col(F.col("url")).alias("c")).collect()}
    assert canon[1] == canon[2] == "https://example.org/d/5?a=1&b=2"
    assert canon[3] == canon[4] == "http://host"
    assert canon[5] == canon[6] == "http://host/x?z=1"
    assert canon[8] == "http://host:443"
    assert canon[9] == "https://host:80"
    assert canon[10] == "http://host/x?ref=abc&z=1"
    assert canon[11] == "http://user:pw@host/x"
    assert canon[12] == "https://[2001:db8::1]/x"
    assert canon[13] == "http://host:8080/x"
    # caller-supplied tracking pattern CAN opt ref= in
    canon_ref = {r["doc_id"]: r["c"] for r in
                 urls.select("doc_id", canonical_url_col(
                     F.col("url"), tracking_re="^(utm_[A-Za-z]+|ref)=").alias("c")).collect()}
    assert canon_ref[10] == canon_ref[6] == "http://host/x?z=1"
    groups = {r["url_canon"]: (r["n_urls"], r["keep_id"]) for r in dedup_urls(urls).collect()}
    assert groups["https://example.org/d/5?a=1&b=2"] == (2, 1)
    assert groups["http://host"] == (2, 3)
    assert groups["http://host/x?z=1"] == (2, 5)
    assert groups["http://other.net/p?q=1"] == (1, 7)


def test_opq_rotations(spark):
    """HD rotation is orthogonal and engine-applied rotation matches NumPy
    at 6 dp; the learned OPQ rotation stays orthogonal and its alternation
    does not increase quantization MSE."""
    import numpy as np

    from rasters_jl_spark.functions.ann import (
        EMB_DIM,
        hd_rotation_rows,
        opq_train_rotation,
        rotate_embeddings,
    )

    H = np.array(hd_rotation_rows(EMB_DIM))
    assert np.allclose(H @ H.T, np.eye(EMB_DIM), atol=1e-12)

    rng = np.random.RandomState(3)
    X = rng.uniform(-0.5, 0.5, size=(6, EMB_DIM))
    df = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: np.array(r["embedding"]) for r in rotate_embeddings(df).collect()}
    want = X @ H.T
    for i in range(6):
        assert np.allclose(got[i], np.round(want[i], 6), atol=2e-6)

    R_rows, hist = opq_train_rotation(X.repeat(10, axis=0), n_sub=8, k_codes=4, opq_iters=3)
    R = np.array(R_rows)
    assert np.allclose(R @ R.T, np.eye(EMB_DIM), atol=1e-9)
    assert hist[-1] <= hist[0] + 1e-12


def test_bigram_logloss_rarity_ordering(spark):
    """Interpolated bigram cross-entropy: formulaic repeated bigrams score
    low, globally unique vocabulary scores high; a single-token doc is
    scored unigram-only (exact hand-computed golden)."""
    from rasters_jl_spark.functions.textstats import bigram_logloss

    docs = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "x y z q r s"), (2, "a")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_logloss(docs).collect()}
    # corpus: a×4, b×3, x..s×1 → N=13; doc 2 = first-token unigram:
    # p = 4/13, bits = -log2(4/13) rounded 6dp
    import math

    assert out[2]["n_words"] == 1
    assert abs(out[2]["bits_per_token"] - round(-math.log2(4 / 13), 6)) < 1e-9
    # repeated 'a b' continuations cost fewer bits than unique vocabulary
    # (whose first-token unigram surprise dominates; its bigram
    # continuations are still near-certain at c(pair)/c(prev) = 1)
    assert out[0]["bits_per_token"] < out[1]["bits_per_token"]
    assert out[1]["bits_per_token"] > 1.0


def test_trigram_logloss_golden_and_ordering(spark):
    """Interpolated trigram cross-entropy: exact hand-computed goldens for
    the unigram-only (1-token) and bigram-backoff (2-token) docs, and the
    formulaic-vs-unique ordering the quality tier exists for."""
    from rasters_jl_spark.functions.textstats import trigram_logloss

    docs = spark.createDataFrame(
        [
            (0, "a b c a b c a b c"),
            (1, "x y z q r s"),
            (2, "a"),
            (3, "a b"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in trigram_logloss(docs).collect()}
    import math

    # corpus unigrams: a×5 b×4 c×3 x..s×1 → N=18
    # doc 2: single token scored unigram-only
    assert out[2]["n_words"] == 1
    assert abs(out[2]["bits_per_token"] - round(-math.log2(5 / 18), 6)) < 1e-9
    # doc 3: token 1 unigram; token 2 bigram-backoff with the trigram mass
    # collapsed onto the bigram term (λ = 0.5+0.3): c(a,b)=4 (3 in doc 0,
    # 1 here), c(a)=5, c(b)=4
    b1 = round(-math.log2(5 / 18), 6)
    b2 = round(-math.log2(0.8 * (4 / 5) + 0.2 * (4 / 18)), 6)
    micro = round(b1 * 1e6) + round(b2 * 1e6)
    assert out[3]["n_words"] == 2
    assert abs(out[3]["bits_per_token"] - round(micro / 2e6, 6)) < 1e-9
    # the formulaic abc-cycle doc costs fewer bits/token than globally
    # unique vocabulary (first-token surprise dominates doc 1)
    assert out[0]["bits_per_token"] < out[1]["bits_per_token"]


def test_c4_clean_line_filters_and_page_gates(spark):
    """Each C4 rule in isolation: terminal punctuation, min words,
    javascript, policy phrases, sentence-count gate, lorem ipsum gate,
    curly-brace gate."""
    from rasters_jl_spark.functions.textstats import c4_clean

    good = "This is a perfectly reasonable sentence with many words."
    docs = spark.createDataFrame(
        [
            (0, "\n".join([good, good, good])),               # clean page
            (1, "\n".join([good, "no terminal punctuation here at all",
                           "short line.",                     # <5 words
                           "Enable javascript to view this page.",
                           "Please read our Privacy Policy first.",
                           good, good])),                     # line filters
            (2, "\n".join([good, "The second sentence is here okay!"])),  # <3 sentences
            (3, "\n".join([good, good, good, "Lorem ipsum dolor sit amet."])),
            (4, "\n".join([good, good, "function f() { return 1; }", good])),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_clean(docs).collect()}
    assert out[0]["c4_pass"] and out[0]["n_lines_kept"] == 3
    # doc 1: only the three `good` lines survive; page still passes
    assert out[1]["n_lines"] == 7 and out[1]["n_lines_kept"] == 3
    assert out[1]["clean_text"] == "\n".join([good, good, good])
    assert out[1]["c4_pass"]
    assert out[2]["n_sentences"] == 2 and not out[2]["c4_pass"]
    assert not out[3]["c4_pass"]  # lorem ipsum (case-insensitive)
    assert not out[4]["c4_pass"]  # curly brace — code page


def test_c4_clean_crlf_null_and_whitespace_words(spark):
    """Robustness edges real crawls carry: CRLF line endings still pass
    the terminal-punctuation test, NULL text yields defined (non-NULL)
    output, and per-line word counting splits on runs of whitespace."""
    from rasters_jl_spark.functions.textstats import c4_clean

    good = "This is a perfectly reasonable sentence with many words."
    docs = spark.createDataFrame(
        [
            (0, f"{good}\r\n{good}\r\n{good}\r"),       # CRLF crawl
            (1, None),                                   # NULL text
            (2, "alpha\tbeta\tgamma delta epsilon zeta.\n" + good + "\n" + good),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_clean(docs).collect()}
    assert out[0]["n_lines_kept"] == 3 and out[0]["c4_pass"]
    assert out[0]["clean_text"] == "\n".join([good, good, good])
    assert out[1]["clean_text"] == "" and out[1]["c4_pass"] is False
    assert out[1]["n_lines"] == 1 and out[1]["n_lines_kept"] == 0
    # tab-separated words count individually (6 >= 5 -> the line survives)
    assert out[2]["n_lines_kept"] == 3 and out[2]["c4_pass"]


def test_tfidf_topk_ranks_characteristic_terms(spark):
    """Terms appearing in every doc get idf 0; a doc's rare repeated term
    dominates its top-k; ranking is deterministic under ties."""
    from rasters_jl_spark.functions.textstats import tfidf_topk

    docs = spark.createDataFrame(
        [
            (0, "common zebra zebra zebra common"),
            (1, "common yak common"),
            (2, "common xerus xerus common"),
        ],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["rank"]): (r["term"], r["tfidf"]) for r in tfidf_topk(docs, k=2).collect()}
    import math

    assert out[(0, 1)][0] == "zebra"
    assert abs(out[(0, 1)][1] - round(3 * math.log(3), 6)) < 1e-9
    assert out[(1, 1)][0] == "yak"
    assert out[(2, 1)][0] == "xerus"
    # 'common' is in every doc -> idf 0 -> score 0, ranked below the rare terms
    assert out[(0, 2)] == ("common", 0.0)


def test_domain_stats_host_extraction(spark):
    """Hosts extract lowercased with ports stripped; stats aggregate per
    canonical host."""
    from rasters_jl_spark.functions.urls import domain_stats

    pages = spark.createDataFrame(
        [
            ("https://WWW.A.org:443/x", 10),
            ("http://www.a.org/y", 20),
            ("https://b.net/z", 5),
        ],
        "url string, n_chars long",
    )
    out = {r["host"]: (r["n_docs"], r["sum_chars"]) for r in domain_stats(pages).collect()}
    assert out == {"www.a.org": (2, 30), "b.net": (1, 5)}


def test_strip_duplicate_paragraphs_keeps_first_occurrence(spark):
    """Corpus-wide paragraph dedup: a repeated paragraph survives only at
    its first (doc_id, position); short paragraphs are exempt; paragraph
    order within docs is preserved."""
    from rasters_jl_spark.functions.dedup import strip_duplicate_paragraphs

    banner = "identical banner paragraph with several words"
    docs = spark.createDataFrame(
        [
            (0, f"unique alpha paragraph here\n{banner}\nmore alpha text words"),
            (1, f"{banner}\nunique beta paragraph here"),
            (2, "short hd\nunique gamma paragraph here\nshort hd"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in strip_duplicate_paragraphs(docs).collect()}
    assert out[0] == f"unique alpha paragraph here\n{banner}\nmore alpha text words"
    assert out[1] == "unique beta paragraph here"          # banner cut (2nd occurrence)
    assert out[2] == "short hd\nunique gamma paragraph here\nshort hd"  # exempt kept twice


def test_vocab_tokenize_greedy_longest_match(spark):
    """Greedy longest-match apply: longest vocab piece wins at each
    position, unmatched chars fall back to themselves, reassembly is
    lossless and ordered."""
    from rasters_jl_spark.functions.bpe import vocab_tokenize

    vocab = ("ab", "abc", "bc", "xyz")
    docs = spark.createDataFrame(
        [(0, "abcbc ab"), (1, "qabcq"), (2, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["tokens"] for r in vocab_tokenize(docs, vocab).collect()}
    assert out[0] == ["abc", "bc", "ab"]      # longest at 0 is 'abc', then 'bc'
    assert out[1] == ["q", "abc", "q"]        # char fallback around the match
    assert out[2] == []
    for d, toks in out.items():
        texts = {0: "abcbc ab", 1: "qabcq", 2: ""}
        assert "".join(toks) == texts[d].replace(" ", "")


def test_pii_counts_follow_sequential_redaction(spark):
    """A dotted-digit local part inside an email is consumed by the email
    redaction; the IP count must NOT report it (counts are taken on the
    text as the sequential redaction sees it)."""
    from rasters_jl_spark.functions.pii import redact_pii

    docs = spark.createDataFrame(
        [(0, "reach 1.2.3.4@example.com today")], "doc_id long, text string"
    )
    r = redact_pii(docs).collect()[0]
    assert r["n_email"] == 1 and r["n_ip"] == 0
    assert r["text"] == "reach [EMAIL] today"


def test_bpe_batched_schedule_is_planned_not_adaptive(spark):
    """An underfilled round must not inflate later rounds' caps — the
    fixed schedule is what the oracle replicates. With batch=3 on a
    corpus whose round-0 candidates heavily interact, total merges can
    fall short of n_merges but every round stays within its planned
    cap."""
    from rasters_jl_spark.functions.bpe import bpe_train

    docs = spark.createDataFrame(
        [(0, "aaaa aaab aaba abaa baaa " * 3)], "doc_id long, text string"
    )
    merges, _ = bpe_train(docs, n_merges=6, batch=3)
    assert len(merges) <= 6
    # round indices are sequential application order
    assert [m[0] for m in merges] == list(range(len(merges)))


def test_blocklist_word_and_substring_tiers(spark):
    """Word tier counts whole-token hits only; substring tier (Aho-
    Corasick) counts every occurrence incl. cross-term containment;
    blocklist_filter drops any-hit docs (the C4 policy)."""
    from rasters_jl_spark.functions.blocklist import blocklist_filter, blocklist_hits

    docs = spark.createDataFrame(
        [
            (0, "a spammy word here and spammy again"),
            (1, "clean text entirely"),
            (2, "spammyish is not a whole-token hit"),
            (3, "ushers in the hall"),
        ],
        "doc_id long, text string",
    )
    w = {r["doc_id"]: r["n_hits"] for r in blocklist_hits(docs, ("spammy",), mode="word").collect()}
    assert w == {0: 2, 1: 0, 2: 0, 3: 0}
    s = {r["doc_id"]: r["n_hits"] for r in
         blocklist_hits(docs, ("he", "she", "hers"), mode="substring").collect()}
    assert s[3] == 4  # 'ushers': she + he + hers, plus 'he' inside 'the'
    assert s[1] == 0
    kept = {r["doc_id"] for r in blocklist_filter(docs, ("spammy",), mode="word").collect()}
    assert kept == {1, 2, 3}


def test_unigram_logloss_orders_rarity(spark):
    """Docs of globally rare words score more bits/token than docs of
    frequent words; hand-checkable corpus: p(common)=6/10, p(rare_i)=1/10."""
    import math

    from rasters_jl_spark.functions.textstats import unigram_logloss

    docs = spark.createDataFrame(
        [
            (0, "common common common"),
            (1, "rare1 rare2 rare3 rare4"),
            (2, "common common common"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_words"], r["bits_per_token"]) for r in unigram_logloss(docs).collect()}
    # total 10 tokens: common x6, rare_i x1 each
    assert out[0] == (3, round(-math.log2(6 / 10), 6))
    assert out[1][0] == 4
    assert abs(out[1][1] - round(-math.log2(1 / 10), 6)) < 1e-6
    assert out[1][1] > out[0][1]
    assert out[0] == out[2]


def test_blocklist_null_text_and_whitespace_boundaries(spark):
    """Null text counts 0 hits in BOTH tiers; word mode splits on any
    whitespace run so terms at newline/tab boundaries still hit."""
    from rasters_jl_spark.functions.blocklist import blocklist_hits

    docs = spark.createDataFrame(
        [(0, None), (1, "line one\nbadword\ttabbed  badword")],
        "doc_id long, text string",
    )
    w = {r["doc_id"]: r["n_hits"] for r in blocklist_hits(docs, ("badword",), mode="word").collect()}
    assert w == {0: 0, 1: 2}
    s = {r["doc_id"]: r["n_hits"] for r in
         blocklist_hits(docs, ("badword",), mode="substring").collect()}
    assert s == {0: 0, 1: 2}


def test_dup_ngrams_plant_null_text_parity(spark, tmp_path):
    """The dup_ngrams plant must agree between Spark and DuckDB when a
    doc_id % 3 == 0 row has NULL text: Spark's concat_ws skips NULLs,
    DuckDB's || propagates them — both sides coalesce to '' before the
    plant, so a NULL-text doc plants exactly the repeated phrase and
    both engines report identical duplicate-n-gram fractions."""
    import duckdb

    from rasters_jl_spark.queries_text import SQL_dup_ngrams, q_dup_ngrams

    docs = spark.createDataFrame(
        [
            (0, None, "en", "web", 0),
            (1, "plain words here with no repeats at all", "en", "web", 39),
            (2, None, "en", "web", 0),
            (3, "one two three four five six seven eight", "en", "web", 39),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    pq = str(tmp_path / "documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(pq)

    got = {
        r["doc_id"]: tuple(round(float(v), 6) for v in r[1:])
        for r in q_dup_ngrams(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    want = {r[0]: tuple(round(float(v), 6) for v in r[1:]) for r in con.sql(SQL_dup_ngrams).fetchall()}
    assert got == want
    # the NULL-text planted doc is pure repeated phrase: non-zero fractions
    assert got[0][0] > 0


def test_lm_tier_broadcast_escape_knob(spark):
    """broadcast=False on the LM/TF-IDF tiers swaps every model-table
    broadcast for a shuffle join (the 100-TB escape hatch: a web-scale
    trigram table must never be forced through the driver); results are
    identical either way."""
    from rasters_jl_spark.functions.textstats import (
        bigram_logloss,
        tfidf_topk,
        trigram_logloss,
        unigram_logloss,
    )

    docs = spark.createDataFrame(
        [(0, "a b c a b"), (1, "c c d e a"), (2, "e d c b a")],
        "doc_id long, text string",
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn in (unigram_logloss, bigram_logloss, trigram_logloss, tfidf_topk):
            hinted = fn(docs, broadcast=True)
            plain = fn(docs, broadcast=False)
            ph = hinted._jdf.queryExecution().executedPlan().toString()
            pp = plain._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" in ph, fn.__name__
            assert "BroadcastHashJoin" not in pp, fn.__name__
            key = lambda r: tuple(r)
            assert sorted(map(key, hinted.collect())) == sorted(map(key, plain.collect())), fn.__name__
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_langid_heldout_accuracy_and_edge_rows(spark):
    """NB lang-ID: (a) >=99% accuracy on a clean held-out synthetic mix,
    (b) gram-less docs (NULL / too-short text) classify as 'und',
    (c) the weight table covers every bucket with finite nano weights."""
    from rasters_jl_spark.functions import langid

    corpus = langid.synth_labeled_corpus(
        n_per_lang=40, words_per_doc=30, seed="langid-heldout-pytest"
    )
    rows = [(i, lang, text) for i, (lang, text) in enumerate(corpus)]
    rows += [(9001, "und", None), (9002, "und", "x")]
    docs = spark.createDataFrame(rows, "doc_id long, truth string, text string")
    out = langid.langid_score(docs).join(docs.select("doc_id", "truth"), "doc_id")
    pdf = out.toPandas().set_index("doc_id")
    mix = pdf[pdf.index < 9000]
    assert (mix.lang_pred == mix.truth).mean() >= 0.99
    assert pdf.loc[9001, "lang_pred"] == "und" and pdf.loc[9001, "n_grams"] == 0
    assert pdf.loc[9002, "lang_pred"] == "und"  # 1 char -> no 2/3-grams

    w = langid.langid_train()
    assert len(w) == langid.LANGID_BUCKETS
    assert [r[0] for r in w] == list(range(langid.LANGID_BUCKETS))
    assert all(isinstance(v, int) and v < 0 for r in w for v in r[1:])


def test_unigram_lm_distributed_matches_local_and_goldens(spark):
    """Hard-EM unigram-LM trainer: the distributed fold pipeline must be
    bit-identical to the pure-Python driver-local twin (same determinism
    contract), and the Viterbi tie-break must prefer the shorter piece."""
    from rasters_jl_spark.functions import unigram_lm as U

    rows = [(i, t) for i, t in enumerate(
        ["aba aba cab", "aba cab cab bac", "abc abc abc aba", "cab bac abc"]
    )]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    cnt_d, cost_d, df_d = U.unigram_lm_train(docs, 3, 10, 8, 2)
    cnt_l, cost_l, df_l = U.unigram_lm_train_local(docs, 3, 10, 8, 2)
    assert cnt_d == cnt_l
    assert cost_d == cost_l
    assert sorted(map(tuple, df_d.collect())) == sorted(map(tuple, df_l.collect()))
    # vocab invariants: all single chars kept, size bounded
    chars = {p for p in cnt_d if len(p) == 1}
    assert chars == {"a", "b", "c"}
    assert len(cnt_d) <= 8

    # Viterbi tie-break golden: 'ab' and 'a'+'b' at equal cost -> the
    # shorter FIRST candidate piece wins each DP cell (k ascending).
    costs = {"a": 100, "b": 100, "ab": 200, "c": 50}
    assert U._viterbi_py("abc", costs, 2) == ["a", "b", "c"]
    one = spark.createDataFrame([(0, "abc abc")], "doc_id int, text string")
    toks = U.unigram_tokenize(one, costs, 2).collect()[0]["tokens"]
    assert toks == ["a", "b", "c", "a", "b", "c"]


def test_unigram_lm_train_pin_counts(spark, sf_dir, counted):
    """The word-frequency table is pinned once inside the call and every
    round reads that copy: training plus a collect of the piece table run
    a fixed job and stage count, so a changed plan shape fails here."""
    from rasters_jl_spark import queries_text as QT
    from rasters_jl_spark.functions import unigram_lm as U

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows, jobs, stages = counted(
        "unigram-lm-train",
        lambda: U.unigram_lm_train(
            docs, QT.UNIGRAM_K, QT.UNIGRAM_SEED_MULTI, QT.UNIGRAM_VOCAB, QT.UNIGRAM_ITERS
        )[2].collect(),
    )
    assert rows
    assert (jobs, stages) == (10, 15)


def test_unigram_tokenize_fold_matches_udf_and_unknown_chars(spark):
    """The zero-shuffle fold tier and the Arrow-UDF serving tier must be
    token-for-token equal, and unknown chars segment as single-char
    fallbacks without killing known paths."""
    from rasters_jl_spark.functions import unigram_lm as U

    docs = spark.createDataFrame(
        [(0, "aba cab xq"), (1, ""), (2, "zzz aba")],
        "doc_id int, text string",
    )
    costs = {"a": 80, "b": 90, "c": 70, "ab": 120, "ba": 110, "cab": 150}
    a = {r["doc_id"]: r["tokens"] for r in U.unigram_tokenize(docs, costs, 3).collect()}
    b = {r["doc_id"]: r["tokens"] for r in U.unigram_tokenize_udf(docs, costs, 3).collect()}
    assert a == b
    assert a[0] == ["a", "ba", "cab", "x", "q"]
    assert a[1] == []
    assert a[2] == ["z", "z", "z", "a", "ba"]


def test_unigram_costs_away_from_rounding_boundaries(spark, sf_dir):
    """Cross-engine exactness guard: every nano-cost the sf0.001 trainer
    produces must sit far from a .5 rounding boundary (the libm-vs-DuckDB
    ln() last-ulp tolerance documented in the module header)."""
    import math

    from rasters_jl_spark.functions import unigram_lm as U
    from rasters_jl_spark import queries_text as QT

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cnt, _costs, _df = U.unigram_lm_train(
        docs, QT.UNIGRAM_K, QT.UNIGRAM_SEED_MULTI, QT.UNIGRAM_VOCAB, QT.UNIGRAM_ITERS
    )
    total = sum(cnt.values())
    for p, c in cnt.items():
        frac = (1e9 * math.log(total / c)) % 1.0
        assert abs(frac - 0.5) > 1e-4, (p, frac)


def test_ppl_buckets_tercile_sizes_and_ordering(spark):
    """Buckets are value-contiguous terciles: every head score ≤ every
    middle score ≤ every tail score, and sizes are N/3 up to tied-score
    mass. A corpus with all-distinct scores splits exactly."""
    from rasters_jl_spark.functions.textstats import perplexity_buckets

    rows = [(i, " ".join(f"w{i}_{j}" for j in range(3)) + " common" * 0) for i in range(30)]
    # craft distinct rarity: doc i repeats a shared token i times so
    # bits_per_token strictly decreases with i (more frequent grams)
    rows = [(i, ("shared " * (i + 1)).strip() + f" uniq{i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = perplexity_buckets(docs).collect()
    by = {}
    for r in out:
        by.setdefault(r["ppl_bucket"], []).append(r["bits_per_token"])
    assert set(by) == {"head", "middle", "tail"}
    assert max(by["head"]) <= min(by["middle"]) <= max(by["middle"]) <= min(by["tail"])
    assert abs(len(by["head"]) - 10) <= 1 and abs(len(by["tail"]) - 10) <= 1


def test_blocked_domains_label_anchored_matching(spark):
    """Exact + subdomain hosts block; parents and non-label-anchored
    string-suffixes do not; `matched` is the smallest matching entry."""
    from rasters_jl_spark.functions.urls import blocked_domains

    pages = spark.createDataFrame(
        [
            (0, "https://ads.tracker.net/a"),          # exact
            (1, "https://cdn.ads.tracker.net:8443/b"), # subdomain (port stripped)
            (2, "https://tracker.net/c"),              # parent — clean
            (3, "https://xads.tracker.net/d"),         # not label-anchored — clean
            (4, "https://deep.sub.spam.example/e"),    # deep subdomain
            (5, "https://spam.example.org/f"),         # different registrable — clean
        ],
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r["matched"] for r in
           blocked_domains(pages, ["ads.tracker.net", "spam.example"]).collect()}
    assert out == {0: "ads.tracker.net", 1: "ads.tracker.net", 4: "spam.example"}


def test_bloom_no_false_negatives_and_probe_paths_agree(spark, docs):
    """Bloom contract: every prior key flags maybe_seen (FNs impossible);
    the packed-literal probe and the broadcast-join escape path compute
    the IDENTICAL membership set; small m plants real false positives;
    the literal probe plan has zero exchanges."""
    base = docs.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    prior = base.where(F.col("doc_id") % 2 == 0)
    m = 1024
    packed = dedup.bloom_build(prior, F.col("text"), m=m)
    probed = dedup.bloom_probe(base, packed, F.col("text"), m=m)
    rows = {r["doc_id"]: r["maybe_seen"] for r in probed.collect()}
    # no false negatives: every prior doc is flagged
    assert all(rows[i] for i in rows if i % 2 == 0)
    # small m plants real FPs among odd docs, but far from all of them
    fp = sum(1 for i in rows if i % 2 == 1 and rows[i])
    n_odd = sum(1 for i in rows if i % 2 == 1)
    assert 0 < fp < 0.8 * n_odd
    # join-path escape hatch computes the identical membership set
    bits = prior.select(
        F.explode(F.array(*dedup.bloom_positions(F.col("text"), m=m))).alias("pos")
    ).distinct()
    joined = dedup.bloom_probe_join(base, bits, F.col("text"), m=m)
    jrows = {r["doc_id"]: r["maybe_seen"] for r in joined.collect()}
    assert jrows == rows
    # the packed-literal probe is pure column math: no exchange anywhere
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # bloom_decon drops exactly the flagged rows
    kept = dedup.bloom_decon(base.where(F.col("doc_id") % 2 == 1), prior, m=m)
    assert kept.count() == n_odd - fp
