"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — broadcast the (small) query
  set, one pass over candidates, per-query window top-k. The dot product is
  a JVM higher-order `aggregate(zip_with(...))` — no Python, sequential
  left-to-right accumulation (deterministic, and matches DuckDB's
  ``list_dot_product`` order for the oracle).
- LSH bucketing (random-hyperplane signs): the scale path — bucket id from
  deterministic integer-weight hyperplanes; candidates share a bucket, so
  the ANN join is an equi hash join on bucket id. Hyperplane weights are
  ``w(j,d) = ((j*31 + d*7) % 11) - 5`` — reproducible in SQL. The plane
  count is a PARAMETER: size it ~log2(n_vectors / target_bucket_size)
  (16–24 planes at 10⁹–10¹² vectors); the fixture default 8 matches the
  sandbox corpus. ``lsh_topk`` multi-probes all buckets within hamming
  ``multiprobe`` of the query's bucket (query side explodes to 1+planes
  probe rows — the standard recall recovery for sign LSH).
- IVF: coarse quantizer TRAINED by seeded k-means (deterministic init =
  the first IVF_K vectors, IVF_ITERS Lloyd rounds, centroids rounded to
  6 dp so the DuckDB oracle reproduces the index bit-for-bit), then
  nprobe-list search. Each Lloyd round pins its K-row centroid table
  (``localCheckpoint()``: one job in the round), as the PQ codebook
  training does; the next round and the search read that copy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8
EMB_DIM = 64


def plane_weights(j: int, dim: int = EMB_DIM) -> list[float]:
    return [float(((j * 31 + d * 7) % 11) - 5) for d in range(dim)]


def dot_col(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ, computed in double, sequential order."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k for each query id. Queries broadcast; candidates
    scanned once; per-query top-k via row_number window (Spark's sort-limit
    does partial top-k map-side)."""
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv")
    )
    c = emb.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cv"))
    pairs = F.broadcast(q).crossJoin(c).where(F.col("q_id") != F.col("cand_id"))
    sim = cosine_col(F.col("_qv"), F.col("_cv"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("cand_id").asc())
    return (
        pairs.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", F.round(F.col("_sim"), 6).alias("cosine"))
    )


def lsh_bucket_col(vec: Column, dim: int = EMB_DIM, n_planes: int = N_PLANES) -> Column:
    """Random-hyperplane sign bucket: bit j = (vec · wⱼ > 0)."""
    bucket = F.lit(0)
    for j in range(n_planes):
        w = F.array(*[F.lit(x) for x in plane_weights(j, dim)])
        d = dot_col(vec, w)
        bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket.cast("bigint")


def lsh_buckets(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", n_planes: int = N_PLANES
) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("vec_id"),
        lsh_bucket_col(F.col(vec_col), n_planes=n_planes).alias("bucket"),
    )


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    multiprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to buckets within hamming
    ``multiprobe`` of the query's LSH bucket — the equi-join scale path
    (bucket id is the shuffle key; only the tiny query side fans out to
    Σ_{h≤multiprobe} C(n_planes, h) probe rows, not the corpus)."""
    withb = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("_v"),
        lsh_bucket_col(F.col(vec_col), n_planes=n_planes).alias("bucket"),
    )
    q = withb.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("q_id"), F.col("_v").alias("_qv"), "bucket"
    )
    if multiprobe >= 1:
        # probe set = own bucket + every XOR mask of ≤ multiprobe set bits
        # (full hamming ball, not just single-bit flips); each candidate
        # lives in ONE bucket so no per-query dedup is needed. Probe count
        # is Σ_{h=0..multiprobe} C(n_planes, h) — query-side only.
        from itertools import combinations

        masks = [0]
        for h in range(1, min(multiprobe, n_planes) + 1):
            masks += [sum(1 << j for j in bits) for bits in combinations(range(n_planes), h)]
        probes = F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        q = q.select("q_id", "_qv", F.explode(probes).alias("bucket"))
    pairs = F.broadcast(q).join(withb, "bucket").where(F.col("q_id") != F.col("vec_id"))
    sim = cosine_col(F.col("_qv"), F.col("_v"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", F.col("vec_id").alias("cand_id"), F.round(F.col("_sim"), 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF ANN: k-means-trained coarse quantizer (centroid argmax) + nprobe
# search. Training is seeded and fully deterministic — init = the first
# IVF_K vectors, IVF_ITERS Lloyd rounds, per-round centroids rounded to
# 6 dp — so the DuckDB oracle reproduces the index bit-for-bit by running
# the identical iteration as nested CTEs.
# ---------------------------------------------------------------------------

IVF_K = 8  # lists; at 10⁹+ vectors use ~sqrt(n) lists (same API)
IVF_NPROBE = 2
IVF_ITERS = 2  # Lloyd rounds (assignment → element-wise mean)
CENT_ROUND = 6  # dp — keeps float sums engine-portable


def _seed_centroids(emb: DataFrame, id_col: str, vec_col: str, k_lists: int = IVF_K) -> DataFrame:
    return emb.where(F.col(id_col) < k_lists).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("_cw")
    )


def _assign_to(emb: DataFrame, cent: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vec_id, cid): max-cosine centroid per vector (ties → min cid)."""
    pairs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")).join(
        F.broadcast(cent)
    )
    sim = cosine_col(F.col("_v"), F.col("_cw"))
    best = (
        pairs.withColumn("_sim", sim)
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("_sim").alias("s"), (-F.col("cid")).alias("nc"))).alias("_m"))
    )
    return best.select("vec_id", (-F.col("_m.nc")).alias("cid"))


def trained_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = IVF_ITERS,
    k_lists: int = IVF_K,
) -> DataFrame:
    """(cid, _cw): seeded k-means. Per Lloyd round: ONE broadcast-join
    assignment + ONE posexplode/groupBy element-wise mean — the explode is
    dim× rows but partial-aggregated, and the centroid table (K×dim) stays
    driver-light. Components round to CENT_ROUND dp so summation-order
    float noise can't leak into the argmax (engine portability)."""
    cent = _seed_centroids(emb, id_col, vec_col, k_lists)
    for _ in range(iters):
        asg = _assign_to(emb, cent, id_col, vec_col)
        vecs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")).join(
            asg, "vec_id"
        )
        means = (
            vecs.select("cid", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), CENT_ROUND).alias("m"))
        )
        cent = means.groupBy("cid").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda x: x["m"]
            ).alias("_cw")
        )
        # K-row table: truncate the per-round lineage so the search plan
        # doesn't embed the whole training DAG twice per Lloyd round
        # (at production scale: train once, persist the centroid table)
        cent = cent.localCheckpoint()
    return cent


def ivf_assign(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_vec: bool = False,
    centroids: DataFrame | None = None,
    k_lists: int = IVF_K,
) -> DataFrame:
    """(vec_id, cid[, _v]): every vector joins its max-cosine centroid
    (ties → min cid). Centroid side broadcasts; one groupBy(vec_id) with a
    max-of-struct — the partition-build step of an IVF index.

    ``with_vec=True`` carries the vector through the aggregate
    (``any_value`` — constant within the group) so the search path needs
    no second corpus-sized join back to the embeddings. ``centroids``
    defaults to the k-means-trained table (at production scale, train
    once, persist, and pass the table in)."""
    cent = centroids if centroids is not None else trained_centroids(emb, id_col, vec_col, k_lists=k_lists)
    pairs = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_v")).join(
        F.broadcast(cent)
    )
    sim = cosine_col(F.col("_v"), F.col("_cw"))
    aggs = [
        F.max(F.struct(F.col("_sim").alias("s"), (-F.col("cid")).alias("nc"))).alias("_m")
    ]
    if with_vec:
        aggs.append(F.any_value(F.col("_v")).alias("_v"))
    best = pairs.withColumn("_sim", sim).groupBy("vec_id").agg(*aggs)
    cols = ["vec_id", (-F.col("_m.nc")).alias("cid")]
    if with_vec:
        cols.append(F.col("_v"))
    return best.select(*cols)


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    nprobe: int = IVF_NPROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_lists: int = IVF_K,
    iters: int = IVF_ITERS,
) -> DataFrame:
    """IVF search: each query probes its ``nprobe`` nearest centroid lists;
    exact cosine within the probed lists; per-query top-k. Every vector
    lives in exactly one list, so probe unions need no dedup."""
    cent = trained_centroids(emb, id_col, vec_col, iters=iters, k_lists=k_lists)
    lists = ivf_assign(emb, id_col, vec_col, with_vec=True, centroids=cent).select(
        F.col("vec_id").alias("cand_id"), "cid", F.col("_v").alias("_cv")
    )
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv")
    )
    probes = (
        F.broadcast(q)
        .join(F.broadcast(cent))
        .withColumn("_csim", cosine_col(F.col("_qv"), F.col("_cw")))
        .withColumn(
            "_pr",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("_csim").desc(), F.col("cid").asc())
            ),
        )
        .where(F.col("_pr") <= nprobe)
        .select("q_id", "_qv", "cid")
    )
    # probe table is #queries × nprobe rows — always the broadcast side
    cands = lists.join(F.broadcast(probes), "cid").where(F.col("cand_id") != F.col("q_id"))
    w = Window.partitionBy("q_id").orderBy(F.col("_sim").desc(), F.col("cand_id").asc())
    return (
        cands.withColumn("_sim", cosine_col(F.col("_qv"), F.col("_cv")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", F.round("_sim", 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-scale ANN tier. A vector is split
# into PQ_M subspaces; each subspace is vector-quantized by its own seeded
# k-means codebook, so a dim-64 float vector compresses to PQ_M small codes
# and search is ADC (asymmetric distance computation): the query computes a
# distance table to every codeword once, and a candidate's approximate
# distance is the SUM of PQ_M table lookups — no float vector is ever read
# at search time. At 10¹²-vector scale this is what makes the index fit in
# memory (8 bytes/vector at M=8, K'=256); the sandbox default K'=4 keeps
# the training CTEs oracle-sized (the parameters scale without code
# changes, same as IVF_K). Training mirrors trained_centroids: seeded init
# (first PQ_K vectors' subvectors), PQ_ITERS Lloyd rounds, 6-dp-rounded
# centroids AND 6-dp-rounded distances so the DuckDB oracle reproduces
# codes and rankings bit-for-bit. Long-format (m, code, pos, w) codebooks
# keep every step an equi join + partial aggregation in BOTH engines.
# Reference scope: Rasters.jl has no ANN; this is north-rule
# training-pipeline surface (similarity search scale path).
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces (dim 64 → 8 dims each)
PQ_K = 4  # codewords per subspace (256 in production — parameter, not code)
PQ_ITERS = 2
PQ_SUB = EMB_DIM // PQ_M


def _sub_dim(n_sub: int) -> int:
    """Subspace width for ``n_sub`` subspaces; rejects non-dividing values
    up front — a ragged final subspace would make the `_nm == n_sub`
    completeness filter silently drop EVERY candidate."""
    if n_sub < 1 or EMB_DIM % n_sub != 0:
        raise ValueError(f"n_sub={n_sub} must divide EMB_DIM={EMB_DIM}")
    return EMB_DIM // n_sub


def pq_subvectors(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = PQ_M,
) -> DataFrame:
    """(vec_id, m, pos, val): the vector unpivoted to subspace-long format —
    one posexplode, no shuffle. ``n_sub`` subspaces of EMB_DIM//n_sub dims."""
    sub = _sub_dim(n_sub)
    return emb.select(
        F.col(id_col).alias("vec_id"), F.posexplode(F.col(vec_col)).alias("_p", "val")
    ).select(
        "vec_id",
        (F.col("_p") / sub).cast("int").alias("m"),
        (F.col("_p") % sub).cast("int").alias("pos"),
        F.col("val").cast("double").alias("val"),
    )


def _pq_assign(subs: DataFrame, cent: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(vec_id[, *carry], m, code): argmin_code Σ_pos (val − w)², distances
    rounded to 6 dp before the argmin (ties → min code) for engine
    portability. ``carry`` rides extra per-vector-constant columns (e.g.
    the IVF list id) through the aggregation keys — cheaper than a second
    corpus-sized join to re-attach them afterwards."""
    j = subs.join(F.broadcast(cent), ["m", "pos"])
    d = (F.col("val") - F.col("w")) * (F.col("val") - F.col("w"))
    dists = j.groupBy("vec_id", *carry, "m", "code").agg(F.round(F.sum(d), 6).alias("_d"))
    best = dists.groupBy("vec_id", *carry, "m").agg(
        F.min(F.struct(F.col("_d").alias("d"), F.col("code").alias("c"))).alias("_b")
    )
    return best.select("vec_id", *carry, "m", F.col("_b.c").alias("code"))


def _pq_train(subs: DataFrame, k_codes: int, iters: int) -> DataFrame:
    """(m, code, pos, w) codebook from a (vec_id, m, pos, val) subspace-long
    table: seeded init (first k_codes vec_ids' subvectors), per Lloyd round
    one broadcast-join assignment + one partial-aggregated element-wise
    mean. K'×M×dim rows — metadata-scale, lineage-truncated per round."""
    cent = subs.where(F.col("vec_id") < k_codes).select(
        "m", F.col("vec_id").cast("int").alias("code"), "pos", F.col("val").alias("w")
    )
    for _ in range(iters):
        asg = _pq_assign(subs, cent)
        cent = (
            subs.join(asg, ["vec_id", "m"])
            .groupBy("m", "code", "pos")
            .agg(F.round(F.avg("val"), CENT_ROUND).alias("w"))
        )
        cent = cent.localCheckpoint()
    return cent


def pq_codebook(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = PQ_ITERS,
    k_codes: int = PQ_K,
) -> DataFrame:
    """(m, code, pos, w): per-subspace seeded k-means codebook over the RAW
    vectors (see :func:`ivfpq_topk` for the residual form clustered corpora
    need)."""
    return _pq_train(pq_subvectors(emb, id_col, vec_col), k_codes, iters)


def pq_encode(emb: DataFrame, codebook: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(vec_id, m, code): the compressed index — PQ_M codes per vector."""
    return _pq_assign(pq_subvectors(emb, id_col, vec_col), codebook)


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = PQ_ITERS,
    k_codes: int = PQ_K,
) -> DataFrame:
    """ADC search: queries build a (q_id, m, code, qdist) distance table to
    every codeword (|queries|×M×K' rows — always broadcast), candidates
    join their codes to the table on (m, code), and the approximate L2²
    distance is one SUM per (query, candidate) — the corpus contributes
    only its integer codes, never float vectors."""
    cb = pq_codebook(emb, id_col, vec_col, iters=iters, k_codes=k_codes)
    codes = pq_encode(emb, cb, id_col, vec_col)
    qsubs = pq_subvectors(emb.where(F.col(id_col).isin(query_ids)), id_col, vec_col)
    d = (F.col("val") - F.col("w")) * (F.col("val") - F.col("w"))
    qtab = (
        qsubs.withColumnRenamed("vec_id", "q_id")
        .join(F.broadcast(cb), ["m", "pos"])
        .groupBy("q_id", "m", "code")
        .agg(F.round(F.sum(d), 6).alias("_qd"))
    )
    cand = codes.join(F.broadcast(qtab), ["m", "code"]).where(
        F.col("vec_id") != F.col("q_id")
    )
    # the PQ_M table entries are 6-dp values: sum them as integer
    # micro-units so the total is exact and order-independent (a float sum
    # can land either side of a rounding boundary depending on partial-agg
    # order — engine-portability, same reason the codebook rounds)
    micro = F.round(F.col("_qd") * 1e6).cast("long")
    approx = cand.groupBy("q_id", F.col("vec_id").alias("cand_id")).agg(
        (F.sum(micro) / 1e6).alias("adist")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("cand_id").asc())
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "adist")
    )


def ivf_residuals(
    emb: DataFrame,
    cent: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k_lists: int = IVF_K,
) -> DataFrame:
    """(vec_id, cid, residual): v − centroid(cid) as ARRAYS after coarse
    IVF assignment — the training input for the OPQ-IVFADC rotation (Ge
    et al. 2013 §5 compose OPQ with IVFADC by learning R on the coarse
    RESIDUALS, whose distribution the coarse quantizer has already
    centered; a rotation learned on raw vectors optimizes the wrong
    distribution). Sample with ``.limit(n)`` and feed
    :func:`opq_train_rotation`."""
    if cent is None:
        cent = trained_centroids(emb, id_col, vec_col, k_lists=k_lists)
    asg = ivf_assign(emb, id_col, vec_col, with_vec=True, centroids=cent)
    return asg.join(F.broadcast(cent.select("cid", "_cw")), "cid").select(
        "vec_id",
        "cid",
        F.zip_with(
            "_v", "_cw", lambda a, b: a.cast("double") - b.cast("double")
        ).alias("residual"),
    )


def _residual_subs(
    emb: DataFrame,
    cent: DataFrame,
    id_col: str,
    vec_col: str,
    n_sub: int = PQ_M,
    rotation_rows: list[list[float]] | None = None,
) -> DataFrame:
    """(vec_id, cid, m, pos, val): subspace-long RESIDUALS v − centroid(cid)
    after coarse IVF assignment. On clustered corpora the coarse centroid
    absorbs the cluster offset, so the PQ codebook spends its codewords on
    the WITHIN-cluster structure — the reason IVFADC ranks where flat PQ
    ties (all same-cluster members share flat codes).

    ``rotation_rows`` applies an orthogonal rotation R to each residual
    BEFORE the subspace split (the OPQ-IVFADC composition): still a
    zero-shuffle projection; the query side must rotate with the same R.

    Both paths share :func:`ivf_residuals` (one broadcast join + array
    zip_with + one posexplode — the residual definition lives in ONE
    place; an earlier form re-derived it via a dim-long broadcast join)."""
    sub = _sub_dim(n_sub)
    arr = F.col("residual")
    if rotation_rows is not None:
        arr = rotate_vec_col(arr, rotation_rows)
    return (
        ivf_residuals(emb, cent, id_col, vec_col)
        .select("vec_id", "cid", F.posexplode(arr).alias("_p", "val"))
        .select(
            "vec_id",
            "cid",
            (F.col("_p") / sub).cast("int").alias("m"),
            (F.col("_p") % sub).cast("int").alias("pos"),
            "val",
        )
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 10,
    k_lists: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    k_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
    n_sub: int = PQ_M,
    rotation_rows: list[list[float]] | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ (IVFADC): coarse k-means lists + product quantization of the
    RESIDUALS, searched by asymmetric distance within the query's nprobe
    nearest lists. The index stores (cid, M codes) per vector; at search
    time the query computes ONE residual distance table per probed list
    (|queries| × nprobe × M × K' rows — always broadcast) and a candidate's
    approximate L2² is a SUM of M lookups. This is the memory-scale ANN
    design (Jégou et al., TPAMI 2011) — float vectors never touch the
    search path.

    ``rerank=R`` (IVFADC-R) keeps the ADC pass as a SHORTLIST generator:
    the top-R candidates per query (still codes-only) are re-ranked by
    exact L2² on the floats — the only point where vectors are read, and
    only |queries|×R of them (a broadcast-driven semi-join, never a corpus
    scan). ADC alone ranks poorly when quantization error rivals the
    true distance gaps (measured in tools/ann_recall.py); the re-ranked
    form is the production recipe.

    ``rotation_rows=R`` composes OPQ with IVFADC (Ge et al. 2013 §5):
    both the stored residuals and the query residuals are rotated by the
    same orthogonal R before the subspace split, so the PQ codebook
    quantizes a decorrelated distribution while ADC distances stay
    estimates of original-space L2² (R is an isometry). Train R on a
    residual sample via :func:`ivf_residuals` + :func:`opq_train_rotation`;
    the exact re-rank stage is untouched (it reads original floats).
    ``centroids`` reuses a pre-trained coarse table (train once, persist,
    pass it in — the same contract as :func:`ivf_assign`)."""
    cent = (
        centroids
        if centroids is not None
        else trained_centroids(emb, id_col, vec_col, k_lists=k_lists)
    )
    rsubs = _residual_subs(
        emb, cent, id_col, vec_col, n_sub=n_sub, rotation_rows=rotation_rows
    )
    cb = _pq_train(rsubs, k_codes, iters)
    # cid rides the assignment aggregate — no corpus-sized re-join
    codes = _pq_assign(rsubs, cb, carry=("cid",))
    # query side: nprobe nearest lists, residual vs EACH probed centroid
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qv")
    )
    probes = (
        F.broadcast(q)
        .join(F.broadcast(cent))
        .withColumn("_csim", cosine_col(F.col("_qv"), F.col("_cw")))
        .withColumn(
            "_pr",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.col("_csim").desc(), F.col("cid").asc())
            ),
        )
        .where(F.col("_pr") <= nprobe)
        .select("q_id", "_qv", "cid", "_cw")
    )
    sub = _sub_dim(n_sub)  # same split the index side (_residual_subs) used
    qdiff = F.zip_with("_qv", "_cw", lambda a, b: a.cast("double") - b.cast("double"))
    if rotation_rows is not None:
        qdiff = rotate_vec_col(qdiff, rotation_rows)  # same R as the index side
    q_res = probes.select(
        "q_id", "cid", F.posexplode(qdiff).alias("_p", "val")
    ).select(
        "q_id", "cid",
        (F.col("_p") / sub).cast("int").alias("m"),
        (F.col("_p") % sub).cast("int").alias("pos"),
        "val",
    )
    d = (F.col("val") - F.col("w")) * (F.col("val") - F.col("w"))
    qtab = (
        q_res.join(F.broadcast(cb), ["m", "pos"])
        .groupBy("q_id", "cid", "m", "code")
        .agg(F.round(F.sum(d), 6).alias("_qd"))
    )
    cand = codes.join(F.broadcast(qtab), ["cid", "m", "code"]).where(
        F.col("vec_id") != F.col("q_id")
    )
    micro = F.round(F.col("_qd") * 1e6).cast("long")
    approx = cand.groupBy("q_id", F.col("vec_id").alias("cand_id")).agg(
        (F.sum(micro) / 1e6).alias("adist"),
        F.count("*").alias("_nm"),
    ).where(F.col("_nm") == n_sub)  # candidate fully inside a probed list
    w = Window.partitionBy("q_id").orderBy(F.col("adist").asc(), F.col("cand_id").asc())
    if 0 < rerank < k:
        raise ValueError(
            f"rerank={rerank} < k={k}: the exact pass needs a shortlist of "
            f"at least k candidates (pass rerank=0 for codes-only ADC ranking)"
        )
    adc = (
        approx.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= (rerank if rerank > k else k))
        .select("q_id", "rank", "cand_id", "adist")
    )
    if rerank <= 0:
        return adc
    # exact re-rank of the shortlist: broadcast the (queries × R) id pairs
    # against the corpus — the ONLY float-vector read in the search path
    cvec = emb.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cv"))
    ex = (
        cvec.join(F.broadcast(adc.select("q_id", "cand_id")), "cand_id")
        .join(F.broadcast(q), "q_id")
    )
    diff = F.zip_with("_qv", "_cv", lambda a, b: a.cast("double") - b.cast("double"))
    # sequential Σdᵢ² fold — same accumulation order as DuckDB's
    # list_dot_product(d, d), so the oracle reproduces the double exactly
    l2 = F.round(dot_col(diff, diff), 6)
    w2 = Window.partitionBy("q_id").orderBy(F.col("dist").asc(), F.col("cand_id").asc())
    return (
        ex.withColumn("dist", l2)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "cand_id", "dist")
    )


# ---------------------------------------------------------------------------
# OPQ tier (Ge et al., CVPR 2013 "Optimized Product Quantization"): rotate
# vectors before the subspace split so quantization error is balanced
# across subspaces. Two rotations are provided:
#
# 1. :func:`hd_rotation_rows` — a STRUCTURED rotation R = H·D (normalized
#    Walsh–Hadamard × seeded ±1 diagonal, the FALCONN/Fastfood family):
#    entries are exactly ±1/√dim = ±0.125 (a power of two, so every
#    product is an exact float scaling) and the sign pattern derives from
#    md5 parity — both engines regenerate the SAME matrix from the rule,
#    which is what makes the ORACLED query possible (a data-learned matrix
#    cannot be recomputed in SQL).
# 2. :func:`opq_train_rotation` — the learned rotation: driver-side
#    alternation of PQ training and the orthogonal Procrustes solve on a
#    bounded sample (the paper's OPQ-NP). Production path: sample → learn
#    R once → apply as column math; recall evidence in tools/ann_recall.py.
#
# Applying R is a zero-shuffle projection (dim² multiply-adds per row in
# codegen); everything downstream reuses the PQ machinery unchanged —
# rotation is a bijective isometry, so ADC distances in rotated space
# estimate the original L2².
# ---------------------------------------------------------------------------

OPQ_SEED_NOTE = "HD rotation sign seed = md5(str(j)) first-8-hex parity"


def hd_rotation_rows(dim: int = EMB_DIM) -> list[list[float]]:
    """Rows of R = H·D: H[i][j] = ±1/√dim with sign = parity of
    popcount(i & j) (Walsh–Hadamard, dim must be a power of two);
    D[j][j] = ±1 from md5(str(j)) parity — the fixed seed the DuckDB
    oracle reproduces arithmetically."""
    import hashlib

    if dim & (dim - 1):
        raise ValueError(f"Hadamard rotation needs power-of-two dim, got {dim}")
    scale = dim ** -0.5  # 0.125 for dim 64 — exact in binary
    d = [
        1.0 if int(hashlib.md5(str(j).encode()).hexdigest()[:8], 16) % 2 == 0 else -1.0
        for j in range(dim)
    ]
    return [
        [
            scale * (1.0 if bin(i & j).count("1") % 2 == 0 else -1.0) * d[j]
            for j in range(dim)
        ]
        for i in range(dim)
    ]


def rotate_vec_col(vec: Column, rows: list[list[float]]) -> Column:
    """``R · vec`` as pure column math (zero shuffle). Each component sums
    its dim products as integer NANO-units (round(term·1e9)) so the total
    is exact and order-independent — the DuckDB oracle's relational SUM
    visits terms in arbitrary order, and a raw float sum could land either
    side of the 6-dp output rounding. Components come back as 6-dp
    doubles."""
    comps = []
    for row in rows:
        lits = F.array(*[F.lit(float(x)) for x in row])
        terms = F.zip_with(
            lits, vec, lambda a, b: F.round(a * b.cast("double") * 1e9).cast("long")
        )
        s = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: acc + x)
        comps.append(F.round(s / 1e9, 6))
    return F.array(*comps)


def rotate_embeddings(
    emb: DataFrame,
    rows: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding): the corpus under rotation R (default: the
    seeded HD rotation) — a projection, no shuffle."""
    if rows is None:
        rows = hd_rotation_rows()
    return emb.select(
        F.col(id_col), rotate_vec_col(F.col(vec_col), rows).alias(vec_col)
    )


def opq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    rows: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = PQ_ITERS,
    k_codes: int = PQ_K,
) -> DataFrame:
    """OPQ/ADC search: rotate (default HD), then the exact :func:`pq_topk`
    pipeline at equal M/K' — codebooks, codes, and distance tables all live
    in rotated space; ranks estimate original-space L2² because R is an
    isometry."""
    return pq_topk(
        rotate_embeddings(emb, rows, id_col, vec_col),
        query_ids,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        iters=iters,
        k_codes=k_codes,
    )


def opq_train_rotation(
    X,
    n_sub: int = PQ_M,
    k_codes: int = PQ_K,
    opq_iters: int = 10,
    lloyd_iters: int = 4,
):
    """Learn the OPQ-NP rotation on a driver-side sample (Ge et al. 2013,
    non-parametric alternation): repeat [train per-subspace k-means on
    X·Rᵀ → reconstruct → solve orthogonal Procrustes min‖X·Rᵀ − X̂‖F via
    SVD]. Deterministic: k-means seeds from the first k_codes sample rows
    (the same convention as the distributed `_pq_train`), no RNG. Returns
    (R_rows, mse_history); apply with
    ``rotate_embeddings(emb, rows=R_rows)``.

    ``X``: (n, dim) NumPy array — a SAMPLE (e.g. 5–50k rows collected once
    via ``df.limit(n)``); learning is O(n·dim²·iters) driver-side, the
    rotation then ships to executors as literals."""
    import numpy as np

    X = np.asarray(X, dtype=np.float64)
    n, dim = X.shape
    sub = dim // n_sub
    if dim % n_sub:
        raise ValueError(f"n_sub={n_sub} must divide dim={dim}")
    R = np.eye(dim)
    hist = []
    for _ in range(opq_iters):
        Y = X @ R.T
        # per-subspace Lloyd k-means, deterministically seeded
        Yhat = np.empty_like(Y)
        for m in range(n_sub):
            S = Y[:, m * sub : (m + 1) * sub]
            C = S[:k_codes].copy()
            for _ in range(lloyd_iters):
                d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                a = d2.argmin(axis=1)
                for c in range(k_codes):
                    sel = S[a == c]
                    if len(sel):
                        C[c] = sel.mean(axis=0)
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            Yhat[:, m * sub : (m + 1) * sub] = C[d2.argmin(axis=1)]
        hist.append(float(((Y - Yhat) ** 2).mean()))
        # Procrustes: min_R ‖X Rᵀ − Ŷ‖ → R = V Uᵀ from svd(Xᵀ Ŷ) = U S Vᵀ
        U, _s, Vt = np.linalg.svd(X.T @ Yhat)
        R = (U @ Vt).T
    return [[float(x) for x in row] for row in R], hist
