"""kNN via cell-ring expansion (north-rule operator; no reference analogue —
the reference's closest machinery is the `Near` selector, `src/lookup.jl`).

Exact k-nearest pages per query point, planar squared-degree distance
(engine-defined semantics so the brute-force oracle agrees bit-for-bit):

queries: projected to (q_id, qlat, qlon) and read once, by the phase-1
         ring join (not pinned: it is the one reader), so the caller's
         query plan runs once per call, inside the phase-1 pin;
phase 1: candidates from rings ≤ R0 around each query cell, R0 sized from
         global page density (one scalar aggregate, not a collect loop),
         plus one NULL candidate per query ranked last: each ring ends in
         cell -1, which only a sentinel page row has; the same window
         pass yields rank AND the kth distance, and when the implied exact
         radius R_q = ceil(sqrt(d_k)/step)+1 fits in R0 the top-k is
         emitted DIRECTLY from the pinned phase-1 top-k — the common case
         costs one pages scan and one q_id exchange. Every query has a
         rank-1 row there (the NULL row when it has no candidate), and R_q
         is constant within a query, so the rank-1 rows are the later
         tiers' query table: no aggregate, no join back to the queries;
routing: the eager phase-1 pin counts, in its own pass (an Observation
         over the rank-1 rows), the queries each later tier needs, and a
         tier is planned only when its count is nonzero — a batch phase 1
         fully answers returns a plan with no ring or brute subtree;
phase 2: queries whose radius GREW past R0 (up to RING_MAX) re-join rings
         ≤ R_q;
brute tier: queries phase 2 cannot satisfy within RING_MAX cells (<k
         candidates in R0, or R_q would exceed RING_MAX) fall back to ONE
         broadcast-nested-loop pass over pages — rare by construction
         (density-sized R0), bounded memory (no grid-sized ring arrays),
         still exact.

Phase 2 guarantees exactness: any page closer than the phase-1 kth distance
lies within R_q rings of the query cell. All fan-out is `explode` of
generated ring arrays capped at (2·RING_MAX+1)² elements — no driver
iteration, scales with #queries.

Not lazy: phase 1 is pinned inside `knn_pages()` (under AQE its
broadcast, shuffle-map and result stages); the returned frame's action
reads the pinned top-k plus whichever later tiers were planned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from rasters_jl_spark.grid import WebGrid
from rasters_jl_spark.session import local_df

# largest ring radius (in cells) the explode path will materialize:
# (2·64+1)² = 16,641 array elements per query row — past this, exactness
# comes from the brute tier instead of a grid-sized ring array
RING_MAX = 64

# largest exploded queries×ring-cells row count the broadcast hint is
# allowed to cover (~40 B/row → a few hundred MB relation): past this a
# forced broadcast risks exceeding Spark's broadcast relation limit and
# OOMing the driver, so the join falls back to a shuffle — correct either
# way, the hint is purely a physical-plan choice
BROADCAST_ROWS_MAX = 4_000_000


def _ring_candidates(
    queries: DataFrame,
    pages: DataFrame,
    g: WebGrid,
    radius: str,
    exploded_rows_est: int | None = None,
) -> DataFrame:
    # Each ring ends in cell -1, which no page has (cells are >= 0) but the
    # one sentinel page row (-1, NULL, NULL, NULL) unioned into the pages:
    # every query meets it once, so it has one NULL candidate (dist2 NULL)
    # from the join itself, zero real candidates included
    cells = f"concat({g.ring_cells_sql('_qcell', radius)}, array(CAST(-1 AS BIGINT)))"
    q = queries.withColumn("_qcell", g.cell_col("qlon", "qlat"))
    q = q.select("q_id", "qlat", "qlon", F.explode(F.expr(cells)).alias("cell"))
    p = pages.select(
        "cell", F.col("doc_id").alias("doc_id"), F.col("lat").alias("_plat"), F.col("lon").alias("_plon")
    )
    nullable = StructType([StructField(f.name, f.dataType, True) for f in p.schema])
    p = p.unionByName(local_df(pages.sparkSession, [(-1, None, None, None)], nullable))
    # The query side is the caller's plan (phase 1) or a filter of the
    # phase-1 pin (phase 2), exploded: Spark can't see when it's small and
    # plans a sort-merge join that shuffles the whole pages table. But the
    # hint is only safe when the exploded side actually fits in a
    # broadcast relation: the caller passes its row estimate (queries ×
    # ring cells) and past BROADCAST_ROWS_MAX the hint is withheld
    # (many-query phase-1 at r0=RING_MAX would otherwise force a multi-GB
    # broadcast and fail where the shuffle join works).
    if exploded_rows_est is None or exploded_rows_est <= BROADCAST_ROWS_MAX:
        q = F.broadcast(q)
    return q.join(p, "cell").withColumn("dist2", _dist2())


def _dist2():
    return (F.col("_plat") - F.col("qlat")) * (F.col("_plat") - F.col("qlat")) + (
        F.col("_plon") - F.col("qlon")
    ) * (F.col("_plon") - F.col("qlon"))


def _top_k(cand: DataFrame, w: Window, k: int) -> DataFrame:
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "rank", "doc_id", "dist2")
    )


def knn_pages(
    queries: DataFrame,
    pages: DataFrame,
    k: int = 5,
    res: int | None = None,
    n_pages: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """For each (q_id, qlat, qlon) query row: the k nearest pages.

    ``pages`` must carry (doc_id, lat, lon, cell) with ``cell`` at
    resolution ``res``; left None, ``res`` is ``grid.PAGES_RES``, not read
    from the cell column. A ``res`` other than the cell column's gives
    wrong neighbours: the rings are built on the wrong grid.
    ``n_pages`` sizes the phase-1 ring radius from density; ``n_queries``
    gates the phase-1 broadcast hint (exploded queries×ring-cells rows
    must fit in a broadcast relation). Both are sizing hints only: which
    tiers run is decided from the pinned data, never from them. Pass the
    catalog row counts when known (at 10¹² scale that's table statistics,
    not an online count) — left None, one count() action each runs here.
    The phase-1 pin, which also counts the later tiers' queries, runs
    inside this call, and the query side is read once, by it (see the
    module docstring). Returns (q_id, rank, doc_id, dist2).
    """
    from rasters_jl_spark.grid import PAGES_RES

    g = WebGrid(res if res is not None else PAGES_RES)
    q = queries.select("q_id", "qlat", "qlon")
    if n_pages is None:
        n_pages = pages.count()  # one scalar action to size R0 from density
    if n_queries is None:
        n_queries = q.count()  # sizes the phase-1 broadcast gate
    density = max(n_pages, 1) / float(g.nx * g.ny)
    import math

    # Expected kth-neighbour radius in CELL units at this density, sized
    # with the SAME +1 cell-position margin as the phase-2 exactness
    # radius (rf = ceil(dist/step) + 1): r0 must be able to SATISFY the
    # done-test rf <= r0, and rf is never below 2, so a floor of 2 keeps
    # the common case inside phase 1 (r3's /2-sized r0=1 sent 100% of
    # uniform-density queries to a second pages pass).
    r0 = int(math.ceil(math.sqrt((k + 4) / max(density, 1e-12)))) + 1
    r0 = min(max(r0, 2), max(g.nx, g.ny), RING_MAX)

    # dist2 is NULL only on the one NULL candidate per query (the ring's
    # cell -1): nulls last ranks it after every real candidate
    w = Window.partitionBy("q_id").orderBy(F.col("dist2").asc_nulls_last(), F.col("doc_id").asc())

    # Phase 1 doubles as the ANSWER for queries whose exact radius fits in
    # r0: rank + per-query kth distance come from ONE window pass, and when
    # _rf <= r0 every page that could beat the kth candidate already sits
    # in the phase-1 ring set — output directly, no second pages scan.
    # Only queries whose radius GREW past r0 (or found <k candidates) go
    # to phase 2 / brute.
    #
    # The rank filter comes FIRST (its own projection step) so Spark's
    # InferWindowGroupLimit rewrites it into a partial top-k that runs
    # map-side BEFORE the q_id exchange: the shuffle carries k rows per
    # (query, map partition) instead of every ring candidate — at corpus
    # scale the exchange payload drops from density×(2r0+1)² rows per
    # query to k per partition. _dk (the kth distance) is then a window
    # max over the ≤k surviving rows — same value as computing it over
    # the full candidate set, since the rank-k row survives the filter.
    #
    # Every query's NULL candidate (see _ring_candidates) gives it a
    # rank-1 row carrying (q_id, qlat, qlon, _rf), zero candidates
    # included. A query with <k real candidates ranks its NULL row at or
    # before k, so its rank-k dist2 — hence _dk and _rf — is NULL and it
    # routes to brute; with ≥k the NULL row ranks past k and the rank
    # filter drops it (so too in phase 2, whose queries have ≥k).
    cand1 = _ring_candidates(
        q, pages, g, str(r0), exploded_rows_est=n_queries * (2 * r0 + 1) ** 2
    )
    rf_need = (F.ceil(F.sqrt(F.col("_dk")) / F.lit(g.step)) + 1).cast("int")
    topk = cand1.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    dk = F.max(F.when(F.col("_rn") == k, F.col("dist2"))).over(Window.partitionBy("q_id"))
    c = topk.withColumn("_dk", dk).withColumn("_rf", rf_need)
    needs_ring = (F.col("_rf") > r0) & (F.col("_rf") <= RING_MAX)
    needs_brute = F.col("_rf").isNull() | (F.col("_rf") > RING_MAX)
    head = F.col("_rn") == 1
    # Pin the per-query top-k once: the direct output and both later tiers
    # read it, and AQE's stage dedup does not reuse identical exchanges
    # across them, so unpinned the corpus candidate join would run per
    # consumer. The table is ≤k rows per query (bounded query metadata,
    # the pagerank-checkpoint class), so the pin is metadata-sized at any
    # corpus scale. The pin runs here, and its one pass also counts, over
    # the rank-1 rows, the queries each later tier needs (an unnamed
    # Observation: named ones collide across concurrent calls); a tier is
    # planned only when its count is nonzero, so a batch phase 1 fully
    # answers returns a plan with no second pages scan.
    obs = Observation()
    c = c.observe(
        obs,
        F.count(F.when(head & needs_ring, 1)).alias("ring"),
        F.count(F.when(head & needs_brute, 1)).alias("brute"),
    ).localCheckpoint()
    n_ring, n_brute = obs.get["ring"], obs.get["brute"]
    out = c.where(F.col("_rf") <= r0).select(
        "q_id", F.col("_rn").alias("rank"), "doc_id", "dist2"
    )

    if n_ring:
        # phase 2: the broadcast gate sizes the exploded side from the
        # counted escalations at the RING_MAX worst case; when it withholds
        # the hint, AQE can still re-plan the shuffle join as a broadcast
        # join from the materialised exchange stats
        cand2 = _ring_candidates(
            c.where(head & needs_ring),
            pages,
            g,
            "_rf",
            exploded_rows_est=n_ring * (2 * RING_MAX + 1) ** 2,
        )
        # (q_id, doc_id) is already unique in cand2: ring_cells_sql emits
        # each in-bounds cell id exactly once (offsets are clipped, never
        # wrapped), and a page lives in one cell — so no dedup pass is
        # needed before the top-k window
        out = out.unionByName(_top_k(cand2, w, k))
    if n_brute:
        # brute tier: one pages pass against the (rare, tiny) unsatisfied
        # queries — broadcast-nested-loop, no ring arrays at any resolution
        bq = F.broadcast(c.where(head & needs_brute).select("q_id", "qlat", "qlon"))
        p = pages.select("doc_id", F.col("lat").alias("_plat"), F.col("lon").alias("_plon"))
        out = out.unionByName(_top_k(bq.crossJoin(p).withColumn("dist2", _dist2()), w, k))
    return out
