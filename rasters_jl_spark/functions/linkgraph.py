"""Host link graph + integer-quantized PageRank.

The web-corpus quality signal the crawl pipelines actually compute (host-
level rank over the hyperlink graph, used as a document quality prior —
the Common Crawl host-rank shape). Composes with `functions/html.py::
extract_links_col` (href extraction) → host edges → rank iterations.

Determinism at scale: ranks live in INTEGER units end-to-end. Per
iteration each node sends ``rank_u DIV outdeg`` to its successors; the
per-destination SUM is over BIGINTs, so shuffle/partial-agg order can
never perturb a single unit — the same discipline as the LM nano-unit
scores, applied to iterative message passing. Dangling mass (nodes with
no outlinks) redistributes as ``dang_u DIV n`` to every node, and the
damping update is ``tele_u + (d_pct·(in_u + share)) DIV 100`` — all
integer ops, so Spark and the unrolled-CTE DuckDB oracle agree bit-for-
bit. (Both engines' integer division floors for the non-negative values
ranks are; quantization floor-loss drains a few units per iteration into
nowhere — the price of exactness, irrelevant at 1e9 units.)

Spark shape per iteration: one broadcast-or-shuffle join of the edge list
with the rank table + one groupBy(dst) with map-side partial agg — the
textbook distributed PageRank step. The node count is the single bounded
driver action (one scalar — host-table class). For deep iteration counts
the rank table is `localCheckpoint`ed every round (the
`connected_components` lineage discipline — without it the unrolled plan
re-derives the previous round twice per iteration and the tree doubles
each round); the registry query runs the conventional fixed low
iteration count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PR_UNITS = 1_000_000_000
PR_D_PCT = 85  # damping 0.85 as integer percent
PR_ITERS = 3


def pagerank(
    edges: DataFrame,
    iters: int = PR_ITERS,
    units: int = PR_UNITS,
    d_pct: int = PR_D_PCT,
) -> DataFrame:
    """(node, rank_u) after ``iters`` quantized power iterations over a
    DISTINCT (src, dst) edge list. rank_u ≈ units · pagerank(node)."""
    # localCheckpoint every iteration (the connected_components lineage
    # discipline): without it the unrolled plan re-derives ranks_{i-1}
    # TWICE per iteration (contrib + dangling), doubling the tree each
    # round — audited at 84 exchanges for 3 iterations vs 2-3 per round
    # checkpointed. Edge/node/outdeg tables checkpoint once.
    edges = edges.localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("outdeg")
    ).localCheckpoint()
    n = nodes.count()  # bounded: one scalar over the host table
    base_u = units // n
    tele_u = ((100 - d_pct) * base_u) // 100
    ranks = nodes.select("node", F.lit(base_u).cast("long").alias("rank_u"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_u DIV outdeg").alias("cu"),
            )
            .groupBy("node")
            .agg(F.sum("cu").alias("in_u"))
        )
        dang = ranks.join(
            outdeg, ranks["node"] == outdeg["src"], "left_anti"
        ).agg(F.coalesce(F.sum("rank_u"), F.lit(0)).cast("long").alias("dang_u"))
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "node",
                (
                    F.lit(tele_u)
                    + F.expr(
                        f"({d_pct} * (coalesce(in_u, CAST(0 AS BIGINT))"
                        f" + (dang_u DIV {n}))) DIV 100"
                    )
                ).cast("long").alias("rank_u"),
            )
        ).localCheckpoint()
    return ranks


def pagerank_sql(
    edges_cte: str,
    iters: int = PR_ITERS,
    units: int = PR_UNITS,
    d_pct: int = PR_D_PCT,
) -> str:
    """DuckDB twin: unrolled power iterations as chained CTEs over a CTE
    named ``edges (src, dst)`` supplied by ``edges_cte`` (which must also
    define any upstream CTEs it needs). Integer ops mirror :func:`pagerank`
    exactly (``//`` floors; ranks are non-negative so it equals Spark DIV).
    """
    ctes = [
        edges_cte,
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src)",
        f"r0 AS (SELECT node, CAST({units} // nn.n AS BIGINT) AS rank_u "
        f"FROM nodes CROSS JOIN nn)",
    ]
    tele = f"((({100 - d_pct}) * ({units} // nn.n)) // 100)"
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"c{i} AS (SELECT e.dst AS node, "
            f"CAST(SUM(r.rank_u // o.od) AS BIGINT) AS in_u "
            f"FROM edges e JOIN {p} r ON r.node = e.src "
            f"JOIN outdeg o ON o.src = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"d{i} AS (SELECT CAST(COALESCE(SUM(rank_u), 0) AS BIGINT) AS dang_u "
            f"FROM {p} WHERE node NOT IN (SELECT src FROM outdeg))"
        )
        ctes.append(
            f"r{i} AS (SELECT n0.node, CAST({tele} + "
            f"(({d_pct} * (COALESCE(c{i}.in_u, 0) + (d{i}.dang_u // nn.n))) // 100) "
            f"AS BIGINT) AS rank_u "
            f"FROM nodes n0 LEFT JOIN c{i} ON c{i}.node = n0.node "
            f"CROSS JOIN d{i} CROSS JOIN nn)"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT node, rank_u FROM r{iters}"
