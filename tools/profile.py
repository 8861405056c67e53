"""One plan/profile record per query.

    SPARK_GRAFT_SF_DIR=<sf dir> python tools/profile.py [--plans DIR] NAME [NAME ...]

A NAME is a piece of the frozen ``bench.py`` suite, built from
``bench.expanded_pages`` as ``bench.py`` builds it (``pages``, ``q1``-``q6``;
``q2_cand`` is q2's cover join without the PIP refinement, ``q6_sig`` and
``q6_cand`` are q6's signature and candidate-pair stages), or any
``REGISTRY`` query. Environment: ``SPARK_GRAFT_SF_DIR`` (required),
``SPARK_GRAFT_CPUS`` (the session's cores, default 32),
``SPARK_GRAFT_BENCH_TRIALS`` (default 3) and, for the bench pieces,
``SPARK_GRAFT_BENCH_EXPAND`` (read by ``bench.py``).

Each trial builds the DataFrame afresh under its own job group, so AQE
shuffle reuse never short-circuits a trial, and runs its physical plan to
the end on the JVM: rows are counted there and none go to Python. The
timed wall covers the build too, as driver-side planning and the actions
an operator runs while building its plan are part of its cost. One JSON
line per name, for the trial with the least wall:

- ``wall_s`` (min of the trials) and ``walls``; ``rows``;
- ``jobs``, ``stages``, ``tasks`` Spark ran under the trial's job group;
- ``shuffle_read_b``, ``shuffle_write_b`` summed over those stages, and
  ``top_stage``, the stage with the most executor run time;
- ``driver_s``: wall minus the union of the job intervals, the time no
  Spark job of the trial was running;
- ``plan``: operator counts of the final AQE plan (:func:`summarize`).

``--plans DIR`` writes each name's executed plan to ``DIR/<name>.txt``: the
formatted explain, which holds the final and the initial plan, then the
simple one.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# this checkout's package first; and without tools/ on the path, as this
# file would shadow the standard library's profile module (cProfile imports it)
sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p).resolve() != ROOT / "tools"]

BENCH_PIECES = ("pages", "q1", "q2", "q2_cand", "q3", "q4", "q5", "q6", "q6_sig", "q6_cand")


def builder(spark, sf_dir: str, name: str):
    """A zero-argument function that builds ``name``'s DataFrame afresh.
    Setup the piece needs once (q4 caches its page projection) runs here,
    outside any trial."""
    from pyspark.sql import functions as F

    from rasters_jl_spark import fixtures as FX

    if name not in BENCH_PIECES:
        from rasters_jl_spark.registry import REGISTRY

        fn, _ = REGISTRY[name]
        return lambda: fn(spark, sf_dir)

    from bench import expanded_pages
    from rasters_jl_spark.functions import dedup
    from rasters_jl_spark.functions.geometry import polygon_cover_df
    from rasters_jl_spark.grid import COVER_RES, PAGES_RES, WebGrid
    from rasters_jl_spark.operators.knn import knn_pages
    from rasters_jl_spark.operators.zonal import spatial_join_pages, zonal_pages
    from rasters_jl_spark.queries_text import _aug_near, q_dedup_minhash
    from rasters_jl_spark.sources.pages import lat_col, lon_col

    def pages():
        return expanded_pages(spark, sf_dir)

    def q2_cand():
        p = pages().withColumn("_cover_cell", WebGrid(COVER_RES).cell_col(F.col("lon"), F.col("lat")))
        cover = polygon_cover_df(spark, FX.POLYS_GEO)
        return p.join(F.broadcast(cover), p["_cover_cell"] == cover["cover_cell"])

    if name == "q4":
        # bench.py's q4: 50 queries against a cached page projection
        p_knn = pages().select("doc_id", "lat", "lon", "cell").cache()
        n_pages = p_knn.count()
        ids = spark.range(FX.KNN_ID_BASE, FX.KNN_ID_BASE + 50)
        qdf = ids.select(
            (F.col("id") - FX.KNN_ID_BASE).alias("q_id"),
            lat_col(F.col("id")).alias("qlat"),
            lon_col(F.col("id")).alias("qlon"),
        )
        return lambda: knn_pages(qdf, p_knn, k=5, res=PAGES_RES, n_pages=n_pages, n_queries=50)
    return {
        "pages": pages,
        "q1": lambda: zonal_pages(pages(), FX.POLYS_GEO, value_col="n_chars"),
        "q2": lambda: spatial_join_pages(pages(), FX.POLYS_GEO),
        "q2_cand": q2_cand,
        "q3": lambda: zonal_pages(pages(), FX.POLYS_GEO, n_salt=8),
        "q5": lambda: pages().groupBy("tile_id").agg(F.count("*").alias("n"), F.sum("n_chars").alias("s")),
        "q6": lambda: q_dedup_minhash(spark, sf_dir),
        "q6_sig": lambda: dedup.minhash_signatures(_aug_near(spark, sf_dir)),
        "q6_cand": lambda: dedup.minhash_candidate_pairs(_aug_near(spark, sf_dir)),
    }[name]


def final_plan(formatted: str) -> str:
    """The final-plan part of an executed AQE plan's formatted explain: the
    text also holds the initial plan's tree and the details of nodes that
    are only in that tree."""
    tree, _, details = formatted.partition("\n\n\n")
    final, marker, initial = tree.partition("== Initial Plan ==")
    if not marker:
        return formatted
    stale = set(re.findall(r"\((\d+)\)", initial)) - set(re.findall(r"\((\d+)\)", final))

    def node_id(block):
        m = re.match(r"\((\d+)\) ", block)
        return m and m.group(1)

    keep = [b for b in details.split("\n\n") if node_id(b) not in stale]
    return final + "\n\n\n" + "\n\n".join(keep)


def summarize(plan: str, simple: str) -> dict[str, int]:
    """Operator counts of a formatted plan; a node counts once in the tree
    and once in the details where both name it. ``CodegenSpans`` counts
    the whole-stage codegen stages ``*(N)`` of the simple plan."""
    return {
        "ShuffleExchange": len(re.findall(r"hashpartitioning|rangepartitioning", plan)),
        "BroadcastExchange": len(re.findall(r"BroadcastExchange", plan)),
        "BroadcastHashJoin": len(re.findall(r"BroadcastHashJoin", plan)),
        "SortMergeJoin": len(re.findall(r"SortMergeJoin", plan)),
        "BroadcastNestedLoop": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "CodegenSpans": len(set(re.findall(r"\*\((\d+)\)", simple))),
        "Python/ArrowEval": len(re.findall(r"ArrowEvalPython|BatchEvalPython|PythonUDF", plan)),
        "PushedFilters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "HashAggregate": len(re.findall(r"\) HashAggregate", plan)),
    }


def covered_s(spans: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``spans`` within [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total, end = total + b - a, b
    return total


def job_stats(spark, group: str, t0: float, t1: float) -> dict:
    """Jobs, stages and tasks under job group ``group`` (StatusTracker, as
    the benchmark's tracer counts them), and from the JVM status store their
    shuffle bytes, top stage and the driver-only part of [t0, t1]."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    job_ids = st.getJobIdsForGroup(group)
    stage_ids, n_stages, n_tasks = set(), 0, 0
    for j in job_ids:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                stage_ids.add(s)
                n_stages += 1
                n_tasks += si.numTasks
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList([])
    spans = []
    for j in (jobs.apply(i) for i in range(jobs.size())):
        if j.jobId() in job_ids and j.submissionTime().isDefined() and j.completionTime().isDefined():
            spans.append((j.submissionTime().get().getTime() / 1e3, j.completionTime().get().getTime() / 1e3))
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList([], False, False, no_quantiles, [])
    mine = [s for s in (stages.apply(i) for i in range(stages.size())) if s.stageId() in stage_ids]
    top = max(mine, key=lambda s: s.executorRunTime(), default=None)
    return {
        "jobs": len(job_ids),
        "stages": n_stages,
        "tasks": n_tasks,
        "shuffle_read_b": sum(s.shuffleReadBytes() for s in mine),
        "shuffle_write_b": sum(s.shuffleWriteBytes() for s in mine),
        "top_stage": top and {
            "stage": top.stageId(),
            "tasks": top.numTasks(),
            "run_s": round(top.executorRunTime() / 1e3, 3),
            "shuffle_read_b": top.shuffleReadBytes(),
            "shuffle_write_b": top.shuffleWriteBytes(),
        },
        "driver_s": round(max(t1 - t0 - covered_s(spans, t0, t1), 0.0), 3),
    }


def profile(spark, name: str, build, trials: int) -> tuple[dict, str]:
    """(record, plan text) of ``trials`` runs of ``build``'s DataFrame."""
    sc = spark.sparkContext
    runs = []
    for i in range(trials):
        group = f"profile:{name}:{i}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        df = build()
        rows = df._jdf.queryExecution().toRdd().count()
        t1 = time.time()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        runs.append((t1 - t0, t0, t1, group, df, rows))
    wall, t0, t1, group, df, rows = min(runs, key=lambda r: r[0])
    explain = sc._jvm.PythonSQLUtils.explainString
    formatted = explain(df._jdf.queryExecution(), "formatted")
    simple = explain(df._jdf.queryExecution(), "simple")
    record = {
        "name": name,
        "wall_s": round(wall, 3),
        "walls": [round(r[0], 3) for r in runs],
        "rows": rows,
        **job_stats(spark, group, t0, t1),
        "plan": summarize(final_plan(formatted), simple),
    }
    return record, formatted + "\n" + simple


def main():
    from rasters_jl_spark.registry import REGISTRY

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--plans", metavar="DIR", help="write each name's executed plan to DIR/<name>.txt")
    args = ap.parse_args()
    unknown = [n for n in args.names if n not in BENCH_PIECES and n not in REGISTRY]
    if unknown:
        ap.error(f"not a bench piece or registry query: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR") or ap.error("SPARK_GRAFT_SF_DIR is not set")
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    # Python workers (UDFs) import this checkout's package too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))

    from rasters_jl_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    for name in args.names:
        record, plans = profile(spark, name, builder(spark, sf_dir, name), trials)
        print(json.dumps(record), flush=True)
        if args.plans:
            Path(args.plans, f"{name}.txt").write_text(plans)


if __name__ == "__main__":
    main()
