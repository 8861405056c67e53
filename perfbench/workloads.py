"""The closed-loop workloads and the per-layer probes of the traced run.

Each workload writes the seeded corpus once per set-up round, then runs one
kind of operation back to back. Every operation builds a fresh DataFrame
(re-collecting the same one would reuse AQE shuffle output) and every
result is checked against a NumPy oracle.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.functions.geometry import polygon_cover_df
from rasters_jl_spark.grid import COVER_RES, PAGES_RES, TILE_RES, WebGrid
from rasters_jl_spark.operators.knn import knn_pages
from rasters_jl_spark.operators.zonal import merge_zonal_partials, spatial_join_pages, zonal_pages
from rasters_jl_spark.plans.lineage import run_tiles_resumable
from rasters_jl_spark.sources.catalog import read_table, write_table
from rasters_jl_spark.sources.pages import lat_col, lon_col

from inputs import Inputs, knn_golden, zonal_golden
from tracing import median

KNN_QUERIES = 48
KNN_KS = (5, 50)  # k alternates between batches
LEDGER_TILES_PER_BATCH = 128
QUERY_SCHEMA = "q_id long, qlat double, qlon double"


class SetupError(RuntimeError):
    """The seeded corpus did not read back as written."""


def zonal_rows_ok(rows, golden: dict) -> bool:
    """Rows of zonal_pages / merge_zonal_partials equal the oracle."""
    if sorted(r["geom_id"] for r in rows) != sorted(golden):
        return False
    for r in rows:
        n, s, lo, hi = golden[r["geom_id"]]
        if (r["n_pages"], r["sum_val"], r["min_val"], r["max_val"]) != (n, s, lo, hi):
            return False
        mean = r["mean_val"]
        if n == 0:
            if mean is not None:
                return False
        elif mean is None or abs(mean - s / n) > 1e-9 * abs(s / n):
            return False
    return True


def knn_rows_ok(q, k: int, rows) -> dict | None:
    """n_q x k rows, ranks 1..k per query, dist2 non-decreasing with rank.
    Returns the per-query (rank, dist2, doc_id) lists, or None."""
    if len(rows) != len(q) * k:
        return None
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["dist2"], r["doc_id"]))
    if sorted(by_q) != [qq[0] for qq in q]:
        return None
    for hits in by_q.values():
        hits.sort()
        if [h[0] for h in hits] != list(range(1, k + 1)):
            return None
        if any(a[1] > b[1] for a, b in zip(hits, hits[1:])):
            return None
    return by_q


class Workload:
    """Corpus set-up shared by the workloads, and the per-layer probes."""

    name = ""
    warmup = 0  # ops run after set-up and before the timed window
    zonal_polys: list = FX.POLYS_GEO

    def __init__(self, inputs: Inputs, work: str, tracer):
        self.inputs = inputs
        self.work = work
        self.tr = tracer
        self.corpus = os.path.join(work, "corpus")
        self.spark = None
        self.knn_rows: list[int] = []  # rows of traced k=max(KNN_KS) batches
        self.probe_checks: dict[str, bool] = {}

    # ---- set-up ----
    def setup(self, spark) -> None:
        """One set-up round on a fresh session: corpus written and read back."""
        self.spark = spark
        with self.tr.span("corpus.write"):
            write_table(self.inputs.corpus_df(spark), self.corpus, "overwrite")
        with self.tr.span("scan.read"):
            n = read_table(spark, self.corpus).count()
        if n != self.inputs.n_pages:
            raise SetupError(f"corpus read back {n} rows, wrote {self.inputs.n_pages}")

    def pages(self):
        """The sources layer: parquet scan plus geotag, cell and tile columns."""
        g = WebGrid(PAGES_RES)
        p = read_table(self.spark, self.corpus)
        p = p.withColumn("lat", lat_col(F.col("doc_id"))).withColumn("lon", lon_col(F.col("doc_id")))
        p = p.withColumn("cell", g.cell_col(F.col("lon"), F.col("lat")))
        return p.withColumn("tile_id", g.parent_cell_col(F.col("cell"), TILE_RES))

    def prepare(self) -> None:
        """Untimed, after set-up: oracles for the checks."""

    def finish(self) -> set[int]:
        """Untimed checks made once per run; returns the ids of failed ops."""
        return set()

    # ---- traced-run probes: the same metric set on every workload ----
    def probes(self) -> dict[str, float]:
        m: dict[str, float] = {}
        m.update(self._probe_scan())
        m.update(self._probe_zonal())
        m.update(self._probe_knn())
        m.update(self._probe_lineage())
        return m

    def _timed(self, name: str, fn):
        with self.tr.span(name) as s:
            out = fn()
        return s["end"] - s["start"], out

    def _probe_scan(self) -> dict[str, float]:
        walls, rows = [], 0
        for _ in range(3):
            t, r = self._timed(
                "probe.scan",
                lambda: self.pages()
                .agg(F.count("*").alias("n"), F.max("cell"), F.max("tile_id"), F.sum("n_chars"))
                .first(),
            )
            walls.append(t)
            rows = r["n"]
        return {"scan.exec_s": median(walls), "scan.rows": rows}

    def _probe_zonal(self) -> dict[str, float]:
        polys = self.zonal_polys
        golden = zonal_golden(self.inputs, polys)
        builds = [self._timed("probe.cover_build", lambda: spatial_join_pages(self.pages(), polys))[0] for _ in range(3)]
        cover = polygon_cover_df(self.spark, polys)
        per_geom = cover.groupBy("geom_id").count().collect()
        n_edges = {p.geom_id: len(p.edges) for p in polys}
        cc = WebGrid(COVER_RES)

        def candidates():
            p = self.pages().withColumn("_cc", cc.cell_col(F.col("lon"), F.col("lat")))
            return p.join(F.broadcast(cover), p["_cc"] == cover["cover_cell"]).count()

        _, n_cand = self._timed("probe.candidates", candidates)
        t_join, n_surv = self._timed("probe.join", lambda: spatial_join_pages(self.pages(), polys).count())
        # a page inside k polygons is k survivors and counts in k zones
        self.probe_checks["zonal.pip_survivors"] = n_surv == sum(v[0] for v in golden.values())
        if not self.tr.durations("zonal.exec"):
            with self.tr.span("zonal.plan"):
                df = zonal_pages(self.pages(), polys)
                df._jdf.queryExecution().executedPlan()
            _, rows = self._timed("zonal.exec", df.collect)
            self.probe_checks["zonal.rows"] = zonal_rows_ok(rows, golden)
        return {
            "geometry.cover_build_s": median(builds),
            "geometry.cover_rows": sum(r["count"] for r in per_geom),
            "geometry.edge_structs": sum(r["count"] * n_edges[r["geom_id"]] for r in per_geom),
            "zonal.plan_s": median(self.tr.durations("zonal.plan")),
            "zonal.join_exec_s": t_join,
            "zonal.agg_exec_s": median(self.tr.durations("zonal.exec")),
            "zonal.candidates": n_cand,
            "zonal.pip_survivors": n_surv,
            "zonal.pip_hit_ratio": n_surv / max(n_cand, 1),
        }

    def _probe_knn(self) -> dict[str, float]:
        if not self.tr.durations("knn.exec"):
            proj = self.pages().select("doc_id", "lat", "lon", "cell").cache()
            proj.count()
            for i, k in enumerate(KNN_KS):
                q, _, rows = knn_op(self, proj, self.inputs.query_batch(-1 - i, KNN_QUERIES), k, None)
                self.probe_checks[f"knn.k{k}"] = knn_rows_ok(q, k, rows) is not None
            proj.unpersist()
        return {
            "knn.plan_s": median(self.tr.durations("knn.plan")),
            "knn.exec_s": median(self.tr.durations("knn.exec")),
            "knn.result_rows": median(self.knn_rows),
        }

    def _probe_lineage(self) -> dict[str, float]:
        """One resumable tile run over every tile, a resume and a merged
        read-back, on a fresh ledger."""
        d = os.path.join(self.work, "ledger")
        # run_tiles_resumable writes <ledger>.meta.json before any Spark
        # write creates the ledger's parent dir, so create it here
        os.makedirs(d)
        ledger, out = os.path.join(d, "ledger"), os.path.join(d, "out")

        def fn(batch):
            return zonal_pages(batch, FX.POLYS_GEO)

        def run():
            return run_tiles_resumable(self.pages(), self.spark, ledger, fn, out, tiles_per_batch=LEDGER_TILES_PER_BATCH)

        t_run, n = self._timed("lineage.run", run)
        t_resume, n_again = self._timed("lineage.resume", run)
        t_merge, rows = self._timed(
            "lineage.merge", lambda: merge_zonal_partials(read_table(self.spark, out + "/batch=*")).collect()
        )
        n_tiles = self.pages().select("tile_id").distinct().count()
        self.probe_checks["lineage.run"] = n == n_tiles
        self.probe_checks["lineage.resume"] = n_again == 0
        self.probe_checks["lineage.merge"] = zonal_rows_ok(rows, zonal_golden(self.inputs, FX.POLYS_GEO))
        # every tile row of a batch carries the batch's wall_s
        walls = [r["wall_s"] for r in read_table(self.spark, ledger).select("wall_s", "rows_per_sec").distinct().collect()]
        n_batches = len([b for b in os.listdir(out) if b.startswith("batch=")])
        n_bytes = out_files = 0
        for dirpath, _, files in os.walk(d):
            for f in files:
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
                out_files += dirpath.startswith(out) and f.startswith("part-")
        shutil.rmtree(d)
        return {
            "lineage.run_s": t_run,
            "lineage.resume_s": t_resume,
            "lineage.merge_s": t_merge,
            "lineage.batch_wall_p50_s": median(walls),
            "lineage.batches": n_batches,
            "lineage.out_files": out_files,
            "lineage.out_bytes_per_page": n_bytes / self.inputs.n_pages,
        }


def knn_op(w: Workload, proj, q, k: int, op):
    """One knn_pages batch of queries ``q`` over the cached projection."""
    with w.tr.span("knn.plan", op):
        qdf = w.spark.createDataFrame(q, QUERY_SCHEMA)
        df = knn_pages(qdf, proj, k=k, res=PAGES_RES, n_pages=w.inputs.n_pages, n_queries=len(q))
        if w.tr.enabled:
            df._jdf.queryExecution().executedPlan()
    with w.tr.span("knn.exec", op):
        rows = df.collect()
    if w.tr.enabled and k == max(KNN_KS):
        w.knn_rows.append(len(rows))
    return q, k, rows


class ZonalScan(Workload):
    """zonal_pages over the heavy polygon layer: cover join and PIP bound."""

    name = "zonal_scan"
    warmup = 4

    def __init__(self, *a):
        super().__init__(*a)
        self.zonal_polys = self.inputs.heavy

    def prepare(self) -> None:
        self.golden = zonal_golden(self.inputs, self.zonal_polys)

    def op(self, i: int):
        with self.tr.span("zonal.plan", i):
            df = zonal_pages(self.pages(), self.zonal_polys)
            if self.tr.enabled:
                df._jdf.queryExecution().executedPlan()
        with self.tr.span("zonal.exec", i):
            return df.collect()

    def check(self, i: int, rows) -> bool:
        return zonal_rows_ok(rows, self.golden)


class KnnLookup(Workload):
    """knn_pages batches over a cached projection: no cover join, no PIP."""

    name = "knn_lookup"
    warmup = 10

    def setup(self, spark) -> None:
        super().setup(spark)
        with self.tr.span("knn.cache"):
            self.proj = self.pages().select("doc_id", "lat", "lon", "cell").cache()
            self.proj.count()

    def prepare(self) -> None:
        self.spot: list = []

    def op(self, i: int):
        q = self.inputs.query_batch(i, KNN_QUERIES)
        return knn_op(self, self.proj, q, KNN_KS[i % len(KNN_KS)], i)

    def check(self, i: int, res) -> bool:
        q, k, rows = res
        by_q = knn_rows_ok(q, k, rows)
        if by_q is not None and len(self.spot) < 4:
            self.spot.append((i, q, k, by_q))
        return by_q is not None

    def finish(self) -> set[int]:
        """Brute-force spot check: the first three queries of four ops."""
        bad = set()
        for i, q, k, by_q in self.spot:
            for q_id, qlat, qlon in q[:3]:
                if [h[2] for h in by_q[q_id]] != knn_golden(self.inputs, qlat, qlon, k):
                    bad.add(i)
        return bad


WORKLOADS = {w.name: w for w in (ZonalScan, KnnLookup)}
