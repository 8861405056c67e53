"""Two-parallelism scaling run — the sandbox evidence for the north rule's
N→4N executor criterion (BASELINE.json: efficiency ≥ 0.8).

Runs bench.py in fresh JVMs at local[8] and local[32] on identical input,
computes throughput at both and the scaling efficiency
eff = (docs_per_sec_32 / docs_per_sec_8) / 4, and appends the results to
BENCH_SCALING.md.

Usage: python tools/scaling_bench.py [--expand N]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# Python workers (UDFs) import this checkout's package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))


def run_bench(cpus: int, expand: int, sf_dir: str, scaling: bool = True, job: str = "zonal") -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_SCALING_JOB"] = job
    env["SPARK_GRAFT_BENCH_EXPAND"] = str(expand)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    # pin the whole JVM (task threads + GC + JIT + shuffle netty) to exactly
    # `cpus` cores — local[N] alone lets helper threads spill onto free cores,
    # which inflates low-N throughput vs a real N-core executor
    args = ["taskset", "-c", f"0-{cpus - 1}", sys.executable, os.path.join(REPO, "bench.py")]
    if scaling:
        args.append("--scaling")
    out = subprocess.run(args, capture_output=True, text=True, env=env, timeout=900)
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from bench at cpus={cpus}: {out.stdout[-2000:]} {out.stderr[-2000:]}")


JOB_DESC = {
    "zonal": "flagship job (geotag -> cell assign -> cover join + PIP -> zonal agg)",
    "minhash": "dedup job (minhash signatures -> LSH buckets -> verified near-dup pairs)",
    "decon": "decontamination job (broadcast eval gram set -> map-side corpus gram explode -> hit counts)",
    "pack": "sequence-packing job (range partition -> per-partition window cumsum -> offset map -> chunk explode)",
    "curate": "map-only curation pass (Gopher signals gate + PII redaction, pure codegen, zero shuffle)",
    "warc": "crawl-container ingest (cached synth shards, both layouts -> per-shard Arrow record splitter -> count; parallelism = shard count)",
    "sessions": "gap-session rollup (native session_window aggregate: one (key, merged-window) shuffle with map-side partial merging)",
}


def main():
    expand = int(sys.argv[sys.argv.index("--expand") + 1]) if "--expand" in sys.argv else 100_000
    job = sys.argv[sys.argv.index("--job") + 1] if "--job" in sys.argv else "zonal"
    reps = int(sys.argv[sys.argv.index("--reps") + 1]) if "--reps" in sys.argv else 2
    # N vs 4N cores. Default 2→8: this box exposes 32 logical CPUs but only
    # ~24 cores of real concurrency (measured with a multiprocessing burn:
    # 32 procs take 1.32× the time of 8), so 8→32 threads cannot physically
    # show 4× — 2→8 stays inside the machine's honest parallel capacity.
    pair = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_SCALE_PAIR", "2,8").split(",")
    )
    n_lo, n_hi = pair
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Alternate configs across fresh JVMs so ambient load shifts hit both.
    # The efficiency estimator is the MEDIAN of PER-REP PAIRED ratios: each
    # rep runs both core counts back-to-back, so its ratio sees the same
    # ambient conditions; pairing the best-of-all-reps per side instead
    # mixes different machine states (a lucky-fast low-core rep from one
    # window against a high-core rep from another) and was observed to
    # swing the reported efficiency by ±0.05 with IDENTICAL plans. Both
    # numbers are printed; per-rep ratios are in the JSON.
    # the checkout in place of tools/: tools/profile.py would shadow the standard
    # library's profile module, which pyspark imports (via cProfile)
    sys.path[0] = REPO
    import bench as bench_mod

    best = {n_lo: None, n_hi: None}
    rep_thr: list[dict[int, float]] = []
    rep_probes: list[dict[str, float | None]] = []
    n_pages = None
    for rep in range(reps):
        rep_thr.append({})
        probes = {}
        for cpus in pair:
            # host-steal sentinel immediately before each side: a rep whose
            # high-core side ran in a parallel-capacity-steal window shows
            # par8 >> ~130 ms here, making contaminated ratios identifiable
            # from the recorded JSON instead of by narrative
            p = bench_mod._contention_probe()
            probes[f"par8_before_{cpus}"] = p["par8_burn_ms"]
            r = run_bench(cpus, expand, sf_dir, job=job)
            n_pages = r["n_pages"]
            thr = r[f"docs_per_sec_{job}"]
            rep_thr[rep][cpus] = thr
            if best[cpus] is None or thr > best[cpus]:
                best[cpus] = thr
            print(
                f"rep={rep} cpus={cpus}: {r['walls']} s → {thr:,.0f} docs/s "
                f"(par8 {p['par8_burn_ms']} ms)",
                flush=True,
            )
        rep_probes.append(probes)

    ideal = n_hi / n_lo
    rep_effs = sorted(round((t[n_hi] / t[n_lo]) / ideal, 3) for t in rep_thr)
    # TRUE median: mean of the two middles for even rep counts —
    # upper-middle indexing would quietly pick the better rep (the exact
    # best-of bias this estimator replaced)
    m = len(rep_effs)
    eff = (
        rep_effs[m // 2]
        if m % 2
        else round((rep_effs[m // 2 - 1] + rep_effs[m // 2]) / 2.0, 3)
    )
    thr_lo, thr_hi = best[n_lo], best[n_hi]
    eff_best = round((thr_hi / thr_lo) / ideal, 3)
    summary = {
        f"docs_per_sec_local{n_lo}": thr_lo,
        f"docs_per_sec_local{n_hi}": thr_hi,
        f"scaling_efficiency_{job}": eff,
        "per_rep_efficiencies": rep_effs,
        "per_rep_probes": rep_probes,
        "cross_rep_best_of_efficiency": eff_best,
        "n_pages": n_pages,
        "sf_dir": sf_dir,
        "method": f"median of {reps} per-rep paired ratios (each rep: both core counts "
        f"back-to-back in fresh JVMs, min of 3 warm trials); N={n_lo} vs 4N={n_hi} cores",
    }
    print(json.dumps(summary))

    md = f"""
## Scaling run {time.strftime('%Y-%m-%d %H:%M')}

Same {JOB_DESC.get(job, job + ' job')} over
{n_pages:,} synthetic docs at two parallelism levels, the
sandbox stand-in for N vs 4N executors per BASELINE.json north_rule.
Method: {summary['method']} -- interleaved fresh JVMs to cancel ambient load.

| config | {job} docs/sec |
|---|---|
| local[{n_lo}]  | {thr_lo:,.0f} |
| local[{n_hi}] | {thr_hi:,.0f} |

**Scaling efficiency ({n_lo}->{n_hi} cores, ideal {n_hi / n_lo:.0f}x):**
median of per-rep paired ratios -> efficiency **{eff:.2f}**
(per-rep: {rep_effs}; cross-rep best-of pairing would give {eff_best:.2f} —
reported for transparency, but it mixes ambient machine states between
the two sides)

Hardware note: the box exposes 32 logical CPUs but only ~24 cores of real
concurrency (multiprocessing burn probe: 32 procs = 1.32x the wall of 8), so
an 8->32-thread pair cannot physically reach 4x; measured 8->32 speedup of
the same job is ~2.3x (bounded by the ~24-core ceiling + memory bandwidth).
The {n_lo}->{n_hi} pair is the honest N->4N evidence within machine capacity.

Conf: AQE on, shuffle partitions = cores, broadcast geometry side.
"""
    with open(os.path.join(REPO, "BENCH_SCALING.md"), "a") as f:
        f.write(md)
    return 0


if __name__ == "__main__":
    sys.exit(main())
