"""Per-partition lineage + metrics tables → checkpoint-resumable runs.

North-rule requirement: at 10¹²-document scale an ingest/join job must be
resumable. The mechanism is batch-incremental processing over an explicit
partition ledger (Iceberg snapshots play this role in production; plain
parquet directories in the sandbox):

- work is split by ``tile_id`` (the explicit partition key);
- each completed tile writes a ledger row (tile_id, n_rows, metric,
  wall_s, status) to the lineage table;
- a resumed run anti-joins the ledger to process only missing tiles.

This is driver-light (the ledger is tiny) and engine-agnostic.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rasters_jl_spark.session import local_df

LEDGER_SCHEMA = "tile_id long, batch_rows long, rows_per_sec double, wall_s double, status string"


def completed_tiles(spark: SparkSession, ledger_path: str) -> DataFrame:
    if os.path.exists(ledger_path):
        return spark.read.parquet(ledger_path).where(F.col("status") == "done").select("tile_id")
    return local_df(spark, [], "tile_id long")


def remaining_tiles(pages: DataFrame, spark: SparkSession, ledger_path: str) -> DataFrame:
    """Tiles still to process = distinct tile ids anti-join the ledger."""
    done = completed_tiles(spark, ledger_path)
    return pages.select("tile_id").distinct().join(done, "tile_id", "left_anti")


def run_tiles_resumable(
    pages: DataFrame,
    spark: SparkSession,
    ledger_path: str,
    process_fn,
    out_path: str,
    tiles_per_batch: int = 64,
) -> int:
    """Process remaining tiles in batches; each batch writes its results to
    its own ``batch=<min_tile_id>`` subdirectory (overwrite mode), THEN
    appends its ledger rows. Batch membership is deterministic (sorted tile
    ids), so a crash between the two writes is safe: the rerun sees no
    ledger row, rebuilds the identical batch, and the overwrite replaces the
    orphaned output instead of duplicating it — reruns never double-count.

    ``process_fn(batch_df) -> DataFrame`` must be a pure transform. Returns
    the number of tiles processed this run. Read results with
    ``spark.read.parquet(out_path + "/batch=*")`` or a recursive scan.

    Batch-dir idempotency holds only if every run uses the SAME
    ``tiles_per_batch`` (batch boundaries realign otherwise, leaving
    orphaned ``batch=<id>`` dirs a recursive read double-counts) — so the
    first run records it in ``<ledger>.meta.json`` and resumes refuse a
    mismatched value.
    """
    import json

    from pyspark.sql import Observation

    meta_path = ledger_path + ".meta.json"
    # An existing meta is authoritative whenever ANY prior output exists —
    # ledger file OR batch=* dirs. A first run that crashed after writing
    # part of batch=0 but before its first ledger append leaves no ledger;
    # rewriting the meta then would realign batch boundaries over the
    # orphaned partial dir (the exact double-count the sidecar prevents).
    import glob as _glob

    prior_output = os.path.exists(ledger_path) or bool(
        _glob.glob(os.path.join(out_path, "batch=*"))
    )
    if os.path.exists(meta_path) and prior_output:
        with open(meta_path) as f:
            recorded = json.load(f).get("tiles_per_batch")
        if recorded != tiles_per_batch:
            raise ValueError(
                f"resume with tiles_per_batch={tiles_per_batch} but the ledger was "
                f"written with {recorded}; batch=<id> dirs would misalign — rerun "
                f"with tiles_per_batch={recorded} or start a fresh ledger/output"
            )
    else:
        # the meta is written before any Spark write creates the ledger's
        # parent directory
        os.makedirs(os.path.dirname(os.path.abspath(meta_path)), exist_ok=True)
        with open(meta_path, "w") as f:
            json.dump({"tiles_per_batch": tiles_per_batch}, f)

    todo = sorted(r["tile_id"] for r in remaining_tiles(pages, spark, ledger_path).collect())
    n_done = 0
    for i in range(0, len(todo), tiles_per_batch):
        batch_ids = todo[i : i + tiles_per_batch]
        t0 = time.time()
        batch = pages.where(F.col("tile_id").isin(batch_ids))
        # Observation rides the write action — the result-row count costs
        # no second computation of the batch.
        obs = Observation()
        result = process_fn(batch).observe(obs, F.count(F.lit(1)).alias("n"))
        result.write.mode("overwrite").parquet(f"{out_path}/batch={batch_ids[0]}")
        n_rows = int(obs.get["n"])
        wall = time.time() - t0
        # batch_rows = result rows written by THIS batch (every tile in the
        # batch carries the same value — it is a batch metric, not per-tile).
        ledger = local_df(
            spark,
            [
                (int(t), n_rows, float(n_rows / max(wall, 1e-9)), float(wall), "done")
                for t in batch_ids
            ],
            LEDGER_SCHEMA,
        )
        ledger.write.mode("append").parquet(ledger_path)
        n_done += len(batch_ids)
    return n_done


INC_LEDGER_SCHEMA = (
    "tile_id long, input_rows long, batch_rows long, wall_s double, run_id long, status string"
)


def changed_tiles(pages: DataFrame, spark: SparkSession, ledger_path: str) -> DataFrame:
    """Tiles that are NEW or whose input changed since last processing.

    Fingerprint = per-tile input row count (cheap, monotone under append —
    at production scale this is the Iceberg partition-level record count,
    no scan needed). Returns (tile_id, input_rows)."""
    current = pages.groupBy("tile_id").agg(F.count("*").alias("input_rows"))
    if not os.path.exists(ledger_path):
        return current
    led = spark.read.parquet(ledger_path).where(F.col("status") == "done")
    latest = led.groupBy("tile_id").agg(F.max("run_id").alias("run_id"))
    done = led.join(latest, ["tile_id", "run_id"]).select(
        "tile_id", F.col("input_rows").alias("_done_rows")
    )
    return (
        current.join(done, "tile_id", "left")
        .where(F.col("_done_rows").isNull() | (F.col("_done_rows") != F.col("input_rows")))
        .select("tile_id", "input_rows")
    )


def run_tiles_incremental(
    pages: DataFrame,
    spark: SparkSession,
    ledger_path: str,
    process_fn,
    out_path: str,
    tiles_per_batch: int = 256,
) -> int:
    """Incremental-refresh runner: (re)process tiles that are new OR whose
    input grew since they were last processed.

    ``process_fn(batch_df) -> DataFrame`` MUST keep a ``tile_id`` column —
    results are written partitioned by tile with DYNAMIC partition
    overwrite, so re-processing a tile atomically replaces exactly that
    tile's partials and nothing else (the fix for the append-into-done-tile
    blind spot of :func:`run_tiles_resumable`). Consumers re-aggregate the
    partials (e.g. ``merge_zonal_partials``).

    Precondition: APPEND-ONLY input per tile (the web-crawl ingest model).
    Then a recomputed tile's result is a superset of its old one and
    dynamic overwrite can never leave a stale partition behind. In-place
    updates/deletes need the Iceberg snapshot-diff path instead
    (:func:`run_tiles_incremental_ref`)."""
    todo = changed_tiles(pages, spark, ledger_path).collect()
    rows_by_tile = {int(r["tile_id"]): int(r["input_rows"]) for r in todo}
    return _run_incremental_batches(
        pages, spark, ledger_path, process_fn, out_path, tiles_per_batch, rows_by_tile
    )


def _run_incremental_batches(
    pages: DataFrame,
    spark: SparkSession,
    ledger_path: str,
    process_fn,
    out_path: str,
    tiles_per_batch: int,
    rows_by_tile: dict[int, int],
    zero_tiles: list[int] = (),
) -> int:
    """Shared incremental batch loop: per-tile partials written with dynamic
    partition overwrite, ledger rows appended per batch. ``zero_tiles`` are
    changed tiles whose input is now EMPTY (deletion repair): their stale
    ``tile_id=<t>`` partition dirs are removed and a zero-row ledger entry
    recorded."""
    import shutil

    from pyspark.sql import Observation

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    run_id = 0
    if os.path.exists(ledger_path):
        prev = spark.read.parquet(ledger_path).agg(F.max("run_id")).first()[0]
        run_id = (prev or 0) + 1
    if zero_tiles:
        for t in zero_tiles:
            d = os.path.join(out_path, f"tile_id={int(t)}")
            if os.path.isdir(d):
                shutil.rmtree(d)
        ledger = local_df(
            spark,
            [(int(t), 0, 0, 0.0, run_id, "done") for t in zero_tiles],
            INC_LEDGER_SCHEMA,
        )
        ledger.write.mode("append").parquet(ledger_path)
    n_done = 0
    tile_ids = sorted(rows_by_tile)
    for i in range(0, len(tile_ids), tiles_per_batch):
        batch_ids = tile_ids[i : i + tiles_per_batch]
        t0 = time.time()
        batch = pages.where(F.col("tile_id").isin(batch_ids))
        obs = Observation()
        result = process_fn(batch).observe(obs, F.count(F.lit(1)).alias("n"))
        if "tile_id" not in result.columns:
            raise ValueError("incremental process_fn must keep a tile_id column")
        result.write.mode("overwrite").partitionBy("tile_id").parquet(out_path)
        n_rows = int(obs.get["n"])
        wall = time.time() - t0
        ledger = local_df(
            spark,
            [
                (int(t), rows_by_tile[t], n_rows, float(wall), run_id, "done")
                for t in batch_ids
            ],
            INC_LEDGER_SCHEMA,
        )
        ledger.write.mode("append").parquet(ledger_path)
        n_done += len(batch_ids)
    return n_done


def run_tiles_incremental_ref(
    ref: str,
    spark: SparkSession,
    ledger_path: str,
    process_fn,
    out_path: str,
    tiles_per_batch: int = 256,
) -> int:
    """Incremental refresh over a TABLE REF, choosing the changed-tile
    detector by source capability (feature-detected, call-site unchanged):

    - ``iceberg:<cat>.<db>.<tbl>`` with the runtime jar present: SNAPSHOT
      DIFF — the tiles to recompute are the distinct tile_ids of rows
      appended between the last processed snapshot (recorded in
      ``<ledger>.snapshot.json``) and the current one, read via Iceberg's
      incremental scan (O(appended), no full-table fingerprint pass). The
      recompute itself reads the CURRENT snapshot pinned by id, so a
      concurrent append can't tear a run. Same append-only precondition as
      the fallback (in-place overwrites/deletes need a changelog scan).
    - any parquet path (or no jar): the per-tile row-count fingerprint
      fallback (:func:`run_tiles_incremental`).
    """
    import json

    from rasters_jl_spark.sources.catalog import (
        appended_since,
        current_snapshot_id,
        iceberg_available,
        is_iceberg_ref,
        read_table,
    )

    if not (is_iceberg_ref(ref) and iceberg_available(spark)):
        return run_tiles_incremental(
            read_table(spark, ref), spark, ledger_path, process_fn, out_path, tiles_per_batch
        )

    snap_meta = ledger_path + ".snapshot.json"
    last = None
    if os.path.exists(snap_meta):
        with open(snap_meta) as f:
            last = json.load(f).get("snapshot_id")
    cur = current_snapshot_id(spark, ref)
    pages = read_table(spark, ref, snapshot_id=cur)
    if last is None:
        changed = pages.select("tile_id").distinct()
    elif cur == last:
        changed = pages.select("tile_id").distinct().limit(0)
    else:
        from rasters_jl_spark.sources.catalog import (
            changelog_tiles,
            snapshot_operations_since,
        )

        # The incremental read only sees appended rows, so an overwrite/
        # delete snapshot in the gap would silently leave stale results
        # for the removed rows. Non-append history → CHANGELOG-SCAN
        # REPAIR: recompute exactly the tiles the changelog says were
        # touched (insertions AND deletions, O(changed files)); if the
        # runtime lacks changelog support, full recompute — never stale.
        ops = set(snapshot_operations_since(spark, ref, last, cur))
        if ops - {"append"}:
            try:
                changed = changelog_tiles(spark, ref, last, cur)
            except Exception:  # noqa: BLE001 — old Iceberg: correctness over cost
                # Full recompute — but the CURRENT snapshot no longer
                # contains a tile whose rows were all deleted, so union in
                # every previously-ledgered tile: absent-from-current ones
                # fall through to the zero-tile cleanup instead of leaving
                # a stale partition dir behind (resurrected data).
                changed = pages.select("tile_id").distinct()
                if os.path.exists(ledger_path):
                    prior = spark.read.parquet(ledger_path).select("tile_id").distinct()
                    changed = changed.union(prior).distinct()
        else:
            changed = appended_since(spark, ref, last, cur).select("tile_id").distinct()
    ids = [int(r["tile_id"]) for r in changed.collect()]
    rows_by_tile: dict[int, int] = {}
    if ids:
        # input_rows ledger fingerprint over the CHANGED tiles only — via a
        # broadcast semi-join, not an IN literal (the changed set can be
        # large after a big append; a literal list would bloat the plan)
        ids_df = local_df(spark, [(i,) for i in ids], "tile_id long")
        counts = (
            pages.join(F.broadcast(ids_df), "tile_id")
            .groupBy("tile_id")
            .agg(F.count("*").alias("n"))
        )
        rows_by_tile = {int(r["tile_id"]): int(r["n"]) for r in counts.collect()}
    # a changed tile with ZERO current rows (all its rows deleted) would
    # otherwise recompute nothing and leave its old partition dir stale —
    # clean it explicitly and ledger the emptiness
    zero_tiles = [t for t in ids if t not in rows_by_tile]
    n = _run_incremental_batches(
        pages, spark, ledger_path, process_fn, out_path, tiles_per_batch, rows_by_tile,
        zero_tiles=zero_tiles,
    )
    with open(snap_meta, "w") as f:
        json.dump({"snapshot_id": cur}, f)
    return n
