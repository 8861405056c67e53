"""SparkSession builder with scale-appropriate defaults, and the one
constructor of driver-side tables (:func:`local_df`).

Local testing runs ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the same
conf ships via ``spark-submit --py-files`` — nothing here is local-only.

Pins. A table that several readers inside one engine call share (both
branches of ``ordered_id``, the kNN phase-1 top-k) or that a loop's next
round builds on (a training round's state, a PageRank round's ranks) is
pinned one way: ``.localCheckpoint()``, which runs where the call makes
it, before any reader, so every reader reads one copy and the lineage is
cut. A table with one reader is not pinned. A lazy local checkpoint is
not used: the first reader materialises it while AQE runs the other
readers' stages at the same time, so those compute the subtree again and
report SQL metrics the driver has already dropped ("Failed to update
accumulator").
Failure mode: a local checkpoint is not fault-tolerant. Its blocks live
only on the executors that computed them and its lineage is cut, so
losing one of those executors fails the job that reads the pin; at corpus
scale the exposure grows with the pinned bytes and the call's length.
The stream snapshot of ``streaming/ingest.py`` is the one table cached:
it outlives the call and serves every later micro-batch, and a cache
recomputes lost blocks from lineage where a local checkpoint would fail
every batch after one lost executor.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    master: str | None = None,
    app_name: str = "rasters_jl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for the engine.

    Defaults chosen for 100 TB-scale behaviour, not just local runs:
    - AQE on (runtime coalescing + skew-join splitting for hot urban cells)
    - Arrow on for pandas conversions (``toPandas``, ``createDataFrame``
      of a pandas frame). Driver-side tables are built by :func:`local_df`
      and need no Python worker; the engine's Python workers run only its
      pandas UDFs, ``mapInPandas``/``applyInPandas`` kernels and streaming
      state functions.
    - shuffle partitions sized to cores locally; on a cluster this should be
      ~2-3x total executor cores (set via spark-submit conf).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    # Join-strategy defaults (guide: pick the strategy deliberately):
    # - autoBroadcastJoinThreshold 64m (env-overridable): the metadata-scale
    #   sides this engine joins against (vocab/model/candidate tables) are
    #   often estimated just past the 10m default after unions/projections,
    #   which left AQE to convert SMJ->BHJ only AFTER paying both map-side
    #   shuffle writes. Corpus-scale relations estimate far above any
    #   threshold at production size, so this never broadcasts a big side;
    #   set SPARK_GRAFT_BROADCAST_THRESHOLD (bytes) per deployment memory.
    # - preferSortMergeJoin=false lets the planner use shuffled-hash when a
    #   side fits per-partition (no sort), the guide's recommended baseline.
    bcast = os.environ.get("SPARK_GRAFT_BROADCAST_THRESHOLD", str(64 * 1024 * 1024))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", bcast)
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_df(spark: SparkSession, rows: list, schema: StructType | str) -> DataFrame:
    """A driver-built table — polygon and cover sides, metadata, ledgers —
    from ``rows`` (tuples in ``schema``'s field order; ``schema`` is a
    StructType or a DDL string). Fields nested in an array or struct must
    be nullable: pyspark rebuilds nested Arrow columns as nullable and
    then cannot cast them to a non-nullable type.

    The rows go to the JVM as one Arrow table, which Spark plans as a
    ``LocalRelation``: its scan (``LocalTableScan``) and any broadcast of
    it run in the JVM. ``createDataFrame`` over a Python list instead
    plans a Python RDD (``Scan ExistingRDD``), and every action over it
    runs a Python worker task per partition. On a 4-core host one such
    task takes 0.18-0.29 s from submit to its first row, 0.15-0.17 s of it
    in pyspark's per-task ``importlib.invalidate_caches()``, which re-reads
    ``pyspark.zip`` for each of its 16 zip importers; a broadcast join over
    a 1,721-row polygon cover took 0.57 s built that way and 0.20 s built
    here (medians of 10).
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
