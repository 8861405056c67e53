"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its oracle on DuckDB at sf0.01,
compares row count, column names, and order-insensitive values.

Usage: python tools/check_oracle.py [names...]
"""

from __future__ import annotations

import math
import os
import sys
from pathlib import Path

import duckdb

# the checkout in place of tools/: tools/profile.py would shadow the standard
# library's profile module, which pyspark imports (via cProfile)
sys.path[0] = str(Path(__file__).resolve().parent.parent)
# Python workers (UDFs) import this checkout's package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [sys.path[0], os.environ.get("PYTHONPATH")]))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v)
    return str(v)


def frame_sig(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(",".join(norm_cell(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], lines


def main(names=None):
    from rasters_jl_spark.registry import REGISTRY
    from rasters_jl_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    failed, passed = [], []
    todo = names or list(REGISTRY)
    for name in todo:
        fn, sql = REGISTRY[name]
        try:
            sdf = fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if sql is None:
            print(f"ok?  {name}: rows={len(srows)} (no oracle)")
            passed.append(name)
            continue
        try:
            rel = con.sql(sql)
            ocols = list(rel.columns)
            otypes = [str(t).upper() for t in rel.types]
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failed.append(name)
            continue
        # The driver's hasher serializes value TYPES, not just stringified
        # values: a DuckDB HUGEINT (int128, e.g. an uncast SUM over BIGINT)
        # or DECIMAL hashes differently from Spark's BIGINT/DOUBLE even at
        # equal values (r03: dataset_split/mixture_sample failed only at
        # the driver). Reject those output types here so local-green
        # implies driver-green.
        bad = [
            f"{c}:{t}" for c, t in zip(ocols, otypes)
            if "HUGEINT" in t or t.startswith("DECIMAL") or t.startswith("UTINYINT")
            or t.startswith("USMALLINT") or t.startswith("UINTEGER")
            or t.startswith("UBIGINT")
        ]
        if bad:
            print(f"FAIL {name}: oracle output types not Spark-representable: {bad} "
                  "(wrap in CAST(... AS BIGINT/DOUBLE))")
            failed.append(name)
            continue
        sc, ss = frame_sig(scols, [tuple(r) for r in srows])
        oc, os_ = frame_sig(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns spark={sc} oracle={oc}")
            failed.append(name)
            continue
        if len(ss) != len(os_):
            print(f"FAIL {name}: rowcount spark={len(ss)} oracle={len(os_)}")
            failed.append(name)
            continue
        if ss != os_:
            diff = [(a, b) for a, b in zip(ss, os_) if a != b][:5]
            print(f"FAIL {name}: value mismatch; first diffs: {diff}")
            failed.append(name)
            continue
        print(f"PASS {name}: rows={len(ss)}")
        passed.append(name)
    print(f"\n{len(passed)} passed, {len(failed)} failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
