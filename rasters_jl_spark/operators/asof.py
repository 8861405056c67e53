"""Temporal selectors over series — the reference's `Ti` dimension selectors
(`At/Near/Contains/Between`, `src/lookup.jl:92-112`; RasterSeries
`src/series.jl`). In Spark these are predicates and windows over timestamp
columns; `Near` (as-of) is a window row_number over |ts − t|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def select_near(
    df: DataFrame, ts_col: str, t, group_cols: list[str], tiebreak: list[str] = ("event_id",)
) -> DataFrame:
    """`Ti=Near(t)` per group: the single row whose timestamp is closest to
    ``t`` (ties → earlier timestamp, then ``tiebreak`` columns for full
    determinism), via row_number window."""
    delta = F.abs(
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        - F.unix_micros(F.lit(t).cast("timestamp"))
    )
    order = [delta.asc(), F.col(ts_col).asc()] + [F.col(c).asc() for c in tiebreak if c in df.columns]
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    on: list[str],
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    right_ts <= left_ts (backward) within the same keys — join on keys,
    direction predicate, window row_number. Fine when per-key fan-out is
    bounded; at extreme scale switch to the union-tag + last_value pattern.

    Every left row survives: when the key matches right rows but none
    satisfies the direction predicate (e.g. backward with all right_ts
    after left_ts), the right columns come back NULL — matches are tagged
    with a flag and ranked flag-first instead of being filtered out.

    Column-type restriction: the deterministic row-identity rewrite groups
    and window-partitions on EVERY left column, so all left columns must
    be groupable/orderable types — a map-typed column raises
    AnalysisException (convert it to a sorted entry array first, e.g.
    ``array_sort(map_entries(m))``). Grouping by a hash of the row instead
    would readmit silent collision-merges, so the full column set is kept.
    Cost model: the duplicate-collapse adds one full-width shuffle of the
    left table beyond the join's own key exchange — the price of
    recompute-stable output under executor loss (vs the old
    monotonically_increasing_id, which could renumber on recompute).
    """
    extra = [c for c in right.columns if c not in on and c != right_ts]
    r = right.select(*on, F.col(right_ts).alias("_rts"), *extra)
    # Per-left-row identity: the ranking window must partition by the left
    # ROW, not by (keys, left_ts) — two distinct left rows sharing key and
    # timestamp (different payload) would otherwise collapse to one output.
    # Deterministic form (no monotonically_increasing_id, whose values can
    # change if an executor loss recomputes the left side): collapse fully
    # identical left rows with a count, rank the join fan-out per DISTINCT
    # left row (partitioning by its full column set), then re-expand the
    # multiplicity — duplicate left rows are interchangeable, so the output
    # multiset is recompute-stable.
    lcols = list(left.columns)
    dl = left.groupBy(*lcols).agg(F.count(F.lit(1)).alias("_mult"))
    j = dl.join(r, on, "left")
    cond = (
        F.col("_rts") <= F.col(left_ts)
        if direction == "backward"
        else F.col("_rts") >= F.col(left_ts)
    )
    j = j.withColumn("_ok", F.coalesce(cond, F.lit(False)))
    order = F.col("_rts").desc() if direction == "backward" else F.col("_rts").asc()
    w = Window.partitionBy(*[F.col(c) for c in lcols]).orderBy(F.col("_ok").desc(), order)
    best = (
        j.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("_mult"))))
    )
    # non-matching survivor rows keep their left columns, right side nulled
    out_cols = []
    for c in best.columns:
        if c in ("_rn", "_ok", "_mult", "_i"):
            continue
        if c == "_rts" or c in extra:
            out_cols.append(F.when(F.col("_ok"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    return best.select(*out_cols)
