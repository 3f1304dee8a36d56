"""Temporal operators the reference lacks but a fraud/analytics engine
needs (SURVEY.md §2.4/§2.10 extension surface): as-of join and gap-based
sessionization.

Scale design
------------
- ``asof_join`` uses the union-and-carry pattern: tag left/right rows,
  union, then one window per key ordered by time carries the most recent
  right-side value forward.  Cost = ONE shuffle on the join key — never a
  range cross-join (the naive ``l.ts >= r.ts`` join is O(n*m) per key and
  explodes on hot keys).
- ``sessionize`` is the classic lag + cumulative-sum session assignment:
  two window passes over the same (key, time) shuffle, no self-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str, right_ts: str,
              value_cols: Sequence[str]) -> DataFrame:
    """For each left row, attach the latest right-side ``value_cols`` whose
    ``right_ts`` <= ``left_ts`` (ties: the right row at the same instant
    wins), matching DuckDB ``ASOF JOIN`` semantics.

    Implementation: union the tagged inputs, sort each key group by
    (event time, side) within ONE window shuffle, and carry the latest
    right ROW forward as a single struct with
    ``last(..., ignorenulls=True)``.

    The struct carry is load-bearing for correctness, not style: with
    per-column ``last(ignorenulls)`` carries, a right row holding a NULL
    in one value column but not another would produce a FRANKENSTEIN
    match — value from an older row, timestamp from a newer one.  The
    struct is non-null for every right row (even when its fields are
    null), so ``ignorenulls`` skips exactly the left-tagged rows and the
    attached columns always come from ONE right row — DuckDB ASOF JOIN
    semantics, null fields included.
    """
    on = list(on)
    lcols = left.columns
    r_struct_type = right.select(*value_cols).schema
    l_tag = left.select(
        *on,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),  # right rows at equal ts sort first
        F.struct(*[F.col(c) for c in lcols]).alias("_l"),
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    r_tag = right.select(
        *on,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            l_tag.schema["_l"].dataType
        ).alias("_l"),
        F.struct(*[F.col(c) for c in value_cols]).alias("_r"),
    )
    unioned = l_tag.unionByName(r_tag)
    w = (
        Window.partitionBy(*on)
        .orderBy(F.asc("_ts"), F.asc("_side"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "*", F.last("_r", ignorenulls=True).over(w).alias("_asof")
    )
    return carried.filter(F.col("_side") == 1).select(
        "_l.*",
        *[F.col(f"_asof.{c}").alias(f"asof_{c}") for c in value_cols],
    )


def _micros(c):
    """Epoch microseconds for TIMESTAMP *and* TIMESTAMP_NTZ inputs.

    The driver testdata's parquet stores naive timestamps, which Spark 4
    reads as TIMESTAMP_NTZ (``unix_micros`` rejects that type outright).
    Casting through TIMESTAMP first is a no-op for tz-aware columns and
    interprets NTZ in the session zone; every use below is a difference,
    bucket, or sort key, so a constant zone shift cannot change results.
    """
    return F.unix_micros(c.cast("timestamp"))


_UNIT_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def _interval_micros(interval: str) -> int:
    """'10 minutes' -> 600_000_000 us (the bucket width for banding)."""
    qty, unit = interval.strip().split()
    return int(qty) * _UNIT_US[unit.lower()]


def interval_join(left: DataFrame, right: DataFrame, on: Sequence[str],
                  left_ts: str, right_ts: str, lookback: str,
                  how: str = "inner") -> DataFrame:
    """Join each left row to right rows of the same key with
    ``right_ts`` in ``(left_ts - lookback, left_ts]`` — the batch form
    of a watermarked stream-stream interval join.

    Scale design: a naive ``l.ts BETWEEN r.ts AND r.ts + d`` join is a
    per-key range cross-join — O(n*m) on hot keys.  Here the right side
    is bucketed by ``floor(ts / lookback)`` and the left probes its own
    bucket and the previous one, so Catalyst plans an EQUI-join on
    (key, bucket) (shuffled hash / sort-merge, AQE-skew-splittable) and
    the residual range predicate filters within buckets.  Any match is at
    most ``lookback`` old, so it lands in the same or previous bucket —
    two probe rows per left row, regardless of key skew.
    """
    if how != "inner":
        # outer variants would need dedup of the exploded probe side
        raise ValueError("interval_join supports how='inner' only")
    on = list(on)
    gap = F.expr(f"INTERVAL {lookback}")
    bucket_us = _interval_micros(lookback)
    lb = F.floor(_micros(F.col(left_ts)) / bucket_us)
    rb = F.floor(_micros(F.col(right_ts)) / bucket_us)
    probe = left.withColumn(
        "_bucket", F.explode(F.array(lb.cast("long"), lb.cast("long") - 1))
    )
    build = right.withColumn("_bucket", rb)
    cond = [F.col(f"l.{c}") == F.col(f"r.{c}") for c in on] + [
        F.col("l._bucket") == F.col("r._bucket"),
        F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}") - gap,
        F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"),
    ]
    joined = probe.alias("l").join(build.alias("r"), cond, how)
    keep = [F.col(f"l.{c}").alias(c) for c in left.columns] + [
        F.col(f"r.{c}").alias(c) for c in right.columns if c not in on
    ]
    return joined.select(*keep)


def sessionize(df: DataFrame, key_cols: Sequence[str], ts_col: str,
               gap: str = "30 minutes") -> DataFrame:
    """Assign gap-based session ids: a new session starts whenever the gap
    to the previous event of the same key exceeds ``gap``.

    Adds ``session_id`` (0-based per key, in time order).  Two window
    passes over one (key, ts) shuffle; the batch analog of Structured
    Streaming's ``session_window``.
    """
    keys = [F.col(k) for k in key_cols]
    order = Window.partitionBy(*keys).orderBy(F.asc(ts_col))
    gap_sec = F.expr(f"INTERVAL {gap}")
    prev_ts = F.lag(F.col(ts_col)).over(order)
    new_session = (
        prev_ts.isNull()
        | (F.col(ts_col).cast("timestamp") > prev_ts + gap_sec)
    ).cast("long")
    cum = Window.partitionBy(*keys).orderBy(F.asc(ts_col)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn("_new", new_session).withColumn(
        "session_id", F.sum("_new").over(cum) - 1
    ).drop("_new")


def session_stats(df: DataFrame, key_cols: Sequence[str], ts_col: str,
                  gap: str = "30 minutes") -> DataFrame:
    """Per-session aggregate: bounds, duration, event count."""
    s = sessionize(df, key_cols, ts_col, gap)
    return s.groupBy(*key_cols, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        # microsecond-exact difference, then whole seconds — subtracting
        # second-truncated timestamps would drift by up to 1 s
        (
            (_micros(F.max(ts_col)) - _micros(F.min(ts_col)))
            / 1_000_000
        ).cast("long").alias("duration_sec"),
    )


def bounce_report(sessions: DataFrame) -> DataFrame:
    """Entry-type bounce rollup over a per-session frame with columns
    ``(entry_type, n_events, duration_sec)`` — the final stage of
    ``session_bounce_stats``; any producer of that per-session schema
    gets the same rollup.  All ratios divide exact integers once,
    rounded at 6."""
    return sessions.groupBy("entry_type").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounce"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count("*").cast("double"),
            6,
        ).alias("bounce_rate"),
        F.round(
            F.sum("n_events") / F.count("*").cast("double"), 6
        ).alias("avg_events"),
        F.round(
            F.sum("duration_sec") / F.count("*").cast("double"), 6
        ).alias("avg_duration_sec"),
    )


def rolling_range_stats(df: DataFrame, key_cols: Sequence[str], ts_col: str,
                        lookback: str, value_col: str) -> DataFrame:
    """Per-row trailing-window stats (velocity features): event count and
    exact decimal sum of ``value_col`` over ``[ts - lookback, ts]`` within
    each key — the per-account "how much activity in the last hour" signal
    a fraud scorer consumes.

    One shuffle on the key; the RANGE frame runs over unix microseconds so
    the boundary arithmetic is integer-exact, and Spark maintains the
    sliding aggregate incrementally within the sorted partition (no
    per-row rescan).  The sum is carried in DECIMAL(18,2): exact
    arithmetic makes the result independent of accumulation order, so any
    engine/parallelism computes the identical value (oracle-comparable).
    """
    lb = _interval_micros(lookback)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(_micros(F.col(ts_col)))
        .rangeBetween(-lb, 0)
    )
    return df.withColumn("n_trailing", F.count("*").over(w)).withColumn(
        "sum_trailing",
        F.sum(F.col(value_col).cast("decimal(18,2)")).over(w).cast("decimal(18,2)"),
    )
