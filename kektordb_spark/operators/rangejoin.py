"""Interval (range) join — the brief's canonical Spark-lacking operator,
expressed with the standard bucketize-then-equi-join technique.

Semantics (the concurrency-enrichment query): for every per-user
session window (gap-based, the exact gaps-and-islands definition the
streaming session operator and its oracle share —
streaming/events.session_windows_oracle_sql), count the events of
OTHER users whose timestamp falls inside the session's half-open
interval [s_us, e_us) — "what else was hitting the system during this
session", the load-attribution join every event-log pipeline needs.

Why this needs an operator: Spark has no native inequality-join
strategy — `e.us >= s.s_us AND e.us < s.e_us` alone plans as a
BroadcastNestedLoopJoin / cartesian (every event against every
session). DuckDB plans the same text as an IEJoin, so the ORACLE keeps
the plain range predicate while the Spark side uses the canonical
batch technique:

  1. explode each session onto the fixed time grid it covers
     (sequence(s_us DIV B, (e_us-1) DIV B) — intervals are
     gap-bounded, so the per-session bucket fan-out is bounded);
  2. map each event to its single bucket in the scan projection;
  3. EQUI-join on the bucket (shuffle on bucket keys — time-local,
     naturally balanced unless one wall-clock bucket is globally hot);
  4. re-apply the EXACT containment predicate as a post-filter.

An event's bucket is unique, so each (event, session) pair meets at
most once — no DISTINCT pass. The join is LEFT from the session side
(sessions with zero concurrent events report 0; count() over the
event id ignores the null rows each empty bucket contributes). All
outputs are integers — exactly associative, hash-stable.

At 100 TB: bucket width B trades fan-out (interval_len/B rows per
session) against join selectivity (events per bucket post-filtered
away); both relations partition by time, so the shuffle is co-located
for time-sorted ingest. The as-of join (operators/asof.py) is the
ordered-window sibling for point-version lookup; this is the
overlap-count sibling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kektordb_spark.dialect import epoch_us

BUCKET_US = 3_600 * 1_000_000  # 1 h in micros — sized to the interval
                               # scale (30-min-gap sessions): fan-out
                               # ~1-2 buckets/session, tight post-filter


def interval_join(
    intervals: DataFrame,
    points: DataFrame,
    start_col: str,
    end_col: str,
    point_col: str,
    bucket: int = BUCKET_US,
    extra_pred: Column | None = None,
) -> DataFrame:
    """Reusable interval-containment join: every (interval, point) pair
    with ``start_col <= point_col < end_col`` (half-open), planned as a
    bucketized EQUI-join + exact post-filter instead of the
    BroadcastNestedLoopJoin Spark would pick for the raw inequality
    predicate (asserted in tests/test_plan_shapes.py).

    Mechanics (the same rewrite session_concurrency_sql hard-codes):
    each interval explodes onto the fixed ``bucket`` grid it covers
    (``sequence(start DIV b, (end-1) DIV b)``), each point maps to its
    single grid cell in the scan projection, the relations equi-join on
    the cell, and the exact containment predicate re-applies as part of
    the join condition. A point's cell is unique, so each qualifying
    pair meets exactly once — no DISTINCT pass, inner-join semantics.

    Columns: the result carries every column of BOTH inputs, so names
    must be disjoint (raises otherwise — silent ambiguity is worse).
    ``extra_pred`` joins additional conditions (e.g. key equality for a
    per-key interval join, or ``<>`` for self-exclusion) into the same
    join so they prune before the shuffle output materializes.

    Degenerate intervals (``end <= start``) cover no grid cell the
    post-filter accepts and contribute nothing, matching the half-open
    predicate. Choose ``bucket`` near the typical interval length:
    fan-out is ~len/bucket rows per interval; selectivity of the
    post-filter improves as the bucket shrinks (at 100 TB both sides
    partition by time, so the equi-join shuffle is co-located for
    time-sorted ingest)."""
    overlap = set(intervals.columns) & set(points.columns)
    if overlap:
        raise ValueError(
            f"interval_join: column name collision {sorted(overlap)} — "
            "rename one side; the result carries both inputs' columns")
    if "_ij_bk" in intervals.columns or "_ij_bk" in points.columns:
        raise ValueError("interval_join: '_ij_bk' is reserved")
    # integral DIV, not float division: double rounding near bucket
    # boundaries could shift a bucket id. DIV truncates toward zero
    # (not floor), which is still MONOTONE — so an in-interval point's
    # bucket always lies between the interval's first and last bucket,
    # negatives included.
    ib = intervals.where(F.col(end_col) > F.col(start_col)).withColumn(
        "_ij_bk",
        F.expr(
            f"explode(sequence(CAST({start_col} AS BIGINT) DIV {bucket},"
            f" (CAST({end_col} AS BIGINT) - 1) DIV {bucket}))"),
    )
    pb = points.withColumn(
        "_ij_bk", F.expr(f"CAST({point_col} AS BIGINT) DIV {bucket}"))
    cond = (
        (ib["_ij_bk"] == pb["_ij_bk"])
        & (pb[point_col] >= ib[start_col])
        & (pb[point_col] < ib[end_col])
    )
    if extra_pred is not None:
        cond = cond & extra_pred
    return ib.join(pb, cond, "inner").drop("_ij_bk")


def _sessions(dialect: str) -> str:
    from kektordb_spark.streaming.events import session_windows_oracle_sql

    return session_windows_oracle_sql(dialect)


def session_concurrency_sql(dialect: str, bucket_us: int = BUCKET_US) -> str:
    """One text per dialect, same relational answer: DuckDB runs the
    direct range predicate (IEJoin); Spark runs the bucketized
    equi-join + exact post-filter (see module docstring)."""
    us = epoch_us(dialect, "ts")
    sess = _sessions(dialect)
    if dialect == "duckdb":
        return f"""
WITH s AS MATERIALIZED (
{sess}
),
ev AS (SELECT user_id, event_id, {us} AS us FROM events)
SELECT s.user_id, s.s_us, s.e_us, s.n_events,
       CAST(count(e.event_id) AS BIGINT) AS n_concurrent
FROM s LEFT JOIN ev e
  ON e.us >= s.s_us AND e.us < s.e_us AND e.user_id <> s.user_id
GROUP BY s.user_id, s.s_us, s.e_us, s.n_events
""".strip()
    return f"""
WITH s AS (
{sess}
),
sb AS (
  SELECT user_id, s_us, e_us, n_events, bk
  FROM s
  LATERAL VIEW explode(sequence(s_us DIV {bucket_us},
                                (e_us - 1) DIV {bucket_us})) t AS bk
),
ev AS (SELECT user_id, event_id, {us} AS us,
              {us} DIV {bucket_us} AS bk FROM events)
SELECT sb.user_id, sb.s_us, sb.e_us, sb.n_events,
       CAST(count(e.event_id) AS BIGINT) AS n_concurrent
FROM sb LEFT JOIN ev e
  ON e.bk = sb.bk AND e.us >= sb.s_us AND e.us < sb.e_us
 AND e.user_id <> sb.user_id
GROUP BY sb.user_id, sb.s_us, sb.e_us, sb.n_events
""".strip()
