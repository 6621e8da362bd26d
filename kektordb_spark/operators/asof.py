"""As-of join — the canonical "operator Spark lacks" (brief §custom
operators): each probe row picks the LATEST version row at-or-before
its timestamp within its key.

The reference touches this shape twice: time-travel reads pick edge
versions active at t (pkg/core/graph.go:350-362), and the artifact
store reads the newest version at-or-before a request (pkg/compiler/
store.go). A naive implementation is a range join (probe.ts >=
version.ts) + per-probe max — O(|probes| x |versions per key|) pairs
through the join.

The scalable shape is the UNION + ORDERED WINDOW trick (what
Flink/QuestDB/kdb-style engines do internally, and pandas merge_asof
single-node): interleave probes and versions in one relation sorted by
(key, ts, kind), then ``last(version IGNORE NULLS)`` over the
unbounded-preceding frame assigns every probe the version in effect —
ONE shuffle keyed on the join key, zero row blowup, skew-bounded by
the key partitioning. Both Spark and DuckDB express it natively, so
the operator is fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kektordb_spark.dialect import epoch


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    how: str = "left",
) -> DataFrame:
    """Reusable as-of join (r6 — the public-API promotion the interval
    join got, same rationale: the brief's Spark-lacking operators
    deserve operators, not single queries): every ``left`` row picks
    the ``right`` row with the greatest ``right_ts`` at-or-before its
    ``left_ts`` within the ``on`` key — pandas merge_asof(backward)
    semantics, planned as the UNION + ordered-window trick (module
    docstring): ONE shuffle on the key, NO join node, zero row blowup
    (plan-asserted in tests/test_plan_shapes.py).

    Mechanics that make it correct, not just fast:
      * the right row's payload travels as ONE struct through
        ``last(ignorenulls)`` — per-column lasts could stitch fields
        from DIFFERENT versions whenever any payload column is null;
      * the window orders by (ts, kind, payload): versions sort before
        probes at equal timestamps (at-or-before includes ties), and
        the payload tiebreak makes equal-timestamp versions
        deterministic;
      * ``how='left'`` keeps unmatched probes (right columns null);
        ``'inner'`` drops them.

    Column names must be disjoint outside ``on`` (raises otherwise).
    Returns all left columns + the right payload columns."""
    if how not in ("left", "inner"):
        raise ValueError("asof_join: how must be 'left' or 'inner'")
    payload_cols = [c for c in right.columns
                    if c not in on and c != right_ts]
    if not payload_cols:
        raise ValueError(
            "asof_join: right side needs at least one payload column "
            "besides the key and timestamp")
    overlap = (set(left.columns) - set(on)) & set(payload_cols + [right_ts])
    if overlap:
        raise ValueError(
            f"asof_join: column name collision {sorted(overlap)} — "
            "rename one side (only the 'on' keys may be shared)")
    def _ts_long(df: DataFrame, col: str) -> Column:
        """Order key for the interleave. cast('long') on a TIMESTAMP
        truncates to whole seconds — probes could match versions up to
        1s in their FUTURE, breaking merge_asof(backward) semantics
        (ADVICE r6) — so timestamps go through unix_micros. Date
        promotes to midnight micros; integral types cast directly;
        anything else (string, double) raises rather than coarsening
        silently."""
        from pyspark.sql import types as T

        dt = df.schema[col].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(F.col(col))
        if isinstance(dt, T.DateType):
            return F.unix_micros(F.col(col).cast("timestamp"))
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return F.col(col).cast("long")
        raise ValueError(
            f"asof_join: ts column {col!r} has non-integral, "
            f"non-timestamp type {dt.simpleString()}; cast it "
            "explicitly to avoid silent resolution loss")

    payload = F.struct(*[F.col(c) for c in payload_cols])
    versions = right.select(
        *[F.col(c) for c in on],
        _ts_long(right, right_ts).alias("_aj_ts"),
        F.lit(0).alias("_aj_kind"),
        payload.alias("_aj_p"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in on],
    )
    probes = left.select(
        *[F.col(c) for c in on],
        _ts_long(left, left_ts).alias("_aj_ts"),
        F.lit(1).alias("_aj_kind"),
        F.lit(None).cast(versions.schema["_aj_p"].dataType).alias("_aj_p"),
        *[F.col(c) for c in left.columns if c not in on],
    )
    w = (
        Window.partitionBy(*on)
        .orderBy("_aj_ts", "_aj_kind", "_aj_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    resolved = (
        versions.unionByName(probes)
        .withColumn("_aj_m", F.last("_aj_p", ignorenulls=True).over(w))
        .where(F.col("_aj_kind") == 1)
    )
    if how == "inner":
        # the MATCH is null, not a payload field (a matched version may
        # legitimately carry null fields)
        resolved = resolved.where(F.col("_aj_m").isNotNull())
    return resolved.select(
        *[F.col(c) for c in on],
        *[F.col(c) for c in left.columns if c not in on],
        *[F.col("_aj_m")[c].alias(c) for c in payload_cols],
    )


def artifact_version_asof_sql(
    dialect: str, artifact_mod: int = 25, probe_every: int = 3,
    probe_lag_s: int = 1800,
) -> str:
    """Version-as-of query over the SCD-2 artifact stream
    (lifecycle.artifact_diff_sql cohort): versions = the artifact's
    events in ts order; probes = a half-hour after every
    ``probe_every``-th event. Each probe resolves to the version
    number in effect at its timestamp (0 = before the first version).
    """
    ep = epoch(dialect, "ts")
    last_ver = "last(ver, true)" if dialect == "spark" else "last_value(ver IGNORE NULLS)"
    return f"""
WITH v AS (
  SELECT user_id AS artifact, {ep} AS t, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ver
  FROM events
  WHERE user_id % {artifact_mod} = 0
),
probes AS (
  SELECT artifact, t + {probe_lag_s} AS t, event_id AS probe_id
  FROM v WHERE ver % {probe_every} = 0
),
u AS (
  SELECT artifact, t, 0 AS is_probe, ver, CAST(NULL AS BIGINT) AS probe_id FROM v
  UNION ALL
  SELECT artifact, t, 1, NULL, probe_id FROM probes
),
w AS (
  SELECT artifact, t, is_probe, probe_id,
         {last_ver} OVER (
           PARTITION BY artifact
           ORDER BY t, is_probe, ver NULLS LAST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS ver_asof
  FROM u
)
SELECT artifact, probe_id, t AS probe_t,
       CAST(coalesce(ver_asof, 0) AS INT) AS ver_asof
FROM w WHERE is_probe = 1
ORDER BY artifact, probe_id
""".strip()
