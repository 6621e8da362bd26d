"""Gardener detector analytics (SURVEY.md §2.7 A7-A11, A16).

The reference's Gardener walks every node with a cursor and evaluates
each detector imperatively (gardener.go); here every detector is ONE
whole-table aggregation — groupBy + conditional counts — which is the
Spark-native (and 100 TB-ready) shape: map-side partial aggregation,
one shuffle keyed on the entity, no per-node loops.

Detector semantics and thresholds mirror the reference, re-anchored on
the fixture schema (mentions := 'in_order' edges; failures := events
with event_type='error'):
  * A7 importance shifts (gardener.go:1471-1537): spike if
    recent-window mentions > N AND > 2x the older count.
  * A8 sentiment shifts (gardener.go:2568-2673): |avg sentiment recent
    - past| >= threshold over mention sources.
  * A9 centrality shifts (gardener.go:2677-2751): degree(now) >= 10
    and > 3x degree(past) via time-travel counts.
  * A10 forgetting (gardener.go:2755-2814): >= 5 historical mentions,
    none in the last 30 days.
  * A11 repeated failures (gardener.go:2818-2975): >= 3 failures per
    entity per 24h window.
  * A16 compiler computed fields (pkg/compiler/deterministic.go:11-240):
    interaction_count / last_activity / duration_minutes / node_count /
    top_entities / relation summary per session-entity.

All dialect-parameterized SQL with DuckDB oracles.
"""

from __future__ import annotations

from kektordb_spark.dialect import epoch, size, str_arr
from kektordb_spark.operators.graph import time_travel_pred_sql

DAY = 86400


def importance_shifts_sql(
    dialect: str, now: int, window: int = 180 * DAY,
    min_recent: int = 2, ratio: float = 2.0, min_total: int = 5,
) -> str:
    """A7: mention spike per node ('in_order' in-edges). Mirrors the
    reference's gate structure (gardener.go:1484-1501): nodes with
    fewer than ``min_total`` mentions in ALL history are skipped as
    insignificant BEFORE the spike test recent > min_recent AND
    recent > ratio * older. Window/thresholds are fixture-scaled
    (the reference's 3-day window is meaningless against the TPC-H
    date range)."""
    return f"""
WITH m AS (
  SELECT dst AS node,
         count(*) FILTER (WHERE created_at > {now - window} AND created_at <= {now}) AS recent,
         count(*) FILTER (WHERE created_at <= {now - window}) AS older
  FROM edges
  WHERE rel = 'in_order' AND created_at <= {now}
  GROUP BY dst
)
SELECT node, CAST(recent AS INT) AS recent, CAST(older AS INT) AS older
FROM m
WHERE recent + older >= {min_total}
  AND recent > {min_recent} AND recent > {ratio} * older
""".strip()


def sentiment_shifts_sql(
    dialect: str, now: int, window: int = 14 * DAY, min_delta: float = 0.5,
) -> str:
    """A8: per-user sentiment delta between the recent window and the
    past, over the docs each event mentions (event_id % 500 keys the
    doc — the fixture's mention join). Sentiment = lexicon hits
    (functions/text.py T7)."""
    from kektordb_spark.functions.text import NEGATIVE_WORDS, POSITIVE_WORDS

    senti = " - ".join(
        size(dialect, f"filter(toks, t -> array_contains({str_arr(dialect, words)}, t))")
        for words in (POSITIVE_WORDS, NEGATIVE_WORDS)
    )
    return f"""
WITH ds AS (
  -- sentiment is DOC-level: evaluate the lexicon filters once per doc
  -- (|docs| HOF evaluations) instead of once per joined event row
  -- (|events| — measured ~3x the query cost at sf0.1)
  SELECT doc_id, CAST({senti} AS DOUBLE) AS senti FROM docs_tok
),
s AS (
  SELECT e.user_id, {epoch(dialect, 'e.ts')} AS ets, d.senti
  FROM events e JOIN ds d ON d.doc_id = e.event_id % 500
),
w AS (
  SELECT user_id,
         avg(senti) FILTER (WHERE ets > {now - window} AND ets <= {now}) AS avg_recent,
         avg(senti) FILTER (WHERE ets <= {now - window}) AS avg_past
  FROM s WHERE ets <= {now}
  GROUP BY user_id
)
SELECT user_id, round(avg_recent, 6) AS avg_recent, round(avg_past, 6) AS avg_past,
       round(avg_recent - avg_past, 6) AS delta
FROM w
WHERE avg_recent IS NOT NULL AND avg_past IS NOT NULL
  AND abs(avg_recent - avg_past) >= {min_delta}
""".strip()


def centrality_shifts_sql(
    dialect: str, now: int, past: int, min_deg: int = 10, ratio: float = 3.0,
) -> str:
    """A9: in-degree now vs past via time-travel predicates."""
    tt_now = time_travel_pred_sql(now)
    tt_past = time_travel_pred_sql(past)
    return f"""
WITH d AS (
  SELECT dst AS node,
         count(*) FILTER (WHERE {tt_now})  AS deg_now,
         count(*) FILTER (WHERE {tt_past}) AS deg_past
  FROM edges
  GROUP BY dst
)
SELECT node, CAST(deg_now AS INT) AS deg_now, CAST(deg_past AS INT) AS deg_past
FROM d
WHERE deg_now >= {min_deg} AND deg_now > {ratio} * deg_past
""".strip()


def forgetting_sql(
    dialect: str, now: int, quiet: int = 30 * DAY, min_mentions: int = 5,
) -> str:
    """A10: well-mentioned nodes gone quiet."""
    return f"""
WITH m AS (
  SELECT dst AS node, count(*) AS total, max(created_at) AS last_mention
  FROM edges
  WHERE rel = 'in_order' AND created_at <= {now}
  GROUP BY dst
)
SELECT node, CAST(total AS INT) AS total_mentions, last_mention
FROM m
WHERE total >= {min_mentions} AND last_mention < {now - quiet}
""".strip()


def repeated_failures_sql(dialect: str, min_failures: int = 3) -> str:
    """A11: >= N failure events per user per UTC day."""
    day = "date_trunc('DAY', ts)"
    daystr = (
        f"date_format({day}, 'yyyy-MM-dd')" if dialect == "spark"
        else f"strftime({day}, '%Y-%m-%d')"
    )
    return f"""
SELECT user_id, {daystr} AS day, CAST(count(*) AS INT) AS n_failures
FROM events
WHERE event_type = 'error'
GROUP BY user_id, {daystr}
HAVING count(*) >= {min_failures}
""".strip()


def computed_fields_sql(dialect: str, top_n: int = 3) -> str:
    """A16: per-customer computed fields — the compiler's deterministic
    aggregate set reshaped onto the fixture star schema. One pass over
    orders (counts, time span) + one over lineitem x orders for the
    top-N entities; both keyed on the customer, broadcast-joined at the
    end."""
    ep = epoch(dialect, "o_orderdate")
    # top-N as N conditional-max columns (portable; avoids engine-specific
    # struct-sort semantics), then concat_ws which skips NULLs identically.
    rank_cols = ", ".join(
        f"CAST(max(CASE WHEN rk = {i} THEN pk END) AS STRING)" for i in range(1, top_n + 1)
    )
    joinstr = f"concat_ws(',', {rank_cols})"
    return f"""
WITH base AS (
  SELECT o_custkey AS cust,
         count(*) AS interaction_count,
         max({ep}) AS last_activity,
         round((max({ep}) - min({ep})) / CAST(60.0 AS DOUBLE), 2) AS duration_minutes
  FROM orders
  GROUP BY o_custkey
),
parts AS (
  SELECT o.o_custkey AS cust, l.l_partkey AS pk, count(*) AS cnt
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_custkey, l.l_partkey
),
ranked AS (
  SELECT cust, pk, cnt,
         row_number() OVER (PARTITION BY cust ORDER BY cnt DESC, pk ASC) AS rk
  FROM parts
),
tops AS (
  SELECT cust,
         {joinstr} AS top_entities
  FROM ranked WHERE rk <= {top_n}
  GROUP BY cust
),
nodes AS (
  SELECT cust, count(*) AS node_count FROM parts GROUP BY cust
)
SELECT b.cust AS custkey,
       CAST(b.interaction_count AS INT) AS interaction_count,
       b.last_activity,
       b.duration_minutes,
       CAST(n.node_count AS INT) AS node_count,
       t.top_entities
FROM base b
JOIN nodes n ON n.cust = b.cust
JOIN tops t ON t.cust = b.cust
""".strip()
