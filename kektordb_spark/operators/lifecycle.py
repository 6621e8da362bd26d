"""Memory-lifecycle & meta analytics (SURVEY.md §2.7 A12-A15, A17-A18;
§2.6 G14).

Reference behaviors re-anchored on the fixture schema (artifact :=
user_id; version := the user's events in timestamp order; memory node
ids as in the mem view):

  * A12 knowledge evolution (gardener.go:2977-3143): compare three
    temporal subgraph snapshots of an entity; here per-part out-edge
    snapshots at t1<t2<t3 with added/removed deltas between them — one
    conditional-count aggregation pass instead of three extractions.
  * A13 cross-validator (gardener.go:3145-3276): composite reflection
    when the same entity is flagged by >= 2 detectors in one cycle.
  * A14 session summary (gardener.go:1563-1680, 2226-2294,
    deterministic fallback): first/last memory + count + span.
  * A15 user profile (gardener.go:1729-2174, deterministic keyword
    tally): top event types per user after >= N interactions.
  * A17 artifact versioning/diff (pkg/compiler/store.go, watcher.go:
    1-429): SCD-2 versions; field-level diff added/removed/modified via
    a self-join of key/value-exploded versions at offset 1.
  * A18 transfer memory (internal/server/http_handlers.go:270-330):
    query-select memories from index A -> copy rows into index B with
    an agent proxy marker.
  * G14 evolution chain (http_handlers.go:113, DOCUMENTATION.md:
    1521-1566): walk 'evolves_from' backward from a head node, bounded
    depth 10.

Every aggregation is a single groupBy pass (map-side partial agg); the
A17 diff joins on (artifact, field, version) — an equi-join that
co-partitions by artifact at scale, never a cross product.

All dialect-parameterized SQL with DuckDB oracles.
"""

from __future__ import annotations

from kektordb_spark.dialect import array_join, collect_sorted, epoch
from kektordb_spark.operators import gardener as GD

DAY = 86400


def knowledge_evolution_sql(
    dialect: str, t1: int, t2: int, t3: int, top_k: int = 20,
) -> str:
    """A12: per-entity ('in_order' out-edges of parts) snapshot diffs at
    t1 < t2 < t3. added(i,j) = created in (ti,tj] and still active at
    tj; removed(i,j) = active at ti, soft-deleted in (ti,tj]. One
    conditional-count scan over edges — at 100 TB this is a single
    shuffle keyed on the entity."""

    def act(t: int) -> str:
        return f"created_at <= {t} AND (deleted_at = 0 OR deleted_at > {t})"

    return f"""
WITH d AS (
  SELECT src AS entity,
         count(*) FILTER (WHERE {act(t1)}) AS deg_t1,
         count(*) FILTER (WHERE {act(t2)}) AS deg_t2,
         count(*) FILTER (WHERE {act(t3)}) AS deg_t3,
         count(*) FILTER (WHERE created_at > {t1} AND created_at <= {t2}
                            AND (deleted_at = 0 OR deleted_at > {t2})) AS added_12,
         count(*) FILTER (WHERE created_at <= {t1}
                            AND deleted_at > {t1} AND deleted_at <= {t2}) AS removed_12,
         count(*) FILTER (WHERE created_at > {t2} AND created_at <= {t3}
                            AND (deleted_at = 0 OR deleted_at > {t3})) AS added_23,
         count(*) FILTER (WHERE created_at <= {t2}
                            AND deleted_at > {t2} AND deleted_at <= {t3}) AS removed_23
  FROM edges
  WHERE rel = 'in_order'
  GROUP BY src
)
SELECT entity,
       CAST(deg_t1 AS INT) AS deg_t1, CAST(deg_t2 AS INT) AS deg_t2,
       CAST(deg_t3 AS INT) AS deg_t3,
       CAST(added_12 AS INT) AS added_12, CAST(removed_12 AS INT) AS removed_12,
       CAST(added_23 AS INT) AS added_23, CAST(removed_23 AS INT) AS removed_23
FROM d
WHERE added_12 + removed_12 + added_23 + removed_23 > 0
ORDER BY added_12 + removed_12 + added_23 + removed_23 DESC, entity
LIMIT {top_k}
""".strip()


def cross_validator_sql(dialect: str, now: int, past: int) -> str:
    """A13: entities flagged by >= 2 of {importance, centrality,
    forgetting} in the same cycle. The detector CTEs are the registered
    A7/A9/A10 queries verbatim — one source of truth."""
    agg = array_join(dialect, collect_sorted(dialect, "detector"), ",")
    return f"""
WITH imp AS ({GD.importance_shifts_sql(dialect, now=now)}),
cen AS ({GD.centrality_shifts_sql(dialect, now=now, past=past)}),
fog AS ({GD.forgetting_sql(dialect, now=now)}),
flags AS (
  SELECT node, 'importance' AS detector FROM imp
  UNION ALL
  SELECT node, 'centrality' AS detector FROM cen
  UNION ALL
  SELECT node, 'forgetting' AS detector FROM fog
)
SELECT node, CAST(count(*) AS INT) AS n_detectors, {agg} AS detectors
FROM flags
GROUP BY node
HAVING count(*) >= 2
""".strip()


def session_summary_sql(dialect: str) -> str:
    """A14 deterministic session summary: per session (user), memory
    count, first/last memory type, span in minutes. first/last via two
    row_number windows + conditional max — portable across engines and
    tie-broken on event_id.

    This is the reference's no-LLM fallback (gardener.go:2226-2294);
    its LLM path is the ``synthesize`` hook of the Brain seam
    (functions/brain.py) — a real-model deployment summarizes the
    per-session ``collect_list`` through one Arrow batch there, and
    this SQL remains the oracle-checked fallback."""
    ep = epoch(dialect, "ts")
    return f"""
WITH r AS (
  SELECT user_id, event_type, {ep} AS ets,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id,
       CAST(count(*) AS INT) AS n_memories,
       max(CASE WHEN rn_a = 1 THEN event_type END) AS first_type,
       max(CASE WHEN rn_d = 1 THEN event_type END) AS last_type,
       round((max(ets) - min(ets)) / CAST(60.0 AS DOUBLE), 2) AS span_minutes
FROM r
GROUP BY user_id
""".strip()


def user_profile_sql(
    dialect: str, min_interactions: int = 20, top_n: int = 3,
) -> str:
    """A15 deterministic profile rebuild: users past the interaction
    threshold get a profile = top-N event types by frequency (count
    desc, type asc tie-break), as the reference's keyword tally."""
    rank_cols = ", ".join(
        f"CAST(max(CASE WHEN rk = {i} THEN event_type END) AS STRING)"
        for i in range(1, top_n + 1)
    )
    return f"""
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events
  GROUP BY user_id, event_type
),
r AS (
  SELECT user_id, event_type, cnt,
         row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, event_type) AS rk,
         sum(cnt) OVER (PARTITION BY user_id) AS total
  FROM c
)
SELECT user_id,
       CAST(max(total) AS INT) AS interaction_count,
       concat_ws(',', {rank_cols}) AS profile
FROM r
GROUP BY user_id
HAVING max(total) >= {min_interactions}
""".strip()


def artifact_diff_sql(
    dialect: str, artifact_mod: int = 25, hot_threshold: float = 300.0,
) -> str:
    """A17 field-level artifact diff: versions = a user's events in time
    order; fields = (type, value_bucket, sparse hot flag). Diff version
    v against v-1 by a FULL JOIN of the key/value-exploded fields at
    offset 1: b-side-only rows are removals (guarded to <= the
    artifact's max version), a-side-only are additions (v=1 rows are the
    initial 'added' set), value mismatches are modifications."""
    return f"""
WITH v AS (
  SELECT user_id AS artifact, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version
  FROM events
  WHERE user_id % {artifact_mod} = 0
),
vmax AS (
  SELECT artifact, max(version) AS mx FROM v GROUP BY artifact
),
fields AS (
  SELECT artifact, version, 'type' AS field, event_type AS val FROM v
  UNION ALL
  SELECT artifact, version, 'value_bucket' AS field,
         CAST(CAST(floor(value / 50) AS INT) AS STRING) AS val FROM v
  UNION ALL
  SELECT artifact, version, 'hot' AS field, 'true' AS val
  FROM v WHERE value >= {hot_threshold}
),
d AS (
  SELECT coalesce(a.artifact, b.artifact) AS artifact,
         coalesce(a.version, b.version + 1) AS version,
         coalesce(a.field, b.field) AS field,
         CASE WHEN b.field IS NULL THEN 'added'
              WHEN a.field IS NULL THEN 'removed'
              WHEN a.val <> b.val THEN 'modified'
              ELSE NULL END AS status,
         b.val AS old_val, a.val AS new_val
  FROM fields a
  FULL JOIN fields b
    ON a.artifact = b.artifact AND a.field = b.field
   AND a.version = b.version + 1
)
SELECT d.artifact, CAST(d.version AS INT) AS version, d.field, d.status,
       d.old_val, d.new_val
FROM d JOIN vmax m ON m.artifact = d.artifact
WHERE d.status IS NOT NULL AND d.version <= m.mx
ORDER BY d.artifact, d.version, d.field
""".strip()


def artifact_staleness_sql(
    dialect: str, artifact_mod: int = 5, now_epoch: int = 1706745600,
) -> str:
    """A17 artifact staleness + dynamic recompile threshold
    (pkg/compiler/watcher.go:118-207, 320-351): staleness accrues 0.3
    per source-change event since the last compile plus 0.05 per hour
    since compile; importance = usage_count * exp(-recency_hours/168)
    * 0.3, +1.0 when the artifact has >5 sources, capped at 10; the
    threshold adapts (x0.5 if importance>8, x0.7 if >5, x2.0 if
    usage<10) and the artifact is flagged stale when score >= threshold.

    Fixture anchoring (same cohort convention as artifact_diff_sql):
    artifact := user with user_id %% {artifact_mod} == 0; the last
    compile is the artifact's median event (versions in ts order);
    changes-since-compile are later events; usage/accesses are its
    view+click events; sources := distinct value buckets. 'now' is an
    injected epoch so the operator is deterministic (never now()
    inside operators). One pass over events, one groupBy per artifact
    — a single shuffle keyed on the artifact at scale."""
    ep = epoch(dialect, "ts")
    return f"""
WITH v AS (
  SELECT user_id AS artifact, event_type, value, {ep} AS ep,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS version,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
  WHERE user_id % {artifact_mod} = 0
),
agg AS (
  SELECT artifact,
         max(CASE WHEN version = CAST(ceil(n_events / 2.0) AS BIGINT) THEN ep END) AS compiled_at,
         count(CASE WHEN version > CAST(ceil(n_events / 2.0) AS BIGINT) THEN 1 END) AS n_changes,
         count(CASE WHEN event_type IN ('view', 'click') THEN 1 END) AS usage_count,
         max(CASE WHEN event_type IN ('view', 'click') THEN ep END) AS last_accessed,
         count(DISTINCT CAST(floor(value / 50) AS INT)) AS n_sources
  FROM v GROUP BY artifact
),
scored AS (
  SELECT artifact, n_changes, usage_count, n_sources,
         CAST(0.3 AS DOUBLE) * n_changes
           + CAST(0.05 AS DOUBLE) * (({now_epoch} - compiled_at) / 3600.0) AS staleness,
         least(usage_count * exp(-(({now_epoch} - coalesce(last_accessed, 0)) / 3600.0) / 168.0) * 0.3
               + CASE WHEN n_sources > 5 THEN 1.0 ELSE 0.0 END, 10.0) AS importance
  FROM agg
)
SELECT artifact, CAST(n_changes AS INT) AS n_changes,
       CAST(usage_count AS INT) AS usage_count,
       round(staleness, 6) AS staleness,
       round(importance, 6) AS importance,
       CAST(CASE WHEN importance > 8.0 THEN 0.5
                 WHEN importance > 5.0 THEN 0.7
                 WHEN usage_count < 10 THEN 2.0
                 ELSE 1.0 END AS DOUBLE) AS threshold,
       staleness >= (CASE WHEN importance > 8.0 THEN 0.5
                          WHEN importance > 5.0 THEN 0.7
                          WHEN usage_count < 10 THEN 2.0
                          ELSE 1.0 END) AS stale
FROM scored
ORDER BY artifact
""".strip()


def engine_stats_sql(dialect: str) -> str:
    """System stats endpoint (GET /system/stats, internal/server/
    http_handlers.go:55; MCP get_stats): per-relation row/active counts
    — the catalog-level numbers the reference reports from its
    in-memory structs. Metadata-only aggregations; at scale these are
    parquet-footer count pushdowns (no full scan)."""
    return """
SELECT 'memories' AS relation, count(*) AS total,
       count(CASE WHEN NOT deleted THEN 1 END) AS active
FROM mem
UNION ALL
SELECT 'edges', count(*), count(CASE WHEN deleted_at = 0 THEN 1 END) FROM edges
UNION ALL
SELECT 'documents', count(*), count(*) FROM documents
UNION ALL
SELECT 'embeddings', count(*), count(*) FROM emb
""".strip()


def transfer_memory_sql(
    dialect: str, event_type: str = "purchase", min_value: float = 150.0,
) -> str:
    """A18 transfer: select memories matching a query from index A and
    emit the rows as they land in index B (namespaced id) with the agent
    proxy marker — the read side of the INSERT INTO b SELECT."""
    return f"""
SELECT concat('b/', id) AS target_id,
       id AS source_id,
       event_type, user_id,
       round(value, 2) AS value,
       created_at,
       'agent:transfer' AS proxy_node,
       'transferred_from' AS rel
FROM mem
WHERE NOT deleted AND event_type = '{event_type}' AND value >= {min_value}
""".strip()


def evolution_chain_oracle_sql(
    dialect: str, user_mod: int = 25, max_depth: int = 10,
) -> str:
    """G14 oracle: the evolves_from chain of a user's memories is linear
    (each event evolves from the previous one), so walking backward from
    the head is reverse-rank arithmetic — depth d ancestor = the event
    with descending rank d+1."""
    return f"""
WITH r AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rd
  FROM events
)
SELECT s.user_id,
       concat('ev_', CAST(s.event_id AS STRING)) AS seed,
       concat('ev_', CAST(r.event_id AS STRING)) AS ancestor,
       CAST(r.rd - 1 AS INT) AS depth
FROM (SELECT user_id, event_id FROM r WHERE rd = 1 AND user_id % {user_mod} = 0) s
JOIN r ON r.user_id = s.user_id AND r.rd BETWEEN 2 AND {max_depth + 1}
""".strip()
