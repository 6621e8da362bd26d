"""Epistemic-state analytics (SURVEY.md §2.7 A1-A4).

Reference math (pkg/engine/epistemic_types.go, epistemic.go:22-182):
  * A1 consensus: candidates = k-NN of the query (k<=50); centroid =
    elementwise mean; variance = mean squared cosine-distance to the
    centroid; maxVar = max pairwise cosine-distance; score =
    1 - min(variance / maxVar^2, 1).
  * A2 stability: mean decay over nodes, 30-day half-life, plus mean
    age in days (epistemic_types.go:182-224).
  * A3 friction: score = max(0, 1 - (0.20 * n_contradicts +
    0.50 * n_invalidates)) over incoming edges
    (epistemic_types.go:228-253). The fixture graph's relation names
    stand in: 'in_order' carries the 0.20 weight, 'supplied_by' the
    0.50 weight.
  * A4 belief state: 0.40*consensus + 0.30*stability + 0.30*friction →
    contested (friction edges present AND belief < 0.85 — checked
    FIRST, so low-belief contested nodes are contested, not volatile) /
    crystallized (>=0.85) / volatile (<=0.40) / stable
    (epistemic_types.go:256-274). A1 guards maxVar < 1e-10 → 1.0
    (identical candidate vectors; epistemic_types.go:168-175).

Everything is dialect-parameterized SQL (Spark == DuckDB bit-for-bit
after 6-dp rounding). Plan shape at scale: the candidate step is the
k-NN operator (broadcast queries, one scan); the per-candidate-set
aggregations all key on query_id, so A1..A4 is ONE shuffle per stage
over at most k rows per query — candidate sets are <=50 rows by
construction, so every post-kNN stage is broadcast-sized.
"""

from __future__ import annotations

from kektordb_spark.dialect import dot_sql, fold, list_by, posexplode, transform

QUERY_TIME = 1705276800  # 2024-01-15 UTC (same anchor as the registry)
STABILITY_HL_SECONDS = 30 * 24 * 3600.0  # 30-day half-life (A2)
W_CONTRA, W_INVAL = 0.20, 0.50


def _cand_cte(dialect: str, n_queries: int, k: int) -> str:
    """Ranked top-k cosine candidates for query vectors vec_id <
    n_queries (self excluded) — the V1 k-NN shape as a CTE."""
    dot = dot_sql(dialect, "q.v", "c.v")
    return f"""q AS (SELECT vec_id, v, norm FROM emb WHERE vec_id < {n_queries}),
d AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.v, c.norm,
         1.0 - ({dot}) / (q.norm * c.norm) AS dist
  FROM q CROSS JOIN emb c WHERE c.vec_id <> q.vec_id
),
cand AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, cand_id ASC) AS rk
    FROM d
  ) t WHERE rk <= {k}
)"""


def _centroid_cte(dialect: str) -> str:
    """Per-query centroid of candidate vectors + its L2 norm.
    The explode is k*dim rows per query — trivial for k<=50."""
    ex = posexplode(dialect, "query_id", "cand")
    collect = list_by(dialect, "m", "pos")
    normsq = fold(dialect, transform(dialect, "cv", "y -> y * y"),
                  "CAST(0.0 AS DOUBLE)", "(s, p) -> s + p")
    return f"""ex AS ({ex}),
cm AS (
  SELECT query_id, pos, avg(x) AS m FROM ex GROUP BY query_id, pos
),
centroid AS (
  SELECT query_id, {collect} AS cv FROM cm GROUP BY query_id
),
centroid_n AS (
  SELECT query_id, cv, sqrt({normsq}) AS cnorm FROM centroid
)"""


def _consensus_ctes(dialect: str, n_queries: int, k: int) -> str:
    """CTE chain ending in ``consensus(query_id, n_cands, variance,
    max_pairwise, consensus)``."""
    dot_c = dot_sql(dialect, "c.v", "n.cv")
    dot_p = dot_sql(dialect, "a.v", "b.v")
    # Spark (r8): every relation here is query-bounded (cand =
    # n_queries x k rows; the aggregates are one row per query), but
    # all are stats-less behind the CTE chain, so the query_id joins
    # planned as SortMergeJoins — broadcast the smaller/right sides.
    # DuckDB reads the hints as comments.
    return f"""{_cand_cte(dialect, n_queries, k)},
{_centroid_cte(dialect)},
var_ AS (
  SELECT /*+ BROADCAST(n) */ c.query_id,
         count(*) AS n_cands,
         avg(power(1.0 - ({dot_c}) / (c.norm * n.cnorm), 2)) AS variance
  FROM cand c JOIN centroid_n n ON c.query_id = n.query_id
  GROUP BY c.query_id
),
pw AS (
  SELECT /*+ BROADCAST(b) */ a.query_id, max(1.0 - ({dot_p}) / (a.norm * b.norm)) AS max_pairwise
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.cand_id < b.cand_id
  GROUP BY a.query_id
),
consensus AS (
  SELECT /*+ BROADCAST(p) */ v.query_id, v.n_cands, v.variance, p.max_pairwise,
         CASE WHEN p.max_pairwise < 1e-10 THEN 1.0
              ELSE 1.0 - least(v.variance / (p.max_pairwise * p.max_pairwise), 1.0)
         END AS consensus
  FROM var_ v JOIN pw p ON v.query_id = p.query_id
)"""


def consensus_sql(dialect: str, n_queries: int = 5, k: int = 20) -> str:
    """A1: per-query consensus over its k-NN candidate set."""
    return f"""
WITH {_consensus_ctes(dialect, n_queries, k)}
SELECT query_id, CAST(n_cands AS INT) AS n_cands,
       round(variance, 6) AS variance,
       round(max_pairwise, 6) AS max_pairwise,
       round(consensus, 6) AS consensus
FROM consensus
""".strip()


def _decay30_expr(created: str, last: str) -> str:
    """Exponential decay, 30-day half-life, ref time =
    max(created, last_accessed) (A2; ops.go:1132-1146 ref-time rule)."""
    ref = f"greatest(CAST({created} AS DOUBLE), CAST(coalesce({last}, {created}) AS DOUBLE))"
    age = f"(CAST({QUERY_TIME} AS DOUBLE) - {ref})"
    return (
        f"CASE WHEN {age} <= 0.0 THEN 1.0 "
        f"ELSE power(2.0, -{age} / {STABILITY_HL_SECONDS}) END"
    )


def stability_sql(dialect: str) -> str:
    """A2: per-layer mean 30-day-half-life decay + mean age (days)."""
    decay = _decay30_expr("created_at", "last_accessed")
    age_days = (
        f"(CAST({QUERY_TIME} AS DOUBLE) - CAST(created_at AS DOUBLE)) / 86400.0"
    )
    return f"""
SELECT memory_layer,
       CAST(count(*) AS INT) AS n_memories,
       round(avg({decay}), 6) AS stability,
       round(avg({age_days}), 6) AS avg_age_days
FROM mem WHERE NOT deleted
GROUP BY memory_layer
""".strip()


def friction_sql(dialect: str, at_time: int, limit: int = 50) -> str:
    """A3: per-node friction from weighted incoming-edge counts; the
    ``limit`` lowest-scoring (most-contested) nodes."""
    from kektordb_spark.operators.graph import time_travel_pred_sql

    tt = time_travel_pred_sql(at_time)
    return f"""
WITH inc AS (
  SELECT dst AS node,
         count(*) FILTER (WHERE rel = 'in_order')    AS n_contra,
         count(*) FILTER (WHERE rel = 'supplied_by') AS n_inval
  FROM edges WHERE {tt}
  GROUP BY dst
)
SELECT node, CAST(n_contra AS INT) AS n_contra, CAST(n_inval AS INT) AS n_inval,
       -- e0 literals: bare 0.0/1.0/weights parse as DECIMAL and make the
       -- friction column decimal-typed on Spark (schema-guard class)
       round(greatest(0e0, 1e0 - ({W_CONTRA}e0 * n_contra + {W_INVAL}e0 * n_inval)), 6) AS friction
FROM inc
ORDER BY round(greatest(0e0, 1e0 - ({W_CONTRA}e0 * n_contra + {W_INVAL}e0 * n_inval)), 6) ASC,
         node ASC
LIMIT {limit}
""".strip()


def belief_state_sql(dialect: str, n_queries: int = 5, k: int = 20) -> str:
    """A4: full belief-state pipeline for ``n_queries`` query vectors.

    Candidate memories map onto the fixture domain: candidate vec_id N
    keys memory row 'ev_N' (stability) and order node 'o_N' (friction).
    State machine thresholds per epistemic_types.go:256-296."""
    from kektordb_spark.operators.graph import time_travel_pred_sql

    tt = time_travel_pred_sql(QUERY_TIME)
    decay = _decay30_expr("m.created_at", "m.last_accessed")
    return f"""
WITH {_consensus_ctes(dialect, n_queries, k)},
stab AS (
  SELECT c.query_id, avg(coalesce({decay}, 1.0)) AS stability
  FROM cand c LEFT JOIN mem m ON m.id = concat('ev_', CAST(c.cand_id AS STRING))
  GROUP BY c.query_id
),
fric_edges AS (
  SELECT dst AS node,
         count(*) FILTER (WHERE rel = 'in_order')    AS n_contra,
         count(*) FILTER (WHERE rel = 'supplied_by') AS n_inval
  FROM edges WHERE {tt}
  GROUP BY dst
),
fric AS (
  SELECT c.query_id,
         avg(greatest(CAST(0.0 AS DOUBLE),
                      1.0 - ({W_CONTRA} * CAST(coalesce(f.n_contra, 0) AS DOUBLE)
                           + {W_INVAL} * CAST(coalesce(f.n_inval, 0) AS DOUBLE)))) AS friction,
         sum(coalesce(f.n_contra, 0) + coalesce(f.n_inval, 0)) AS friction_edges
  FROM cand c LEFT JOIN fric_edges f ON f.node = concat('o_', CAST(c.cand_id AS STRING))
  GROUP BY c.query_id
),
belief AS (
  SELECT /*+ BROADCAST(s), BROADCAST(fr) */ co.query_id,
         co.consensus, s.stability, fr.friction, fr.friction_edges,
         0.40 * co.consensus + 0.30 * s.stability + 0.30 * fr.friction AS belief
  FROM consensus co
  JOIN stab s ON s.query_id = co.query_id
  JOIN fric fr ON fr.query_id = co.query_id
)
SELECT query_id,
       round(consensus, 6) AS consensus,
       round(stability, 6) AS stability,
       round(friction, 6) AS friction,
       round(belief, 6) AS belief,
       CASE WHEN friction_edges > 0 AND belief < 0.85 THEN 'contested'
            WHEN belief >= 0.85 THEN 'crystallized'
            WHEN belief <= 0.40 THEN 'volatile'
            ELSE 'stable' END AS state
FROM belief
""".strip()
