"""Adaptive retrieval (SURVEY.md §3.3 — pkg/rag/adaptive_retriever.go).

Reference pipeline (RetrieveWithContext, adaptive_retriever.go:101-411):
seed k-NN → graph expansion (greedy 1-hop; per-hop score =
parent_score x edge weight, default 0.3) → assembled context score =
w_sem * derived + w_graph * depthPenalty(1 - 0.15*depth, floor 0.3)
+ w_dens * normalizedDensity, where normalizedDensity =
clamp((density - 0.3) / 0.6, 0, 1) (adaptive_retriever.go:311-316) →
greedy fill under a token budget (running chars/CharsPerToken
estimate).

Spark shape — ONE declarative plan, no driver loops:
  * seeds: exact k-NN (broadcast query);
  * expansion: one more k-NN hop FROM the seeds (the fixture's
    similarity graph; on a property graph this is an edge equi-join —
    same plan shape);
  * dedup keep-best: groupBy(id) max(score) — one shuffle of k*fanout
    rows;
  * token budget: running sum over a Window ORDER BY final score —
    Catalyst evaluates it in the same stage as the sort.

The whole thing has a DuckDB oracle (dialect-parameterized SQL below).
"""

from __future__ import annotations

from kektordb_spark.dialect import dot_sql, size

W_SEM, W_GRAPH, W_DENS = 0.6, 0.25, 0.15
EDGE_WEIGHT = 0.3          # default edge-type weight (retriever default)
DEPTH_PENALTY = 0.15       # 1 - 0.15*depth, floor 0.3
SEED_K = 5
EXPAND_K = 3


def adaptive_retrieve_sql(
    dialect: str,
    query_id: int = 0,
    token_budget: int = 400,
    density_min: float | None = None,
) -> str:
    """Full adaptive retrieval for one query vector; candidate doc =
    emb vec_id (the fixture's 1:1 doc<->embedding mapping).

    ``density_min`` switches on the ``density`` expansion strategy
    (expandWithDensityFilter, adaptive_retriever.go:195-210): the
    greedy expansion's candidates are dropped when their information
    density falls below the threshold BEFORE final scoring/assembly —
    the same plan with one extra pushed-down predicate."""
    dot_q = dot_sql(dialect, "q.v", "c.v")
    dot_s = dot_sql(dialect, "s.v", "c.v")
    n_toks = size(dialect, "d.toks")
    n_distinct = size(dialect, "array_distinct(d.toks)")
    return f"""
WITH q AS (SELECT * FROM emb WHERE vec_id = {query_id}),
seed_d AS (
  SELECT c.vec_id, c.v, c.norm,
         1.0 / (1.0 + (1.0 - ({dot_q}) / (q.norm * c.norm))) AS score
  FROM q CROSS JOIN emb c WHERE c.vec_id <> {query_id}
),
seeds AS (
  -- r7: top-SEED_K by inner ORDER BY..LIMIT (TakeOrderedAndProject),
  -- never an unpartitioned rank window over the corpus-sized seed_d
  SELECT vec_id, v, norm, score, 0 AS depth
  FROM (SELECT vec_id, v, norm, score FROM seed_d
        ORDER BY score DESC, vec_id ASC LIMIT {SEED_K}) t
),
exp_d AS (
  SELECT c.vec_id,
         s.score * {EDGE_WEIGHT} AS score,
         1 AS depth,
         row_number() OVER (
           PARTITION BY s.vec_id
           ORDER BY 1.0 - ({dot_s}) / (s.norm * c.norm) ASC, c.vec_id ASC
         ) AS rk
  FROM seeds s CROSS JOIN emb c
  WHERE c.vec_id <> s.vec_id AND c.vec_id <> {query_id}
),
cand AS (
  SELECT vec_id, score, depth FROM seeds
  UNION ALL
  SELECT vec_id, score, depth FROM exp_d WHERE rk <= {EXPAND_K}
),
best AS (
  -- dedup keep-best: a doc reached both as seed and expansion keeps
  -- the higher score / smaller depth (shortest-path dedup semantics,
  -- adaptive_retriever.go:213-297)
  SELECT vec_id, max(score) AS score, min(depth) AS depth
  FROM cand GROUP BY vec_id
),
densed AS (
  SELECT b.vec_id, b.score, b.depth, d.source, d.toks,
         CASE WHEN {n_toks} = 0 THEN 0.0
              ELSE CAST({n_distinct} AS DOUBLE) / {n_toks} END
           AS dens
  FROM best b JOIN docs_tok d ON d.doc_id = b.vec_id
  {f"WHERE (CASE WHEN {n_toks} = 0 THEN 0.0 ELSE CAST({n_distinct} AS DOUBLE) / {n_toks} END) >= {density_min}" if density_min is not None else ""}
),
scored AS (
  SELECT vec_id AS doc_id, source,
         CAST({size(dialect, 'toks')} AS INT) AS n_toks,
         {W_SEM} * score
       + {W_GRAPH} * greatest(0.3, 1.0 - {DEPTH_PENALTY} * depth)
       + {W_DENS} * least(1.0, greatest(0.0, (dens - 0.3) / 0.6))
         AS final
  FROM densed
),
budgeted AS (
  SELECT doc_id, source, n_toks, round(final, 6) AS final,
         sum(n_toks) OVER (
           ORDER BY round(final, 6) DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_toks
  FROM scored
)
SELECT doc_id, source, n_toks, final, CAST(cum_toks AS INT) AS cum_toks
FROM budgeted WHERE cum_toks <= {token_budget}
""".strip()


# Fixture re-anchoring of the reference's GraphRelations allowlist +
# EdgeWeights config (config.go:94-115 — next/prev/parent/... on a RAG
# chunk graph; here the TPC-H-derived property graph's relations).
GRAPH_RELATIONS = {"placed_by": 0.95, "in_order": 0.8, "supplied_by": 0.5}
GRAPH_DEPTH = 2            # config GraphExpansionDepth default
MAX_EXPANSION_NODES = 40   # config MaxExpansionNodes, sized so the cap
                           # actually binds on the fixture graph


def graph_edges_sql(dialect: str) -> str:
    """Allowed-relation weighted edge relation for the graph strategy;
    the Spark runner materializes it once (both BFS rounds reference
    it, and Spark inlines repeated CTEs)."""
    wt = ("CASE rel " + " ".join(
        f"WHEN '{r}' THEN {w}" for r, w in sorted(GRAPH_RELATIONS.items())
    ) + f" ELSE {EDGE_WEIGHT} END")
    rels = ", ".join(f"'{r}'" for r in sorted(GRAPH_RELATIONS))
    return (f"SELECT src, dst, {wt} AS wt FROM edges "
            f"WHERE deleted_at = 0 AND rel IN ({rels})")


def graph_seeds_sql(dialect: str, query_id: int = 0) -> str:
    """Seed relation v0(node, score, depth) — the k-NN seeds mapped
    onto the property graph. Materialized by the Spark runner: the
    seed subtree is referenced by every BFS level plus the final
    union, and Catalyst inlines it into each (measured ~6 copies of
    the seed cross join in the physical plan without this)."""
    dot_q = dot_sql(dialect, "q.v", "c.v")
    return f"""
WITH q AS (SELECT * FROM emb WHERE vec_id = {query_id}),
seed_d AS (
  SELECT c.vec_id,
         1.0 / (1.0 + (1.0 - ({dot_q}) / (q.norm * c.norm))) AS score
  FROM q CROSS JOIN emb c WHERE c.vec_id <> {query_id}
)
SELECT concat('p_', CAST(vec_id AS STRING)) AS node, score, 0 AS depth
FROM (SELECT vec_id, score FROM seed_d
      ORDER BY score DESC, vec_id ASC LIMIT {SEED_K}) t
""".strip()


def adaptive_graph_sql(
    dialect: str, query_id: int = 0, edges_rel: str | None = None,
    seeds_rel: str | None = None,
) -> str:
    """``graph`` expansion strategy (expandGraphBFS,
    adaptive_retriever.go:212-297): k-NN seeds mapped onto the property
    graph, level-synchronous BFS to depth {GRAPH_DEPTH} over the
    allowed relations, per-hop score = parent score x edge weight,
    shortest-path dedup, result capped at {MAX_EXPANSION_NODES} nodes.

    Deterministic re-expression of the reference's two order-dependent
    spots (documented deviations):
      * same-depth multi-path scores: the reference keeps whichever
        path its map iteration found first — here the MAX score at the
        shortest depth wins;
      * the node cap: the reference stops mid-BFS at visit #N — here
        the full frontier is expanded and the TOP-N under
        (depth ASC, score DESC, node ASC) is kept, a strict superset
        ordering of what any first-N visit order could return.

    Plan shape at scale: each BFS round is one frontier-to-edges
    equi-join (frontier broadcastable, edges bucketed by src) + one
    groupBy(node) dedup — the same loop-with-materialization shape as
    operators/graph.bfs; no cross join anywhere."""
    e_cte = (
        f"e AS (\n{graph_edges_sql(dialect)}\n)" if edges_rel is None
        else f"e AS (SELECT src, dst, wt FROM {edges_rel})"
    )
    v0_cte = (
        f"v0 AS (\n{graph_seeds_sql(dialect, query_id)}\n)"
        if seeds_rel is None
        else f"v0 AS (SELECT node, score, depth FROM {seeds_rel})"
    )
    parts = [f"""{v0_cte},
{e_cte}"""]
    parts.append("vis0 AS (SELECT node FROM v0)")
    prev_frontier = "v0"
    # Spark: broadcast the visited-set side of the per-hop
    # anti check (r8) — the vis unions are expansion-bounded but
    # stats-less, so the check planned as a LeftOuter SortMergeJoin.
    # DuckDB reads the hint as a comment.
    for d in range(1, GRAPH_DEPTH + 1):
        parts.append(f"""f{d} AS (
  SELECT /*+ BROADCAST(vis) */ x.node, max(x.score) AS score, {d} AS depth FROM (
    SELECT e.dst AS node, p.score * e.wt AS score
    FROM {prev_frontier} p JOIN e ON e.src = p.node
  ) x
  LEFT JOIN vis{d - 1} vis ON vis.node = x.node
  WHERE vis.node IS NULL
  GROUP BY x.node
)""")
        parts.append(
            f"vis{d} AS (SELECT node FROM vis{d - 1} "
            f"UNION ALL SELECT node FROM f{d})"
        )
        prev_frontier = f"f{d}"
    union = " UNION ALL ".join(
        ["SELECT node, score, depth FROM v0"]
        + [f"SELECT node, score, depth FROM f{d}" for d in range(1, GRAPH_DEPTH + 1)]
    )
    return f"""
WITH {','.join(parts)},
allv AS ({union})
SELECT node, CAST(depth AS INT) AS depth, round(score, 6) AS score
FROM (
  SELECT *, row_number() OVER (
    ORDER BY depth ASC, round(score, 6) DESC, node ASC
  ) AS rk
  FROM allv
) t WHERE rk <= {MAX_EXPANSION_NODES}
""".strip()
