"""k-core decomposition of the support-thresholded co-purchase graph —
iterative degree peeling run to an ASSERTED fixpoint.

The repo's graph-analytics family (triangle census, PageRank, connected
components — operators/analytics.py, pagerank.py, components.py) reads
the part co-purchase graph; this operator adds the classic cohesion
primitive those don't cover: the k-core (Seidman 1983; the standard
batch algorithm is synchronous peeling — repeatedly delete every node
of degree < k until none remains, cf. the Batagelj-Zaversnik sequential
O(m) peel and its bulk-synchronous form used by every Pregel-family
system). The k-core is what a training-data graph pipeline uses to
separate the dense interaction core from the tree-like periphery
(e.g. anchor-text / citation graphs).

Graph construction: the DISTINCT co-purchase pair relation is too dense
for a meaningful core (fixture min degree 42 — every node is in every
small-k core), so edges are SUPPORT-thresholded first: a pair of parts
is an edge only if it co-occurs in >= KCORE_SUPPORT distinct orders —
the market-basket support filter, one extra hash-agg over the same
self-equi-join the triangle census scans (analytics.triangle_edges_sql;
reference graph surface: pkg/core/graph.go edge maintenance, which this
batch family replaces per SURVEY §2.6).

Semantics per peel round (synchronous):

  deg_i  = degree over e_i
  keep_i = nodes with deg_i >= K
  e_{i+1} = e_i semi-joined to keep_i on BOTH endpoints

Fixpoint (e unchanged) = the K-core's edge set; output is one row per
core member with its in-core degree. Peeling past the fixpoint is the
identity, so the DuckDB oracle can safely UNROLL KCORE_MAX_ROUNDS
rounds as a WITH chain while the Spark runner early-exits on the first
unchanged round — and RAISES if the loop hasn't converged within the
bound (the components/LSH-lattice discipline: never return a
half-peeled core). Measured convergence on the fixtures: 4 rounds at
sf0.01 (1535-node 2-core), 6 at sf0.1 — the bound of {KCORE_MAX_ROUNDS}
is ample margin.

At scale: every step is an equi-join / hash-agg on node keys; the edge
relation only SHRINKS round over round; `keep` is node-sized — at 1000
executors it is the broadcast side of both endpoint joins (see the
in-loop note on when to materialize it per SCALE.md rule 2). Loop
control reads ONE scalar (the surviving edge count) per round —
O(rounds) tiny driver round-trips, never per-row. All counts are
integer aggregates: exactly associative under any partitioning, so the
result is hash-stable across engines by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kektordb_spark.lineage import checkpoint

KCORE_K = 2
KCORE_SUPPORT = 2
KCORE_MAX_ROUNDS = 16


def copurch_weighted_sql() -> str:
    """Weighted co-purchase pairs (pa < pb, w = distinct shared
    orders) — the support-annotated superset of
    analytics.triangle_edges_sql, built once into the persisted index
    layer (tables.load_tables ``copurch_w``; ``copurch_e`` is its
    pair projection). Same text both dialects."""
    return """
SELECT a.l_partkey AS pa, b.l_partkey AS pb,
       count(DISTINCT a.l_orderkey) AS w
FROM lineitem a JOIN lineitem b
  ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
GROUP BY a.l_partkey, b.l_partkey
""".strip()


def kcore_edges_sql(
    support: int = KCORE_SUPPORT, weighted_source: str | None = None
) -> str:
    """Support-thresholded co-purchase edges (pa < pb). Default derives
    end-to-end from lineitem (the oracle path);
    ``weighted_source='copurch_w'`` serves the same relation as a
    filter over the persisted weighted-pair index (the build/serve
    split — pair generation is the operator's dominant stage)."""
    if weighted_source is not None:
        return (f"SELECT pa, pb FROM {weighted_source} "
                f"WHERE w >= {support}")
    return (f"SELECT pa, pb FROM (\n{copurch_weighted_sql()}\n) t "
            f"WHERE w >= {support}")


def kcore_keep_sql(e: str, k: int = KCORE_K) -> str:
    """Nodes surviving one peel round: degree >= k over ``e``."""
    return f"""
SELECT p FROM (
  SELECT p, count(*) AS d
  FROM (SELECT pa AS p FROM {e} UNION ALL SELECT pb AS p FROM {e}) n
  GROUP BY p
) g WHERE d >= {k}
""".strip()


def kcore_peel_sql(e: str, keep: str, hint: str = "") -> str:
    """Edges with BOTH endpoints in ``keep`` (semi-join on each end).

    ``hint``: the Spark runner passes ``/*+ BROADCAST(ka), BROADCAST(kb) */``
    — without it the planner makes the EDGE side the hash-relation
    build (BuildLeft over the checkpointed round relation — the
    pagerank build-side disease; plan evidence
    plans/r08/graph_kcore_peelround_before.txt) instead of the keep
    set. The keep side is the k-core candidate id set (shrinking,
    node-grained, always a subset of the edge endpoints); with the
    hint the two textually identical broadcast subtrees dedup via
    exchange reuse, so the degree aggregate builds ONCE per round and
    the edge relation is never the build side. Measured quiet:
    43 -> 33 jobs, ~7% wall, identical rows. DuckDB oracle text
    passes no hint."""
    return f"""
SELECT {hint}e.pa, e.pb FROM {e} e
JOIN {keep} ka ON ka.p = e.pa
JOIN {keep} kb ON kb.p = e.pb
""".strip()


def kcore_final_sql(e: str) -> str:
    """Core membership with in-core degree, deterministically ordered."""
    return f"""
SELECT CAST(p AS BIGINT) AS part_id, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT pa AS p FROM {e} UNION ALL SELECT pb AS p FROM {e}) n
GROUP BY p
ORDER BY core_degree DESC, part_id ASC
""".strip()


def kcore_oracle_sql(
    k: int = KCORE_K,
    support: int = KCORE_SUPPORT,
    rounds: int = KCORE_MAX_ROUNDS,
) -> str:
    """Single-text DuckDB oracle: the peel loop unrolled ``rounds``
    times (idempotent past the fixpoint — see module docstring). Every
    CTE is ``AS MATERIALIZED``: each round references its predecessor
    3x (both halves of the degree union + the peel join), so DuckDB
    1.0's default CTE inlining replicates the subtree 3x per level —
    a 3^rounds bind-time explosion that exhausts file handles before
    it exhausts CPU. Materialization makes the chain linear work over
    a shrinking relation (DuckDB-only text; the Spark side runs the
    checkpointing loop in :func:`kcore` instead)."""
    parts = [f"e0 AS MATERIALIZED (\n{kcore_edges_sql(support)}\n)"]
    for i in range(rounds):
        parts.append(
            f"k{i} AS MATERIALIZED (\n{kcore_keep_sql(f'e{i}', k)}\n)")
        parts.append(
            f"e{i + 1} AS MATERIALIZED "
            f"(\n{kcore_peel_sql(f'e{i}', f'k{i}')}\n)")
    return "WITH " + ",\n".join(parts) + "\n" + kcore_final_sql(f"e{rounds}")


def kcore(
    spark: SparkSession,
    k: int = KCORE_K,
    support: int = KCORE_SUPPORT,
    max_rounds: int = KCORE_MAX_ROUNDS,
    weighted_source: str | None = None,
) -> DataFrame:
    """Spark runner: peel with per-round localCheckpoints (flat lineage,
    one materialization per relation) and early-exit on the fixpoint;
    RAISES if the loop hasn't converged within ``max_rounds``."""
    # lazy checkpoint + count: the fixpoint counter materializes the
    # round's edge relation in the same job — one job per peel round
    # instead of two (r7, guide §1.2)
    e = checkpoint(spark.sql(kcore_edges_sql(support, weighted_source)))
    n_edges = e.count()
    converged = n_edges == 0
    for i in range(max_rounds):
        if converged:
            break
        e.createOrReplaceTempView("_kcore_e")
        # `keep` is consumed by both endpoint joins; it is NOT
        # checkpointed — the two BROADCAST subtrees are textually
        # identical, so exchange reuse materializes the degree agg
        # once per round over the CHECKPOINTED edge partitions, never
        # the base scan (kcore_peel_sql docstring; r8 — previously the
        # planner built the edge side and the agg ran twice).
        e = checkpoint(spark.sql(
            kcore_peel_sql(
                "_kcore_e", f"({kcore_keep_sql('_kcore_e', k)})",
                hint="/*+ BROADCAST(ka), BROADCAST(kb) */ ")
        ))
        n2 = e.count()
        converged = n2 == n_edges
        n_edges = n2
    if not converged:
        raise RuntimeError(
            f"kcore: peel did not reach a fixpoint within {max_rounds} "
            f"rounds ({n_edges} edges still changing); raise max_rounds"
        )
    e.createOrReplaceTempView("_kcore_final")
    return spark.sql(kcore_final_sql("_kcore_final"))
