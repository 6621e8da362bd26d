"""SemDeDup: cluster-confined semantic deduplication over embeddings.

The published method (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", arXiv:2303.09540):
k-means-cluster the corpus embeddings, compare pairs ONLY within a
cluster, call a pair a semantic duplicate when cosine similarity
exceeds a threshold, and from each duplicate group keep the example
with the LOWEST similarity to its cluster centroid (the least
prototypical copy — the rest carry no extra training signal).

This is the scale story that distinguishes it from the exact
`dedup_embedding_topk` / `similar_pairs` paths: the k-means cells
partition the O(N^2) pair space, so the pairwise stage is an equi-join
on cell id — cost sum(|cell|^2), never N^2 — and each cell compares
independently (the unit of parallelism). At 100 TB the corpus is
written bucketed by cell id (the same persisted IVF layout the ANN
planner serves from, tables.load_tables `ivf_cents`/`ivf_assign`), so
the self-join is co-partitioned and shuffle-free; cell sizes are
bounded by scaling nlist with the corpus (nlist ~ N/target_cell), and
a skewed mega-cell splits by re-clustering its members — the paper's
own recipe.

Dual-dialect single source of truth (registry convention): the Spark
runner serves from the PERSISTED coarse quantizer; the DuckDB oracle
inlines the identical md5-seeded Lloyd training (operators/ivf.py), so
both sides derive the clustering end-to-end and the comparison is
value-exact.

Reference parity note: the reference has no semantic dedup — this is
one of the brief's beyond-reference training-data-pipeline operators;
its nearest kin in the reference is the Gardener's redundancy detector
(gardener.go:941-1290), which consolidation.py ports. Group resolution
reuses the bounded min-label-propagation shape from
operators/dedup.py:minhash_clusters_sql; components cannot span cells
(pairs are intra-cell by construction). NOTE the propagation runs a
FIXED SEM_ITERS rounds, so groups are diameter-SEM_ITERS-bounded
APPROXIMATIONS of the true intra-cell components: a duplicate chain
whose similarity-graph diameter exceeds SEM_ITERS splits into several
groups and keeps one representative per group (over-retention, never
data loss — the conservative direction for a dedup). The Python
replica in tests mirrors the same bounded iteration on purpose (the
pin is "Spark computes the defined bounded operator exactly", not
"bounded == exact components"); the min label travels one hop per
round, so set ``iters`` >= the largest expected component diameter
(<= cell size) if full components are required.
"""

from __future__ import annotations

from kektordb_spark.operators.ivf import _assign_cte, _train_parts
from kektordb_spark.dialect import dot_sql, sorted_csv

# Cosine-similarity floor for "semantic duplicate". The driver's
# synthetic embeddings are near-orthogonal random points (max pairwise
# sim ~0.51 at sf0.01), so the fixture threshold sits where the right
# tail yields a non-trivial dup set; a real corpus uses ~0.95+ (the
# paper sweeps eps in [0.05..0.5] off 1.0). Constant, never wall-clock.
SEM_TAU = 0.33
SEM_ITERS = 3  # label-propagation rounds; groups are diameter-3-bounded
# approximations of intra-cell components (see module docstring)


def semantic_dedup_sql(
    dialect: str,
    tau: float = SEM_TAU,
    iters: int = SEM_ITERS,
    nlist: int = 8,
    kmeans_iters: int = 2,
    cents_source: str | None = None,
    assign_source: str | None = None,
    pairs_rel: str | None = None,
) -> str:
    """Full SemDeDup pipeline as one SQL text.

    Stages: coarse quantizer (persisted via ``cents_source`` /
    ``assign_source``, else inline md5-seeded Lloyd — the oracle form)
    -> intra-cell pair generation (equi-join on cid, id_a < id_b,
    round(sim,6) >= tau) -> duplicate groups (bounded min-label
    propagation) -> keeper = max cosine distance to own centroid
    (ties to the lowest vec_id; SemDeDup's keep-least-prototypical
    rule) -> one row per duplicate group.

    ``pairs_rel`` names a pre-materialized (id_a, id_b) intra-cell pair
    relation (the Spark runner's per-cell GEMM kernel,
    ``semantic_pairs``); default inlines the fold-left SQL pair
    derivation — the DuckDB oracle's self-contained form, value-equal
    because the GEMM accumulates float64 with ~1e-15 reassociation
    error, six orders under the round(sim,6) comparison grid
    (operators/blockgemm.py module docstring).

    Output: (kept_id, cid, size, dropped, members) — same resolution
    shape as dedup_minhash_clusters so downstream ship steps compose.
    """
    if cents_source is None:
        parts, cents = _train_parts(dialect, nlist, kmeans_iters)
    else:
        parts = [f"tc AS (SELECT cid, v FROM {cents_source})"]
        cents = "tc"
    if assign_source is None:
        parts.append(_assign_cte(dialect, cents, "inv"))
    else:
        parts.append(
            f"inv AS (SELECT e.vec_id, e.v, e.norm, a.cid "
            f"FROM {assign_source} a JOIN emb e ON e.vec_id = a.vec_id)"
        )
    if pairs_rel is not None:
        parts.append(f"pairs AS (SELECT id_a, id_b FROM {pairs_rel})")
    else:
        sim = dot_sql(dialect, "a.v", "b.v")
        parts.append(f"""pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM inv a JOIN inv b
    ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(({sim}) / (a.norm * b.norm), 6) >= {tau}
)""")
    parts.append("""und AS (
  SELECT id_a AS u, id_b AS w FROM pairs
  UNION ALL SELECT id_b AS u, id_a AS w FROM pairs
)""")
    parts.append("l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)")
    prev = "l0"
    # Spark (r8): broadcast the dup-pair edge list (e) and the
    # neighbor-label probe side (p) of each propagation round (the
    # minhash_clusters_sql hints — both duplicate-rate-bounded;
    # un-hinted rounds planned as LeftOuter SortMergeJoins). DuckDB
    # reads the hints as comments.
    for i in range(1, iters + 1):
        parts.append(f"""l{i} AS (
  SELECT /*+ BROADCAST(e), BROADCAST(p) */ n.node, least(n.label, coalesce(min(p.label), n.label)) AS label
  FROM {prev} n
  LEFT JOIN und e ON e.u = n.node
  LEFT JOIN {prev} p ON p.node = e.w
  GROUP BY n.node, n.label
)""")
        prev = f"l{i}"
    cdot = dot_sql(dialect, "e.v", "c.v")
    cnorm = dot_sql(dialect, "c.v", "c.v")
    # Distance to own centroid; centroid norm computed inline (centroid
    # means are 12-dp re-synchronized in _mean_cte, so both engines
    # fold the same doubles in the same order).
    parts.append(f"""cd AS (
  SELECT m.label, m.node, e.cid,
         round(1.0 - ({cdot}) / (e.norm * sqrt({cnorm})), 6) AS cdist
  FROM {prev} m
  JOIN inv e ON e.vec_id = m.node
  JOIN {cents} c ON c.cid = e.cid
)""")
    members = sorted_csv(dialect, "node")
    parts.append(f"""grp AS (
  SELECT label, CAST(count(*) AS INT) AS size, {members} AS members
  FROM {prev} GROUP BY label
)""")
    parts.append("""keep AS (
  SELECT label, node AS kept_id, cid FROM (
    SELECT label, node, cid,
           row_number() OVER (PARTITION BY label
                              ORDER BY cdist DESC, node ASC) AS rn
    FROM cd) t
  WHERE rn = 1
)""")
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT /*+ BROADCAST(k) */ k.kept_id, CAST(k.cid AS INT) AS cid, g.size,
       CAST(g.size - 1 AS INT) AS dropped, g.members
FROM grp g JOIN keep k ON k.label = g.label
""".strip()


def semantic_pairs(spark, tau: float = SEM_TAU):
    """Spark-side intra-cell pair generation: one float64 GEMM per
    k-means cell via ``applyInPandas`` keyed on cid — the cell is the
    unit of parallelism, the only exchange is the cid-keyed grouping,
    and the kernel emits only threshold-surviving (id_a, id_b) pairs
    (the |cell|^2 similarity tile never leaves the task). Replaces the
    fold-left SQL pair join (interpreted higher-order functions,
    O(sum |cell|^2) rows through the join) with a vectorized kernel —
    same blocked-GEMM discipline as operators/blockgemm.py, keyed by
    semantic cell instead of row block.

    At 100 TB the input is the persisted cell-bucketed layout, so the
    groupBy is co-partitioned (no shuffle) and each task's tile is
    bounded by the nlist sizing rule in the module docstring.
    """
    import numpy as np
    import pandas as pd

    inv = spark.table("ivf_assign").join(spark.table("emb"), "vec_id")

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.vstack(pdf["v"].to_numpy()[order]).astype(np.float64)
        n = pdf["norm"].to_numpy()[order].astype(np.float64)
        S = (V @ V.T) / np.outer(n, n)
        iu, ju = np.triu_indices(len(ids), 1)
        m = np.round(S[iu, ju], 6) >= tau
        return pd.DataFrame(
            {"id_a": ids[iu[m]].astype("int64"),
             "id_b": ids[ju[m]].astype("int64")}
        )

    return inv.groupBy("cid").applyInPandas(
        cell_pairs, "id_a BIGINT, id_b BIGINT"
    )


# ---------------------------------------------------------------------------
# r6: semantic (embedding-level) train/eval decontamination
# ---------------------------------------------------------------------------

#: cosine floor for a train example to count as contaminated by an
#: eval example — above the persisted pair index's 0.30 build floor,
#: so the Spark side serves it by post-filtering the index.
DECON_TAU = 0.35
#: the derived eval holdout: vec_id % DECON_MOD = DECON_REM (~5% of
#: the corpus; the repo's standard derived-batch device — the fixture
#: has no natural eval split).
DECON_MOD, DECON_REM = 20, 3


def decon_eval_pred(col: str) -> str:
    return f"{col} % {DECON_MOD} = {DECON_REM}"


def decon_final_sql(hits_rel: str) -> str:
    """Shared post-image over a (eval_id, train_id, sim) hit relation:
    one row per contaminated TRAIN example with its strongest eval
    witness (rank on round-6 sim, eval-id tie-break — kernel/fold sims
    agree to ~1e-15, six orders below the grid)."""
    return f"""
SELECT train_id, eval_id AS witness_eval_id,
       round(sim, 6) + 0.0 AS sim
FROM (
  SELECT train_id, eval_id, sim,
         row_number() OVER (PARTITION BY train_id
                            ORDER BY round(sim, 6) DESC, eval_id ASC) AS rk
  FROM {hits_rel} h
) t WHERE rk = 1
""".strip()


def decon_hits_from_pairs_sql(pairs_rel: str, tau: float = DECON_TAU) -> str:
    """Hits from an undirected (u, w, sim) pair relation (the persisted
    similarity index): exactly one endpoint in the eval holdout."""
    ev_u, ev_w = decon_eval_pred("u"), decon_eval_pred("w")
    return f"""
SELECT CASE WHEN {ev_u} THEN u ELSE w END AS eval_id,
       CASE WHEN {ev_u} THEN w ELSE u END AS train_id,
       sim
FROM {pairs_rel} p
WHERE (({ev_u}) OR ({ev_w})) AND NOT (({ev_u}) AND ({ev_w}))
  AND sim >= {tau}e0
""".strip()


def semantic_decontaminate_oracle_sql(dialect: str,
                                      tau: float = DECON_TAU) -> str:
    """Self-contained oracle: exact eval x train cosine join (the
    fold-left dot, bit-stable) — the ground truth the Spark side's
    index-served answer must reproduce value-for-value."""
    dot = dot_sql(dialect, "a.v", "b.v")
    return f"""
WITH hits AS (
  SELECT a.vec_id AS eval_id, b.vec_id AS train_id,
         ({dot}) / (a.norm * b.norm) AS sim
  FROM emb a JOIN emb b
    ON {decon_eval_pred('a.vec_id')}
   AND NOT ({decon_eval_pred('b.vec_id')})
  WHERE ({dot}) / (a.norm * b.norm) >= {tau}e0
)
{decon_final_sql('hits')}
""".strip()
