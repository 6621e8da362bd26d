"""Connected components over the embedding-similarity graph — iterated
star contraction run to an ASSERTED fixpoint.

The repo's other component-shaped operators (consolidation clusters,
MinHash cluster resolution, SemDeDup groups) run a FIXED number of
min-label rounds: correct for their bounded-diameter duplicate
clusters, but diameter-k-bounded approximations in general (the
documented SemDeDup caveat). This operator is the exact-components
companion, using the contraction family behind MapReduce connected
components (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — the large-star/small-star idea in its min-label
form):

  per level: label(v) = min of v's CLOSED neighborhood, then CONTRACT
  the edge set onto the labels and recurse on the (strictly smaller)
  contracted graph.

Every node adopts the minimum of its closed neighborhood, so each
level contracts every dense neighborhood to its local minimum; on
graphs whose id order is uncorrelated with adjacency (embedding ids
vs similarity — this input) the surviving node count shrinks
geometrically and CC_MAX_LEVELS = {CC_MAX_LEVELS} is far more than
enough (measured: the fixture graph finishes in <= 4 levels). The
known adversarial case — an id-SORTED path, which contracts by one
node per level — cannot silently produce wrong output: after the
levels the contracted edge relation MUST be empty, otherwise the
operator RAISES (the LSH-lattice-drift discipline — never return
split components; the paper's large-star/small-star alternation is
the guaranteed-O(log^2) upgrade if such inputs ever matter). Two
designs were measured and rejected: bounded min-label propagation
(one graph hop per round — diameter-bounded, the approximation this
operator exists to avoid) and propagate+label-jump (the label forest
is a star whose root learns LAST, so jumping label[label] never
skips — measured to degrade to one-hop-per-round here). The final
per-node label composes the level mappings root-ward.

Input graph: similarity pairs at CC_TAU = {CC_TAU} >= SIM_PAIRS_MIN,
so the Spark side serves from the PERSISTED pair index
(knn_planner.similar_pairs); the DuckDB oracle derives the pairs from
`emb` end-to-end and resolves components with a recursive-CTE
reachability closure — exact by construction, and tractable because
similarity components are duplicate-cluster-sized (sum of |comp|^2,
never corpus^2).

Output: one row per component — comp_id (min member), size, max_node,
and an md5 over the sorted member list (pins the exact partition of
the node set, not just its sizes).

At scale: every step is an equi-join / hash-agg on node keys over the
(pair-index-sized) edge relation; label-only rows cross shuffles; the
edge relation SHRINKS geometrically level over level (each level's
input is the previous contraction); per-level localCheckpoints keep
lineage flat (the pagerank/BFS discipline). The per-level early-exit
and final assert read one scalar each — O(log n) tiny driver
round-trips, never per-row control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from kektordb_spark.lineage import checkpoint

from kektordb_spark.dialect import dot_sql

CC_TAU = 0.35
CC_MAX_LEVELS = 12


def min_label_ctes(edges: str, iters: int) -> tuple[list[str], str]:
    """Bounded min-label propagation as a CTE chain over the undirected
    (u, w) edge relation ``edges``: ``l0`` labels every node with
    itself, round ``l{i}`` keeps the least of a node's own and its
    neighbors' labels. Returns (cte_list, final_relation_name). One
    graph hop per round, so ``iters`` bounds the cluster diameter it
    resolves (see the module docstring for the exact alternative).

    Spark (r8): the edge list (e) and the neighbor-label probe side (p)
    of each round are broadcast — both are node-grained or
    duplicate-rate-bounded but stats-less, so the un-hinted rounds
    planned as LeftOuter SortMergeJoins (dedup_minhash_clusters:
    26 -> 21 jobs, identical rows). DuckDB reads the hints as
    comments."""
    parts = [f"l0 AS (SELECT DISTINCT u AS node, u AS label FROM {edges})"]
    for i in range(1, iters + 1):
        parts.append(f"""l{i} AS (
  SELECT /*+ BROADCAST(e), BROADCAST(p) */ n.node, least(n.label, coalesce(min(p.label), n.label)) AS label
  FROM l{i - 1} n
  LEFT JOIN {edges} e ON e.u = n.node
  LEFT JOIN l{i - 1} p ON p.node = e.w
  GROUP BY n.node, n.label
)""")
    return parts, f"l{iters}"


def components_oracle_sql(threshold: float = CC_TAU) -> str:
    """DuckDB oracle: recursive reachability closure (id, origin) over
    the undirected similarity edges; component = min reachable origin.
    Closure row count is sum over components of |comp|^2 — duplicate
    clusters stay small, so this is exact AND cheap at any sf."""
    dot = dot_sql("duckdb", "a.v", "b.v")
    return f"""
WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE ({dot}) / (a.norm * b.norm) >= {threshold}
),
und AS (
  SELECT u, w FROM pairs UNION ALL SELECT w AS u, u AS w FROM pairs
),
nodes AS (SELECT DISTINCT u AS id FROM und),
r AS (
  SELECT id, id AS m FROM nodes
  UNION
  SELECT e.w AS id, r.m FROM r JOIN und e ON e.u = r.id
),
comp AS (SELECT id, min(m) AS comp_id FROM r GROUP BY id)
SELECT comp_id,
       CAST(count(*) AS INT) AS size,
       CAST(max(id) AS BIGINT) AS max_node,
       md5(array_to_string(list_sort(list(id)), ',')) AS members_md5
FROM comp
GROUP BY comp_id
ORDER BY size DESC, comp_id
""".strip()


def component_labels(spark, pairs: DataFrame,
                     max_levels: int = CC_MAX_LEVELS) -> DataFrame:
    """Iterated star contraction over an undirected (u, w) pair
    relation -> (node, label) for every edge endpoint, label = min
    member of the node's component. Asserted fixpoint (raises rather
    than returning split components). Shared by the full build
    (components_df) and the incremental merge (components_merge_df,
    which contracts the QUOTIENT graph with the same runner)."""
    # LAZY checkpoints throughout the loop (r7, guide §1.2): lineage is
    # truncated at once either way; materialization is deferred to the
    # level's ONE scalar read (edges.count(), also the fixpoint test),
    # which computes lab + contracted edges together — one job per
    # contraction level instead of three (lab ckpt, edges ckpt,
    # take(1)). The per-job floor dominates this loop at fixture scale.
    edges = checkpoint(
        pairs.select("u", "w")
        .unionAll(pairs.select(F.col("w").alias("u"), F.col("u").alias("w")))
        .repartition("u")
    )

    level_maps: list[DataFrame] = []
    remaining = None
    for _ in range(max_levels):
        # min of the CLOSED neighborhood — contracts every
        # neighborhood onto its local minimum
        lab = checkpoint(
            edges.groupBy(F.col("u").alias("node"))
            .agg(F.least(F.col("node"), F.min("w")).alias("label"))
        )
        level_maps.append(lab)
        # contract the edge set onto the labels (symmetry preserved:
        # the input is symmetric and contraction maps both endpoints).
        # The label map is BROADCAST on both probes (r8): checkpointed
        # relations report no stats, so both contraction joins planned
        # as SortMergeJoin — shuffling the surviving edge set twice
        # per level (measured quiet with the final composition hints:
        # 59 -> 39 jobs, ~-20% wall, identical output). lab is the
        # shrinking contracted-node relation; past the broadcast cap
        # the swap is the co-partitioned join over the repartition("u")
        # layout already established above (SCALE.md rule 7).
        edges = checkpoint(
            edges.join(F.broadcast(lab).alias("la"),
                       F.col("u") == F.col("la.node"))
            .join(F.broadcast(lab).alias("lb"),
                  F.col("w") == F.col("lb.node"))
            .select(F.col("la.label").alias("cu"), F.col("lb.label").alias("cw"))
            .where(F.col("cu") != F.col("cw"))
            .distinct()
            .select(F.col("cu").alias("u"), F.col("cw").alias("w"))
        )
        remaining = edges.count()
        if remaining == 0:
            break

    # fixpoint assertion: the contracted graph must have no edges left
    # — raise loudly instead of returning split components (the
    # LSH-lattice-drift discipline). remaining is None only when
    # max_levels == 0 (degenerate caller): count the input then.
    if remaining is None:
        remaining = edges.count()
    if remaining:
        raise RuntimeError(
            f"connected components did not converge in {max_levels} "
            f"contraction levels ({remaining} contracted edges remain) — "
            f"a component exceeds 2^{max_levels} nodes; raise max_levels"
        )

    # compose the level mappings root-ward: a node whose component
    # finished at level k is absent from level k+1's map — the left
    # join + coalesce keeps its label.
    final = level_maps[0]
    for lab in level_maps[1:]:
        # level-(k+1) maps shrink geometrically — broadcast the map
        # side of each composition join (r8; previously 4 LeftOuter
        # SortMergeJoins in the final plan, see components hint note
        # above).
        final = (
            final.join(
                F.broadcast(lab.select(F.col("node").alias("label"),
                                       F.col("label").alias("label2"))),
                "label", "left")
            .select("node",
                    F.coalesce("label2", "label").alias("label"))
        )
    return final


def _component_summary(labels: DataFrame) -> DataFrame:
    """(node, label) -> the output contract: one row per component
    (comp_id = min member, size, max_node, md5 over sorted members)."""
    return (
        labels.groupBy(F.col("label").alias("comp_id"))
        .agg(
            F.count("*").cast("int").alias("size"),
            F.max("node").cast("long").alias("max_node"),
            F.md5(F.expr(
                "array_join(transform(array_sort(collect_list(node)), "
                "x -> CAST(x AS STRING)), ',')")).alias("members_md5"),
        )
        .orderBy(F.col("size").desc(), "comp_id")
    )


def components_df(spark, threshold: float = CC_TAU,
                  max_levels: int = CC_MAX_LEVELS) -> DataFrame:
    """Spark runner: iterated star contraction (see module docstring),
    over the persisted pair index when the threshold allows."""
    from kektordb_spark.operators import knn_planner as KP

    pairs = KP.similar_pairs(spark, threshold).select("u", "w")
    if not KP.pairs_served_from_index(spark, threshold):
        pairs = checkpoint(pairs, readers=2)
    return _component_summary(component_labels(spark, pairs, max_levels))


# --------------------------------------------------------------------------
# r6: incremental component maintenance (the re-crawl shape for graphs)
# --------------------------------------------------------------------------

#: the arrival wave: nodes with vec_id % CCM_MOD = CCM_REM are "new";
#: the persisted label relation (tables.load_tables ``comp_labels``)
#: covers the OLD graph (pairs among non-batch nodes only).
CCM_MOD, CCM_REM = 10, 7


def old_pairs_df(spark, threshold: float = CC_TAU) -> DataFrame:
    """Similarity pairs among non-batch nodes — the OLD graph whose
    labels are persisted."""
    from kektordb_spark.operators import knn_planner as KP

    return KP.similar_pairs(spark, threshold).where(
        (F.col("u") % CCM_MOD != CCM_REM) & (F.col("w") % CCM_MOD != CCM_REM)
    ).select("u", "w")


def components_merge_df(spark, threshold: float = CC_TAU,
                        labels_source: str = "comp_labels") -> DataFrame:
    """Merge an arrival wave into the persisted component labels
    WITHOUT recomputing the graph: map the new edges (>= one batch
    endpoint) through the old labels (one equi-join per endpoint;
    unlabeled = the node itself), contract the resulting QUOTIENT graph
    with the same asserted-fixpoint runner, and compose. Cost is
    O(|new edges| + |touched components|) — the old graph's edges are
    never read again (the dedup_incremental / ann_index_merge /
    ann_graph_merge arrival-wave discipline, now for graph state).

    Output contract = components_df, and the ORACLE is the full-graph
    recomputation (components_oracle_sql over ALL pairs): value
    equality IS the losslessness proof that incremental maintenance
    converges to the same partition the batch build would produce.

    Quotient min-labels are GLOBAL component minima: every old
    component is represented by its min member (the persisted label),
    every batch node by itself, so the contracted minimum over a merged
    component ranges over exactly the candidate set containing the true
    global min."""
    from kektordb_spark.operators import knn_planner as KP

    old_labels = spark.table(labels_source)
    new_pairs = KP.similar_pairs(spark, threshold).where(
        (F.col("u") % CCM_MOD == CCM_REM) | (F.col("w") % CCM_MOD == CCM_REM)
    ).select("u", "w")

    def relabel(side: str) -> DataFrame:
        return old_labels.select(
            F.col("node").alias(side), F.col("label").alias(f"l_{side}"))

    quotient = checkpoint(
        new_pairs.join(relabel("u"), "u", "left")
        .join(relabel("w"), "w", "left")
        .select(
            F.coalesce("l_u", "u").alias("u"),
            F.coalesce("l_w", "w").alias("w"),
        )
        .where(F.col("u") != F.col("w"))
        .distinct()
    )
    qlabels = component_labels(spark, quotient)

    # final node -> label: old labels re-mapped through the quotient
    # (untouched components miss the quotient map and keep their label)
    # UNION the batch endpoints mapped directly.
    # qlabels is the contracted quotient map — bounded by the touched
    # components, checkpoint-derived (no stats): broadcast both
    # consumers (r8; previously 2 LeftOuter SortMergeJoins).
    qmap = qlabels.select(F.col("node").alias("label"),
                          F.col("label").alias("qlabel"))
    old_final = (
        old_labels.join(F.broadcast(qmap), "label", "left")
        .select("node", F.coalesce("qlabel", "label").alias("label"))
    )
    # every new-edge endpoint with NO old label (batch nodes, and old
    # nodes whose only edges touch the batch — absent from the old
    # graph) enters the quotient as itself, so its final label is its
    # quotient label directly
    fresh_nodes = (
        new_pairs.select(F.col("u").alias("node"))
        .unionAll(new_pairs.select(F.col("w").alias("node")))
        .distinct()
        .join(old_labels.select("node"), "node", "left_anti")
    )
    fresh_final = (
        fresh_nodes.join(
            F.broadcast(qlabels.select(F.col("node"), F.col("label"))),
            "node", "left")
        .select("node", F.coalesce("label", "node").alias("label"))
    )
    return _component_summary(old_final.unionAll(fresh_final))
