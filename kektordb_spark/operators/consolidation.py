"""Redundant-cluster consolidation (A5) + knowledge-gap detection (A6).

Reference (gardener.go:781-937, 2295-2426):
  * A5 walks nodes greedily: k-NN(10) per node, cluster = members with
    score >= 0.90, consolidate clusters of >= 5. Greedy iteration is
    order-dependent and single-node-bound (SURVEY.md §7 risk note), so
    the Spark-native re-expression is CONNECTED COMPONENTS over the
    similarity-threshold graph with min-label propagation: a fixed
    number of rounds of "label = min(own, neighbors')" joins —
    deterministic, fully distributed, and oracle-checkable. After k
    rounds labels are exact for components of diameter <= k (documented
    approximation; the fixture components are small).
  * A6 flags pairs that are semantically close but share NO graph
    connection — re-anchored on the fixture: similar part embeddings
    (vec i <-> part p_i) that never co-occur in any order (the
    co-occurrence edge is the anti-join side).

Scale notes: the pair-generation step here is the exact O(N^2)
baseline; at corpus scale swap in the LSH bucket join
(operators/knn.py) — the propagation/anti-join stages are unchanged.
Label propagation shuffles only (node, label) pairs per round.
"""

from __future__ import annotations

from kektordb_spark.dialect import dot_sql, sorted_csv


def _pairs_cte(dialect: str, threshold: float) -> str:
    dot = dot_sql(dialect, "a.v", "b.v")
    return f"""pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS w
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE ({dot}) / (a.norm * b.norm) >= {threshold}
),
und AS (
  SELECT u, w FROM pairs UNION ALL SELECT w AS u, u AS w FROM pairs
)"""


def _label_ctes(
    dialect: str, threshold: float = 0.40, iters: int = 4,
) -> tuple[list[str], str]:
    """Shared CTE chain: similarity pairs -> undirected edges -> bounded
    min-label propagation. Returns (cte_list, final_relation_name)."""
    parts = [_pairs_cte(dialect, threshold)]
    parts.append("l0 AS (SELECT DISTINCT u AS node, u AS label FROM und)")
    prev = "l0"
    for i in range(1, iters + 1):
        parts.append(f"""l{i} AS (
  SELECT n.node, least(n.label, coalesce(min(p.label), n.label)) AS label
  FROM {prev} n
  LEFT JOIN und e ON e.u = n.node
  LEFT JOIN {prev} p ON p.node = e.w
  GROUP BY n.node, n.label
)""")
        prev = f"l{i}"
    return parts, prev


def consolidation_sql(
    dialect: str, threshold: float = 0.40, iters: int = 4, min_size: int = 3,
) -> str:
    """A5 as bounded min-label propagation over the similarity graph."""
    parts, prev = _label_ctes(dialect, threshold, iters)
    body = ",\n".join(parts)
    # members sorted numerically then joined
    members = sorted_csv(dialect, "node")
    return f"""
WITH {body}
SELECT label AS cluster_master, CAST(count(*) AS INT) AS size,
       {members} AS members
FROM {prev}
GROUP BY label
HAVING count(*) >= {min_size}
""".strip()


def consolidation_labels_df(
    spark, threshold: float = 0.40, iters: int = 4,
):
    """Spark-side label propagation: returns (node, label) after
    ``iters`` min-label rounds over the GEMM-kernel similarity graph.
    Shared by the clusters query and the merge step."""
    from pyspark.sql import functions as F

    from kektordb_spark.operators import knn_planner as KP

    # Eager localCheckpoint (not persist): materializes AND truncates
    # lineage, so no later stage re-enters the Python mapInPandas kernel
    # and every round's job starts from the (tiny) checkpointed edge set.
    # Pair generation goes through the planner flag: exact GEMM at
    # fixture scale, LSH bucket self-join beyond GEMM_PAIRS_MAX. When
    # the pairs come from the PERSISTED index the checkpoint is skipped
    # — re-scanning the scratch parquet twice (the und union below)
    # beats re-writing it (SCALE.md rule 3; measured ~1.15 s -> 0.98 s
    # for the 4-round propagation at sf0.1).
    pairs = KP.similar_pairs(spark, threshold).select("u", "w")
    if not KP.pairs_served_from_index(spark, threshold):
        pairs = pairs.localCheckpoint(eager=False)
    und = (
        pairs.unionAll(pairs.select(F.col("w").alias("u"), F.col("u").alias("w")))
        .repartition("u")
        .localCheckpoint(eager=False)
    )
    labels = (
        und.select(F.col("u").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _i in range(iters):
        # Broadcast the neighbor-label probe side (r8): the
        # checkpointed per-round labels report no stats, so both round
        # joins planned as SortMergeJoin — 4-5 exchanges per round over
        # a node-grained relation. With the label relation broadcast
        # the round collapses to one aggregate exchange (measured
        # quiet: 21 -> 15 jobs, 1.45 -> 1.0 s for the 4-round chain,
        # bit-identical labels). Node-grained relation, same broadcast
        # bound/co-partition swap story as the merge body's member
        # hints (merge_body_ctes docstring).
        labels = (
            labels.alias("n")
            .join(und.alias("e"), F.col("n.node") == F.col("e.u"), "left")
            .join(F.broadcast(labels).alias("p"),
                  F.col("p.node") == F.col("e.w"), "left")
            .groupBy(F.col("n.node").alias("node"), F.col("n.label").alias("l0"))
            .agg(F.min(F.col("p.label")).alias("lmin"))
            .select("node", F.least(F.col("l0"), F.coalesce("lmin", "l0")).alias("label"))
        )
        # Checkpoint every SECOND round (plus the last): with the
        # probe side broadcast the un-checkpointed odd round is a
        # single-exchange subplan, so letting the next round inline it
        # halves the lineage-truncation points without recomputation
        # (its two references — n and the broadcast p — dedup via
        # exchange reuse). Measured quiet: ~8% off the 4-round chain,
        # bit-identical labels.
        if _i % 2 == 1 or _i == iters - 1:
            labels = labels.localCheckpoint(eager=False)
    return labels


def consolidation_df(
    spark, threshold: float = 0.40, iters: int = 4, min_size: int = 3,
):
    """Spark-side A5 cluster discovery: the similarity edge list comes
    from the blocked float64 GEMM kernel (operators/blockgemm.py — each
    tile one numpy matmul, threshold applied in-kernel so only
    surviving pairs shuffle) and is MATERIALIZED once because the
    label-propagation rounds re-reference it. Semantics identical to
    consolidation_sql — the DuckDB oracle runs that SQL."""
    from pyspark.sql import functions as F

    labels = consolidation_labels_df(spark, threshold, iters)
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("int").alias("size"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("node")),
                            lambda x: x.cast("string")), ",",
            ).alias("members"),
        )
        .where(F.col("size") >= min_size)
        .select(F.col("label").alias("cluster_master"), "size", "members")
    )


# Analysis-artifact relations a consolidation never transfers to the
# master node (gardener.go:1026-1045 skipEdges).
SKIP_RELS = (
    "consolidated_into", "derived_from", "analyzed_against",
    "gap_analyzed", "sentiment_analyzed", "centrality_analyzed",
    "decay_analyzed", "suggests_link", "contradicts", "contradicted_by",
    "focus_shifted", "focus_shifted_by", "sentiment_shift",
    "sentiment_shifted_by", "became_central", "centralized_by",
    "knowledge_decay", "decaying_in",
)


def ecur_sql(dialect: str, at_time: int | None = None) -> str:
    """Current (latest-version) active edges — the merge body references
    this relation four times (degree x2, out-/in-rewiring), so the
    Spark runner materializes it ONCE as a temp view (Spark inlines
    multiply-referenced CTEs; measured 4 windowed dedups over the full
    edge table without it). DuckDB materializes repeated CTEs itself,
    so the oracle keeps it inline."""
    tt = ("deleted_at = 0" if at_time is None
          else f"(created_at <= {at_time} AND (deleted_at = 0 OR deleted_at > {at_time}))")
    if dialect == "spark":
        # max_by over the lexicographic (created_at, weight) pair ==
        # the windowed row_number(ORDER BY created_at DESC, weight
        # DESC) pick below, but as a map-side-combined aggregate
        # instead of a full partition sort (measured ~2.7s -> ~1s over
        # the 1.5M-row fixture edge table).
        return (f"SELECT src, dst, rel, "
                f"max_by(weight, struct(created_at, weight)) AS weight "
                f"FROM edges WHERE {tt} GROUP BY src, dst, rel")
    return f"""SELECT src, dst, rel, weight FROM (
    SELECT e.*, row_number() OVER (PARTITION BY src, dst, rel
                                   ORDER BY created_at DESC, weight DESC) AS rn
    FROM edges e WHERE {tt}
  ) t WHERE rn = 1"""


def member_nids_sql(labels_rel: str, min_size: int = 3) -> str:
    """The graph-node ids of every member of a consolidatable cluster
    (size >= min_size) — the only endpoints the merge body ever joins
    ecur against."""
    return f"""
SELECT concat('p_', CAST(m.node AS STRING)) AS nid
FROM {labels_rel} m
JOIN (SELECT label FROM {labels_rel} GROUP BY label HAVING count(*) >= {min_size}) z
  ON z.label = m.label
""".strip()


def cl_nodes_sql(labels_rel: str, min_size: int = 3) -> str:
    """The (label, node, nid) member relation of every consolidatable
    cluster — the Spark runner materializes this ONCE (eager local
    checkpoint) and feeds both the ecur member-restriction probes and
    all seven body references via merge_body_ctes(cl_rel=...), instead
    of deriving member nids and cl_nodes separately."""
    return f"""
SELECT /*+ BROADCAST(z) */ m.label, m.node,
       concat('p_', CAST(m.node AS STRING)) AS nid
FROM {labels_rel} m
JOIN (SELECT label FROM {labels_rel} GROUP BY label HAVING count(*) >= {min_size}) z
  ON z.label = m.label
""".strip()


def ecur_member_sql(nids_rel: str, at_time: int | None = None) -> str:
    """Spark-side ecur restricted to member-touching edges BEFORE the
    latest-version pick. Safe because the filter is on (src, dst) —
    both part of the versioning key (src, dst, rel) — so every version
    of a surviving edge key passes the filter together and max_by sees
    the same candidate set. The merge body only references ecur joined
    to member nids (degm: src/dst = nid; rew_out: src = nid; rew_in:
    dst = nid), so dropping non-member edges is semantically free, and
    the expensive dedup group-by runs over the member-touching subset
    (1.37M -> 43k rows at sf0.1) instead of the whole edge table. The
    OR of two IN-subqueries plans as two broadcast existence joins
    (the nid set is cluster-membership-bounded). DuckDB oracle keeps
    the unfiltered inline form — results verified identical."""
    tt = ("deleted_at = 0" if at_time is None
          else f"(created_at <= {at_time} AND (deleted_at = 0 OR deleted_at > {at_time}))")
    return f"""
SELECT src, dst, rel, max_by(weight, struct(created_at, weight)) AS weight
FROM edges
WHERE {tt}
  AND (src IN (SELECT nid FROM {nids_rel})
       OR dst IN (SELECT nid FROM {nids_rel}))
GROUP BY src, dst, rel
""".strip()


def merge_body_ctes(
    dialect: str, labels_rel: str, min_size: int = 3, at_time: int | None = None,
    ecur_rel: str | None = None, cl_rel: str | None = None,
) -> str:
    """A5 merge step (gardener.go:941-1110 consolidateCluster, no-LLM
    path) as one SQL statement over a (node, label) cluster relation:

      * master content = most graph-connected member's content (here:
        the part name — vec i <-> part p_i per the fixture anchoring),
        ties by longer content then lowest member id — the reference's
        sequential "strictly better degree, or equal degree and
        strictly longer content" rule with its first-in-member-order
        tie (pickCentralContent, gardener.go:1288-1308);
      * master vector = elementwise mean of member vectors ("zero-cost
        embedding", gardener.go:948-976) — surfaced as its rounded L2
        norm so the value check is float-stable;
      * external edges transferred to the master: current
        (latest-version) active edges of members, skipping
        analysis-artifact relations (SKIP_RELS) and within-cluster
        endpoints; when several members carry the same (rel, endpoint)
        the HIGHEST member id's weight survives — the deterministic
        face of the reference's last-VLink-wins edge versioning over
        its sorted member iteration (gardener.go:1046-1090).

    Returns the CTE chain + final SELECT (cluster grain, one row per
    consolidated master). Plan shape: every stage is an equi-join or
    group-by keyed on label/node — co-partitioned at scale; members
    per cluster are bounded (similarity clusters), so the per-label
    windows never skew."""
    skips = ", ".join(f"'{r}'" for r in SKIP_RELS)
    if ecur_rel is None:
        ecur_cte = f"ecur AS (\n  {ecur_sql(dialect, at_time)}\n),\n"
        ecur = "ecur"
    else:
        ecur_cte = ""
        ecur = ecur_rel
    # Members-per-cluster is config-bounded, so the member relation is
    # always the broadcast side of the edge joins; checkpointed temp
    # views report no stats, so the hint makes it explicit (a comment
    # to every other engine). r8 extends the same discipline to EVERY
    # join over the stats-less checkpoint-derived relations: without
    # hints the body planned 14 SortMergeJoins (each a shuffle+sort
    # pair) to join label-grained relations of at most a few thousand
    # rows — plan-verified 14 SMJ -> 0 after hinting. The broadcast
    # sides are member- or cluster-grained (cluster-membership-
    # bounded, the scale argument above); the probe sides stay the
    # edge stream / labels relation.
    members = sorted_csv(dialect, "node")
    if dialect == "spark":
        posex = ("SELECT /*+ BROADCAST(c) */ c.label, t.pos, t.x FROM cl_nodes c "
                 "JOIN emb e ON e.vec_id = c.node "
                 "LATERAL VIEW posexplode(e.v) t AS pos, x")
        # Pick-one-per-group windows become max_by aggregates on the
        # Spark side (map-side combinable, no partition sort — the
        # ecur_sql precedent; guide "aggregate before you shuffle").
        # central: lexicographic max over (degree, content length,
        # -node) == ORDER BY degree DESC, length DESC, node ASC with
        # node unique per label, so the triple never ties. rew_out:
        # node unique per (label, rel, dst) group, so max_by(weight,
        # node) is the rn=1 row's weight. DuckDB keeps the windowed
        # form — results verified identical by every oracle run.
        central_body = """SELECT d.label,
         max_by(coalesce(p.p_name, ''),
                struct(d.degree, length(coalesce(p.p_name, '')), -d.node)
         ) AS content
  FROM deg d LEFT JOIN part p ON p.p_partkey = d.node
  GROUP BY d.label"""
        rew_out_body = f"""SELECT /*+ BROADCAST(n), BROADCAST(t2), BROADCAST(s2) */ n.label, e.rel, e.dst,
         max_by(e.weight, n.node) AS weight
  FROM cl_nodes n
  JOIN {ecur} e ON e.src = n.nid
  LEFT JOIN cl_nodes t2 ON t2.label = n.label AND t2.nid = e.dst
  WHERE e.rel NOT IN ({skips}) AND t2.nid IS NULL
  GROUP BY n.label, e.rel, e.dst"""
    else:
        posex = ("SELECT c.label, generate_subscripts(e.v, 1) - 1 AS pos, "
                 "unnest(e.v) AS x FROM cl_nodes c JOIN emb e ON e.vec_id = c.node")
        central_body = """SELECT label, content FROM (
    SELECT d.label, coalesce(p.p_name, '') AS content,
           row_number() OVER (PARTITION BY d.label
                              ORDER BY d.degree DESC,
                                       length(coalesce(p.p_name, '')) DESC,
                                       d.node ASC) AS rn
    FROM deg d LEFT JOIN part p ON p.p_partkey = d.node) t
  WHERE rn = 1"""
        rew_out_body = f"""SELECT label, rel, dst, weight FROM (
    SELECT n.label, n.node, e.rel, e.dst, e.weight,
           row_number() OVER (PARTITION BY n.label, e.rel, e.dst
                              ORDER BY n.node DESC) AS rn
    FROM cl_nodes n
    JOIN {ecur} e ON e.src = n.nid
    LEFT JOIN cl_nodes t2 ON t2.label = n.label AND t2.nid = e.dst
    WHERE e.rel NOT IN ({skips}) AND t2.nid IS NULL) t
  WHERE rn = 1"""
    # cl_rel: a pre-materialized (label, node, nid) member relation —
    # the Spark runner checkpoints it ONCE and shares it between the
    # ecur slice's IN-probes and every body consumer (it is referenced
    # 7x below); the sizes/cl_nodes derivation then collapses to a
    # passthrough. The DuckDB oracle keeps the inline derivation —
    # DuckDB materializes repeated CTEs itself.
    if cl_rel is None:
        cl_ctes = f"""sizes AS (
  SELECT label, count(*) AS size FROM {labels_rel} GROUP BY label
),
cl_nodes AS (
  SELECT /*+ BROADCAST(z) */ m.label, m.node, concat('p_', CAST(m.node AS STRING)) AS nid
  FROM {labels_rel} m JOIN sizes z ON z.label = m.label
  WHERE z.size >= {min_size}
),"""
    else:
        cl_ctes = f"""cl_nodes AS (
  SELECT label, node, nid FROM {cl_rel}
),"""
    return f"""{cl_ctes}
{ecur_cte}degm AS (
  -- members are the broadcast side of an INNER join (hinted:
  -- checkpointed temp views report no stats; a left-outer from the
  -- member side could not broadcast-hash), so the 2x edge stream
  -- probes a hash table and only member-touching rows aggregate.
  SELECT /*+ BROADCAST(n) */ n.label, n.node, count(*) AS degree
  FROM cl_nodes n
  JOIN (SELECT src AS a FROM {ecur}
        UNION ALL SELECT dst AS a FROM {ecur}) e ON e.a = n.nid
  GROUP BY n.label, n.node
),
deg AS (
  SELECT /*+ BROADCAST(d) */ n.label, n.node, coalesce(d.degree, 0) AS degree
  FROM cl_nodes n
  LEFT JOIN degm d ON d.label = n.label AND d.node = n.node
),
central AS (
  {central_body}
),
avgv AS (
  SELECT label, round(sqrt(sum(m * m)), 6) AS avg_vec_norm FROM (
    SELECT label, pos, avg(x) AS m FROM ({posex}) px GROUP BY label, pos) t
  GROUP BY label
),
rew_out AS (
  {rew_out_body}
),
out_stats AS (
  SELECT label, count(*) AS edges_out, round(sum(weight), 2) AS rewired_weight
  FROM rew_out GROUP BY label
),
rew_in AS (
  SELECT /*+ BROADCAST(n), BROADCAST(t2), BROADCAST(s2) */ n.label, e.rel, e.src
  FROM cl_nodes n
  JOIN {ecur} e ON e.dst = n.nid
  LEFT JOIN cl_nodes s2 ON s2.label = n.label AND s2.nid = e.src
  WHERE e.rel NOT IN ({skips}) AND s2.nid IS NULL
  GROUP BY n.label, e.rel, e.src
),
in_stats AS (
  SELECT label, count(*) AS edges_in FROM rew_in GROUP BY label
),
szm AS (
  SELECT label, count(*) AS size, {members} AS members
  FROM cl_nodes GROUP BY label
)
SELECT /*+ BROADCAST(c), BROADCAST(a), BROADCAST(o), BROADCAST(i) */ concat('consolidation_', CAST(z.label AS STRING)) AS master_id,
       CAST(z.size AS INT) AS derived_from_count,
       c.content,
       a.avg_vec_norm,
       CAST(coalesce(o.edges_out, 0) AS INT) AS edges_out,
       round(coalesce(o.rewired_weight, 0.0), 2) AS rewired_weight,
       CAST(coalesce(i.edges_in, 0) AS INT) AS edges_in,
       z.members
FROM szm z
JOIN central c ON c.label = z.label
JOIN avgv a ON a.label = z.label
LEFT JOIN out_stats o ON o.label = z.label
LEFT JOIN in_stats i ON i.label = z.label
WHERE z.size >= {min_size}"""


def consolidation_merge_oracle_sql(
    threshold: float = 0.40, iters: int = 4, min_size: int = 3,
    at_time: int | None = None,
) -> str:
    """Self-contained DuckDB oracle: label propagation + merge body."""
    parts, prev = _label_ctes("duckdb", threshold, iters)
    parts.append(f"lbl AS (SELECT node, label FROM {prev})")
    body = merge_body_ctes("duckdb", "lbl", min_size, at_time)
    return "WITH " + ",\n".join(parts) + ",\n" + body


def knowledge_gaps_sql(dialect: str, threshold: float = 0.42) -> str:
    """A6: similar part-embedding pairs with NO co-occurrence in any
    order — similarity join (LSH at scale) anti-joined against the
    relationship evidence."""
    dot = dot_sql(dialect, "a.v", "b.v")
    return f"""
WITH sim AS (
  SELECT a.vec_id AS u, b.vec_id AS w,
         round(({dot}) / (a.norm * b.norm), 6) AS sim
  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
  WHERE ({dot}) / (a.norm * b.norm) >= {threshold}
),
cooc AS (
  SELECT DISTINCT la.l_partkey AS u, lb.l_partkey AS w
  FROM lineitem la JOIN lineitem lb
    ON la.l_orderkey = lb.l_orderkey AND la.l_partkey < lb.l_partkey
)
SELECT s.u AS part_a, s.w AS part_b, s.sim
FROM sim s
LEFT JOIN cooc c ON c.u = s.u AND c.w = s.w
WHERE c.u IS NULL
""".strip()
