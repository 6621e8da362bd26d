"""Contradiction detection (gardener.go:1310-1470 detectContradictions)
— the first operator wired through the :mod:`functions.brain` seam.

Reference loop: per node, top-5 similar neighbors inside a similarity
band, skip meta-nodes and already-analyzed pairs, ask the LLM for a
verdict, and on contradiction write a "reflection" node (zero-cost
embedding = mean of the two vectors) linked to both memories with
``contradicts``/``contradicted_by``.

Spark-first re-expression:
  * candidates — the GEMM similarity kernel (never all-pairs at
    scale: the banded/LSH generators swap in, consolidation.py note),
    per-node top-{TOP_NEIGHBORS} under (round(sim,6) DESC, neighbor
    ASC), band re-anchored on the fixture embedding geometry (cosine
    sim in [{SIM_LO}, {SIM_HI}]: the near-orthogonal synthetic
    embeddings sit far below the reference's 0.70-0.95 1/(1+d) score
    band — documented divergence, same config knob);
  * verdict — ONE Arrow batch through the active Brain
    (functions/brain.py); with the default DeterministicBrain the
    DuckDB oracle replays the judge verbatim in SQL, so the whole
    pipeline is value-checked;
  * reflection post-image — deterministic ids
    (``reflection_<a>_<b>``, not the reference's wall-clock nanos),
    content 'Conflict detected: <reason>', mean-vector L2 norm,
    action_required = strong-similarity conflicts (sim >= 0.42).

The meta-node-type and analyzed_against exclusions live in the
write-side facade (api-level data carries metadata; the fixture part
anchor does not) — mirrored from the reference's skip lists.
"""

from __future__ import annotations

from kektordb_spark.functions.brain import contradiction_sql_pred
from kektordb_spark.dialect import dot_sql, fold_sum, zip_with

SIM_LO, SIM_HI = 0.30, 0.95
TOP_NEIGHBORS = 8
ACTION_SIM = 0.42


def candidates_sql(dialect: str, pairs_rel: str | None = None) -> str:
    """CTE chain ending in ``cand(a, b, sim, content_a, content_b,
    va, vb)``: banded per-node top-5 neighbor pairs with part-name
    contents. ``pairs_rel`` names a pre-materialized (u, w, sim)
    relation (the Spark GEMM kernel); default derives pairs inline
    (the oracle's exact O(N^2) baseline)."""
    if pairs_rel is None:
        dot = dot_sql(dialect, "x.v", "y.v")
        pairs = f"""pairs AS (
  SELECT x.vec_id AS u, y.vec_id AS w,
         ({dot}) / (x.norm * y.norm) AS sim
  FROM emb x JOIN emb y ON x.vec_id < y.vec_id
  WHERE ({dot}) / (x.norm * y.norm) >= {SIM_LO}
),"""
    else:
        pairs = f"pairs AS (SELECT u, w, sim FROM {pairs_rel}),"
    return f"""{pairs}
und AS (
  SELECT u, w, sim FROM pairs UNION ALL SELECT w, u, sim FROM pairs
),
nbr AS (
  SELECT u, w, sim FROM (
    SELECT *, row_number() OVER (PARTITION BY u
                                 ORDER BY round(sim, 6) DESC, w ASC) AS rk
    FROM und WHERE sim <= {SIM_HI}
  ) t WHERE rk <= {TOP_NEIGHBORS}
),
qual AS (
  SELECT least(u, w) AS a, greatest(u, w) AS b, max(sim) AS sim
  FROM nbr GROUP BY least(u, w), greatest(u, w)
),
cand AS (
  SELECT q.a, q.b, q.sim,
         coalesce(pa.p_name, '') AS content_a,
         coalesce(pb.p_name, '') AS content_b,
         ea.v AS va, eb.v AS vb
  FROM qual q
  LEFT JOIN part pa ON pa.p_partkey = q.a
  LEFT JOIN part pb ON pb.p_partkey = q.b
  JOIN emb ea ON ea.vec_id = q.a
  JOIN emb eb ON eb.vec_id = q.b
)"""


def _avg_norm(dialect: str, va: str, vb: str) -> str:
    """L2 norm of the element-wise mean of two vectors."""
    sq = zip_with(dialect, va, vb, lambda x, y: f"(({x} + {y}) / 2) * (({x} + {y}) / 2)")
    return f"sqrt({fold_sum(dialect, sq)})"


def contradictions_oracle_sql() -> str:
    """Self-contained DuckDB oracle: candidates + the
    DeterministicBrain judge replayed in SQL."""
    pred, reason = contradiction_sql_pred("duckdb", "content_a", "content_b")
    an = _avg_norm("duckdb", "va", "vb")
    s = "VARCHAR"
    return f"""WITH {candidates_sql("duckdb")}
SELECT concat('reflection_', CAST(a AS {s}), '_', CAST(b AS {s})) AS reflection_id,
       a AS node_a, b AS node_b,
       concat('Conflict detected: ', {reason}) AS content,
       sim >= {ACTION_SIM} AS action_required,
       round({an}, 6) AS avg_vec_norm
FROM cand
WHERE {pred}"""


def reflections_df(spark):
    """Spark side: GEMM candidates, Brain-UDF verdict (the extension
    point exercised end-to-end), reflection post-image."""
    from pyspark.sql import functions as F

    from kektordb_spark.functions.brain import contradiction_judge_udf
    from kektordb_spark.operators import knn_planner as KP

    _sp = KP.similar_pairs(spark, SIM_LO).select("u", "w", "sim")
    if not KP.pairs_served_from_index(spark, SIM_LO):
        # kernel-computed pairs must materialize before the multi-ref
        # candidate CTE; the persisted-index path re-scans its parquet
        _sp = _sp.localCheckpoint(eager=True)
    _sp.createOrReplaceTempView("_contra_pairs")
    cand = spark.sql(
        "WITH " + candidates_sql("spark", pairs_rel="_contra_pairs")
        + "\nSELECT * FROM cand"
    )
    judged = cand.withColumn(
        "verdict", contradiction_judge_udf()(F.col("content_a"), F.col("content_b"))
    ).where(F.col("verdict.contradiction"))
    an = _avg_norm("spark", "va", "vb")
    return judged.select(
        F.concat(F.lit("reflection_"), F.col("a").cast("string"),
                 F.lit("_"), F.col("b").cast("string")).alias("reflection_id"),
        F.col("a").alias("node_a"), F.col("b").alias("node_b"),
        F.concat(F.lit("Conflict detected: "),
                 F.col("verdict.reason")).alias("content"),
        (F.col("sim") >= ACTION_SIM).alias("action_required"),
        F.round(F.expr(an), 6).alias("avg_vec_norm"),
    )
