"""Hybrid fusion + scoring pipeline (SURVEY.md §2.5 H1-H6).

Reference semantics (pkg/engine/search_utils.go:45-70, ops.go:1071-1206):
  * vector score = 1/(1+distance)  (absolute, NOT min-max);
  * text score   = bm25 / max(bm25 in batch)  (per-query max-normalize);
  * fused        = alpha*vec + (1-alpha)*text over the FULL OUTER union
    of both branches (missing side contributes 0);
  * then decay multiplier, then ORDER BY score DESC LIMIT k.

The two retrieval branches are two sub-plans of one DataFrame program —
Spark schedules their stages concurrently, matching the reference's
dual-goroutine retrieval (ops.go:997-1026) without explicit threads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kektordb_spark.lineage import checkpoint


def normalize_vector_scores(knn: DataFrame, dist_col: str = "dist") -> DataFrame:
    """H1 vector branch: score = 1/(1+dist)."""
    return knn.withColumn("vec_score", 1.0 / (1.0 + F.col(dist_col)))


def normalize_text_scores(bm25: DataFrame, score_col: str = "score") -> DataFrame:
    """H1 text branch: divide by the batch max (search_utils.go:59-70).

    The scored relation is referenced twice (the max aggregate and the
    row side) and Spark inlines shared subplans, so the WHOLE upstream
    scoring pipeline would run twice (measured: the hybrid text branch
    at sf0.1 paid a full extra BM25 pass). Scores are one small row per
    matched doc — materialize once, then both references hit the
    checkpointed relation. (A window max over the unpartitioned frame
    would avoid the double reference but funnels every row through one
    partition — worse at scale than the tiny checkpoint.)"""
    scored = checkpoint(bm25)
    mx = scored.agg(F.max(score_col).alias("mx"))
    return scored.crossJoin(F.broadcast(mx)).withColumn(
        "text_score",
        F.when(F.col("mx") > 0, F.col(score_col) / F.col("mx")).otherwise(F.col(score_col)),
    ).drop("mx")


def fuse(
    vec_scored: DataFrame,
    text_scored: DataFrame,
    alpha: float,
    id_col: str = "id",
) -> DataFrame:
    """H2 weighted-sum fusion on the full outer join of the branches.
    An out-of-range alpha RESETS to the 0.5 default (ops.go:1088-1090
    ``if alpha < 0 || alpha > 1 { alpha = 0.5 }`` — reset, not clamp)."""
    a = alpha if 0.0 <= alpha <= 1.0 else 0.5
    v = vec_scored.select(F.col(id_col), "vec_score")
    t = text_scored.select(F.col(id_col), "text_score")
    return (
        v.join(t, id_col, "full_outer")
        .select(
            id_col,
            F.coalesce("vec_score", F.lit(0.0)).alias("vec_score"),
            F.coalesce("text_score", F.lit(0.0)).alias("text_score"),
        )
        .withColumn("score", a * F.col("vec_score") + (1.0 - a) * F.col("text_score"))
    )


def top_k(df: DataFrame, k: int, score_col: str = "score", id_col: str = "id") -> DataFrame:
    """H5: sort desc + truncate (Catalyst compiles to
    TakeOrderedAndProject — no global sort materialization)."""
    return df.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(k)
