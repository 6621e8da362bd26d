"""Lineage truncation: the package's one ``localCheckpoint`` call.

Every iterative operator (BFS, kcore, components, pagerank, label
propagation, NN-descent, NSW search, BPE, k-means) cuts its plan with
:func:`checkpoint`, which owns the two hazards of a checkpointed
relation:

* **Shared attribute ids.** A checkpointed LogicalRDD keeps its plan's
  output attribute ids, and plain projections pass them through
  unchanged. Two checkpoints derived one from the other would then
  carry identical ids, and a plan that reads both (a ``unionAll`` of
  the two, an anti join against a union of rounds) fails analysis.
  The columns are re-aliased first, so every checkpoint gets fresh ids.
* **The sibling race.** A lazy checkpoint materializes inside the first
  stage that scans it. When several sibling stages of one job scan it
  concurrently, each computes the relation itself. ``readers`` is the
  number of sibling stages that can scan the relation before it is
  materialized: at 1 the checkpoint stays lazy (no job at the call;
  the first consumer fills it), above 1 it is eager (one job now).
  "No job" holds for a plan without exchanges: under AQE, building
  the RDD of a plan with a shuffle already runs its shuffle-map stages.

The other checkpoint hazard is session-wide, so it is a context
manager here rather than a step of the call: see
:func:`constraint_propagation_off`.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def checkpoint(df: DataFrame, readers: int = 1) -> DataFrame:
    """Truncate ``df``'s lineage with fresh attribute ids; lazy when
    one stage reads it before it is materialized, eager when
    ``readers`` sibling stages could race to compute it."""
    if readers < 1:
        raise ValueError(f"checkpoint: readers must be >= 1, got {readers}")
    return df.toDF(*df.columns).localCheckpoint(eager=readers > 1)


@contextmanager
def constraint_propagation_off(spark: SparkSession):
    """Hold ``spark.sql.constraintPropagation.enabled`` off for the
    block, then restore the prior value (nests: an inner scope restores
    "false"). The conf is SESSION-wide, so a caller that runs other
    plans concurrently with the descent build (tables.load_tables)
    holds it off around all of them — every plan then sees one value
    regardless of thread timing.

    Spark 4.1: a checkpointed LogicalRDD retains its source plan's
    CONSTRAINTS, which reference pre-checkpoint attribute ids; when
    such a relation sits under a Union, constraint rewriting throws
    'key not found: <attr>'. Constraints only infer extra filters —
    disabling propagation is semantics-free."""
    key = "spark.sql.constraintPropagation.enabled"
    before = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, before)
