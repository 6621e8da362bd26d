"""Streaming ANN index maintenance: the STREAM face of the
arrival-wave family (ann_index_merge is the batch face).

The reference ingests vectors continuously and updates its index
online (engine.go VAdd-from-bus -> hnsw insert). The Spark-native
shape: arrivals land in a file landing zone, stream with bounded
micro-batches, and each batch is assigned to the PERSISTED coarse
quantizer (one broadcast argmin over nlist centroids per vector —
O(batch), never a re-train), folding per-cell arrival counts into the
index's drift statistics. The state carried between batches is the
per-cell counter vector — nlist numbers, never rows — the same
state-is-a-summary discipline as the keyed KMV/Misra-Gries streams.

Stream ≡ batch: counts are additive and assignment is deterministic,
so the final per-cell report equals the batch derivation for ANY
arrival order / chunking — the registered query's oracle is literally
the (cid, n_batch) projection of the batch ivf_merge report, and a
test runs the stream under a different chunking to pin
order-independence. foreachBatch redelivery is absorbed by a
processed-batch-id guard (same idempotence contract as the MERGE
ingest sink, streaming/events.ingest_upsert_run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kektordb_spark.dialect import l2sq_sql

#: arrival wave: vec_id % 10 = 7 (the repo's standard derived batch,
#: same predicate as ann_index_merge / ann_graph_merge)
ANN_ARRIVAL_MOD, ANN_ARRIVAL_REM = 10, 7


def _assign_counts_sql(batch_view: str, cents_view: str = "ivf_cents") -> str:
    """Per-cell counts for one micro-batch: argmin over the broadcast
    centroid relation (squared L2, centroid-id tie-break — the exact
    _assign_cte order), then a tiny hash-agg."""
    d = l2sq_sql("spark", "e.v", "c.v")
    return f"""
WITH be AS (
  SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM {batch_view}
),
a AS (
  -- r7: argmin as a map-side-combinable min_by aggregate over the
  -- lexicographic (d2, cid) pair — the same pick as _assign_cte's
  -- rank window (ORDER BY d2 ASC, cid ASC, rk = 1) without buffering
  -- and sorting each vector's nlist candidate rows in a window task
  SELECT e.vec_id, min_by(c.cid, struct({d}, c.cid)) AS cid
  FROM be e CROSS JOIN {cents_view} c
  GROUP BY e.vec_id
)
SELECT cid, count(*) AS n FROM a GROUP BY cid
""".strip()


def ann_assign_stream_run(
    spark: SparkSession, emb_path: str, n_chunks: int = 4,
) -> DataFrame:
    """Run the landing-zone stream end-to-end and return the final
    per-cell arrival report (cid, n_batch) over ALL cells (cells with
    no arrivals report 0 — the drift dashboard wants the full row
    set). See module docstring for the contract."""
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="kekt_annstream_")
    land = os.path.join(root, "landing")
    os.makedirs(land)
    try:
        arrivals = (
            spark.read.parquet(emb_path)
            .where(F.col("vec_id") % ANN_ARRIVAL_MOD == ANN_ARRIVAL_REM)
        )
        schema = arrivals.schema
        split_dir = os.path.join(root, "split")
        # interleave arrivals across chunk files (arrival order is
        # deliberately NOT vec_id order)
        arrivals.withColumn(
            "chunk", F.pmod("vec_id", F.lit(n_chunks))
        ).repartition("chunk").write.partitionBy("chunk").mode(
            "overwrite"
        ).parquet(split_dir)
        for i in range(n_chunks):
            chunk_dir = os.path.join(split_dir, f"chunk={i}")
            if not os.path.isdir(chunk_dir):
                continue
            for j, part in enumerate(sorted(
                    f for f in os.listdir(chunk_dir)
                    if f.endswith(".parquet"))):
                os.rename(os.path.join(chunk_dir, part),
                          os.path.join(land, f"chunk_{i}_{j}.parquet"))

        counts: dict[int, int] = {}
        seen_batches: set[int] = set()

        def fold(batch_df: DataFrame, batch_id: int) -> None:
            if batch_id in seen_batches:
                return  # foreachBatch redelivery: already folded
            seen_batches.add(batch_id)
            batch_df.createOrReplaceTempView("_st_ann_batch")
            for r in batch_df.sparkSession.sql(
                    _assign_counts_sql("_st_ann_batch")).collect():
                counts[r["cid"]] = counts.get(r["cid"], 0) + r["n"]

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
            .writeStream.foreachBatch(fold)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        cents = spark.table("ivf_cents").select("cid")
        rows = [(int(c), int(n)) for c, n in counts.items()]
        got = spark.createDataFrame(rows or [], "cid int, n long")
        return (
            cents.join(got, "cid", "left")
            .select(
                F.col("cid").cast("int").alias("cid"),
                F.coalesce("n", F.lit(0)).cast("long").alias("n_batch"),
            )
            .orderBy("cid")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
