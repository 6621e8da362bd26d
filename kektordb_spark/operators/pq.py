"""Product quantization (PQ) — the third scale path for similarity
search beside IVF (operators/ivf.py) and LSH (operators/knn.py).

The reference ships scalar quantization only (int8/f16,
hnsw_index.go:187-213, distance/quantizer.go); PQ is the standard next
step for 100 TB corpora (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): split each vector into M
subvectors, k-means each subspace to K centroids, store each vector as
M one-byte codes (dim x 4 bytes -> M bytes), and answer queries with
asymmetric distance computation (ADC) — a per-query LUT of
query-subvector-to-centroid distances, then distance(code) = sum of M
table lookups.

Spark-first shapes:
  * training — Lloyd's iterations as DataFrame ops: assignment is a
    broadcast join against the (K*M)-row centroid relation + argmin,
    update is one groupBy mean; the centroid relation is collected per
    iteration (bounded: K*M rows — config-sized, like the int8 absmax
    scalar) and re-broadcast, which is exactly how Spark MLlib's
    KMeans drives its loop.
  * encoding — one broadcast join + argmin per subspace, map-only.
  * search — LUT join on (subspace, code): codes explode to M rows per
    vector, equi-join the broadcast LUT, groupBy(doc) sum — candidate
    work is O(N*M) lookups, never O(N*dim) float math, and the shuffle
    carries one partial sum per doc.
  * IVF-PQ (:func:`ivfpq_search`) — the same ADC restricted to the
    candidates of the query's probed coarse cells (operators/ivf.py
    quantizer and probe): the planner's ``ivfpq`` strategy and the
    ``ivfpq_knn`` query both run it.

Determinism: centroids init from the K lowest-id vectors per subspace,
fixed iteration count, ties in argmin broken by centroid id — the
whole pipeline is reproducible bit-for-bit, and tests/test_pq.py pins
it against a pure-numpy replica. Lloyd rounds are not one SQL
statement, so the DuckDB oracles (registry ``knn_pq_top10``,
``ivfpq_knn``) check encode + ADC over the iters=0 init codebook.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kektordb_spark.dialect import l2sq_sql
from kektordb_spark.lineage import checkpoint


def _subvectors(df: DataFrame, vec_col: str, id_col: str, m: int, dim: int) -> DataFrame:
    """(id, sub, sv): split each vector into m contiguous subvectors."""
    width = dim // m
    subs = F.array(*[
        F.struct(
            F.lit(s).alias("sub"),
            F.slice(F.col(vec_col), s * width + 1, width).alias("sv"),
        )
        for s in range(m)
    ])
    return df.select(F.col(id_col).alias("id"), F.explode(subs).alias("e")).select(
        "id", F.col("e.sub").alias("sub"), F.col("e.sv").alias("sv")
    )


_SQDIST = l2sq_sql("spark", "sv", "cv")


def _assign(sv: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per (id, sub): broadcast join + hash-aggregate
    argmin — ``min_by`` over the lexicographic (distance, cid) struct
    keeps ties on the lowest centroid id without the sort a ranked
    window would need (the window form shuffled+sorted N*M*K rows per
    Lloyd round; the aggregate is map-side combined)."""
    return (
        sv.join(F.broadcast(centroids), "sub")
        .withColumn("d", F.expr(_SQDIST))
        .groupBy("id", "sub")
        .agg(
            F.min_by("cid", F.struct("d", "cid")).alias("cid"),
            F.first("sv").alias("sv"),  # constant within the group
        )
        .select("id", "sub", "cid", "sv")
    )


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 5,
    vec_col: str = "v",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Train per-subspace codebooks; returns (sub, cid, cv) with K*M
    rows. Init = the K lowest-id vectors' subvectors (deterministic);
    then ``iters`` Lloyd rounds. Each round's centroid relation is tiny
    and checkpointed so round i+1's plan does not replay round
    i (same loop-with-materialization rule as BFS — SCALE.md rule 3)."""
    sv = checkpoint(_subvectors(vectors, vec_col, id_col, m, dim))
    centroids = checkpoint(
        sv.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("sub").orderBy(F.col("id").asc())),
        )
        .where(F.col("rn") <= k)
        .select("sub", (F.col("rn") - 1).alias("cid"), F.col("sv").alias("cv"))
    )
    width = dim // m
    mean_cols = [F.avg(F.col("sv")[i]).alias(f"c{i}") for i in range(width)]
    for _ in range(iters):
        assigned = _assign(sv, centroids)
        means = (
            assigned.groupBy("sub", "cid")
            .agg(*mean_cols)
            .select(
                "sub", "cid",
                F.array(*[F.col(f"c{i}") for i in range(width)]).alias("nv"),
            )
        )
        # A cluster that loses every member keeps its previous centroid
        # (same rule as the numpy replica in tests/test_pq.py) — the
        # groupBy alone would silently shrink the codebook below K.
        centroids = checkpoint(
            centroids.join(means, ["sub", "cid"], "left")
            .select("sub", "cid", F.coalesce("nv", "cv").alias("cv"))
        )
    return centroids


def pq_encode(
    vectors: DataFrame,
    centroids: DataFrame,
    m: int = 8,
    vec_col: str = "v",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """(id, sub, code): one byte per subspace per vector."""
    sv = _subvectors(vectors, vec_col, id_col, m, dim)
    return _assign(sv, centroids).select(
        "id", "sub", F.col("cid").cast("int").alias("code")
    )


def pq_knn(
    codes: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    query_vec_col: str = "qv",
    query_id_col: str = "query_id",
    dim: int = 64,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ADC top-k: LUT = query subvector x centroid distances (K*M rows
    per query, broadcast); distance = sum of M lookups via an equi-join
    on (sub, code). ``candidates`` (``query_id_col``, id) restricts each
    query to those ids; default scores every code. Returns
    (query_id, id, dist, rank)."""
    lut = (
        _subvectors(queries, query_vec_col, query_id_col, m, dim)
        .join(F.broadcast(centroids), "sub")
        .select(
            F.col("id").alias(query_id_col), "sub",
            F.col("cid").alias("code"), F.expr(_SQDIST).alias("pd"),
        )
    )
    if candidates is None:
        scored = codes.join(F.broadcast(lut), ["sub", "code"])
    else:
        scored = candidates.join(codes, "id").join(
            F.broadcast(lut), [query_id_col, "sub", "code"])
    # SCALE.md rule 7: rank by the rounded score + id so the k-boundary
    # is reproducible across partitionings and engines (ADC sums M
    # doubles whose association order is partition-dependent).
    w = Window.partitionBy(query_id_col).orderBy(
        F.round("dist", 6).asc(), F.col("id").asc()
    )
    return (
        scored.groupBy(query_id_col, "id")
        # integer-grid sum — exactly associative under any partitioning
        # (same discipline as the hyde ADC sums; oracle matches).
        .agg((F.sum(F.round(F.col("pd") * 1e12, 0).cast("bigint"))
              .cast("double") / F.lit(1e12)).alias("dist"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivfpq_search(
    queries: DataFrame,
    cents: DataFrame,
    assign: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ top-k (the FAISS IVFPQ shape, minus residual encoding):
    each query (query_id, qv) probes its ``nprobe`` nearest coarse
    cells of ``cents`` (cid, v); the candidates are the ``assign``
    (vec_id, cid) members of those cells, scored by :func:`pq_knn`'s
    ADC over ``codebook``/``codes``. Returns (query_id, id, dist,
    rank)."""
    from kektordb_spark.operators.ivf import probe_cte

    probe = queries.sparkSession.sql(
        "WITH " + probe_cte("spark", "{cents}", nprobe, queries="{queries}",
                            n_queries=None)
        + "\nSELECT query_id, cid FROM probe",
        cents=cents,
        queries=queries.select(F.col("query_id").alias("vec_id"),
                               F.col("qv").alias("v")),
    )
    cand = probe.join(assign, "cid").select(
        "query_id", F.col("vec_id").alias("id"))
    return pq_knn(codes, codebook, queries, k=k, m=m, dim=dim,
                  candidates=cand)
