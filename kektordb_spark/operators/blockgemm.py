"""Blocked-GEMM pairwise cosine similarity — the scale path for
embedding self-joins (dedup D5 embedding near-dup, gardener A5
consolidation pairs / A6 knowledge gaps, reference gardener.go:781-937,
2295-2426).

The naive expression of an all-pairs similarity join is a row-level
cross join with a per-row ``aggregate(zip_with(...))`` dot product —
interpreted (no whole-stage codegen for higher-order functions) and
O(N^2) rows through the shuffle. The classic distributed brute-force
design (the exact layer under FAISS/ScaNN-style pipelines) is instead:

  1. pack vectors into B row blocks (``pmod(vec_id, B)``), one packed
     row per block: sorted ids + norms + a flattened row-major matrix —
     a single JVM-side groupBy, shuffle carries each vector once;
  2. join the B x (B+1)/2 unordered block pairs (tiny relation);
  3. per block pair, one vectorized float64 GEMM in numpy via
     ``mapInPandas`` (Arrow transfer) — each task is an independent
     (N/B)^2-dot tile, so the plan parallelizes to B^2/2 tasks and
     scales out linearly with executors; block size is chosen so a tile
     fits executor memory (at 100 TB: B ~ thousands, tiles ~64 MB).

Emission is threshold- or local-top-k-filtered INSIDE the kernel, so
the shuffle after the GEMM carries only surviving pairs, never the
N^2 similarity matrix.

Float parity with the fold-left SQL oracle (dialect.dot_sql): GEMM
accumulates in float64; reassociation error is ~1e-15 relative, six
orders below the round(…, 6) comparison grid and the 1e-2-scale
thresholds used by callers.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kektordb_spark.lineage import checkpoint

# Temp-view name of the pre-packed block relation over the default
# embeddings corpus (n_blocks=8), materialized once per session by
# tables.load_tables — the persisted block layout a brute-force
# similarity layer keeps next to the row layout at scale.
GEMM_BLOCKS_VIEW = "gemm_blocks_8"


def _default_blocks(spark: SparkSession, n_blocks: int) -> DataFrame | None:
    """The session's pre-packed default-corpus blocks, if materialized
    (only valid for the default embeddings source at n_blocks=8)."""
    if n_blocks != 8:
        return None
    try:
        return spark.table(GEMM_BLOCKS_VIEW)
    except Exception:
        return None


def packed_blocks(emb: DataFrame, n_blocks: int) -> DataFrame:
    """Pack (vec_id, v, norm) rows into one row per block: ids sorted
    ascending, norms aligned, matrix row-major — as raw float64/int64
    bytes in BINARY columns. Packing runs in applyInPandas (numpy
    vectorized): building the same flat arrays with Catalyst
    collect_list/array_sort/flatten is interpreted per-element and
    dominates the whole job for non-trivial block sizes; binary blobs
    also cross Arrow near-zero-copy (tobytes/frombuffer)."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
        return pd.DataFrame({
            "blk": [int(pdf["blk"].iloc[0])],
            "ids": [pdf["vec_id"].to_numpy(np.int64).tobytes()],
            "norms": [norms.tobytes()],
            "mat": [mat.tobytes()],
        })

    return (
        emb.withColumn("blk", F.pmod("vec_id", F.lit(n_blocks)))
        .select("blk", "vec_id", "vec")
        .groupBy("blk")
        .applyInPandas(pack, schema="blk int, ids binary, norms binary, mat binary")
    )


def _block_pairs(
    spark: SparkSession, n_blocks: int, emb: DataFrame | None,
) -> DataFrame:
    """The B x (B+1)/2 unordered block pairs (blk_a <= blk_b), one row
    per GEMM tile, spread over one partition per tile. ``emb`` None
    means the default embeddings corpus, whose pre-packed blocks are
    read when the session has them."""
    blocks = None
    if emb is None:
        blocks = _default_blocks(spark, n_blocks)
        if blocks is None:
            emb = spark.table("embeddings").select(
                "vec_id", F.col("embedding").alias("vec"))
    if blocks is None:
        # Materialize the packed blocks once (eager checkpoint): the
        # tile self-join references them twice, and a plain plan would
        # run the pack stage once per side.
        blocks = checkpoint(packed_blocks(emb, n_blocks), readers=2)
    return (
        blocks.alias("a")
        .join(blocks.alias("b"), F.col("a.blk") <= F.col("b.blk"))
        .select(
            F.col("a.blk").alias("blk_a"), F.col("b.blk").alias("blk_b"),
            F.col("a.ids").alias("ids_a"), F.col("a.norms").alias("norms_a"),
            F.col("a.mat").alias("mat_a"),
            F.col("b.ids").alias("ids_b"), F.col("b.norms").alias("norms_b"),
            F.col("b.mat").alias("mat_b"),
        )
        .repartition(n_blocks * (n_blocks + 1) // 2)
    )


def _tile_cosines(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode one block-pair row: (ids_a, ids_b, cosine matrix a x b)."""
    ida = np.frombuffer(row.ids_a, dtype=np.int64)
    idb = np.frombuffer(row.ids_b, dtype=np.int64)
    na = np.frombuffer(row.norms_a, dtype=np.float64)
    nb = np.frombuffer(row.norms_b, dtype=np.float64)
    a = np.frombuffer(row.mat_a, dtype=np.float64).reshape(len(ida), -1)
    b = np.frombuffer(row.mat_b, dtype=np.float64).reshape(len(idb), -1)
    return ida, idb, (a @ b.T) / np.outer(na, nb)


def cosine_pairs(
    spark: SparkSession,
    threshold: float | None = None,
    topk_per_tile: int | None = None,
    n_blocks: int = 8,
    emb: DataFrame | None = None,
) -> DataFrame:
    """All distinct pairs (u < w) with cosine similarity, optionally
    filtered by ``threshold`` and/or pre-truncated to the per-tile top-k
    under the global order (round(sim,6) DESC, u, w) — a correct
    prefilter for a global top-k because the global order is total.

    Returns DataFrame(u bigint, w bigint, sim double) with unrounded
    float64 similarities.

    Reads the RAW embeddings table (float32 arrays) — the float64 cast
    and L2 norms are computed in the numpy kernel, not as per-row
    Catalyst higher-order functions (interpreted, and the dominant cost
    when concentrated into few pack tasks).
    """
    bp = _block_pairs(spark, n_blocks, emb)
    thr, k = threshold, topk_per_tile

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ida, idb, sim = _tile_cosines(row)
                if row.blk_a == row.blk_b:
                    # same tile sees each pair twice — keep upper triangle
                    mask = ida[:, None] < idb[None, :]
                else:
                    mask = np.ones(sim.shape, dtype=bool)
                if thr is not None:
                    mask &= sim >= thr
                    i, j = np.nonzero(mask)
                elif k is not None:
                    # dense tile + top-k: select the candidate SUPERSET
                    # by the k-th largest rounded sim (one partition
                    # scan) instead of materializing + lexsorting all
                    # N^2/tile pairs — ties at the boundary are kept,
                    # so the exact trim below sees every possible
                    # top-k member under the total order.
                    flat = np.where(mask, np.round(sim, 6), -np.inf).ravel()
                    if flat.size > k:
                        kth = -np.partition(-flat, k - 1)[k - 1]
                        sel = np.nonzero(
                            flat >= (kth if kth > -np.inf else -np.inf)
                        )[0] if kth > -np.inf else np.nonzero(flat > -np.inf)[0]
                    else:
                        sel = np.nonzero(flat > -np.inf)[0]
                    i, j = np.unravel_index(sel, sim.shape)
                else:
                    i, j = np.nonzero(mask)
                u = np.minimum(ida[i], idb[j])
                w = np.maximum(ida[i], idb[j])
                s = sim[i, j]
                if k is not None and len(s) > k:
                    r = np.round(s, 6)
                    top = np.lexsort((w, u, -r))[:k]
                    u, w, s = u[top], w[top], s[top]
                yield pd.DataFrame({"u": u, "w": w, "sim": s})

    return bp.mapInPandas(gemm, schema="u bigint, w bigint, sim double")


def knn_all(
    spark: SparkSession,
    k: int = 10,
    n_blocks: int = 8,
    emb: DataFrame | None = None,
) -> DataFrame:
    """Directed all-queries exact cosine k-NN via the same tiled GEMM:
    every vector queries the whole corpus in one plan. Per tile, each
    query row keeps a SUPERSET of its local top-k columns under the
    GLOBAL order (round(dist,6) ASC, neighbor ASC): everything at or
    under the row's k-th smallest rounded distance (boundary ties
    included) — a correct prefilter because the final ranked window
    applies the exact total order. The post-GEMM shuffle carries
    ~N*(k+ties)*B candidate rows, never the N^2 distance matrix.

    This is the batch-throughput answer to the reference's online QPS
    (BASELINE.md): per-query cost amortizes to one GEMM tile row.
    Returns (query_id, neighbor_id, dist, rank<=k)."""
    from pyspark.sql import Window

    bp = _block_pairs(spark, n_blocks, emb)

    def _rows_topk(q_ids, c_ids, dist):
        """Per-row candidate SUPERSET of the top-k under
        (round(dist,6), neighbor): one vectorized partition along each
        row picks the k-th smallest rounded distance, then every
        column at-or-under it survives (boundary ties included, self
        excluded). No Python per-row loop — the final ranked window
        downstream applies the exact total order, so a superset here
        is correctness-free and the tile emits ~rows*(k+ties), never
        the dense matrix."""
        r = np.round(dist, 6)
        self_mask = c_ids[None, :] == q_ids[:, None]
        rm = np.where(self_mask, np.inf, r)
        kk = min(k, rm.shape[1])
        kth = np.partition(rm, kk - 1, axis=1)[:, kk - 1]
        keep = (rm <= kth[:, None]) & ~self_mask
        i, j = np.nonzero(keep)
        if not len(i):
            return None
        return (q_ids[i], c_ids[j], dist[i, j])

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                ida, idb, cos = _tile_cosines(row)
                dist = 1.0 - cos
                parts = [_rows_topk(ida, idb, dist)]
                if row.blk_a != row.blk_b:
                    parts.append(_rows_topk(idb, ida, dist.T))
                for p in parts:
                    if p is not None:
                        yield pd.DataFrame(
                            {"query_id": p[0], "neighbor_id": p[1], "dist": p[2]}
                        )

    cand = bp.mapInPandas(gemm, schema="query_id bigint, neighbor_id bigint, dist double")
    w = Window.partitionBy("query_id").orderBy(
        F.round("dist", 6).asc(), F.col("neighbor_id").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
