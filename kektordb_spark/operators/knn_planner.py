"""Unified kNN planner (SURVEY.md §4 "custom piece #2").

The reference exposes ONE search call (VSearch, ops.go:560-660) and
picks the physical path internally (HNSW graph, flat scan, quantized
scan). This module is the batch-engine analog: one entry point —
:func:`knn_search` — that selects among the repo's five physical
strategies by corpus size, query-batch size, metric, and filter
selectivity, and returns one output schema
``(query_id, neighbor_id, dist, rank)`` regardless of path.

Strategies and when they win (thresholds documented + unit-tested in
tests/test_knn_planner.py):

  * ``exact``  — brute-force broadcast scan (operators/knn.knn_exact).
    Right whenever the (post-filter) corpus fits a per-query scan:
    corpus <= EXACT_MAX, or a selective pre-filter shrinks it there.
    Also the only path for non-cosine metrics' small corpora.
  * ``gemm``   — tiled numpy GEMM (operators/blockgemm.knn_all) for
    BATCH workloads: all-pairs / large query sets where per-query cost
    must amortize (n_queries >= GEMM_MIN_QUERIES); threshold/top-k
    applied inside the kernel so N^2 never shuffles.
  * ``ivf``    — centroid prune + candidate equi-join
    (operators/ivf.ivf_knn_sql over centroids trained on the corpus
    with ivf_train_sql). The default large-corpus path: at 100 TB the
    corpus is bucketed by cell id and probing is partition pruning.
  * ``lsh``    — (table, signature) bucket equi-join
    (operators/knn.lsh_bucketed_knn). Picked over IVF when the
    workload can't afford a training pass (ad-hoc one-shot searches
    over a corpus nothing was trained on).
  * ``ivfpq``  — coarse-cell prune + byte-code ADC scoring
    (operators/pq.ivfpq_search over an IVF quantizer and a PQ
    codebook built on the corpus, the FAISS-IVFPQ shape). Picked when
    even scanning float vectors is memory-prohibitive (corpus >
    PQ_MIN) and a training pass is affordable.
  * ``pq``     — flat byte codes + ADC LUT joins over the whole corpus
    (operators/pq). Force with ``strategy='pq'``; the planner prefers
    ``ivfpq`` at that scale (cell prune first is strictly less work).

A user who calls :func:`knn_search` gets the scale-safe path without
knowing the menu; every threshold can be overridden with
``strategy=``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kektordb_spark.dialect import dot_sql
from kektordb_spark.lineage import checkpoint

EXACT_MAX = 100_000        # per-query scan affordable below this
GEMM_MIN_QUERIES = 64      # batch big enough to amortize tile setup
PQ_MIN = 20_000_000        # float scan memory-prohibitive above this
SELECTIVE = 0.05           # pre-filter selectivity that forces exact
GEMM_PAIRS_MAX = 500_000   # N^2/2 tile work affordable below this


@dataclass(frozen=True)
class KnnPlan:
    strategy: str  # 'exact' | 'gemm' | 'ivf' | 'lsh' | 'ivfpq' | 'pq'
    reason: str


def choose_strategy(
    corpus_size: int,
    n_queries: int | None,
    metric: str = "cosine",
    filter_selectivity: float | None = None,
    trained: bool = True,
    forced: str | None = None,
) -> KnnPlan:
    """Pure decision function — unit-testable without a SparkSession.

    ``n_queries=None`` means all-pairs (every vector queries the
    corpus). ``trained=False`` signals no training pass is affordable
    (ad-hoc search), steering large corpora to LSH instead of IVF."""
    if forced is not None:
        return KnnPlan(forced, "forced by caller")
    effective = corpus_size
    if filter_selectivity is not None:
        effective = int(corpus_size * filter_selectivity)
        if filter_selectivity <= SELECTIVE and effective <= EXACT_MAX:
            return KnnPlan(
                "exact",
                f"pre-filter keeps {effective} rows "
                f"(selectivity {filter_selectivity}) — V2 filter-then-scan",
            )
    nq = corpus_size if n_queries is None else n_queries
    if effective <= EXACT_MAX:
        if nq >= GEMM_MIN_QUERIES and metric == "cosine":
            return KnnPlan(
                "gemm", f"batch of {nq} queries amortizes over tiles"
            )
        return KnnPlan("exact", f"corpus {effective} fits a per-query scan")
    if metric != "cosine":
        # IVF/LSH/PQ implementations here are cosine-anchored; a large
        # non-cosine corpus still gets the batch-amortized exact path.
        return KnnPlan("gemm" if nq >= GEMM_MIN_QUERIES else "exact",
                       f"non-cosine metric {metric}: exact family only")
    if effective > PQ_MIN:
        if trained:
            return KnnPlan(
                "ivfpq",
                f"corpus {effective} > {PQ_MIN}: cell prune + byte-code ADC",
            )
        return KnnPlan("lsh", "no training pass affordable: bucket equi-join")
    if not trained:
        return KnnPlan("lsh", "no training pass affordable: bucket equi-join")
    return KnnPlan("ivf", f"corpus {effective}: centroid prune + cell probe")


def lsh_band_params(
    threshold: float, target_recall: float = 0.9, max_tables: int = 16,
) -> tuple[int, int]:
    """Size the random-hyperplane LSH from the similarity threshold:
    per-plane collision probability at cosine=threshold is
    p = 1 - arccos(threshold)/pi; a b-plane signature collides with
    p^b, and T tables reach recall 1-(1-p^b)^T. Pick the LARGEST b
    (most selective buckets -> fewest candidates) whose required
    T = ceil(ln(1-target)/ln(1-p^b)) fits max_tables. Low thresholds
    genuinely need short signatures — a fixed (b, T) silently loses
    recall the moment the threshold moves (measured: 10-plane/6-table
    gave 7% recall at threshold 0.40; auto-sizing gives ~90%)."""
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    for b in range(16, 1, -1):
        pb = p ** b
        if pb >= 1.0:
            return b, 1
        t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb))
        if t <= max_tables:
            return b, t
    return 2, max_tables


def lsh_pairs(
    emb: DataFrame,
    threshold: float,
    n_planes: int | None = None,
    n_tables: int | None = None,
    seed: int = 42,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "v",
    norm_col: str = "norm",
) -> DataFrame:
    """All-pairs LSH candidate generation + cosine verification:
    random-hyperplane signatures (the same seeded lattice as
    operators/knn.lsh_bucketed_knn), candidates from a (table,
    signature) bucket SELF-join — never a cross product — then exact
    cosine on the candidates, thresholded. Returns (u, w, sim) with
    u < w. Approximate: pairs never sharing a bucket are missed;
    (n_planes, n_tables) default to lsh_band_params' threshold-driven
    sizing (recall gated in tests/test_knn_planner.py)."""
    from kektordb_spark.operators.knn import _lsh_planes, _lsh_with_buckets

    if n_planes is None or n_tables is None:
        auto_b, auto_t = lsh_band_params(threshold)
        n_planes = n_planes or auto_b
        n_tables = n_tables or auto_t
    vecs = emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        F.col(norm_col).alias("norm"),
    )
    # eager: both sides of the bucket self-join scan it
    b = checkpoint(
        _lsh_with_buckets(vecs, "v", _lsh_planes(seed, n_planes, n_tables, dim)),
        readers=2,
    )
    cand = (
        b.alias("a")
        .join(b.alias("c"), ["tbl", "sig"])
        .where(F.col("a.id") < F.col("c.id"))
        .select(
            F.col("a.id").alias("u"), F.col("c.id").alias("w"),
            F.col("a.v").alias("va"), F.col("c.v").alias("vb"),
            F.col("a.norm").alias("na"), F.col("c.norm").alias("nb"),
        )
        .dropDuplicates(["u", "w"])
    )
    return (
        cand.withColumn(
            "sim", F.expr(dot_sql("spark", "va", "vb")) / (F.col("na") * F.col("nb")))
        .where(F.col("sim") >= threshold)
        .select("u", "w", "sim")
    )


# Persisted similarity-pair index: load_tables materializes the pair
# relation once at this base threshold; any similar_pairs call at a
# HIGHER-or-equal threshold over the default corpus is an exact
# post-filter on it (sims are unrounded float64, parquet round-trips
# them bit-exactly, so `sim >= t` post-hoc == in-kernel `>= t`).
SIM_PAIRS_VIEW = "sim_pairs_030"
SIM_PAIRS_MIN = 0.30


def pairs_served_from_index(
    spark, threshold: float, emb=None, strategy: str | None = None,
    use_index: bool = True,
) -> bool:
    """True when :func:`similar_pairs` with these arguments will serve
    from the persisted pair index (a plain parquet scan). Callers that
    materialize the pair relation before iterating over it (e.g. label
    propagation) use this to SKIP their own checkpoint in that case —
    re-scanning the scratch parquet is cheaper than re-writing it,
    while a kernel-computed pair set must still be checkpointed (it is
    referenced more than once and Spark would re-run the kernel)."""
    return (
        use_index
        and emb is None
        and strategy is None
        and threshold >= SIM_PAIRS_MIN
        and spark.catalog.tableExists(SIM_PAIRS_VIEW)
    )


def similar_pairs(
    spark,
    threshold: float,
    emb: DataFrame | None = None,
    corpus_size: int | None = None,
    strategy: str | None = None,
    use_index: bool = True,
) -> DataFrame:
    """Planner flag for all-pairs similarity generation — the candidate
    step consolidation (A5), knowledge gaps (A6), and contradiction
    detection share. Returns (u, w, sim), u < w, sim >= threshold.

    Serving order:
      1. the PERSISTED pair index (tables.load_tables
         ``sim_pairs_030``) when the call targets the default corpus at
         a threshold the index covers — the similarity edge list is a
         static derivation of the immutable embedding snapshot, i.e.
         exactly the kind of structure a production system maintains at
         ingest next to IVF/PQ/LSH (the build/serve split SCALE.md
         documents); queries post-filter it exactly;
      2. ``gemm`` (tiled numpy kernel, exact) while N^2/2 tile work is
         affordable (corpus <= GEMM_PAIRS_MAX);
      3. ``lsh`` (bucket self-join, approximate) beyond — the scale
         path the COVERAGE/SCALE notes promise, selected by size
         instead of by the caller knowing to ask."""
    from kektordb_spark.operators import blockgemm as BG

    if pairs_served_from_index(spark, threshold, emb, strategy, use_index):
        # use_index=False is the BUILD path (load_tables re-registration
        # must never read a previous fixture's persisted view)
        return spark.table(SIM_PAIRS_VIEW).where(F.col("sim") >= threshold)
    if corpus_size is None:
        corpus_size = (emb if emb is not None else spark.table("emb")).count()
    strat = strategy or (
        "gemm" if corpus_size <= GEMM_PAIRS_MAX else "lsh"
    )
    if strat == "gemm":
        kw = {}
        if emb is not None:
            kw["emb"] = emb.select(
                F.col("vec_id"), F.col("v").alias("vec"))
        return BG.cosine_pairs(spark, threshold=threshold, **kw).select(
            "u", "w", "sim")
    if strat == "lsh":
        return lsh_pairs(
            emb if emb is not None else spark.table("emb"), threshold)
    raise ValueError(f"unknown pairs strategy {strat}")


def knn_search(
    vectors: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    metric: str = "cosine",
    pre_filter=None,
    corpus_size: int | None = None,
    strategy: str | None = None,
    filter_selectivity: float | None = None,
    trained: bool = True,
    id_col: str = "id",
    vec_col: str = "v",
    norm_col: str = "norm",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    query_norm_col: str = "qnorm",
    lsh_sig: DataFrame | None = None,
) -> DataFrame:
    """One search entry point; output (query_id, neighbor_id, dist,
    rank) for every strategy. ``queries=None`` = all-pairs batch over
    ``vectors``, without each vector's own row.
    ``corpus_size`` is the catalog row-count hint — pass it at scale;
    the default falls back to a count() job. ``pre_filter`` is applied
    BEFORE the search (V2 filtered-kNN semantics, knn.py:67). ``ivf``
    reports dist rounded to 6 dp (ivf_knn_sql's output); the ``ivf``
    and ``ivfpq`` paths use the same defaults as the registry's
    ``ivf_knn`` and ``ivfpq_knn`` queries and return their rows."""
    from kektordb_spark.operators import blockgemm as BG
    from kektordb_spark.operators import ivf as IVF
    from kektordb_spark.operators import knn as KNN
    from kektordb_spark.operators import pq as PQ

    if pre_filter is not None:
        vectors = vectors.where(pre_filter)
        filter_selectivity = None  # already applied; size below reflects it
    if corpus_size is None:
        corpus_size = vectors.count()
    n_queries = None if queries is None else queries.count()
    plan = choose_strategy(
        corpus_size, n_queries, metric, filter_selectivity, trained, strategy
    )

    if plan.strategy == "gemm":
        emb = vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
        )
        res = BG.knn_all(vectors.sparkSession, k=k, emb=emb)
        if queries is not None:
            qids = queries.select(F.col(query_id_col).alias("query_id"))
            res = res.join(F.broadcast(qids), "query_id", "left_semi")
        return res.select("query_id", "neighbor_id", "dist", "rank")

    # All-pairs over the corpus: every vector is also a query and would
    # be its own nearest neighbour. Search k+1, drop the self row and
    # re-rank: the k best non-self rows are always among the k+1 best,
    # whatever the strategy.
    all_pairs = queries is None
    k_search = k + 1 if all_pairs else k
    if all_pairs:
        queries = vectors.select(
            F.col(id_col).alias(query_id_col),
            F.col(vec_col).alias(query_vec_col),
            F.col(norm_col).alias(query_norm_col),
        )

    cols = dict(
        id_col=id_col, vec_col=vec_col, norm_col=norm_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
        query_norm_col=query_norm_col,
    )
    if plan.strategy == "exact":
        res = KNN.knn_exact(vectors, queries, k=k_search, metric=metric, **cols)
        res = res.select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"), "dist", "rank",
        )
    elif plan.strategy == "lsh":
        res = KNN.lsh_bucketed_knn(
            vectors, queries, k=k_search, sig_source=lsh_sig, **cols)
        res = res.select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"), "dist", "rank",
        )
    elif plan.strategy in ("ivf", "ivfpq"):
        # Train the coarse quantizer on this corpus; both the inverted
        # file and the probe read the centroids.
        spark = vectors.sparkSession
        corpus = vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"),
            F.col(norm_col).alias("norm"),
        )
        cents = checkpoint(spark.sql(
            IVF.ivf_train_sql("spark", corpus="{corpus}"), corpus=corpus),
            readers=2)
        if plan.strategy == "ivf":
            q = queries.select(
                F.col(query_id_col).alias("vec_id"),
                F.col(query_vec_col).alias("v"),
                F.col(query_norm_col).alias("norm"),
            )
            res = spark.sql(
                IVF.ivf_knn_sql("spark", n_queries=None, k=k_search, cents_source="{cents}",
                                corpus="{corpus}", queries="{queries}"),
                cents=cents, corpus=corpus, queries=q,
            ).select("query_id", "neighbor_id", "dist", "rank")
        else:
            assign = spark.sql(
                IVF.ivf_assign_sql("spark", "{cents}", corpus="{corpus}"),
                cents=cents, corpus=corpus)
            codebook = PQ.pq_train(corpus, m=8, k=32, iters=0)
            res = PQ.ivfpq_search(
                queries.select(F.col(query_id_col).alias("query_id"),
                               F.col(query_vec_col).alias("qv")),
                cents, assign, codebook, PQ.pq_encode(corpus, codebook, m=8), k=k_search)
            res = res.select(
                "query_id", F.col("id").alias("neighbor_id"), "dist", "rank")
    elif plan.strategy == "pq":
        cents = PQ.pq_train(vectors, vec_col=vec_col, id_col=id_col)
        codes = PQ.pq_encode(vectors, cents, vec_col=vec_col, id_col=id_col)
        res = PQ.pq_knn(
            codes, cents, queries, k=k_search,
            query_vec_col=query_vec_col, query_id_col=query_id_col,
        )
        res = res.select(
            F.col(query_id_col).alias("query_id"),
            F.col("id").alias("neighbor_id"), "dist", "rank",
        )
    else:
        raise ValueError(f"unknown strategy {plan.strategy}")
    if not all_pairs:
        return res
    return (
        res.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rank", F.row_number().over(
            Window.partitionBy("query_id").orderBy("rank")))
        .where(F.col("rank") <= k)
    )
