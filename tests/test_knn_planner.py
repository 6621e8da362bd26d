"""Unified kNN planner: the decision function picks the documented
physical path per scenario, and every dispatched path returns the one
output schema with correct values (exact parity / recall gates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kektordb_spark.operators import knn as KNN
from kektordb_spark.operators import knn_planner as KP
from tests.conftest import SF_MED, SF_SMALL

OUT_COLS = ["query_id", "neighbor_id", "dist", "rank"]


def test_choose_strategy_matrix():
    c = KP.choose_strategy
    # small corpus, few queries -> exact
    assert c(2_000, 5).strategy == "exact"
    # small corpus, big batch -> gemm
    assert c(50_000, 5_000).strategy == "gemm"
    # all-pairs over a small corpus -> gemm (n_queries = corpus)
    assert c(2_000, None).strategy == "gemm"
    # all-pairs over a tiny corpus still under the batch bar -> exact
    assert c(50, None).strategy == "exact"
    # selective pre-filter forces exact even on a huge corpus
    assert c(1_000_000_000, 5, filter_selectivity=0.00001).strategy == "exact"
    # large corpus, trained -> ivf
    assert c(5_000_000, 5).strategy == "ivf"
    # large corpus, no training pass -> lsh
    assert c(5_000_000, 5, trained=False).strategy == "lsh"
    # beyond float-scan memory, trained -> ivfpq (cell prune + ADC)
    assert c(100_000_000, 5).strategy == "ivfpq"
    # beyond float-scan memory, no training pass -> lsh
    assert c(100_000_000, 5, trained=False).strategy == "lsh"
    # non-cosine large corpus stays in the exact family
    assert c(5_000_000, 5, metric="euclidean").strategy == "exact"
    assert c(5_000_000, 5_000, metric="euclidean").strategy == "gemm"
    # caller override wins
    assert c(10, 1, forced="pq").strategy == "pq"


def _emb(spark):
    from kektordb_spark.tables import load_tables

    load_tables(spark, SF_MED)
    emb = spark.table("emb")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    cands = emb.where(F.col("vec_id") >= 5)
    return emb, queries, cands


def test_exact_path_matches_knn_exact(spark):
    _, queries, cands = _emb(spark)
    via_planner = KP.knn_search(
        cands, queries, k=10, id_col="vec_id", vec_col="v", norm_col="norm")
    assert via_planner.columns == OUT_COLS
    direct = KNN.knn_exact(
        cands, queries, k=10, id_col="vec_id", vec_col="v", norm_col="norm")
    a = sorted((r.query_id, r.neighbor_id, r.rank) for r in via_planner.collect())
    b = sorted((r.query_id, r.vec_id, r.rank) for r in direct.collect())
    assert a == b


def test_ivf_df_recall_and_schema(spark):
    _, queries, cands = _emb(spark)
    ivf = KP.knn_search(
        cands, queries, k=10, strategy="ivf",
        id_col="vec_id", vec_col="v", norm_col="norm")
    assert ivf.columns == OUT_COLS
    exact = KNN.knn_exact(
        cands, queries, k=10, id_col="vec_id", vec_col="v", norm_col="norm")
    got = {}
    for r in ivf.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    want = {}
    for r in exact.collect():
        want.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(got[q] & want[q]) for q in want)
    # nprobe=2 of nlist=8 cells: same recall gate as the SQL IVF path
    assert hits >= len(want) * 4, f"IVF recall too low: {hits}/{len(want) * 10}"


def test_gemm_allpairs_schema(spark):
    emb, _, _ = _emb(spark)
    res = KP.knn_search(emb, queries=None, k=3,
                        id_col="vec_id", vec_col="v", norm_col="norm")
    assert res.columns == OUT_COLS
    rows = res.where(F.col("query_id") == 0).collect()
    assert len(rows) == 3
    assert all(r.neighbor_id != 0 for r in rows)  # self excluded


@pytest.mark.parametrize("strategy", ["exact", "gemm", "lsh", "ivf", "ivfpq", "pq"])
def test_all_pairs_excludes_self(spark, strategy):
    """queries=None searches the corpus against itself: no strategy
    may return a vector as its own neighbour, and each query keeps at
    most k rows ranked 1..n."""
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"))
    emb = emb.withColumn(
        "norm", F.expr("sqrt(aggregate(v, 0D, (s, x) -> s + x * x))"))
    rows = KP.knn_search(emb, queries=None, k=3, strategy=strategy,
                         id_col="vec_id", vec_col="v", norm_col="norm").collect()
    assert rows
    assert [r for r in rows if r.query_id == r.neighbor_id] == []
    ranks = {}
    for r in rows:
        ranks.setdefault(r.query_id, []).append(r.rank)
    for q, rs in ranks.items():
        assert sorted(rs) == list(range(1, len(rs) + 1)) and len(rs) <= 3, (q, rs)


def test_similar_pairs_planner_and_lsh_recall(spark):
    from kektordb_spark.tables import load_tables

    load_tables(spark, SF_MED)
    # auto at fixture scale -> exact gemm pairs
    exact = {(r.u, r.w) for r in
             KP.similar_pairs(spark, 0.40).select("u", "w").collect()}
    assert exact  # fixture has similar pairs at this threshold
    # forced lsh: every returned pair is verified-true (sim computed
    # exactly), and recall vs exact clears the gate
    lsh = {(r.u, r.w) for r in
           KP.similar_pairs(spark, 0.40, strategy="lsh")
           .select("u", "w").collect()}
    assert lsh <= exact
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.5, f"LSH pair recall too low: {recall:.2f}"


def test_ivfpq_path_schema_and_recall(spark):
    """Forced ivfpq route: unified schema, per-query k rows, and
    top-k overlap with exact euclidean above the PQ init-codebook
    floor (see test_ann_recall.test_ivfpq_recall)."""
    emb, queries, _ = _emb(spark)
    res = KP.knn_search(
        emb, queries, k=10, strategy="ivfpq",
        id_col="vec_id", vec_col="v", norm_col="norm")
    assert res.columns == OUT_COLS
    rows = res.collect()
    assert len(rows) == 5 * 10
    exact = KNN.knn_exact(
        emb, queries, k=10, metric="euclidean",
        id_col="vec_id", vec_col="v", norm_col="norm").collect()
    want = {}
    for r in exact:
        want.setdefault(r.query_id, set()).add(r.vec_id)
    got = {}
    for r in rows:
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    hits = sum(len(want[q] & got.get(q, set())) for q in want)
    assert hits >= len(want) * 2, f"IVF-PQ recall too low: {hits}/{len(want) * 10}"


def _forced(spark, strategy):
    emb, queries, _ = _emb(spark)
    return KP.knn_search(
        emb, queries, k=10, strategy=strategy,
        id_col="vec_id", vec_col="v", norm_col="norm")


def test_forced_ivf_returns_the_registry_rows(spark):
    """The forced ivf strategy trains its quantizer on the corpus it is
    given; over emb with the vec_id < 5 queries that is exactly the
    ivf_knn query, served from the persisted layers."""
    from kektordb_spark.plans.registry import queries

    got = sorted(map(tuple, _forced(spark, "ivf")
                     .select("query_id", "neighbor_id", "rank", "dist").collect()))
    want = sorted(map(tuple, queries()["ivf_knn"](spark, SF_MED)
                      .select("query_id", "neighbor_id", "rank", "dist").collect()))
    assert len(got) == 5 * 10
    assert got == want


def _ivfpq_rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.rank, round(r.dist, 6)) for r in df.collect())


def test_forced_ivfpq_returns_the_registry_rows(spark):
    from kektordb_spark.plans.registry import queries

    got = _ivfpq_rows(_forced(spark, "ivfpq"))
    want = _ivfpq_rows(queries()["ivfpq_knn"](spark, SF_MED))
    assert len(got) == 5 * 10
    assert got == want


def test_forced_ivfpq_invariant_under_partitioning(spark):
    """Same settings as tests/test_float_stability.py: the ADC sums on
    the integer grid, so the k-boundary cannot move with the shuffle
    partitioning."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    outs = []
    try:
        for parts, aqe in (("2", "true"), ("7", "false"), ("64", "true")):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            outs.append(sorted(map(tuple, _forced(spark, "ivfpq").collect())))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    assert outs[0] == outs[1] == outs[2]
