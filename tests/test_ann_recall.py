"""Recall@k of the approximate ANN paths vs the exact-kNN oracle —
the reference's quality-gate pattern (clients/python/
stress_test_recall.py: approximate recall measured against numpy brute
force, asserted above a floor)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kektordb_spark.operators import knn as KNN
from kektordb_spark.tables import load_tables
from tests.conftest import SF_SMALL

K = 10
N_QUERIES = 20


def _exact_topk(spark):
    emb = spark.table("emb")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    return KNN.knn_exact(
        emb, q, k=K, metric="cosine", id_col="vec_id", vec_col="v",
        norm_col="norm",
    )


def _recall(approx_rows, exact_rows):
    exact = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in approx_rows:
        qid = r["query_id"]
        nid = r["vec_id"] if "vec_id" in r.__fields__ else r["neighbor_id"]
        approx.setdefault(qid, set()).add(nid)
    hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
    return hits / (len(exact) * K)


@pytest.fixture(scope="module")
def exact(spark):
    load_tables(spark, SF_SMALL)
    return _exact_topk(spark).collect()


def test_lsh_recall(spark, exact):
    emb = spark.table("emb")
    q = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    # This synthetic corpus has weak neighbor structure (max pairwise
    # cosine ~0.5), so the bucket-match probability per plane is only
    # ~cos-angle/pi ~ 2/3 — few planes + more tables is the right
    # operating point (real corpora with sim>0.9 near-dups tolerate
    # many more planes).
    approx = KNN.lsh_bucketed_knn(
        emb, q, k=K, n_planes=4, n_tables=8, dim=64,
        id_col="vec_id", vec_col="v", norm_col="norm",
    ).collect()
    r = _recall(approx, exact)
    assert r >= 0.5, f"LSH recall@{K} too low: {r:.3f}"


def test_ivf_recall(spark, exact):
    from kektordb_spark.operators.ivf import ivf_knn_sql

    approx = spark.sql(
        ivf_knn_sql("spark", nlist=8, iters=2, nprobe=3, n_queries=N_QUERIES, k=K)
    ).collect()
    r = _recall(approx, exact)
    assert r >= 0.5, f"IVF recall@{K} too low: {r:.3f}"


def test_ivf_candidate_pruning(spark):
    """The probe step must scan fewer candidates than the corpus —
    the whole point of the inverted file."""
    from kektordb_spark.operators.ivf import ivf_knn_sql

    sql = ivf_knn_sql("spark", nlist=8, iters=2, nprobe=2, n_queries=5, k=K)
    # count candidate rows by reusing the pipeline up to `cand`
    body = sql[sql.index("WITH") : sql.rindex("SELECT query_id, neighbor_id")]
    n_cand = spark.sql(body + "SELECT count(*) AS n FROM cand").collect()[0]["n"]
    n_total = spark.table("emb").count() * 5
    assert n_cand < 0.7 * n_total, f"probe scanned {n_cand}/{n_total} — no pruning"


def test_ivfpq_recall(spark, exact):
    """IVF-PQ composite: coarse prune (nprobe=3/8 cells) + ADC scoring
    over the deterministic-init codebook. On this synthetic corpus
    (weak neighbor structure, max pairwise cosine ~0.5) PQ quantization
    error dominates the neighbor gaps, so the floor matches test_pq's
    ~0.2 gate rather than the IVF/LSH 0.5 — the production knob is the
    Lloyd-trained codebook (pq_train iters>0, numpy-pinned)."""
    from kektordb_spark.operators import knn as KNN
    from kektordb_spark.plans import registry

    emb = spark.table("emb")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("qnorm").alias("qnorm") if "qnorm" in emb.columns
        else F.col("norm").alias("qnorm"),
    )
    exact_l2 = KNN.knn_exact(
        emb, q, k=K, metric="euclidean", id_col="vec_id", vec_col="v",
        norm_col="norm",
    ).collect()
    approx = registry._registry["ivfpq_knn"][0](spark, SF_SMALL).collect()
    r = _recall(approx, exact_l2)
    assert r >= 0.25, f"IVF-PQ recall@{K} too low: {r:.3f}"


def test_nsw_recall(spark):
    """Beam search over the persisted descent-built k-NN graph
    (operators/nsw.py): recall@10 vs exact for the registered query
    batch (vec_id < 5). The NSW answer excludes self, so the exact
    side excludes it BEFORE ranking (a post-rank filter would leave 9
    rows per query and cap the measurable recall at 0.9)."""
    from kektordb_spark.operators import nsw as NSW

    load_tables(spark, SF_SMALL)
    emb = spark.table("emb")
    q = emb.where(F.col("vec_id") < NSW.NSW_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    exact_rows = KNN.knn_exact(
        emb, q, k=NSW.NSW_K, metric="cosine", id_col="vec_id",
        vec_col="v", norm_col="norm", exclude_self=True,
    ).collect()
    approx = NSW.nsw_search(spark).collect()
    r = _recall(approx, exact_rows)
    assert r >= NSW.NSW_RECALL_FLOOR, f"NSW recall@{NSW.NSW_K}: {r:.3f}"


def test_nng_descent_matches_oracle(duck, spark):
    """The persisted adjacency (LSH-seeded NN-descent,
    tables.load_tables 'nng') must be edge-identical to the unrolled
    DuckDB derivation the registered oracles embed — the replica pin
    for the iterative build (the kcore-template discipline)."""
    from kektordb_spark.operators import nsw as NSW
    from kektordb_spark.tables import with_oracle_ctes

    load_tables(spark, SF_SMALL)
    built = {(r.src, r.dst) for r in spark.table("nng").collect()}
    orc = {(a, b) for a, b in duck.execute(with_oracle_ctes(
        NSW.nng_descent_oracle_sql("duckdb"), ["emb"])).fetchall()}
    assert built == orc and len(built) > 0


def test_nng_descent_early_exit_is_identity_past_exhaustion(spark):
    """On a corpus small enough that the tried set exhausts the pair
    space inside NNG_ROUNDS, extra rounds must change nothing (the
    early-exit path proposes zero pairs and stops) — the guarantee that
    lets the oracle unroll a fixed round count while the runner exits
    on the fixpoint. On larger corpora more rounds legitimately refine
    further; the fixed NNG_ROUNDS is the shared contract both engines
    run."""
    from kektordb_spark.operators import nsw as NSW
    from kektordb_spark.tables import emb_view_sql

    load_tables(spark, SF_SMALL)
    try:
        spark.sql("SELECT * FROM emb WHERE vec_id < 40") \
            .localCheckpoint(eager=True).createOrReplaceTempView("emb")
        a = {(r.src, r.dst)
             for r in NSW.nng_descent_build(spark).collect()}
        b = {(r.src, r.dst)
             for r in NSW.nng_descent_build(
                 spark, rounds=NSW.NNG_ROUNDS + 3).collect()}
    finally:
        spark.sql(emb_view_sql("spark")).createOrReplaceTempView("emb")
    assert a == b and len(a) > 0


def test_nsw_idempotent_past_exhaustion(spark):
    """The Spark hop loop runs every hop (no per-hop count, so no early
    exit). Hops past the point where the beam discovers nothing new
    must leave the answer unchanged: with hops far above the graph's
    reach the result equals the NSW_HOPS result, the identity the
    oracle's fixed unroll relies on (AQE's empty-relation propagation
    makes those hops nearly free)."""
    from kektordb_spark.operators import nsw as NSW

    load_tables(spark, SF_SMALL)
    a = {(r.query_id, r.neighbor_id, r.rank)
         for r in NSW.nsw_search(spark, hops=NSW.NSW_HOPS).collect()}
    b = {(r.query_id, r.neighbor_id, r.rank)
         for r in NSW.nsw_search(spark, hops=NSW.NSW_HOPS + 20).collect()}
    assert a == b


def test_nsw_beam_recall_sweep_floor_and_monotonicity(spark):
    """r7 (GloVe-benchmark port): the in-engine beam sweep
    (nsw_recall_sweep) must report one row per beam, gate the widest
    beam at the serve path's recall floor, and never report a WIDER
    beam with STRICTLY LOWER recall than a narrower one (a wider
    frontier visits a superset of nodes per hop, so recall is
    monotonic up to tie-break noise; we assert >=)."""
    from kektordb_spark.operators import nsw as NSW

    load_tables(spark, SF_SMALL)
    rows = {r.beam: r for r in NSW.nsw_recall_sweep(spark).collect()}
    assert set(rows) == {8, 16}
    assert rows[16].recall_pct >= 100 * NSW.NSW_RECALL_FLOOR
    assert rows[16].recall_pct >= rows[8].recall_pct
    for r in rows.values():
        assert 0 <= r.hits <= NSW.NSW_K * NSW.NSW_NQ


def test_nsw_sweep_beam16_hits_match_one_beam_search(spark):
    """The sweep and the serve path run one beam-keyed hop chain: the
    sweep's beam-16 hits equal the one-beam (NSW_BEAM=16) search's
    rows joined to the exact top-k."""
    from kektordb_spark.operators import nsw as NSW

    load_tables(spark, SF_SMALL)
    assert NSW.NSW_BEAM == 16
    rows = {r.beam: r.hits for r in NSW.nsw_recall_sweep(spark).collect()}
    got = {(r.query_id, r.neighbor_id)
           for r in NSW.nsw_search(spark).collect()}
    exact = {(r.query_id, r.node)
             for r in spark.sql(NSW.nsw_exact_topk_sql("spark")).collect()}
    assert len(got & exact) > 0
    assert rows[16] == len(got & exact)


def test_nsw_cell_init_requires_query_pred():
    """r6 ADVICE: init='cell' with query_pred=None used to interpolate
    `WHERE None` into the SQL text; must raise instead."""
    import pytest

    from kektordb_spark.operators import nsw as NSW

    with pytest.raises(ValueError, match="query_pred"):
        NSW.nsw_cell_init_sql("spark", None)


def test_graph_merge_links_near_exact_adjacency(spark):
    """The insert path's beam-searched out-edges should mostly agree
    with the exact top-M neighbors for the same nodes (same recall-gate
    discipline as the serve path)."""
    from kektordb_spark.operators import nsw as NSW
    from kektordb_spark.plans.registry import _GRAPH_MERGE_PRED

    load_tables(spark, SF_SMALL)
    got = {}
    for r in NSW.nsw_search(
            spark, k=NSW.NSW_M, query_pred=_GRAPH_MERGE_PRED).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    emb = spark.table("emb")
    q = emb.where("vec_id % 10 = 7").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    exact = {}
    for r in KNN.knn_exact(
            emb, q, k=NSW.NSW_M, metric="cosine", id_col="vec_id",
            vec_col="v", norm_col="norm", exclude_self=True).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert total > 0
    assert hits / total >= NSW.NSW_RECALL_FLOOR, hits / total
