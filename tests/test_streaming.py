"""Streaming semantics (ST1-ST3) verified by running the SAME
windowed aggregation as a stream (availableNow micro-batches into a
memory sink) and as a batch query — the batch result is the oracle.
Also covers the Gardener adaptive trigger and session windows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kektordb_spark.streaming import events as ST
from kektordb_spark.tables import load_tables
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_tables(spark, SF_SMALL)["events"]


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File streaming sources read directories: stage the events
    parquet into a landing-zone dir (what a change-log sink produces)."""
    import shutil

    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{SF_SMALL}/events.parquet", d / "part-000.parquet")
    return str(d)


def test_windowed_counts_stream_equals_batch(spark, batch_events, events_dir):
    stream = ST.read_event_stream(spark, events_dir)
    got = ST.run_to_memory(spark, ST.windowed_event_counts(stream), "win_counts")
    want = ST.windowed_event_counts(batch_events)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 10


def test_session_windows_stream_equals_batch(spark, batch_events, events_dir):
    stream = ST.read_event_stream(spark, events_dir)
    got = ST.run_to_memory(spark, ST.session_windows(stream), "sessions")
    want = ST.session_windows(batch_events)
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 50


def test_sliding_rate_batch_shape(spark, batch_events):
    out = ST.sliding_event_rate(batch_events).collect()
    # every event lands in window_len/slide = 2 windows
    assert sum(r["n"] for r in out) == 2 * batch_events.count()


def test_stateful_user_totals_stream_equals_batch(spark, batch_events, events_dir):
    stream = ST.read_event_stream(spark, events_dir)
    emissions = ST.run_to_memory(
        spark, ST.stateful_user_totals(stream), "stateful_totals",
        output_mode="update")
    # final emission per key (n_events is cumulative => max row per key)
    from pyspark.sql import Window
    final = (
        emissions.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    g = {tuple(r) for r in final.collect()}
    load_tables(spark, SF_SMALL)  # the oracle text reads the `events` view
    w = {tuple(r) for r in spark.sql(ST.user_totals_oracle_sql("spark")).collect()}
    assert g == w and len(g) > 10


def test_gardener_trigger(spark, batch_events, events_dir):
    trig = ST.GardenerTrigger(min_writes=50)
    stream = ST.read_event_stream(spark, events_dir)
    ST.drain(spark, stream.writeStream.foreachBatch(trig.process))
    # 1000 events at sf0.001 -> every accumulation >= 50 fired a cycle
    assert trig.cycles and all(c >= 50 for c in trig.cycles)
    assert sum(trig.cycles) + trig.pending == batch_events.count()


def test_distinct_sketch_stream_equals_batch_and_chunking_invariant(
        spark, batch_events, tmp_path):
    """The streaming KMV sketch's final emission is bit-equal to the
    batch estimator relation — and INVARIANT to micro-batch chunking
    (min-folding is associative/commutative): a 4-file landing zone
    processed one file per trigger gives the same answer as one file."""
    # multi-file landing zone => multiple triggers (maxFilesPerTrigger=1)
    d = str(tmp_path / "chunks")
    batch_events.repartition(4).write.mode("overwrite").parquet(d)

    stream = ST.read_event_stream(spark, d)
    emissions = ST.run_to_memory(
        spark, ST.distinct_sketch_stream(stream), "dsk", output_mode="update")
    final = {
        (r.event_type, r.est_distinct)
        for r in emissions.groupBy("event_type")
        .agg(F.max("est_distinct").alias("est_distinct")).collect()
    }

    from kektordb_spark.operators.analytics import kmv_est_sql
    batch_events.createOrReplaceTempView("_dsk_events")
    want = {
        tuple(r)
        for r in spark.sql(kmv_est_sql("spark", source="_dsk_events")).collect()
    }
    assert final == want and len(final) >= 3
    # multiple triggers actually happened (update-mode re-emissions)
    assert emissions.count() > len(final)


def test_heavy_hitters_stream_equals_batch_and_chunking_invariant(
        spark, batch_events, tmp_path):
    """Final MG emission == exact batch top-k (capacity >= distinct
    users at fixture scale => no eviction), invariant to micro-batch
    chunking (4-file landing zone, one file per trigger)."""
    d = str(tmp_path / "hh_chunks")
    batch_events.repartition(4).write.mode("overwrite").parquet(d)

    stream = ST.read_event_stream(spark, d)
    em = ST.run_to_memory(
        spark, ST.heavy_hitters_stream(stream), "hh", output_mode="update")
    em.createOrReplaceTempView("_hh_t")
    final = {
        tuple(r) for r in spark.sql(
            "SELECT event_type, user_id, cnt, rank FROM "
            "(SELECT *, max(trig) OVER (PARTITION BY event_type) mt "
            "FROM _hh_t) t WHERE trig = mt").collect()
    }
    batch_events.createOrReplaceTempView("_hh_events")
    want = {
        tuple(r) for r in spark.sql(
            ST.heavy_hitters_oracle_sql("spark", source="_hh_events")
        ).collect()
    }
    assert final == want and len(final) >= 3 * ST.MG_TOP_K
    # multiple triggers actually happened
    assert em.agg(F.max("trig")).collect()[0][0] > 1


def test_heavy_hitters_eviction_keeps_mg_guarantee(spark, batch_events):
    """Capacity FAR below the distinct-user count forces eviction:
    Misra-Gries guarantees (a) every user with true count > n/capacity
    survives in the summary and (b) surviving counts underestimate by
    at most n/capacity. Checked per event type on the real fixture."""
    import collections

    rows = batch_events.select("event_type", "user_id").collect()
    by_type = collections.defaultdict(collections.Counter)
    for r in rows:
        by_type[r.event_type][r.user_id] += 1

    cap = 8
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        batch_events.write.mode("overwrite").parquet(d + "/ev")
        stream = ST.read_event_stream(spark, d + "/ev")
        em = ST.run_to_memory(
            spark, ST.heavy_hitters_stream(stream, capacity=cap, top_k=cap),
            "hh_evict", output_mode="update")
        em.createOrReplaceTempView("_hh_e")
        final = spark.sql(
            "SELECT event_type, user_id, cnt FROM "
            "(SELECT *, max(trig) OVER (PARTITION BY event_type) mt "
            "FROM _hh_e) t WHERE trig = mt").collect()
    summary = collections.defaultdict(dict)
    for r in final:
        summary[r.event_type][r.user_id] = r.cnt
    for et, true_counts in by_type.items():
        n = sum(true_counts.values())
        bound = n / cap
        for u, c in true_counts.items():
            if c > bound:
                assert u in summary[et], (et, u, c, bound)
        for u, c in summary[et].items():
            assert c <= true_counts[u]
            assert c >= true_counts[u] - bound


def test_ann_assign_stream_is_arrival_order_independent(spark):
    """The streaming per-cell arrival report equals the batch
    derivation under DIFFERENT chunkings (1 file vs 3 interleaved
    files) — counts are additive, assignment deterministic, so the
    stream cannot depend on arrival order. Arrivals are the vec_ids
    with vec_id % 10 = 7, so a chunk count sharing a factor with 10
    lands fewer files: 5 chunks would land them all in one."""
    from kektordb_spark.streaming.ann import ann_assign_stream_run
    from kektordb_spark.tables import load_tables
    from tests.conftest import SF_SMALL

    load_tables(spark, SF_SMALL)
    path = f"{SF_SMALL}/embeddings.parquet"
    a = [(r.cid, r.n_batch)
         for r in ann_assign_stream_run(spark, path, n_chunks=1).collect()]
    b = [(r.cid, r.n_batch)
         for r in ann_assign_stream_run(spark, path, n_chunks=3).collect()]
    assert a == b and sum(n for _, n in a) > 0


def test_ann_assign_redelivery_guard(spark, tmp_path):
    """foreachBatch redelivery must not double-count: running the
    stream's per-batch function twice with one batch id leaves the
    counts of one delivery (the sink's idempotence contract)."""
    from kektordb_spark.streaming import ann as SA

    load_tables(spark, SF_SMALL)
    batch = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .where(F.col("vec_id") % 10 == 7).limit(20)
        .localCheckpoint(eager=True)
    )
    counts = str(tmp_path / "counts")

    def folded() -> dict[int, int]:
        return {r.cid: r.n for r in spark.read.schema(SA._COUNTS_SCHEMA)
                .parquet(counts).groupBy("cid").agg(F.sum("n").alias("n"))
                .collect()}

    SA._fold_assign_batch(counts, batch, 0)
    once = folded()
    SA._fold_assign_batch(counts, batch, 0)  # redelivered
    assert folded() == once and sum(once.values()) == 20


def test_ingest_merge_redelivery_guard(spark, batch_events, tmp_path):
    """The ingest sink's `_last_batch` marker: applying the same batch
    id twice leaves the snapshot of one application, and a later batch
    id still merges."""
    import os

    target = str(tmp_path / "target")
    os.makedirs(os.path.join(target, "v-1"))
    # the stream's ts is TIMESTAMP (read_event_stream), the table's NTZ
    batch = batch_events.withColumn(
        "ts", F.col("ts").cast("timestamp")).localCheckpoint(eager=True)

    def snapshot() -> list[tuple]:
        v = ST._applied_batch(target)
        return sorted(tuple(r) for r in spark.read.parquet(
            os.path.join(target, f"v{v}")).collect())

    ST._merge_ingest_batch(target, batch, 0)
    once = snapshot()
    ST._merge_ingest_batch(target, batch, 0)  # redelivered
    assert snapshot() == once
    assert sum(r[-1] for r in once) == batch_events.count()
    ST._merge_ingest_batch(target, batch, 1)
    assert sum(r[-1] for r in snapshot()) == 2 * batch_events.count()


def test_drain_timeout_stops_raises_and_restores(spark, events_dir, monkeypatch):
    """A stream that does not drain in time is stopped and raises, and
    the session's shuffle-partition setting is restored."""
    from pyspark.sql.streaming.query import StreamingQuery

    started, stopped = [], []
    stop = StreamingQuery.stop

    def timed_out(self, timeout=None):
        started.append(self)
        return False

    def recording_stop(self):
        stopped.append(self)
        stop(self)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", timed_out)
    monkeypatch.setattr(StreamingQuery, "stop", recording_stop)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "13")
    try:
        writer = (ST.read_event_stream(spark, events_dir).writeStream
                  .format("memory").queryName("drain_timeout"))
        with pytest.raises(TimeoutError):
            ST.drain(spark, writer)
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, prev)
    assert len(started) == 1 and stopped == started
    assert not started[0].isActive
