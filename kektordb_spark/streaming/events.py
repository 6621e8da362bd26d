"""Structured-Streaming surface (SURVEY.md §2.9 ST1-ST5).

The reference's streaming is an in-process EventBus (engine.go:141-143)
feeding SSE + the Gardener's adaptive scheduler (gardener.go:485-634) —
no windows, no watermarks, drop-on-slow-consumer. The Spark-native
re-expression:

  * ST1 event bus  → a change-log *table* consumed with readStream
    (file source here; Kafka/Delta-CDF in production). Back-pressure
    replaces drop-on-slow-consumer (maxFilesPerTrigger).
  * ST2 gardener adaptive trigger → foreachBatch with the reference's
    rule: think when >= N writes accumulated since the last cycle.
  * ST3 vectorizer rescan → the file streaming source itself (new files
    are discovered incrementally — exactly the mtime-rescan semantics).
  * ST4/ST5 maintenance loops → scheduled batch jobs (api.graph_vacuum,
    Delta OPTIMIZE); nothing streaming-shaped to port.

Beyond parity, the engine exposes real event-time windowing (tumbling /
sliding / session windows + watermarks) because an idiomatic Spark
engine should: these run identically as batch expressions (tested
against DuckDB-style groupings) and as streaming queries with
``availableNow`` (tested in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kektordb_spark.dialect import epoch, epoch_us, hex_to_int, int_div

EVENTS_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint, event_type string, "
    "value double, props string"
)


def read_event_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """ST1/ST3: incremental file-source stream over a DIRECTORY of
    event parquet files (the change-log landing zone; new files are
    discovered per micro-batch — the reference's mtime rescan). The
    timestamp column is read through the declared long schema (raw
    int64 in the file's physical unit) and rebuilt via the SAME helper
    the batch path uses (tables.ts_from_long), so stream ≡ batch for
    any parquet encoding of ts."""
    import os

    from kektordb_spark.tables import event_ts_unit, ts_from_long

    reader = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # bounded micro-batches
    )
    unit = event_ts_unit(events_dir)
    if events_dir.endswith(".parquet") and os.path.isfile(events_dir):
        # A single-file fixture: the file source wants a directory, so
        # stream the parent filtered down to just this file.
        reader = reader.option("pathGlobFilter", os.path.basename(events_dir))
        events_dir = os.path.dirname(events_dir)
    raw = reader.parquet(events_dir)
    return raw.withColumn("ts", ts_from_long(F.col("ts"), unit))


def windowed_event_counts(
    events: DataFrame,
    window: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark.
    Works on both a stream (incremental state) and a batch DataFrame
    (plain groupBy) — the batch run is the oracle for the stream run."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("event_type"), F.col("n"), F.col("total_value"),
        )
    )


def sliding_event_rate(
    events: DataFrame, window: str = "12 hours", slide: str = "6 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window event rate per type."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n")
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows (gap-based) — the reference's session
    summary input (A14, gardener.go:1563-1680) computed properly with
    event-time sessionization instead of metadata convention."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id", "n_events", "total_value",
        )
    )


def dedup_first_per_window(
    events: DataFrame, window: str = "6 hours", watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup with bounded state: first event per
    (user, type) within each event-time window, plus the duplicate
    count. The survivor is min(struct(ts, event_id)) — an
    order-independent AGGREGATE, deliberately not dropDuplicates()
    (whose "first seen" depends on arrival/partition order and so can
    never match a batch oracle deterministically). Watermark bounds the
    dedup state exactly like the reference's TTL'd caches; windows emit
    on close (append mode). Works on both a stream and a batch frame —
    the batch run is the oracle."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"),
                   F.col("user_id"), F.col("event_type"))
        .agg(
            F.min(F.struct("ts", "event_id")).alias("first"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "user_id", "event_type",
            F.col("first.event_id").alias("first_event_id"),
            (F.col("n_events") - 1).alias("n_dups"),
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the brief's escape hatch for operators Spark's built-in windows
    can't express): per-user RUNNING totals maintained across
    micro-batches in keyed state — the per-key generalization of the
    Gardener's writes-since-last-cycle accumulator (ST2,
    gardener.go:485-634), and the pattern a per-entity rate
    limiter / semantic-cache hit counter (ST5, proxy.go:408-463) needs.

    Each trigger emits the updated cumulative (n_events, total_value)
    for the groups present in the batch; the final emission per key
    equals the batch groupBy answer, which is the oracle
    (tests/test_streaming.py). State is one struct per user —
    state-store size is O(|users|), bounded exactly like the
    reference's per-entity counters; pair with a timeout
    (GroupStateTimeout.ProcessingTimeTimeout) to expire idle keys in a
    production deployment."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, tot = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            tot += float(pdf["value"].sum())
        state.update((n, tot))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(tot, 2)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, tot double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


MG_CAPACITY = 4096  # Misra-Gries counter budget per event type
MG_TOP_K = 8


def heavy_hitters_stream(
    events: DataFrame,
    capacity: int = MG_CAPACITY,
    top_k: int = MG_TOP_K,
) -> DataFrame:
    """Streaming heavy hitters: per-event-type top-``top_k`` users by
    a Misra-Gries summary maintained as keyed state — the FREQUENCY
    companion of the KMV cardinality sketch (distinct_sketch_stream).
    This one is a genuine ``applyInPandasWithState`` case: MG's
    merge-then-evict (keep the ``capacity`` largest counters, subtract
    the evicted max so surviving counts keep the classic n/capacity
    underestimate bound) is not expressible as a built-in aggregate.

    State per key is <= capacity (user, count) pairs FOREVER — never
    the full user set — and each batch folds in via one vectorized
    pandas groupby. With capacity >= distinct users per type (all test
    scales: 1 500 users at sf0.1) no eviction happens, counts are
    EXACT and chunking-invariant, so the final emission equals the
    batch top-k relation — the oracle. At 100 TB capacity stays fixed
    and the summary degrades gracefully to the published error bound:
    any user with true count > n/capacity is guaranteed present
    (Misra-Gries 1982), which is exactly the heavy-hitter contract.
    Each emission carries the state's trigger sequence number so the
    final per-key emission is selectable without event-time."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            users, cnts, trig = state.get
            counts = dict(zip(users, (int(c) for c in cnts)))
            trig = int(trig)
        else:
            counts, trig = {}, 0
        for pdf in pdfs:
            if len(pdf):
                for u, c in pdf.groupby("user_id").size().items():
                    counts[int(u)] = counts.get(int(u), 0) + int(c)
        if len(counts) > capacity:
            # batched MG eviction: keep the capacity largest (count
            # desc, user asc — deterministic), subtract the largest
            # evicted count from the survivors, drop non-positive.
            ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            cut = ranked[capacity][1]
            counts = {u: c - cut for u, c in ranked[:capacity] if c > cut}
        trig += 1
        state.update((list(counts), [counts[u] for u in counts], trig))
        top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        yield pd.DataFrame({
            "event_type": [key[0]] * len(top),
            "user_id": [u for u, _ in top],
            "cnt": [c for _, c in top],
            "rank": list(range(1, len(top) + 1)),
            "trig": [trig] * len(top),
        })

    return (
        events.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "event_type string, user_id bigint, cnt bigint, "
                "rank int, trig bigint"),
            stateStructType=(
                "users array<bigint>, cnts array<bigint>, trig bigint"),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def heavy_hitters_oracle_sql(
    dialect: str, top_k: int = MG_TOP_K, source: str = "events",
) -> str:
    """Batch ground truth for the streaming heavy hitters: exact
    per-type top-k users (count desc, user asc) — equals the stream's
    final emission whenever the MG summary never evicted."""
    return f"""
SELECT event_type, user_id, cnt, CAST(rk AS INT) AS rank
FROM (
  SELECT event_type, user_id, count(*) AS cnt,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY count(*) DESC, user_id ASC) AS rk
  FROM {source}
  GROUP BY event_type, user_id
) t WHERE rk <= {top_k}
""".strip()


def distinct_sketch_stream(events: DataFrame) -> DataFrame:
    """Streaming KMV distinct-count sketch: the batch estimator
    (operators/analytics.kmv_est_sql — K minima of seeded hash slices)
    maintained as keyed state per event type across micro-batches by
    Spark's BUILT-IN streaming min aggregate in update mode. State per
    key is K fixed-width hex slices FOREVER (never a user set); min is
    commutative/associative, so chunking cannot change the result.

    The whole pipeline stays JVM-side: hash slices in the scan
    projection, MAP-SIDE partial minima before the state store, the
    estimator as a stateless projection on each emission — the same
    md5/substr/string-min/conv expressions as the batch SQL text, so
    the FINAL emission per key is bit-equal to the batch relation,
    which is the oracle (kmv_est_sql('duckdb')). The first version
    folded minima in ``applyInPandasWithState``; correct, but every
    trigger shipped all rows x K hash columns through Arrow into
    Python and state-committed with no map-side combine — measured
    ~5 s of pure transfer at sf0.1 that the built-in agg simply does
    not pay (7.6 s -> ~2 s; streaming_stateful_totals remains the
    custom-stateful-operator demonstration, where per-key logic
    genuinely isn't expressible as a built-in aggregate). Estimates
    are monotone non-decreasing (minima only fall), so "final" = max
    per key."""
    from pyspark.sql import functions as F

    from kektordb_spark.operators.analytics import (
        KMV_K, _KMV_HEX, _KMV_SCALE)

    uid = "CAST(user_id AS STRING)"
    cols = []
    for s in range(1, KMV_K // 2 + 1):
        d = f"md5(concat({uid}, ':', '{s}'))"
        for j in range(2):
            cols.append(
                f"substr({d}, {1 + _KMV_HEX * j}, {_KMV_HEX})"
                f" AS s{len(cols)}")
    # Parallelism guard, streaming analog of sketch_distinct_kmv's
    # (registry): each micro-batch is ONE file here
    # (maxFilesPerTrigger=1), so the K/2-md5-per-row projection would
    # run on one core; repartitioning the two NEEDED columns before
    # hashing is a ~1 MB shuffle at sf0.1. At real scale a trigger's
    # files already split across executors — drop the repartition
    # there (it would shuffle the full 2-column stream).
    src = events.select("event_type", "user_id").repartition(
        events.sparkSession.sparkContext.defaultParallelism)
    hashed = src.selectExpr("event_type", *cols)
    mins = hashed.groupBy("event_type").agg(
        *[F.expr(f"min(s{i})").alias(f"m{i}") for i in range(KMV_K)])
    sum_mins = " + ".join(
        hex_to_int("spark", f"m{i}", _KMV_HEX)
        for i in range(KMV_K))
    return mins.selectExpr(
        "event_type",
        f"CAST(floor({KMV_K} / (({sum_mins}) / {_KMV_SCALE}.0) - 1 + 0.5) "
        "AS BIGINT) AS est_distinct",
    )


def windowed_entity_mentions(
    events: DataFrame, window: str = "3 days", watermark: str = "1 hour",
) -> DataFrame:
    """A7-as-a-stream: per-entity mention counts in tumbling event-time
    windows — the streaming half of the Gardener's importance-shift
    detector (gardener.go:1471-1537). The spike comparison joins
    consecutive windows AFTER emission (importance_spikes below): state
    in the stream stays one count per (window, entity), bounded by the
    watermark; the cross-window comparison needs completed windows by
    definition, so it belongs downstream of the sink."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), F.col("user_id").alias("entity"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "entity", "n")
    )


def importance_spikes(
    windowed: DataFrame, window_s: int = 259200,
    min_recent: int = 5, ratio: float = 2.0,
) -> DataFrame:
    """Spike rule on emitted windows (gardener.go:1511-1528): entity
    spikes in window w when n(w) > min_recent AND n(w) > ratio *
    n(w-1). Missing previous window counts as 0 mentions -> any
    window above min_recent spikes (the reference's recent>2*older
    with older=0). One self-equi-join on (entity, previous window)."""
    spark = windowed.sparkSession
    # SQL self-join over a registered view: DataFrame-API self-joins of
    # a memory-sink table fail attribute dedup (both sides share the
    # sink's attribute ids); two scans of the view name re-resolve
    # cleanly.
    windowed.createOrReplaceTempView("_spike_windows")
    return spark.sql(f"""
WITH wc AS (
  SELECT CAST(unix_timestamp(w_start) AS BIGINT) AS w_epoch, entity, n
  FROM _spike_windows
)
SELECT c.w_epoch, c.entity, c.n, coalesce(p.n, 0) AS n_prev
FROM wc c LEFT JOIN wc p
  ON p.entity = c.entity AND p.w_epoch = c.w_epoch - {window_s}
WHERE c.n > {min_recent} AND c.n > {ratio} * coalesce(p.n, 0)
""".strip())


def importance_spikes_oracle_sql(dialect: str, window_s: int = 259200,
                                 min_recent: int = 5, ratio: float = 2.0) -> str:
    div = int_div(dialect)
    ep = epoch(dialect, "ts")
    return f"""
WITH wc AS (
  SELECT ({ep} {div} {window_s}) * {window_s} AS w_epoch,
         user_id AS entity, count(*) AS n
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT c.w_epoch, c.entity, c.n, coalesce(p.n, 0) AS n_prev
  FROM wc c LEFT JOIN wc p
    ON p.entity = c.entity AND p.w_epoch = c.w_epoch - {window_s}
)
SELECT w_epoch, entity, n, n_prev FROM j
WHERE n > {min_recent} AND n > {ratio} * n_prev
""".strip()


def user_totals_batch(events: DataFrame) -> DataFrame:
    """Batch oracle for stateful_user_totals' final per-key emissions."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


class GardenerTrigger:
    """ST2 adaptive scheduling (gardener.go:485-634): the Gardener
    'thinks early' when >= ``min_writes`` events accumulated since the
    last think cycle. foreachBatch-compatible: pass ``.process`` to
    ``writeStream.foreachBatch``. Counting is a metadata-only agg per
    micro-batch; the think callback runs driver-side like the
    reference's cycle goroutine."""

    def __init__(self, min_writes: int = 50, on_think=None):
        self.min_writes = min_writes
        self.on_think = on_think or (lambda n: None)
        self.pending = 0
        self.cycles: list[int] = []

    def process(self, batch_df: DataFrame, batch_id: int) -> None:
        self.pending += batch_df.count()
        if self.pending >= self.min_writes:
            self.cycles.append(self.pending)
            self.on_think(self.pending)
            self.pending = 0


# ---------------------------------------------------------------------------
# Driver-contract surface: the streaming paths as oracle-checkable queries.
# The STREAM run (file source -> watermark -> stateful agg -> memory sink,
# availableNow trigger) must equal the batch/SQL answer — that equality is
# the point: the same declarative window spec serves both modes.
# ---------------------------------------------------------------------------

_SINK_SEQ = [0]


def run_to_memory(
    spark: SparkSession,
    df: DataFrame,
    prefix: str,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink and return the result table.

    ``state_partitions`` bounds the streaming shuffle partitions for
    THIS query: every stateful operator keeps one state-store instance
    per shuffle partition, each with per-trigger setup/commit cost, so
    a fixture-sized stream with the batch default (cpus*4) pays ~128
    state commits per trigger for a handful of keys (measured ~2-3 s of
    pure overhead per streaming query at sf0.1). Size it to key
    cardinality in production — streaming partition count is fixed at
    the first checkpoint, unlike batch AQE. The batch-session setting
    is restored after start so concurrent batch plans are unaffected
    (the streaming query captures its conf at start)."""
    _SINK_SEQ[0] += 1
    name = f"{prefix}_{_SINK_SEQ[0]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode(output_mode).trigger(availableNow=True).start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            f"streaming sink {name} did not drain within 300s — "
            "reading the memory table now would observe a partial result"
        )
    return spark.table(name)


def user_totals_oracle_sql(dialect: str) -> str:
    """Batch-SQL oracle for stateful_user_totals' final emissions."""
    return """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY user_id
""".strip()


def windowed_counts_oracle_sql(dialect: str, window_s: int = 21600) -> str:
    """Tumbling-window oracle: epoch-aligned bucket arithmetic."""
    div = int_div(dialect)
    ep = epoch(dialect, "ts")
    return f"""
SELECT ({ep} {div} {window_s}) * {window_s} AS w_start_epoch,
       event_type,
       count(*) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY ({ep} {div} {window_s}) * {window_s}, event_type
""".strip()


def dedup_first_oracle_sql(dialect: str, window_s: int = 21600) -> str:
    """Batch oracle for the windowed streaming dedup: epoch-bucket
    grouping + lexicographic-min survivor pick (min_by over the
    (ts, event_id) pair — order-independent on both engines)."""
    div = int_div(dialect)
    ep = epoch(dialect, "ts")
    # lexicographic (ts, event_id) as a padded string scalar — DuckDB
    # min_by has no struct sort key, and the string key is
    # order-isomorphic to the pair for non-negative values.
    us = "unix_micros(ts)" if dialect == "spark" else "epoch_us(ts)"
    key = (f"concat(lpad(CAST({us} AS STRING), 20, '0'), "
           "lpad(CAST(event_id AS STRING), 12, '0'))")
    return f"""
SELECT ({ep} {div} {window_s}) * {window_s} AS w_start_epoch,
       user_id, event_type,
       min_by(event_id, {key}) AS first_event_id,
       count(*) - 1 AS n_dups
FROM events
GROUP BY ({ep} {div} {window_s}) * {window_s}, user_id, event_type
""".strip()


def session_windows_oracle_sql(dialect: str, gap_us: int = 1800000000) -> str:
    """Session-window oracle: gaps-and-islands (lag + cumulative sum of
    session breaks) — the classic SQL equivalent of session_window()."""
    # CAST(ts AS TIMESTAMP): the base parquet loads as TIMESTAMP_NTZ,
    # which unix_micros rejects; under the UTC session the cast is an
    # exact reinterpretation (and the identity on TIMESTAMP inputs).
    us = epoch_us(dialect, "ts")
    return f"""
WITH e AS (SELECT user_id, event_id, ts, value, {us} AS us FROM events),
m AS (
  SELECT user_id, event_id, ts, value, us,
         CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR us - lag(us) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= {gap_us}
              THEN 1 ELSE 0 END AS brk
  FROM e
),
g AS (
  SELECT user_id, value, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT min(us) AS s_us, max(us) + {gap_us} AS e_us, user_id,
       CAST(count(*) AS INT) AS n_events, round(sum(value), 2) AS total_value
FROM g GROUP BY user_id, sid
""".strip()


# ---------------------------------------------------------------------------
# Streaming ingest sink: foreachBatch MERGE (the write side of ST1)
# ---------------------------------------------------------------------------

def ingest_upsert_run(
    spark: SparkSession, events_path: str, n_chunks: int = 4,
) -> DataFrame:
    """The WRITE side of ST1: the reference continuously upserts vectors
    arriving on its event bus (engine.go VAdd-from-bus); the Spark-native
    sink is readStream → foreachBatch MERGE into a versioned parquet
    target.  This runner exercises the full loop end-to-end:

      1. the fixture events land as ``n_chunks`` files in a scratch
         landing zone, split by ``event_id % n_chunks`` so event-time
         interleaves across files — arrival order is deliberately NOT
         event-time order;
      2. the landing zone streams with ``maxFilesPerTrigger=1`` → one
         micro-batch per file; each batch MERGEs into the target:
         batch rows pre-aggregate to one row per (user_id, event_type)
         key (map-side, shrinking the merge input to key cardinality),
         then union + re-aggregate with the current snapshot and write
         a NEW version directory — last-writer-wins by the total order
         (ts, event_id), so the final state is identical under ANY
         arrival order / chunking (the property the test asserts);
      3. versioned dirs + a last-applied batch-id marker make the sink
         idempotent under foreachBatch's redelivery contract: a
         replayed batch id is skipped, a crash between write and
         marker replays onto the PREVIOUS version (rewriting the same
         content), never compounding.

    At 100 TB the target is a Delta/Iceberg MERGE with the same keyed
    pre-aggregation; the versioned-parquet scheme here is the same
    commit protocol with the table format inlined.  State per key is
    O(1) (last value + counter), the merge shuffle is keyed on the
    upsert key, and the snapshot rewrite is proportional to key
    cardinality, not event volume.

    Returns the final snapshot (checkpointed, so the scratch dirs can
    be reclaimed) — equal to the batch last-writer-wins oracle
    (ingest_upsert_oracle_sql).
    """
    import os
    import shutil
    import tempfile

    from kektordb_spark.tables import event_ts_unit, ts_from_long

    root = tempfile.mkdtemp(prefix="kekt_ingest_")
    land = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    os.makedirs(land)
    os.makedirs(target)
    try:
        unit = event_ts_unit(events_path)
        raw = spark.read.schema(EVENTS_SCHEMA).parquet(events_path)
        # ONE partitioned write lands every chunk (vs n_chunks filtered
        # re-scans of the event log); the partition column is dropped
        # from the written files, so each chunk is re-read under the
        # plain EVENTS_SCHEMA with its chunk id restored from event_id.
        split_dir = os.path.join(root, "split")
        raw.withColumn(
            "chunk", F.pmod("event_id", F.lit(n_chunks))
        ).repartition("chunk").write.partitionBy("chunk").mode(
            "overwrite"
        ).parquet(split_dir)
        for i in range(n_chunks):
            chunk_dir = os.path.join(split_dir, f"chunk={i}")
            if not os.path.isdir(chunk_dir):
                continue  # empty corpus: no rows hashed to this chunk
            parts = sorted(
                f for f in os.listdir(chunk_dir) if f.endswith(".parquet")
            )
            for j, part in enumerate(parts):
                os.rename(
                    os.path.join(chunk_dir, part),
                    os.path.join(land, f"chunk_{i}_{j}.parquet"),
                )

        _FINAL_SCHEMA = (
            "user_id bigint, event_type string, last_value double, "
            "last_ts_us bigint, last_event_id bigint, n_versions bigint"
        )
        if not os.listdir(land):
            # Nothing arrived: the snapshot is empty (no v1 was written).
            return spark.createDataFrame([], _FINAL_SCHEMA)

        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(land)
            .withColumn("ts", ts_from_long(F.col("ts"), unit))
        )

        state = {"version": 0}
        marker = os.path.join(target, "_last_batch")

        def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
            if os.path.exists(marker):
                with open(marker) as fh:
                    if batch_id <= int(fh.read().strip()):
                        return  # redelivered batch: already applied
            delta = batch_df.groupBy("user_id", "event_type").agg(
                F.max_by(
                    F.struct(
                        F.col("value").alias("last_value"),
                        F.unix_micros("ts").alias("last_ts_us"),
                        F.col("event_id").alias("last_event_id"),
                    ),
                    F.struct(F.col("ts"), F.col("event_id")),
                ).alias("s"),
                F.count(F.lit(1)).alias("n_versions"),
            ).select("user_id", "event_type", "s.*", "n_versions")
            cur_dir = os.path.join(target, f"v{state['version']}")
            if state["version"] > 0:
                cur = batch_df.sparkSession.read.parquet(cur_dir)
                delta = (
                    cur.unionByName(delta)
                    .groupBy("user_id", "event_type")
                    .agg(
                        F.max_by(
                            F.struct("last_value", "last_ts_us", "last_event_id"),
                            F.struct("last_ts_us", "last_event_id"),
                        ).alias("s"),
                        F.sum("n_versions").alias("n_versions"),
                    )
                    .select("user_id", "event_type", "s.*", "n_versions")
                )
            nxt = os.path.join(target, f"v{state['version'] + 1}")
            delta.write.mode("overwrite").parquet(nxt)
            state["version"] += 1
            with open(marker, "w") as fh:
                fh.write(str(batch_id))

        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = (
                stream.writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", os.path.join(root, "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            # Restore the conf only after the stream has drained: the
            # micro-batches themselves must run under the 8-partition
            # setting, and a False return (timeout) means the final
            # snapshot would be read mid-write — fail loudly instead.
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(
                    "ingest_upsert_run: stream did not drain within 300 s"
                )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

        final = spark.read.parquet(
            os.path.join(target, f"v{state['version']}")
        ).localCheckpoint(eager=True)
        return final
    finally:
        shutil.rmtree(root, ignore_errors=True)


def ingest_upsert_oracle_sql(dialect: str) -> str:
    """Batch last-writer-wins oracle for the ingest MERGE sink: one
    row per (user_id, event_type), latest value by (ts, event_id)."""
    return """
SELECT user_id, event_type, round(value, 6) AS last_value,
       event_id AS last_event_id, CAST(cnt AS BIGINT) AS n_versions
FROM (
  SELECT user_id, event_type, value, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS cnt
  FROM events
) t
WHERE rn = 1
""".strip()


# ---------------------------------------------------------------------------
# Multi-resolution rollup cascade (hypertable continuous-aggregate shape)
# ---------------------------------------------------------------------------

def rollup_daily_from_hourly_sql(dialect: str, rel: str = "_hourly") -> str:
    """Daily rollup computed FROM the hourly rollup (counts and sums
    re-aggregate losslessly; only the FINAL emission rounds)."""
    div = int_div(dialect)
    return f"""
SELECT (h_epoch {div} 86400) * 86400 AS day_epoch, event_type,
       CAST(sum(n) AS BIGINT) AS n, round(sum(sv), 2) AS total_value
FROM {rel}
GROUP BY (h_epoch {div} 86400) * 86400, event_type
""".strip()


def rollup_hourly_sql(dialect: str) -> str:
    """Hourly pre-aggregate over raw events — the materialized layer of
    the cascade (unrounded partial sums: rounding belongs to the final
    resolution only, or re-aggregation drifts)."""
    div = int_div(dialect)
    ep = epoch(dialect, "ts")
    return f"""
SELECT ({ep} {div} 3600) * 3600 AS h_epoch, event_type,
       count(*) AS n, sum(value) AS sv
FROM events
GROUP BY ({ep} {div} 3600) * 3600, event_type
""".strip()


def rollup_cascade_oracle_sql(dialect: str) -> str:
    """Self-contained oracle: the daily answer from raw events through
    the same hourly layer (one SQL text, both engines)."""
    return (
        f"WITH _hourly AS (\n{rollup_hourly_sql(dialect)}\n)\n"
        + rollup_daily_from_hourly_sql(dialect)
    )
