"""Batch and stream must decode events.ts identically for ANY parquet
physical unit (ADVICE r01: the two paths had divergent encoding
assumptions). We re-encode the sf0.001 events fixture at ns/us/ms and
assert byte-identical timestamps from tables.load_tables and
streaming.read_event_stream."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL


def _reencode(tmpdir: str, unit: str) -> str:
    tab = pq.read_table(f"{SF_SMALL}/events.parquet")
    i = tab.schema.get_field_index("ts")
    import pyarrow.compute as pc

    recast = pc.cast(tab.column("ts"), pa.timestamp(unit), safe=False)
    tab = tab.set_column(i, "ts", recast)
    out = os.path.join(tmpdir, unit, "events.parquet")
    os.makedirs(os.path.dirname(out))
    pq.write_table(tab, out)
    return out


@pytest.mark.parametrize("unit", ["ns", "us", "ms"])
def test_batch_stream_ts_parity_across_units(spark, tmp_path, unit):
    from kektordb_spark.streaming.events import read_event_stream, run_to_memory
    from kektordb_spark.tables import event_ts_unit

    path = _reencode(str(tmp_path), unit)
    assert event_ts_unit(path) == unit

    # Ground truth: the original micros fixture.
    expected = {
        r.event_id: r.ts
        for r in spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_id", "ts")
        .collect()
    }

    # Batch path (load_tables' long-branch, forced via a direct read).
    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") in ("bigint", "long"):
        from pyspark.sql import functions as F

        from kektordb_spark.tables import ts_from_long

        df = df.withColumn("ts", ts_from_long(F.col("ts"), unit))
    batch = {r.event_id: r.ts for r in df.select("event_id", "ts").collect()}

    # Stream path, drained to a memory sink.
    sink = run_to_memory(
        spark, read_event_stream(spark, path).select("event_id", "ts"),
        f"ts_parity_{unit}", output_mode="append")
    stream = {r.event_id: r.ts for r in sink.collect()}

    if unit == "ms":
        # ms loses sub-millisecond precision by construction; compare
        # at ms granularity.
        trunc = {k: v.replace(microsecond=v.microsecond // 1000 * 1000)
                 for k, v in expected.items()}
        assert batch == trunc
        assert stream == trunc
    else:
        assert batch == expected
        assert stream == expected


def test_ingest_sink_snapshot_is_unit_independent(spark, tmp_path):
    """The ingest sink lands ts as int64 micros and streams its landing
    zone through read_event_stream: a nanos-encoded input gives the
    same final snapshot, last_ts_us included, as the micros fixture."""
    from kektordb_spark.streaming.events import ingest_upsert_run

    def snapshot(path: str) -> list[tuple]:
        return sorted(tuple(r) for r in
                      ingest_upsert_run(spark, path, n_chunks=2).collect())

    assert snapshot(_reencode(str(tmp_path), "ns")) == snapshot(
        f"{SF_SMALL}/events.parquet")
