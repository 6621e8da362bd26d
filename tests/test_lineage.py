"""lineage.checkpoint: the package's one lineage-truncation call.

Pins the two rules it owns (lazy for one reader / eager for racing
sibling readers, and fresh attribute ids) and that no other module
truncates lineage on its own.
"""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import functions as F

from kektordb_spark.lineage import checkpoint
from tests.conftest import SF_SMALL

PKG = pathlib.Path(__file__).resolve().parent.parent / "kektordb_spark"


def _last_job(spark) -> int:
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(jobs) if jobs else -1


def _narrow(spark):
    # a plan without exchanges: defining a lazy checkpoint over it
    # runs nothing
    return spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("p2"))


def _expr_ids(df) -> set[str]:
    out = str(df._jdf.queryExecution().analyzed().output())
    return set(re.findall(r"#(\d+)", out))


def test_one_reader_is_lazy(spark):
    df = _narrow(spark)
    before = _last_job(spark)
    ck = checkpoint(df)
    assert _last_job(spark) == before
    assert ck.count() == df.count()


def test_sibling_readers_make_it_eager(spark):
    df = _narrow(spark)
    before = _last_job(spark)
    checkpoint(df, readers=2)
    assert _last_job(spark) > before


@pytest.mark.parametrize("readers", [0, -1])
def test_readers_below_one_raise(spark, readers):
    with pytest.raises(ValueError):
        checkpoint(_narrow(spark), readers=readers)


def test_derived_checkpoints_get_fresh_attribute_ids(spark):
    """A checkpoint keeps its plan's output attribute ids, and a filter
    or plain projection passes them through: without the re-alias, b
    would carry a's ids and the join below fails analysis as an
    ambiguous self-join."""
    a = checkpoint(spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        (F.col("o_orderkey") % 7).alias("x"), F.col("o_orderkey").alias("y")))
    b = checkpoint(a.where("x > 2"))
    assert not _expr_ids(a) & _expr_ids(b)
    n_a, n_b = a.count(), b.count()
    assert len(a.unionAll(b).collect()) == n_a + n_b
    joined = a.join(b, a["x"] == b["x"]).select(a["y"], b["y"].alias("y2"))
    assert joined.where(F.col("y") == F.col("y2")).count() == n_b


def test_only_lineage_calls_localcheckpoint():
    """Every lineage truncation goes through lineage.checkpoint. The
    two streaming sites are eager snapshots taken before their source
    directory is deleted, not truncation."""
    allowed = {"lineage.py", "streaming/events.py", "streaming/ann.py"}
    callers = {
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if "localCheckpoint(" in p.read_text()
    }
    assert callers == allowed
