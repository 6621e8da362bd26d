"""The persisted index layer (tables.index_layers) is built as a
dependency graph of concurrent Spark jobs. These tests pin the graph:
every layer reads exactly the layers it declares, a layer starts only
after its dependencies finished, a failing layer fails the whole build
cleanly, and the build leaves the session conf as it found it (plus the
data-sized shuffle-partition count)."""

from __future__ import annotations

import os
import random
import sys

import pytest

from kektordb_spark import tables as T
from tests.conftest import SF_SMALL

CP = "spark.sql.constraintPropagation.enabled"
SHUFFLE = "spark.sql.shuffle.partitions"


def _file_scans(df) -> set[str]:
    """Paths of every file-scan leaf of ``df``'s analyzed plan, including
    the plans of its subquery expressions (views expand to their
    definitions in the analyzed plan, so a layer view shows up as a
    scan of its parquet copy)."""
    plan = df._jdf.queryExecution().analyzed()
    subs = plan.subqueriesAll()
    out = set()
    for p in [plan] + [subs.apply(i) for i in range(subs.size())]:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                continue
            roots = leaf.relation().location().rootPaths()
            out |= {os.path.realpath(roots.apply(j).toUri().getPath())
                    for j in range(roots.size())}
    return out


class _LayerFailed(RuntimeError):
    pass


@pytest.fixture(scope="module")
def failed_then_rebuilt(spark):
    """From an unregistered session: one build at SF_SMALL whose
    ``pq_cb_cand`` builder raises, then a plain second call — with the
    state seen after each."""
    real = T.index_layers

    def boom():
        raise _LayerFailed("pq_cb_cand")

    def with_failing_layer(spark_, base):
        return [lay._replace(build=boom) if lay.name == "pq_cb_cand" else lay
                for lay in real(spark_, base)]

    cp_before = spark.conf.get(CP)
    spark.conf.set(SHUFFLE, "3")
    T._REGISTERED.pop(id(spark), None)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(T, "index_layers", with_failing_layer)
        try:
            T.load_tables(spark, SF_SMALL)
            error = None
        except _LayerFailed as e:
            error = e
    failed = {"error": error, "registered": id(spark) in T._REGISTERED,
              "cp": spark.conf.get(CP), "times": dict(T.LAYER_TIMES)}
    T.load_tables(spark, SF_SMALL)
    return {
        "cp_before": cp_before,
        "failed": failed,
        "registered": T._REGISTERED.get(id(spark), (None,))[0],
        "cp_after": spark.conf.get(CP),
        "shuffle_after": spark.conf.get(SHUFFLE),
        "times": dict(T.LAYER_TIMES),
    }


def test_failing_layer_fails_the_build_cleanly(failed_then_rebuilt):
    failed = failed_then_rebuilt["failed"]
    assert isinstance(failed["error"], _LayerFailed)
    assert not failed["registered"]
    assert failed["cp"] == failed_then_rebuilt["cp_before"]
    # the failed layer's dependent never started
    assert "pq_codes_cand" not in failed["times"]


def test_next_call_rebuilds_every_layer_after_its_dependencies(spark, failed_then_rebuilt):
    assert failed_then_rebuilt["registered"] == SF_SMALL
    times = failed_then_rebuilt["times"]
    layers = T.index_layers(spark, T.load_tables(spark, SF_SMALL))
    names = [lay.name for lay in layers]
    assert len(names) == len(set(names)) == 25
    assert set(times) == set(names)
    for lay in layers:
        start, end = times[lay.name]
        assert 0 <= start <= end
        for dep in lay.deps:
            assert times[dep][1] <= start, (lay.name, dep)


def test_build_restores_constraint_propagation_and_sizes_shuffle(failed_then_rebuilt):
    assert failed_then_rebuilt["cp_after"] == failed_then_rebuilt["cp_before"]
    assert failed_then_rebuilt["shuffle_after"] == str(
        T.data_sized_shuffle_partitions(SF_SMALL))


def test_every_layer_reads_exactly_its_declared_dependencies(
        spark, failed_then_rebuilt, monkeypatch):
    """Re-run every builder after the build, when every layer view
    points at its parquet copy: any view read, through spark.sql or
    spark.table — also the ones an iterative builder makes before it
    checkpoints — resolves to file scans, which must be base fixture
    files or the copies of the layer's declared dependencies. A missing
    edge shows up as a scan of an undeclared layer's copy; an edge the
    builder never reads shows up as a missing scan."""
    base = T.load_tables(spark, SF_SMALL)
    mat_dir = os.path.realpath(T._SCRATCH_DIRS[id(spark)])
    fixture = {os.path.realpath(f"{SF_SMALL}/{n}.parquet") for n in T.BASE_TABLES}
    seen: list = []

    def recording(method):
        def wrapper(self, *args, **kwargs):
            df = method(self, *args, **kwargs)
            seen.append(df)
            return df
        return wrapper

    cls = type(spark)
    monkeypatch.setattr(cls, "sql", recording(cls.sql))
    monkeypatch.setattr(cls, "table", recording(cls.table))
    for lay in T.index_layers(spark, base):
        seen.clear()
        scans = set().union(*(_file_scans(df) for df in seen + [lay.build()]))
        layer_scans = {p for p in scans if os.path.dirname(p) == mat_dir}
        assert scans - fixture - layer_scans == set(), lay.name
        assert layer_scans == {f"{mat_dir}/{d}" for d in lay.deps}, lay.name


def test_graph_runner_orders_a_random_dag_of_small_layers(spark, tmp_path):
    """Stress the scheduler alone: 32 one-row layers over a random DAG,
    run with a pool wider than the host and a short switch interval.
    Every builder checks that each dependency's view already scans its
    parquet copy — a layer started too early raises, failing the build."""
    rng = random.Random(11)
    names = [f"_dag_{i}" for i in range(32)]
    mat_dir = os.path.realpath(tmp_path)

    def builder(name, deps):
        def build():
            for dep in deps:
                assert _file_scans(spark.table(dep)) == {f"{mat_dir}/{dep}"}, (name, dep)
            return spark.range(1).selectExpr(f"'{name}' AS layer")
        return build

    layers = []
    for i, name in enumerate(names):
        deps = tuple(rng.sample(names[:i], min(i, rng.randint(0, 3))))
        layers.append(T.IndexLayer(name, deps, builder(name, deps)))
    rng.shuffle(layers)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        T._build_index_layers(spark, layers, mat_dir)
    finally:
        sys.setswitchinterval(interval)
        for name in names:
            spark.catalog.dropTempView(name)
    assert set(T.LAYER_TIMES) == set(names)
    for lay in layers:
        for dep in lay.deps:
            assert T.LAYER_TIMES[dep][1] <= T.LAYER_TIMES[lay.name][0]


def test_graph_runner_rejects_unknown_and_cyclic_dependencies(spark, tmp_path):
    def never():
        raise AssertionError("a layer with an unmet dependency was built")

    for layers in (
        [T.IndexLayer("_dag_a", ("_dag_missing",), never)],
        [T.IndexLayer("_dag_a", ("_dag_b",), never),
         T.IndexLayer("_dag_b", ("_dag_a",), never)],
    ):
        with pytest.raises(ValueError, match="_dag_a"):
            T._build_index_layers(spark, layers, str(tmp_path))
