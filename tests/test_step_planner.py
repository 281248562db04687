"""The data-derived static step planner (round 6): partition-count
derivation, result parity vs the AQE conversion, jobs per superstep,
conf restoration — including on the RunAborted cancel path."""

from __future__ import annotations

import dataclasses

import pytest

from hugegraph_computer_spark.algorithms import PageRank, Wcc
from hugegraph_computer_spark.engine import PregelRunner
from hugegraph_computer_spark.engine.superstep import RunAborted
from hugegraph_computer_spark.graph import Graph, transcripts_from_events
from tests.conftest import SF_DIR


class _G:
    """Minimal graph stand-in for the pure derivation function."""

    def __init__(self, ne, partitions):
        self._ne = ne
        self.partitions = partitions


class _Ctx:
    class sparkContext:
        defaultParallelism = 16


def test_static_partition_derivation():
    derive = PregelRunner._static_step_partitions
    # small graph: p = ceil(E/32768) < partitions -> static at p
    assert derive(_G(152_827, 32), _Ctx) == 5
    assert derive(_G(1, 32), _Ctx) == 1
    # large graph: p >= partitions -> AQE (None), the unchanged path
    assert derive(_G(9_780_000, 8), _Ctx) is None
    assert derive(_G(32 * 32_768, 32), _Ctx) is None  # boundary: p == parts
    # unknown edge count never triggers static mode
    assert derive(_G(None, 32), _Ctx) is None


def _confs(spark):
    return (
        spark.conf.get("spark.sql.adaptive.enabled"),
        spark.conf.get("spark.sql.shuffle.partitions"),
    )


def test_planner_parity_and_conf_restore(sf_graph):
    """Static-planned and AQE-planned runs produce identical supersteps
    and ranks (to float noise), and the session confs are restored.
    The AQE path is reached through the input: a graph that does not
    know its edge count."""
    spark = sf_graph.vertices.sparkSession
    before = _confs(spark)

    unknown_e = dataclasses.replace(sf_graph, _ne=None)
    assert PregelRunner._static_step_partitions(unknown_e, spark) is None
    assert PregelRunner._static_step_partitions(sf_graph, spark) is not None
    res_aqe = PregelRunner().run(PageRank(l1_tol=0.0, max_supersteps=5), unknown_e)
    res_auto = PregelRunner().run(PageRank(l1_tol=0.0, max_supersteps=5), sf_graph)

    assert _confs(spark) == before
    assert res_auto.supersteps == res_aqe.supersteps
    a = {r["id"]: r["rank"] for r in res_aqe.state.collect()}
    b = {r["id"]: r["rank"] for r in res_auto.state.collect()}
    assert a.keys() == b.keys()
    assert all(abs(a[k] - b[k]) < 1e-12 for k in a)


def test_static_step_is_one_job(spark):
    """A statically planned superstep >= 1 is ONE Spark job: the lazy
    state cut converts without running stages, and the aggregate action
    runs the whole step. Jobs are counted per superstep through a job
    group set from `on_superstep`. The graph is derived here, not the
    shared `sf_graph`: once an earlier run has materialized the cached
    out-degree table, its exact (small) size makes the planner broadcast
    the first state, which adds one broadcast job to superstep 1."""
    sc = spark.sparkContext
    g = Graph.from_transcripts(transcripts_from_events(spark, SF_DIR), partitions=8)
    assert PregelRunner._static_step_partitions(g, spark) is not None

    def next_group(m):
        sc.setJobGroup(f"static-step-{m['superstep'] + 1}", "test")

    sc.setJobGroup("static-step-0", "test")
    try:
        res = PregelRunner().run(
            PageRank(l1_tol=0.0, max_supersteps=5), g, on_superstep=next_group
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = [
        len(sc.statusTracker().getJobIdsForGroup(f"static-step-{s}"))
        for s in range(res.supersteps)
    ]
    assert res.supersteps == 5
    assert jobs[1:] == [1, 1, 1, 1], jobs


def test_conf_restored_when_scope_set_fails(sf_graph, monkeypatch):
    """A failure while the scope applies its confs still restores AQE
    and releases the scope lock."""
    from pyspark.sql.conf import RuntimeConfig

    from hugegraph_computer_spark.engine import pin

    spark = sf_graph.vertices.sparkSession
    before = _confs(spark)
    real_set = RuntimeConfig.set
    failed = []

    def flaky_set(self, key, value):
        if key == "spark.sql.shuffle.partitions" and not failed:
            failed.append(value)
            raise RuntimeError("conf set failed")
        real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", flaky_set)
    with pytest.raises(RuntimeError, match="conf set failed"):
        with pin.static_plan_scope(spark, 4):
            pass
    monkeypatch.undo()
    assert failed == ["4"]
    assert _confs(spark) == before
    assert not pin._STATIC_SCOPE_LOCK.locked()


def test_conf_restored_on_abort(sf_graph):
    spark = sf_graph.vertices.sparkSession
    before = _confs(spark)
    with pytest.raises(RunAborted):
        PregelRunner().run(Wcc(), sf_graph, should_stop=lambda: True)
    assert _confs(spark) == before


def test_scope_noops_when_lock_held(sf_graph):
    """SQL confs are session-global and ComputerDriver runs jobs
    concurrently on one session: a loop that cannot take the static
    scope lock must keep AQE untouched (and still compute correctly)."""
    from hugegraph_computer_spark.engine import pin

    spark = sf_graph.vertices.sparkSession
    before = _confs(spark)
    assert pin._STATIC_SCOPE_LOCK.acquire(blocking=False)
    try:
        with pin.static_plan_scope(spark, 4):
            assert _confs(spark) == before  # no-op: lock owned elsewhere
        res = PregelRunner().run(
            PageRank(l1_tol=0.0, max_supersteps=3), sf_graph
        )
        assert res.supersteps == 3
        assert _confs(spark) == before
    finally:
        pin._STATIC_SCOPE_LOCK.release()
    # lock free again: the scope applies and restores
    with pin.static_plan_scope(spark, 4):
        assert _confs(spark) == ("false", "4")
    assert _confs(spark) == before
