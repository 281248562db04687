"""Engine-level tests: SSSP/KCore parity, partitioning invariance,
checkpoint/resume equality (FIXTURES.md §3 fx_hub-style guarantees)."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from hugegraph_computer_spark.algorithms.kcore import KCore
from hugegraph_computer_spark.algorithms.sssp import Sssp
from hugegraph_computer_spark.algorithms import Lpa, PageRank, Wcc
from hugegraph_computer_spark.engine import PregelRunner
from hugegraph_computer_spark.graph import Graph, transcripts_from_events
from hugegraph_computer_spark.oracles import py_reference as oracle
from tests.conftest import SF_DIR


def test_sssp_exact(sf_graph):
    rows = sf_graph.edges.select("src", "dst", "weight").collect()
    edges = [(r["src"], r["dst"], float(r["weight"])) for r in rows]
    nodes = [r["id"] for r in sf_graph.vertices.collect()]
    source = min(n for n in nodes if n.startswith("conv"))
    expected = oracle.sssp(nodes, edges, source)
    res = PregelRunner().run(Sssp(sources=[source]), sf_graph)
    got = {r["id"]: r["dist"] for r in res.state.collect()}
    assert got == expected


def test_kcore_exact(sf_graph, sf_edge_list):
    nodes, edges = sf_edge_list
    expected = oracle.kcore(nodes, edges, k=3)
    res = PregelRunner().run(KCore(k=3), sf_graph)
    got = {r["id"]: r["core"] for r in res.state.collect()}
    assert got == expected


def test_partitioning_invariance(spark):
    """Identical per-vertex results regardless of partition count —
    the in-JVM analogue of the local[2]-vs-local[8] invariance check."""
    t = transcripts_from_events(spark, SF_DIR)
    g3 = Graph.from_transcripts(t, partitions=3)
    g8 = Graph.from_transcripts(t, partitions=8)
    r3 = PregelRunner().run(PageRank(l1_tol=1e-6), g3)
    r8 = PregelRunner().run(PageRank(l1_tol=1e-6), g8)
    assert r3.supersteps == r8.supersteps
    a = {x["id"]: x["rank"] for x in r3.state.collect()}
    b = {x["id"]: x["rank"] for x in r8.state.collect()}
    assert a.keys() == b.keys()
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_checkpoint_resume_mid_run(sf_graph):
    ckdir = tempfile.mkdtemp(prefix="hcs_test_ck_")
    try:
        full = PregelRunner(checkpoint_dir=ckdir, checkpoint_every=4).run(
            Wcc(), sf_graph
        )
        ckpts = sorted(os.listdir(os.path.join(ckdir, "wcc")))
        assert len(ckpts) >= 2
        mid = os.path.join(ckdir, "wcc", ckpts[0])
        resumed = PregelRunner().run(Wcc(), sf_graph, resume_from=mid)
        a = {x["id"]: x["comp"] for x in full.state.collect()}
        b = {x["id"]: x["comp"] for x in resumed.state.collect()}
        assert a == b
        # lineage metadata present
        import json

        meta = json.load(open(os.path.join(mid, "meta.json")))
        assert meta["algorithm"] == "wcc"
        assert sum(p["rows"] for p in meta["state_lineage"]) == len(a)
    finally:
        shutil.rmtree(ckdir, ignore_errors=True)


def test_checkpoint_resume_pagerank(sf_graph):
    """Resume must also restore the aggregate scalars PageRank's update
    rule depends on (cumulative/dangling from the checkpointed step)."""
    ckdir = tempfile.mkdtemp(prefix="hcs_test_ckpr_")
    try:
        full = PregelRunner(checkpoint_dir=ckdir, checkpoint_every=5).run(
            PageRank(l1_tol=1e-6, max_supersteps=100), sf_graph
        )
        ckpts = sorted(os.listdir(os.path.join(ckdir, "page_rank")))
        mid = os.path.join(ckdir, "page_rank", ckpts[0])
        resumed = PregelRunner().run(
            PageRank(l1_tol=1e-6, max_supersteps=100), sf_graph, resume_from=mid
        )
        a = {x["id"]: x["rank"] for x in full.state.collect()}
        b = {x["id"]: x["rank"] for x in resumed.state.collect()}
        assert max(abs(a[k] - b[k]) for k in a) < 1e-12
    finally:
        shutil.rmtree(ckdir, ignore_errors=True)


def test_salted_aggregate_matches_plain(sf_graph):
    from hugegraph_computer_spark.engine.skew import salted_aggregate

    msgs = sf_graph.edges.select("dst", F.col("weight").alias("msg"))
    plain = {
        r["dst"]: r["s"]
        for r in msgs.groupBy("dst").agg(F.sum("msg").alias("s")).collect()
    }
    salted = {
        r["dst"]: r["s"]
        for r in salted_aggregate(msgs, "dst", F.sum("msg"), out="s").collect()
    }
    assert plain.keys() == salted.keys()
    assert all(abs(plain[k] - salted[k]) < 1e-9 for k in plain)


def test_empty_graph_halts(sf_graph):
    """Vote-to-halt programs stop after superstep 0 on an empty graph:
    their `expected_msgs` sum is NULL there, which must halt, not run
    to max_supersteps."""
    empty = Graph(sf_graph.vertices.limit(0), sf_graph.edges.limit(0))
    for program in (
        Wcc(max_supersteps=12),
        Lpa(max_supersteps=10),
        KCore(k=3, max_supersteps=12),
        Sssp(sources=["conv:none"], max_supersteps=12),
    ):
        res = PregelRunner().run(program, empty)
        assert res.supersteps == 1, program.name
        assert res.state.count() == 0


def test_should_stop_aborts_before_first_superstep(sf_graph):
    """should_stop=True from the start -> RunAborted with no superstep
    executed (the driver's zero-superstep cancel contract)."""
    import pytest

    from hugegraph_computer_spark.engine.superstep import RunAborted

    steps = []
    with pytest.raises(RunAborted):
        PregelRunner().run(
            PageRank(l1_tol=0.0, max_supersteps=5),
            sf_graph,
            on_superstep=steps.append,
            should_stop=lambda: True,
        )
    assert steps == []
