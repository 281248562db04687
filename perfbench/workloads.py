"""The workloads and the query set each one times.

Every query goes through a public entry point of the engine and ends in
a noop-sink write (``df.write.format("noop")``), never ``count()``:
Spark prunes work that a count does not need (a triangle count whose
result is only counted skips the triangle join). Each query's output is
kept for the oracle check, which runs after the timed set.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.algorithms import (
    PageRank,
    connected_components,
    triangle_count,
)
from hugegraph_computer_spark.algorithms.hits import hits
from hugegraph_computer_spark.engine import PregelRunner
from hugegraph_computer_spark.graph import (
    Graph,
    load_graph_bucketed,
    save_graph_bucketed,
    transcripts_from_events,
)
from hugegraph_computer_spark.oracles import sql as osql

BULK_PAGERANK_STEPS = 10  # bsp.max_super_step default of the reference
# the sf0.01 loops are dominated by per-job cost; fewer rounds keep a run short
FLOOR_PAGERANK_STEPS = 3
HITS_STEPS = 2
CC_MAX_ROUNDS = 50  # connected_components' own default; converges in ~5
WARM_ROUNDS = 2
ORACLE_ROUNDS = 24  # unroll depth; exceeds every directed path (<= 16)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    events: int
    users: int
    run: Callable[["QuerySet"], None]
    oracles: dict[str, str]  # output name -> DuckDB SQL over `events`


@dataclass
class QuerySet:
    """One pass over a workload's queries. Times each call from outside
    (``walls``), keeps outputs for the oracle check, and PregelRunner's
    superstep counts (``supersteps``) for the throughput metric."""

    spark: object
    events_dir: str
    partitions: int
    store_prefix: str
    tracer: object
    # the untimed warm-up pass: the same queries on the same input with
    # every loop capped at WARM_ROUNDS, so the JVM has compiled the hot
    # paths at this data size before anything is timed
    warm: bool = False
    walls: dict = field(default_factory=dict)
    supersteps: dict = field(default_factory=dict)
    outputs: dict = field(default_factory=dict)
    graph: Graph | None = None
    loaded: Graph | None = None

    def _timed(self, name: str, layer: str, fn):
        with self.tracer.span(layer) as span:
            t0 = time.monotonic()
            out = fn(span)
            self.walls[name] = time.monotonic() - t0
        return out

    def derive(self) -> Graph:
        """events -> cached Graph; ``from_transcripts`` materializes the
        lineage-cut vertex and edge tables itself (and counts them)."""

        def go(span):
            g = Graph.from_transcripts(
                transcripts_from_events(self.spark, self.events_dir),
                partitions=self.partitions,
            )
            span["attrs"].update(vertices=g.num_vertices, edges=g.num_edges)
            return g

        self.graph = self._timed("derive", "graph.derive", go)
        return self.graph

    def store(self, g: Graph) -> Graph:
        """save_graph_bucketed + load_graph_bucketed, the loaded tables
        materialized into their cache by a noop write each."""

        def go(span):
            save_graph_bucketed(g, self.store_prefix, buckets=self.partitions)
            lg = load_graph_bucketed(self.spark, self.store_prefix)
            noop(lg.vertices)
            noop(lg.edges)
            return lg

        self.loaded = self._timed("store", "graph.store", go)
        return self.loaded

    def pregel(self, name: str, program, g: Graph, project) -> DataFrame:
        def go(span):
            with self.tracer.supersteps(f"engine.superstep.{name}") as cb:
                res = PregelRunner().run(program, g, on_superstep=cb)
            out = project(res.state)
            noop(out)
            return res, out

        res, out = self._timed(name, f"engine.superstep.{name}", go)
        self.supersteps[name] = res.supersteps
        return out

    def call(self, name: str, layer: str, fn, project, rounds=None) -> DataFrame:
        def go(span):
            res = fn()
            out = project(res)
            noop(out)
            if rounds is not None:
                span["attrs"]["rounds"] = rounds(res)
            return res, out

        return self._timed(name, layer, go)[1]

    def expect(self, name: str, df: DataFrame) -> None:
        self.outputs[name] = df

    def rounds(self, full: int) -> int:
        return min(full, WARM_ROUNDS) if self.warm else full


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def pagerank(q: QuerySet, g: Graph, supersteps: int) -> None:
    """Fixed-superstep PageRank, emitted as round(rank * N, 6) like the
    engine's gate query so the oracle comparison is on significant digits."""
    n = float(g.num_vertices)

    def project(state: DataFrame) -> DataFrame:
        return state.select("id", F.round(F.col("rank") * F.lit(n), 6).alias("rank_x_n"))

    q.expect("pagerank", q.pregel("pagerank", PageRank(l1_tol=0.0, max_supersteps=supersteps), g, project))


def bulk_set(q: QuerySet) -> None:
    pagerank(q, q.derive(), q.rounds(BULK_PAGERANK_STEPS))


def ingest_set(q: QuerySet) -> None:
    g = q.derive()
    lg = q.store(g)
    # PregelRunner on the derived graph, whose edge count is known, so
    # its planner picks the one-job static step at this size
    pagerank(q, g, q.rounds(FLOOR_PAGERANK_STEPS))
    q.expect(
        "cc_fast",
        q.call(
            "cc_fast",
            "algorithms.cc_fast",
            lambda: connected_components(lg, max_rounds=q.rounds(CC_MAX_ROUNDS)),
            lambda r: r.labels,
            rounds=lambda r: r.rounds,
        ),
    )
    q.expect("triangles", q.call("triangles", "algorithms.triangle", lambda: triangle_count(lg), lambda r: r))
    q.expect(
        "hits",
        q.call(
            "hits",
            "algorithms.hits",
            lambda: hits(lg, supersteps=q.rounds(HITS_STEPS)),
            lambda r: r.state.select(
                "id", F.round("auth", 6).alias("auth"), F.round("hub", 6).alias("hub")
            ),
            rounds=lambda r: r.supersteps,
        ),
    )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "pregel-bulk",
            "0.7 x sf0.1 shape: ceil(E/32768) >= 4 graph partitions puts PageRank on the AQE path, where shuffle and aggregation work dominate",
            events=70_000,
            users=1_050,
            run=bulk_set,
            oracles={"pagerank": osql.pagerank(supersteps=BULK_PAGERANK_STEPS)},
        ),
        Workload(
            "ingest-loops",
            "sf0.01 shape: derive, bucketed store, PageRank on the static one-job step, and the cc_fast/triangle/hits loops on the loaded store (AQE path)",
            events=10_000,
            users=150,
            run=ingest_set,
            oracles={
                "pagerank": osql.pagerank(supersteps=FLOOR_PAGERANK_STEPS),
                "cc_fast": osql.wcc_undirected(rounds=ORACLE_ROUNDS),
                "triangles": osql.triangle_count(),
                "hits": osql.hits(supersteps=HITS_STEPS),
            },
        ),
    )
}


# vertex and edge counts of the derived graph, checked on every workload
COUNT_ORACLES = {
    "vertices": f"SELECT count(*) AS n FROM ({osql.nodes_query()})",
    "edges": f"SELECT count(*) AS n FROM ({osql.edge_derivation()})",
}


def store_bytes(warehouse: str, prefix: str) -> int:
    total = 0
    for table in (f"{prefix}_vertices", f"{prefix}_edges"):
        for root, _, files in os.walk(os.path.join(warehouse, table.lower())):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
