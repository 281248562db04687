"""HITS (Hyperlink-Induced Topic Search) — hubs & authorities.

Beyond the reference's A1-A16 inventory, but the canonical link-graph
companion to its PageRank (computer-algorithm/.../rank/pagerank/
PageRank.java:84-107 is the structural template: fixed-round mutual
recursion with per-round global normalization collected on the driver,
exactly like PageRank's cumulative-rank aggregator).

Semantics (Kleinberg, JACM 46(5), 1999 — power iteration with L2
normalization, the standard formulation):

  auth_t(v) = sum_{(u,v) in E} hub_{t-1}(u),   then auth_t /= ||auth_t||_2
  hub_t(v)  = sum_{(v,w) in E} auth_t(w),      then hub_t  /= ||hub_t||_2

over the DISTINCT edge set (multi-edges across etypes would otherwise
double-count endorsements; mirrors Graph.edges_single, the reference's
duplicate-edge collapse in EdgesInputSplitFetcher semantics). Vertices
with no in-edges have auth 0; no out-edges, hub 0. Fixed `supersteps`
rounds, init auth = hub = 1.0.

Scale design: per round exactly TWO E-sized shuffles (the dst-keyed
auth gather, then the src-keyed hub gather) plus two V-sized left
joins back to the vertex frame — the same per-superstep shuffle budget
as PageRank, so every scaling measurement in BENCH/BASELINE.md carries
over. Both L2 norms are driver-collected in a SINGLE union-agg action
per round (normalization factors cancel through the linear gathers —
see the loop comment) and folded back as literals, so the round plan
stays constant-size; lineage is cut per round by lazy localCheckpoints
that materialize under the round's norms collect (see `hits`). No
Python UDFs, no driver-side row loops.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.pin import pin, static_plan_scope
from hugegraph_computer_spark.engine.superstep import PregelRunner


@dataclass
class HitsResult:
    state: DataFrame  # (id, auth, hub), both L2-normalized
    supersteps: int


def hits(graph, supersteps: int = 10) -> HitsResult:
    """Run `supersteps` rounds of hub/authority power iteration over
    graph.edges' distinct (src, dst) pairs. Returns L2-normalized
    scores for every vertex.

    Round plumbing (round 6, the PageRank pattern): the two gather
    frames and the new state are LAZY localCheckpoints — lineage-free,
    and all three materialize into checkpoint blocks under the round's
    single norms-collect job (braw roots at araw's RDD; the next
    round's gather reads the stored state). This replaced a
    persist → collect → eager-pin → unpersist dance that paid ~5 Spark
    jobs and a double store per round (bench_extra: hits10 at sf0.01
    went from 22.0 s to the re-measured figure in OPTIMIZATION_r06.md).
    """
    de = pin(graph.edges.select("src", "dst").dropDuplicates(["src", "dst"]))
    vertices = graph.vertices.select("id")
    state = vertices.select(
        "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
    )
    # same data-derived planner decision as the Pregel runner: static
    # rounds at a derived partition count when the per-round data is
    # floor-bound, AQE (no-op scope) otherwise — see engine/superstep.py
    spark = graph.vertices.sparkSession
    static_p = PregelRunner._static_step_partitions(graph, spark)
    with static_plan_scope(spark, static_p):
        for _ in range(supersteps):
            # Normalization scalars cancel through the linear gathers:
            #   auth_t = A_t/||A_t||  with A_t   = gather_in(hub_{t-1})
            #   hub_t  = B_t/||B_t||  with B_t   = gather_out(auth_t)
            #                              = gather_out(A_t)/||A_t||
            # so BOTH gathers run on unnormalized sums and the round needs
            # ONE driver collect (both L2 norms in a single union-agg job,
            # like the runner's per-superstep aggregator collect).
            araw = _gather(de, state.select("id", "hub"), "src", "dst", "hub")
            braw = _gather(
                de, araw.withColumnRenamed("_s", "auth"), "dst", "src", "auth"
            )
            # each agg row is tagged with a literal side key and unpacked
            # BY KEY — the row order of a unioned collect is plan-order
            # today but contracted nowhere, and a silent a/b swap would
            # flip hub/auth normalization
            norms = (
                araw.agg(F.sqrt(F.sum(F.col("_s") * F.col("_s"))).alias("n"))
                .select(F.lit("a").alias("side"), "n")
                .unionAll(
                    braw.agg(F.sqrt(F.sum(F.col("_s") * F.col("_s"))).alias("n"))
                    .select(F.lit("b").alias("side"), "n")
                )
                .collect()
            )
            # edgeless graph: empty gathers sum to NULL -> keep zero scores
            by_side = {r["side"]: float(r["n"] or 1.0) for r in norms}
            na, nb = by_side["a"], by_side["b"]
            state = (
                vertices.join(araw.withColumnRenamed("_s", "_a"), "id", "left")
                .join(braw.withColumnRenamed("_s", "_b"), "id", "left")
                .select(
                    "id",
                    (F.coalesce(F.col("_a"), F.lit(0.0)) / F.lit(na)).alias("auth"),
                    (F.coalesce(F.col("_b"), F.lit(0.0)) / F.lit(nb)).alias("hub"),
                )
                .localCheckpoint(eager=False)
            )
    return HitsResult(state=state, supersteps=supersteps)


def _gather(
    de: DataFrame, scores: DataFrame, src: str, dst: str, in_col: str
) -> DataFrame:
    """Sum `in_col` over the `src`-side endpoints into each `dst`
    endpoint — the per-half-round E-shuffle, returned as a lazy
    lineage cut (stored on first materialization, read as an RDD leaf
    by every later reference)."""
    return (
        de.join(scores.withColumnRenamed("id", src), src)
        .groupBy(F.col(dst).alias("id"))
        .agg(F.sum(in_col).alias("_s"))
        .localCheckpoint(eager=False)
    )


def hits_top(result: DataFrame, k: int, by: str = "auth") -> DataFrame:
    """Reference-style RESULT_LIMIT output cap: top-k by `by` with a
    deterministic (rounded-score, id) tie-break — TakeOrderedAndProject,
    never a full sort at scale."""
    return result.orderBy(
        F.round(F.col(by), 6).desc(), F.col("id").asc()
    ).limit(k)


def hits_reference_check(edges: list[tuple[str, str]], supersteps: int) -> dict:
    """Pure-Python replay of the identical update rule for pytest parity
    (no Spark): returns {id: (auth, hub)}."""
    nodes = sorted({v for e in edges for v in e})
    dedup = sorted(set(edges))
    auth = {v: 1.0 for v in nodes}
    hub = {v: 1.0 for v in nodes}
    for _ in range(supersteps):
        auth = {v: 0.0 for v in nodes}
        for u, v in dedup:
            auth[v] += hub[u]
        n = math.sqrt(sum(x * x for x in auth.values()))
        auth = {v: x / n for v, x in auth.items()}
        hub = {v: 0.0 for v in nodes}
        for u, v in dedup:
            hub[u] += auth[v]
        n = math.sqrt(sum(x * x for x in hub.values()))
        hub = {v: x / n for v, x in hub.items()}
    return {v: (auth[v], hub[v]) for v in nodes}
