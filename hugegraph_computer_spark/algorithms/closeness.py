"""ClosenessCentrality — per-vertex map of shortest in-distances,
C(v) = sum over reachable starts of 1/d(start -> v).

Reference: /root/reference/computer-algorithm/.../centrality/closeness/
ClosenessCentrality.java:82-173 + ClosenessCentralityOutput.java:50-56.
Every vertex floods (start, distance) pairs along out-edges; receivers
keep the per-start minimum (skipping start == self), forward
improvements with the edge weight added (default 1.0 when the weight
property is absent), and the final centrality is sum(1/d) over the
distance map. The reference's sender/start exclusions when forwarding
(ClosenessCentrality.java:137-141) and its optional random edge
sampling only prune redundant messages — with positive weights the
min-distance fixpoint is unchanged — so this implementation gathers
with a (dst, start) min-combiner and scatters only improvements
(sample_rate = 1.0, the reference default).

State here is the exploded form of the reference's MapValue: one row
per (vertex, start) pair instead of a map column — Spark-first (joins/
aggregations instead of per-row map mutation), spill-safe, and the
pair count is bounded by reachability, not V^2, on sparse DAG-ish
graphs. The driver loop is a standalone fixpoint (vote-to-halt ==
frontier empties), not the vertex-state runner, because state is
per-PAIR.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def closeness_centrality(
    g, max_rounds: int = 64, sample_rate: float | None = None
) -> DataFrame:
    """Returns (id, n_reachable, centrality) for every vertex;
    centrality = 0.0 for vertices nothing reaches.

    sample_rate: the reference's sampling lever
    (ClosenessCentrality.java:46-47,156-159) — restrict the START set to
    the deterministic md5-hash sample (source_sample_predicate), so the
    per-(vertex, start) state is linear in the sampled-start count.
    At 10^12-turn scale full closeness floods V^2 pairs; the sampled
    estimator is how this runs there (centrality sums 1/d over sampled
    starts only — an unbiased 1/rate-scalable estimate)."""
    from hugegraph_computer_spark.algorithms.betweenness import (
        source_sample_predicate,
    )

    e = g.edges.select(
        F.col("src").alias("e_src"),
        F.col("dst").alias("e_dst"),
        F.coalesce(F.col("weight"), F.lit(1.0)).alias("w"),
    )

    # superstep 0: (start=self, dist=w) to every out-target
    frontier = e.select(
        F.col("e_dst").alias("id"),
        F.col("e_src").alias("start"),
        F.col("w").alias("dist"),
    ).where(F.col("id") != F.col("start"))
    if sample_rate is not None:
        frontier = frontier.where(
            source_sample_predicate(F.col("start"), sample_rate)
        )
    from hugegraph_computer_spark.engine.pin import cut

    # round-6 round plumbing: lazy lineage cuts whose materializing
    # count doubles as the emptiness check — replaces one eager
    # checkpoint pass + one isEmpty job per frame per round
    frontier, (n_frontier,) = cut(
        frontier.groupBy("id", "start").agg(F.min("dist").alias("dist"))
    )

    dists = frontier  # accumulated per-(vertex,start) minima
    rounds = 0
    while rounds < max_rounds:
        rounds += 1
        if n_frontier == 0:
            break
        # forward improvements: dist + w to out-targets (skip start/self)
        fwd = (
            frontier.join(e, frontier["id"] == e["e_src"])
            .select(
                F.col("e_dst").alias("id"),
                "start",
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .where((F.col("id") != F.col("start")))
        )
        cand = fwd.groupBy("id", "start").agg(F.min("dist").alias("dist"))
        # keep only true improvements vs accumulated state
        old = dists.select("id", "start", F.col("dist").alias("old"))
        improved, (n_frontier,) = cut(
            cand.join(old, ["id", "start"], "left")
            .where(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("id", "start", "dist")
        )
        if n_frontier == 0:
            break
        # lazy cut: materialized by the next round's improvement join
        # (or the final centrality aggregation), then read as stored
        dists = (
            dists.unionByName(improved)
            .groupBy("id", "start")
            .agg(F.min("dist").alias("dist"))
        ).localCheckpoint(eager=False)
        frontier = improved

    cent = dists.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_reachable"),
        F.sum(1.0 / F.col("dist")).alias("centrality"),
    )
    return g.vertices.join(cent, "id", "left").select(
        "id",
        F.coalesce("n_reachable", F.lit(0)).cast("long").alias("n_reachable"),
        F.coalesce("centrality", F.lit(0.0)).alias("centrality"),
    )
