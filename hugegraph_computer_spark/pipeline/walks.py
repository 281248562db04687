"""Deterministic random walks — training-data generation for graph
embeddings (DeepWalk/node2vec-style corpora) at 100 TB scale.

Pseudo-randomness is a hash, not an RNG: at step t a walker on walk
index `walk` at vertex v follows out-edge index
md5int(v || ':' || walk || ':' || t) % outdeg(v) over the distinct
(src, dst) edge list ordered by dst (the per-walk index salts the hash
so a vertex's walks diverge deterministically). Fully deterministic →
reproducible corpora, resumable mid-generation, and mirrorable in ANSI
SQL for the correctness gate (md5 is the portable hash: Spark
conv(substr(md5, 1, 15), 16, 10) == DuckDB ('0x' || substr)::BIGINT).

Each step is TWO equi-joins, both output-bounded by the walker count:

  1. frontier ⋈ degree table on cur == d_src   (O(V) rows on the right)
     → compute pick = hash % deg              (one row per walker)
  2. frontier ⋈ indexed edges on BOTH keys (cur, pick) == (e_src, e_idx)
     → exactly one matching edge row per walker.

The two-key equi-join is the load-bearing scale property: a single-key
join on cur == e_src followed by a filter on e_idx == pick would
materialize deg(v) rows per walker before filtering — a degree-10^6 hub
would shuffle 10^6 rows per walker per step. With the pick computed
first against the O(V) degree table, the edge join's output is exactly
|walkers| rows regardless of skew (hash partitioned on (src, idx), AQE
skew-split on residual build-side imbalance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _md5int(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def indexed_edges(edges: DataFrame) -> DataFrame:
    """(src, dst, idx, deg) over the distinct directed edge list,
    idx dense 0..deg-1 in dst order."""
    de = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    return de.select(
        "src",
        "dst",
        (F.row_number().over(w) - 1).alias("idx"),
        F.count(F.lit(1)).over(Window.partitionBy("src")).alias("deg"),
    )


def random_walks(g, walk_len: int = 6, walks_per_node: int = 1) -> DataFrame:
    """walks_per_node walks per vertex: returns (start, walk, step, node)
    rows, step 0 = the start vertex itself; `walk` is the per-start walk
    index, salted into the hash so walks diverge deterministically."""
    from hugegraph_computer_spark.engine.pin import cut

    # renamed columns: the frontier re-joins this table every step, so
    # unprefixed names would be ambiguous self-join references. Pinned
    # once (round 6): the walk loop references it walk_len-1 times, and
    # without the pin each step's plan re-embeds (and trusts exchange
    # reuse to dedupe) the distinct+window subtree.
    eidx, _ = cut(
        indexed_edges(g.edges).select(
            F.col("src").alias("e_src"),
            F.col("dst").alias("e_dst"),
            F.col("idx").cast("long").alias("e_idx"),
            F.col("deg").alias("e_deg"),
        )
    )
    # O(V)-sized degree table for phase 1 (pick computation) — sliced
    # from the pinned index (idx 0 row per src) instead of a second
    # distinct+groupBy pass over the edge list (round 6: one shuffle
    # and one edge scan fewer; values identical by construction)
    vdeg = eidx.where(F.col("e_idx") == 0).select(
        F.col("e_src").alias("d_src"), F.col("e_deg").alias("d_deg")
    )
    spark = g.vertices.sparkSession
    salts = spark.range(walks_per_node).select(F.col("id").cast("int").alias("walk"))
    frontier = g.vertices.crossJoin(salts).select(
        F.col("id").alias("start"), "walk", F.col("id").alias("cur")
    )
    out = frontier.select(
        "start", "walk", F.lit(0).alias("step"), F.col("cur").alias("node")
    )
    for t in range(1, walk_len):
        pick = (
            _md5int(
                F.concat(
                    F.col("cur"), F.lit(":"), F.col("walk").cast("string"), F.lit(f":{t}")
                )
            )
            % F.col("d_deg")
        )
        # phase 1: one row per walker — pick the out-edge index
        picked = frontier.join(vdeg, F.col("cur") == F.col("d_src")).select(
            "start", "walk", "cur", pick.alias("pick")
        )
        # phase 2: two-key equi-join — exactly one edge row per walker
        frontier = picked.join(
            eidx,
            (F.col("cur") == F.col("e_src")) & (F.col("pick") == F.col("e_idx")),
        ).select("start", "walk", F.col("e_dst").alias("cur"))
        out = out.unionByName(
            frontier.select(
                "start", "walk", F.lit(t).alias("step"), F.col("cur").alias("node")
            )
        )
    return out
