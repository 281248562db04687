"""Fast weakly-connected components — min-relaxation + pointer jumping,
O(log d) shuffle rounds instead of O(d) supersteps.

The reference's WCC (computer-algorithm/.../community/wcc/Wcc.java:34-73)
propagates the minimum id one hop per superstep, so its superstep count
is the graph diameter d — at 10^12-turn scale every extra superstep is a
full O(E) shuffle. This operator reaches the identical fixpoint (every
vertex labeled with the minimum id of its weakly-connected component,
byte-order comparison as in BytesId.java:224-231) in O(log d) rounds by
alternating:

1. **relax** (large-star) — adopt the minimum label among the
   undirected neighborhood (one scatter join + min combine, exactly one
   hop of the reference's message passing),
2. **notify** (small-star) — every vertex whose label improved sends the
   new label to its OLD root, so the root of a star region learns the
   best label any of its members found this round (a V-sized shuffle,
   tiny next to the E-sized relax), then
3. **jump** — adopt the label OF the current label
   (``comp(v) <- comp(comp(v))``, a self-equi-join on the label column),
   which broadcasts the root's improved label to the entire region.

Labels are always vertex ids of the same component and are monotonically
non-increasing, so all three steps are sound. Min-relaxation partitions
the graph into star regions around local-minimum ids; per round, every
region adopts the best label of any adjacent region (notify carries it
to the root, jump fans it back out), so the number of distinct regions
drops geometrically — convergence in O(log n) rounds (the alternating
large-star/small-star construction — Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14 — expressed on the label
forest instead of a rewritten edge set). Without the notify step the
jump alone degenerates to ~one hop per round on random id layouts
(chains of length 1); measured at sf0.1: 14 rounds without, 5 with.

Scale design: per round, ONE E-sized shuffle (the relax scatter) plus
two V-sized shuffles over (id, comp) pairs — 16-byte rows after
`Graph.densify()`. The E-shuffle count is what the reference's
formulation loses at 100-TB scale: on the sf0.1 graph this converges in
5 rounds (5 E-shuffles) where the reference loop takes 17 supersteps
(17 E-shuffles), and the gap widens with diameter. At gate scale both
are scheduler-floor-bound, so the walls are comparable; the win is the
shuffle-round count, which dominates once each scatter is minutes of
cluster work.
The symmetrized edge view is pinned once (`engine.pin.pin`); each
round's (id, comp, changed) state is a lazy lineage cut whose one
materializing action also returns the changed-count (`engine.pin.cut`).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.pin import cut, pin, static_plan_scope
from hugegraph_computer_spark.engine.superstep import PregelRunner


@dataclass
class CCResult:
    labels: DataFrame  # (id, comp) — comp = min id of the component
    rounds: int


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected view: src->dst plus the mirror. Duplicates are
    harmless under min-combine, so no distinct shuffle. Shared by the
    engine loop and tools/dump_plans.py so the dumped round plan cannot
    drift from what the engine runs."""
    e = edges.select("src", "dst")
    return e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def cc_round(sym: DataFrame, state: DataFrame) -> DataFrame:
    """One relax+notify+jump round: (id, comp) -> (id, comp, changed).
    Exactly one E-sized shuffle (the relax scatter) plus two V-sized
    (id, comp) shuffles — the plan shape docs/PLANS.md dumps."""
    # relax: one hop of reference message passing (min combiner)
    nbr = (
        sym.join(state, sym["src"] == state["id"])
        .groupBy(F.col("dst").alias("id"))
        .agg(F.min("comp").alias("cand"))
    )
    relaxed = state.join(nbr, "id", "left").select(
        "id",
        F.col("comp").alias("old_comp"),
        F.least("comp", F.coalesce("cand", "comp")).alias("comp"),
    )
    # notify: improved vertices report the new label to their old
    # root, so star regions merge wholesale instead of one boundary
    # hop per round (the small-star step on the label forest)
    to_root = (
        relaxed.where(F.col("comp") < F.col("old_comp"))
        .groupBy(F.col("old_comp").alias("id"))
        .agg(F.min("comp").alias("root_cand"))
    )
    informed = relaxed.join(to_root, "id", "left").select(
        "id",
        "old_comp",
        F.least("comp", F.coalesce("root_cand", "comp")).alias("comp"),
    )
    # jump: comp <- comp(comp). Labels are vertex ids, so the lookup
    # is an equi-join of the state against itself on (comp = id);
    # left join + coalesce keeps rows whose label is already a root.
    target = informed.select(
        F.col("id").alias("t_id"), F.col("comp").alias("t_comp")
    )
    jumped = informed.join(
        target, informed["comp"] == target["t_id"], "left"
    ).select(
        informed["id"],
        "old_comp",
        F.least(
            informed["comp"], F.coalesce("t_comp", informed["comp"])
        ).alias("comp"),
    )
    return jumped.select(
        "id", "comp", (F.col("comp") < F.col("old_comp")).alias("changed")
    )


def connected_components(graph, max_rounds: int = 50) -> CCResult:
    """Label every vertex with the minimum id of its weakly-connected
    component (the fixpoint Wcc.java reaches on a both-direction load),
    in O(log d) rounds.

    `graph` is a `Graph`; edges are symmetrized here — pass the base
    (OUT-direction) graph, not `both_direction()` (which would double
    the mirrored rows harmlessly but pointlessly).
    """
    # pin the symmetrized view once: every round's relax join then scans
    # a lineage-free RDD instead of re-planning the union-of-projections
    # (and, when graph.edges itself is unpinned, its whole derivation)
    sym = pin(symmetrize(graph.edges))

    state = graph.vertices.select("id", F.col("id").alias("comp"))
    rounds = 0
    # Same data-derived planner decision as the Pregel runner: when the
    # per-round data is too small to amortize AQE's per-stage job
    # scheduling, run the rounds statically at a derived partition count
    # (None -> no-op scope, AQE behavior unchanged). Round counts are
    # value-driven (exact integer changed-count), so they cannot move.
    spark = graph.vertices.sparkSession
    static_p = PregelRunner._static_step_partitions(graph, spark)
    with static_plan_scope(spark, static_p):
        while rounds < max_rounds:
            rounds += 1
            state, row = cut(
                cc_round(sym, state), F.sum(F.col("changed").cast("long"))
            )
            if not row[0]:  # NULL on an empty graph
                break

    return CCResult(labels=state.select("id", "comp"), rounds=rounds)


def wcc_fast(graph, max_rounds: int = 50) -> DataFrame:
    """(id, comp) labels only — gate-query convenience wrapper."""
    return connected_components(graph, max_rounds=max_rounds).labels
