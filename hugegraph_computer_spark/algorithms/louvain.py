"""Louvain community detection (A11) — the reference's last algorithm
gap, re-expressed Spark-first.

Reference: /root/reference/computer-algorithm/.../community/louvain/
Louvain.java:54-62 + HGModularityOptimizer.java:92-195. The reference
pulls the whole graph to ONE process and runs the classic sequential
local-move loop — it does not scale past one node by design. This
implementation is the standard distributed reformulation (synchronous
parallel local moves + graph coarsening between levels), so exactness
to the reference's vertex-visit order is impossible AND meaningless:
Louvain is an order-dependent heuristic whose contract is "modularity
goes up per phase", which is what the tests assert (plus equality with
a pure-Python oracle that replays the identical deterministic rule).

Structure per level:
  local-move rounds: every vertex computes, from ONE join of the
    adjacency with the community assignment, its weight to each
    neighbor community; gain of moving v from c_v to c_n (standard
    Louvain delta-modularity, HGModularityOptimizer.java:139-155):

      gain ~ [w(v->c_n) - k_v*tot(c_n)/2m] - [w(v->c_v) - k_v*(tot(c_v)-k_v)/2m]

    argmax per vertex via window (ties -> smaller community id). To
    keep synchronous moves from oscillating (vertices swapping
    communities forever), rounds alternate a move DIRECTION: even
    rounds admit only targets with a smaller community label, odd
    rounds only larger — a 2-cycle swap needs opposite directions in
    one round, so it cannot happen; the rule is deterministic and
    reproducible in the pure-Python oracle. The phase ends when a full
    direction sweep (both parities) moves nothing (or max_rounds).
  coarsen: communities become super-vertices; edge weights aggregate;
    intra-community mass becomes self-loops (excluded from move gains,
    included in k_i / modularity — the directed-row convention where
    the coarsened self-loop row carries BOTH directions' weight).

Every step is groupBy/join/window on O(E) rows — no collect of the
graph, no per-row Python; at 100 TB each round is two shuffles
(nbr-community gather + community totals) on the (src) key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.pin import pin

_EPS = 1e-12


def _undirected_adj(edges: DataFrame) -> DataFrame:
    """(src, dst, w): symmetric directed-row adjacency — every directed
    input record contributes its weight in both directions; parallel
    edges merge. Self-loops dropped at level 0 (none in the derived
    graph; coarsening re-creates them with defined semantics)."""
    both = edges.select(
        "src", "dst", F.coalesce(F.col("weight"), F.lit(1.0)).alias("w")
    ).unionByName(
        edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.coalesce(F.col("weight"), F.lit(1.0)).alias("w"),
        )
    )
    return (
        both.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


def _degrees(adj: DataFrame) -> DataFrame:
    """(id, k): weighted degree, self-loop rows counted once at their
    (already both-direction) weight."""
    return adj.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("k"))


def modularity(adj: DataFrame, comm: DataFrame) -> float:
    """Q = sum_c [ in(c)/2m - (tot(c)/2m)^2 ] over the directed-row
    adjacency (in(c) counts both directions; self-loop rows count once)."""
    k = _degrees(adj)
    ck = comm.join(k, "id")
    m2 = ck.agg(F.sum("k")).collect()[0][0]
    if not m2:
        return 0.0
    cs = comm.select(F.col("id").alias("src"), F.col("c").alias("c_src"))
    cd = comm.select(F.col("id").alias("dst"), F.col("c").alias("c_dst"))
    intra = (
        adj.join(cs, "src")
        .join(cd, "dst")
        .where(F.col("c_src") == F.col("c_dst"))
        .groupBy("c_src")
        .agg(F.sum("w").alias("in_w"))
    )
    tots = ck.groupBy("c").agg(F.sum("k").alias("tot"))
    row = (
        tots.join(intra, tots["c"] == intra["c_src"], "left")
        .agg(
            F.sum(
                F.coalesce(F.col("in_w"), F.lit(0.0)) / F.lit(m2)
                - (F.col("tot") / F.lit(m2)) ** 2
            )
        )
        .collect()[0][0]
    )
    return float(row)


def _local_move_phase(
    adj: DataFrame, max_rounds: int
) -> tuple[DataFrame, int]:
    """Parallel local moves until a full parity sweep moves nothing.
    Returns (comm(id, c), moves_made)."""
    nbr = adj.where(F.col("src") != F.col("dst"))  # self-loops fixed wrt moves
    k = _degrees(adj).persist()
    m2 = k.agg(F.sum("k")).collect()[0][0]
    comm = pin(k.select("id", F.col("id").alias("c")))

    total_moves = 0
    idle_rounds = 0
    for r in range(max_rounds):
        cd = comm.select(F.col("id").alias("dst"), F.col("c").alias("c_n"))
        # one gather: v's total edge weight into each neighbor community
        w_vc = (
            nbr.join(cd, "dst")
            .groupBy(F.col("src").alias("id"), "c_n")
            .agg(F.sum("w").alias("w_vc"))
        )
        tot = (
            comm.join(k, "id").groupBy("c").agg(F.sum("k").alias("tot"))
        )
        cur = (
            comm.join(k, "id")
            .join(tot, "c")
            .select("id", "c", "k", F.col("tot").alias("tot_cur"))
        )
        # weight into own community (0 when none of v's neighbors share it)
        own = w_vc.select("id", F.col("c_n").alias("c"), F.col("w_vc").alias("w_own"))
        cur = cur.join(own, ["id", "c"], "left").withColumn(
            "w_own", F.coalesce("w_own", F.lit(0.0))
        )
        cand = (
            w_vc.join(tot.withColumnRenamed("c", "c_n"), "c_n")
            .join(cur, "id")
            .where(F.col("c_n") != F.col("c"))
        )
        gain = (
            F.col("w_vc") - F.col("k") * F.col("tot") / F.lit(m2)
        ) - (
            F.col("w_own")
            - F.col("k") * (F.col("tot_cur") - F.col("k")) / F.lit(m2)
        )
        w_best = Window.partitionBy("id").orderBy(
            F.desc("gain"), F.asc("c_n")
        )
        # alternating direction: argmax over the round's admissible targets
        direction = (
            F.col("c_n") < F.col("c") if r % 2 == 0 else F.col("c_n") > F.col("c")
        )
        best = (
            cand.where(direction)
            .select("id", "c", "c_n", gain.alias("gain"))
            .withColumn("_rn", F.row_number().over(w_best))
            .where((F.col("_rn") == 1) & (F.col("gain") > _EPS))
            .select("id", F.col("c_n").alias("c_new"))
        )
        n_moves = best.count()
        if n_moves == 0:
            idle_rounds += 1
            if idle_rounds >= 2:  # both parities idle -> fixpoint
                break
            continue
        idle_rounds = 0
        total_moves += n_moves
        comm = pin(
            comm.join(best, "id", "left")
            .select("id", F.coalesce("c_new", "c").alias("c"))
        )
    k.unpersist()
    return comm, total_moves


def _coarsen(adj: DataFrame, comm: DataFrame) -> DataFrame:
    """Contract communities: (c_src, c_dst, sum w); intra-community mass
    becomes self-loop rows (carrying both directions' weight)."""
    cs = comm.select(F.col("id").alias("src"), F.col("c").alias("c_src"))
    cd = comm.select(F.col("id").alias("dst"), F.col("c").alias("c_dst"))
    return (
        adj.join(cs, "src")
        .join(cd, "dst")
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )


def louvain(
    g,
    max_levels: int = 4,
    max_rounds_per_level: int = 12,
    min_gain: float = 1e-6,
    history: list | None = None,
) -> DataFrame:
    """Returns (id, community) for every vertex; community = min member
    id (deterministic labels). Vertices with no edges stay singletons.
    `history`, when given, receives one {level, modularity, moves} dict
    per level (modularity measured on the ORIGINAL graph)."""
    adj0 = _undirected_adj(g.edges).persist()
    adj0.count()

    # membership(orig id -> current community), composed across levels
    membership = None
    adj = adj0
    prev_q = modularity(adj0, adj0.select(F.col("src").alias("id")).distinct()
                        .select("id", F.col("id").alias("c")))
    for _level in range(max_levels):
        comm, moves = _local_move_phase(adj, max_rounds_per_level)
        if membership is None:
            membership = comm
        else:
            lift = comm.select(F.col("id").alias("c"), F.col("c").alias("c2"))
            membership = pin(
                membership.join(lift, "c").select("id", F.col("c2").alias("c"))
            )
        q = modularity(adj0, membership)
        if history is not None:
            history.append({"level": _level, "modularity": q, "moves": moves})
        if moves == 0 or q - prev_q < min_gain:
            prev_q = max(prev_q, q)
            break
        prev_q = q
        adj = pin(_coarsen(adj, comm))

    # deterministic labels: community := min original member id;
    # isolated vertices (no adjacency rows) are their own singleton
    lab = membership.groupBy("c").agg(F.min("id").alias("community"))
    out = membership.join(lab, "c").select("id", "community")
    adj0.unpersist()
    return (
        g.vertices.join(out, "id", "left")
        .select("id", F.coalesce("community", "id").alias("community"))
    )
