"""BetweennessCentrality — shortest-path (hop-metric) betweenness via
message flooding, reference-exact values.

Reference: /root/reference/computer-algorithm/.../centrality/betweenness/
BetweennessCentrality.java:98-219. The reference floods growing id
sequences: superstep 0 sends [self] everywhere; a vertex accepts a
sequence only the FIRST superstep a given source reaches it (BFS level
== hop-shortest distance; arrivedVertices set, :154-157), counts per
source the accepted sequences (totalCount == sigma_s(self)) and each
intermediate vertex's occurrences (idCount == sigma through that
vertex), then votes idCount/totalCount back to every intermediate
(:181-191) — the Brandes pair dependency sigma_s(v)*sigma_v(t)/sigma_s(t)
summed over (s, t). Sampling (sample_rate) and the storePerf cap are
OFF here (the reference defaults that make results exact).

Spark shape: the per-vertex arrivedVertices set and seqTable become
relational state — an `arrived(v, source)` pair DataFrame and
aggregations over the accepted-message DataFrame — no giant array
columns, spill-safe. Path messages die at sink vertices; on the
transcript graph (chains + hub sinks) the message volume stays
O(V x chain length).

Scale note: this is the one algorithm whose worst-case message volume
is super-linear (all shortest-path prefixes); the reference caps it
with sampling + storePerf, and this implementation exposes the same
lever (max_rounds) — at 100 TB you run it on a sampled source set,
exactly as the reference intends.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def source_sample_predicate(col: Column, sample_rate: float) -> Column:
    """Deterministic source sampling: keep ids whose portable md5-long
    hash falls below rate*1000 of the 0..999 range. The reference's
    `sample_rate` (ClosenessCentrality.java:46-47,156-159 and
    BetweennessCentrality.java:129-140) draws per-message randoms; a
    HASH sample is the Spark-native equivalent — same expected volume
    reduction, but reproducible across runs/retries and expressible in
    the SQL oracle (md5 is engine-portable)."""
    h = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
    return F.pmod(h, F.lit(1000)) < int(round(sample_rate * 1000))


def betweenness_centrality(g, max_rounds: int = 32) -> DataFrame:
    """Returns (id, betweenness) — directed, unnormalized, hop metric."""
    e = g.edges.select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst")
    ).distinct()  # one hop per neighbor pair, like vertex.edges() iteration
    # NOTE: reference iterates edge records; duplicate (src,dst) records
    # would duplicate messages. Our derived edge families are unique per
    # (src,dst,etype) but families can overlap (uses/copart) -> distinct
    # matches "neighbors", and the pytest oracle uses the same view.

    # superstep 0: seq=[self] to all out-targets
    frontier = e.select(
        F.col("e_dst").alias("dst"), F.array(F.col("e_src")).alias("seq")
    ).localCheckpoint(eager=True)

    spark = g.vertices.sparkSession
    arrived = g.vertices.select(
        F.col("id").alias("v"), F.col("id").alias("source")
    ).localCheckpoint(eager=True)  # self counts as arrived (compute0)
    votes_acc = spark.createDataFrame([], "id string, vote double")

    rounds = 0
    while rounds < max_rounds and not frontier.isEmpty():
        rounds += 1
        msg = frontier.select("dst", "seq", F.col("seq")[0].alias("source"))
        accepted = msg.join(
            arrived,
            (msg["dst"] == arrived["v"]) & (msg["source"] == arrived["source"]),
            "left_anti",
        ).localCheckpoint(eager=True)

        # votes: per (dst, source): total accepted; per intermediate:
        # occurrences; vote = count/total to each intermediate
        totals = accepted.groupBy("dst", "source").agg(
            F.count(F.lit(1)).alias("total")
        )
        inter = (
            accepted.select(
                "dst",
                "source",
                F.explode(F.slice("seq", 2, 1_000_000)).alias("mid"),
            )
            .groupBy("dst", "source", "mid")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        votes = inter.join(totals, ["dst", "source"]).select(
            F.col("mid").alias("id"),
            (F.col("cnt").cast("double") / F.col("total")).alias("vote"),
        )
        votes_acc = votes_acc.unionByName(votes).localCheckpoint(eager=True)

        arrived = arrived.unionByName(
            accepted.select(F.col("dst").alias("v"), "source").distinct()
        ).localCheckpoint(eager=True)

        # forward: seq+[dst] to out-targets not already on the path
        ext = accepted.select(
            "dst", F.concat("seq", F.array(F.col("dst"))).alias("seq")
        )
        frontier = (
            ext.join(e, ext["dst"] == e["e_src"])
            .where(~F.array_contains(F.col("seq"), F.col("e_dst")))
            .select(F.col("e_dst").alias("dst"), "seq")
            .localCheckpoint(eager=True)
        )

    bw = votes_acc.groupBy("id").agg(F.sum("vote").alias("betweenness"))
    return g.vertices.join(bw, "id", "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )


def betweenness_brandes(g, max_rounds: int = 32) -> DataFrame:
    """Scale-path variant: the same values via the Brandes identity —
    BFS-with-path-counts from all sources simultaneously (one frontier
    DataFrame of (s, v, sigma) rows per hop level), then

        bw(v) = sum over (s, t): sigma_s(v) * sigma_v(t) / sigma_s(t)
                where d(s,t) = d(s,v) + d(v,t)

    Message volume is O(reachable pairs), not O(all shortest-path
    prefixes): on hub-sink transcript graphs this is ~40x faster than
    the flooding protocol and value-identical (verified in tests and by
    the shared SQL oracle). This is the formulation to run at 10^12-turn
    scale (for the sampled-source estimator, which BFS-restricts the
    frontier too, see betweenness_brandes_sampled)."""
    from hugegraph_computer_spark.engine.pin import cut

    e = g.edges.select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst")
    ).distinct().persist()

    # round-6 round plumbing (same shape closeness got): each frame is
    # a lazy lineage cut whose materializing count doubles as the
    # emptiness check — replaces one eager-checkpoint pass + one
    # isEmpty job per frame per round. Values unchanged: only the
    # materialization timing moves.
    # hop-level BFS with path counts; `reach` accumulates finalized rows
    frontier, (n,) = cut(
        e.where(F.col("e_src") != F.col("e_dst")).select(
            F.col("e_src").alias("s"),
            F.col("e_dst").alias("v"),
            F.lit(1).alias("dist"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    reach = frontier
    rounds = 1
    while rounds < max_rounds and n > 0:
        rounds += 1
        nxt = (
            frontier.join(e, frontier["v"] == e["e_src"])
            .where(F.col("e_dst") != F.col("s"))
            .groupBy("s", F.col("e_dst").alias("v2"))
            .agg(F.sum("sigma").alias("sigma"), F.max("dist").alias("d"))
        )
        seen = reach.select("s", F.col("v").alias("v2")).withColumn(
            "_seen", F.lit(True)
        )
        frontier, (n,) = cut(
            nxt.join(seen, ["s", "v2"], "left")
            .where(F.col("_seen").isNull())
            .select(
                "s",
                F.col("v2").alias("v"),
                (F.col("d") + 1).alias("dist"),
                "sigma",
            )
        )
        if n == 0:
            break
        # lazy cut: materialized inside the next round's frontier count
        # (via `seen`) or, for the last round, by the final triple join
        reach = reach.unionByName(frontier).localCheckpoint(eager=False)

    sv = reach.select(
        F.col("s").alias("sv_s"), F.col("v").alias("mid"),
        F.col("dist").alias("sv_d"), F.col("sigma").alias("sv_sig"),
    )
    vt = reach.select(
        F.col("s").alias("mid"), F.col("v").alias("t"),
        F.col("dist").alias("vt_d"), F.col("sigma").alias("vt_sig"),
    )
    st = reach.select(
        F.col("s").alias("sv_s"), F.col("v").alias("t"),
        F.col("dist").alias("st_d"), F.col("sigma").alias("st_sig"),
    )
    dep = (
        sv.join(vt, "mid")
        .join(st, ["sv_s", "t"])
        .where(F.col("st_d") == F.col("sv_d") + F.col("vt_d"))
        .groupBy("mid")
        .agg(
            F.sum(
                F.col("sv_sig").cast("double") * F.col("vt_sig") / F.col("st_sig")
            ).alias("betweenness")
        )
    )
    e.unpersist()
    return g.vertices.join(dep, g.vertices["id"] == dep["mid"], "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )


def betweenness_brandes_sampled(
    g, sample_rate: float = 1.0, max_rounds: int = 32
) -> DataFrame:
    """Sampled-source Brandes via backward dependency accumulation —
    the 10^12-turn-scale mode (the reference's `sample_rate` lever,
    BetweennessCentrality.java:129-140; ClosenessCentrality exposes the
    same knob, :46-47).

    Forward phase: BFS-with-path-counts ONLY from the deterministic
    hash sample of sources (source_sample_predicate) — unlike the
    triple-join identity in betweenness_brandes, BOTH the forward cost
    and the result restrict to sampled s, so work scales linearly with
    the sample. Backward phase: per-level dependency sweep
    (delta_s(v) = sum over successors w on s's shortest-path DAG of
    sigma_s(v)/sigma_s(w) * (1 + delta_s(w))), which telescopes to
    sum over t of sigma_s(v)*sigma_v(t)/sigma_s(t) on distance-additive
    pairs — so sample_rate=1.0 reproduces betweenness_brandes values
    EXACTLY (pytest-asserted), and any rate matches the SQL oracle's
    source-filtered triple join."""
    from hugegraph_computer_spark.engine.pin import cut

    e = g.edges.select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst")
    ).distinct().persist()

    # round-6 round plumbing: lazy cuts + count-as-emptiness-check, as
    # in betweenness_brandes above (values unchanged)
    frontier, (n,) = cut(
        e.where(F.col("e_src") != F.col("e_dst"))
        .where(source_sample_predicate(F.col("e_src"), sample_rate))
        .select(
            F.col("e_src").alias("s"),
            F.col("e_dst").alias("v"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    levels: list[DataFrame] = [frontier]  # levels[d-1] = frontier at dist d
    seen = frontier.select("s", "v").localCheckpoint(eager=False)
    while len(levels) < max_rounds and n > 0:
        nxt = (
            frontier.join(e, frontier["v"] == e["e_src"])
            .where(F.col("e_dst") != F.col("s"))
            .groupBy("s", F.col("e_dst").alias("v2"))
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt, (n,) = cut(
            nxt.join(
                seen.withColumnRenamed("v", "v2").withColumn("_seen", F.lit(True)),
                ["s", "v2"],
                "left",
            )
            .where(F.col("_seen").isNull())
            .select("s", F.col("v2").alias("v"), "sigma")
        )
        if n == 0:
            break
        frontier = nxt
        levels.append(frontier)
        seen = seen.unionByName(frontier.select("s", "v")).localCheckpoint(
            eager=False
        )

    # backward sweep: delta at the deepest level is 0; each level down
    # gathers sigma_v/sigma_w * (1 + delta_w) from successors at d+1
    spark = g.vertices.sparkSession
    acc = None  # union of (v, delta) contributions across levels
    delta = levels[-1].select(
        "s", "v", "sigma", F.lit(0.0).alias("delta")
    )
    for d in range(len(levels) - 2, -1, -1):
        succ = delta.select(
            F.col("s").alias("w_s"),
            F.col("v").alias("w"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta").alias("w_delta"),
        )
        cur = levels[d]
        contrib = (
            cur.join(e, cur["v"] == e["e_src"])
            .join(
                succ,
                (cur["s"] == succ["w_s"]) & (F.col("e_dst") == succ["w"]),
            )
            .groupBy("s", "v")
            .agg(
                F.sum(
                    F.col("sigma").cast("double")
                    / F.col("w_sigma")
                    * (F.lit(1.0) + F.col("w_delta"))
                ).alias("delta")
            )
        )
        # lazy cuts: the whole backward sweep then materializes under
        # the single final aggregation job (every per-level plan is
        # still converted/stage-executed at cut time, so plans stay
        # bounded), instead of paying an eager store pass per level
        delta = (
            cur.join(contrib, ["s", "v"], "left")
            .select(
                "s", "v", "sigma", F.coalesce("delta", F.lit(0.0)).alias("delta")
            )
            .localCheckpoint(eager=False)
        )
        part = delta.where(F.col("delta") > 0).select("v", "delta")
        acc = part if acc is None else acc.unionByName(part)
        acc = acc.localCheckpoint(eager=False)

    e.unpersist()
    if acc is None:
        acc = spark.createDataFrame([], "v string, delta double")
    bw = acc.groupBy("v").agg(F.sum("delta").alias("betweenness"))
    return g.vertices.join(bw, g.vertices["id"] == bw["v"], "left").select(
        "id", F.coalesce("betweenness", F.lit(0.0)).alias("betweenness")
    )
