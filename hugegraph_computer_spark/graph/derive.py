"""Transcript table -> link graph derivation (pure DataFrame ops).

Input shape (BASELINE.json input_hint):
    transcripts(conv_id: string, turn_idx: int, role: string,
                text: string, tool: string|null, ts: timestamp)

Derived graph (FIXTURES.md §2):
    nodes(id)  = turn nodes "{conv_id}#{turn_idx:02d}"
               ∪ role nodes "role:{role}" ∪ tool nodes "tool:{tool}"
    edges(src, dst, weight, etype):
      reply   consecutive turns within a conversation (stable turn
              ordering via Window.partitionBy(conv_id).orderBy(turn_idx))
      mention turn -> tool used in that turn
      uses    role -> tool, weight = interaction count
      copart  role -> tool sharing a conv_id, weight = #shared convs

Graph-construction semantics mirror the reference's loader knobs
(/root/reference/computer-core/.../config/ComputerOptions.java:933-940
`input.vertex_with_edges_bothdirection`, :158-175 `input.edge_freq`):
`Graph.both_direction()` synthesizes dst->src mirror edges with inv=true
(WorkerInputManager.java:155-177); `Graph.undirected_single()` is the
TriangleCount view (bothdirection + edge_freq=SINGLE,
TriangleCountParams.java:41-45). Vertices appearing only as edge targets
still exist (shell vertices, WorkerInputManager.java:167-176) — covered
because nodes() unions every id that edges can reference.

The canonical deterministic mapping from the driver's `events` table to
the transcript shape lives in ``transcripts_from_events`` and is mirrored
verbatim in SQL by ``hugegraph_computer_spark.oracles.sql.TRANSCRIPTS_SQL``
so the DuckDB oracle sees the identical input.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.pin import cut

TURNS_PER_CONV = 16  # caps conversation length -> bounds graph diameter

ROLE_BY_EVENT = {
    "click": "user",
    "view": "assistant",
    "signup": "system",
    "purchase": "agent_0",
}
DEFAULT_ROLE = "agent_1"
TOOL_BY_EVENT = {"click": "search", "purchase": "sql", "error": "code"}


def transcripts_from_events(
    spark: SparkSession, sf_dir: str, expand: int = 1
) -> DataFrame:
    """Deterministically reshape the events table into the transcript
    schema mandated by BASELINE.json input_hint. Pure window + column
    expressions; per-turn text is a pure function of (conv_id, turn_idx)
    so the per-row invariant "per-turn text equality under stable turn
    ordering" holds by construction.

    expand > 1 deterministically replicates the event stream with
    disjoint user-id ranges (no external data) — used by the scaling
    protocol (tools/scaling_report.py) to make per-superstep work
    data-bound so the N-vs-4N efficiency measurement measures the
    engine, not Spark's fixed task-scheduling latency."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if expand > 1:
        # replicate along the EVENT dimension (distinct event_id per
        # copy, same users): each user gets expand x more events ->
        # more conversations per user. This keeps every id inside its
        # lpad width at ANY expansion (lpad TRUNCATES longer strings):
        # conv prefix stays the base user_id (< 10k, 6 digits) and the
        # conv index reaches base_seq x expand / 16 << 10^4 for every
        # tested sf x expand. (A user_id shift, the previous scheme,
        # collides conv prefixes past expand ~100.) Ordering stays
        # deterministic: the seq window orders by (ts, event_id) and
        # copies have distinct event_id.
        # Guard the shift domain: copies collide silently (and the
        # (ts, event_id) ordering tie-break stops being unique) if any
        # base event_id reaches the 1e9 stride. One cheap agg, and only
        # on the expand>1 (scaling-bench) path.
        max_eid = ev.agg(F.max("event_id")).first()[0] or 0
        if max_eid >= 1_000_000_000:
            raise ValueError(
                f"expand>1 requires max(event_id) < 1e9; got {max_eid}"
            )
        copies = spark.range(expand).select(F.col("id").alias("_copy"))
        ev = ev.crossJoin(copies).withColumn(
            "event_id", F.col("event_id") + F.col("_copy") * F.lit(1_000_000_000)
        )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = F.row_number().over(w) - F.lit(1)

    role = F.lit(DEFAULT_ROLE)
    for k, v in sorted(ROLE_BY_EVENT.items()):
        role = F.when(F.col("event_type") == k, F.lit(v)).otherwise(role)
    tool = F.lit(None).cast("string")
    for k, v in sorted(TOOL_BY_EVENT.items()):
        tool = F.when(F.col("event_type") == k, F.lit(v)).otherwise(tool)

    conv_id = F.concat(
        F.lit("conv_"),
        F.lpad(F.col("user_id").cast("string"), 6, "0"),
        F.lit("_"),
        F.lpad(F.floor(seq / TURNS_PER_CONV).cast("string"), 4, "0"),
    )
    turn_idx = (seq % TURNS_PER_CONV).cast("int")
    return (
        ev.select(
            conv_id.alias("conv_id"),
            turn_idx.alias("turn_idx"),
            role.alias("role"),
            tool.alias("tool"),
            F.col("ts"),
        )
        .withColumn(
            "text",
            F.concat(F.lit("t:"), F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string")),
        )
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


def _turn_node(conv_id, turn_idx):
    return F.concat(conv_id, F.lit("#"), F.lpad(turn_idx.cast("string"), 2, "0"))


def derive_edges(transcripts: DataFrame) -> DataFrame:
    """edges(src, dst, weight, etype) — four edge families, all derived
    with window/groupBy built-ins (no UDFs, fully pushdown-friendly)."""
    t = transcripts
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    node = _turn_node(F.col("conv_id"), F.col("turn_idx"))

    reply = (
        t.select(
            F.lag(node).over(w).alias("src"),
            node.alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .withColumn("weight", F.lit(1.0))
        .withColumn("etype", F.lit("reply"))
    )

    mention = (
        t.where(F.col("tool").isNotNull())
        .select(
            node.alias("src"),
            F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
        )
        .withColumn("weight", F.lit(1.0))
        .withColumn("etype", F.lit("mention"))
    )

    uses = (
        t.where(F.col("tool").isNotNull())
        .groupBy(
            F.concat(F.lit("role:"), F.col("role")).alias("src"),
            F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .withColumn("etype", F.lit("uses"))
    )

    conv_roles = t.select("conv_id", "role").distinct()
    conv_tools = t.where(F.col("tool").isNotNull()).select("conv_id", "tool").distinct()
    copart = (
        conv_roles.join(conv_tools, "conv_id")
        .groupBy(
            F.concat(F.lit("role:"), F.col("role")).alias("src"),
            F.concat(F.lit("tool:"), F.col("tool")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .withColumn("etype", F.lit("copart"))
    )

    return (
        reply.select("src", "dst", "weight", "etype")
        .unionByName(mention.select("src", "dst", "weight", "etype"))
        .unionByName(uses.select("src", "dst", "weight", "etype"))
        .unionByName(copart.select("src", "dst", "weight", "etype"))
    )


def derive_nodes(transcripts: DataFrame) -> DataFrame:
    """nodes(id) — turn ∪ role ∪ tool nodes (shell vertices included)."""
    t = transcripts
    turn = t.select(_turn_node(F.col("conv_id"), F.col("turn_idx")).alias("id"))
    role = t.select(F.concat(F.lit("role:"), F.col("role")).alias("id")).distinct()
    tool = (
        t.where(F.col("tool").isNotNull())
        .select(F.concat(F.lit("tool:"), F.col("tool")).alias("id"))
        .distinct()
    )
    return turn.unionByName(role).unionByName(tool).distinct()


@dataclass
class Graph:
    """Vertex/edge DataFrame pair + the reference's direction/multiplicity
    views. `partitions` controls explicit co-partitioning: vertices are
    hash-partitioned by id and edges by src so the scatter join
    (state ⋈ edges on id=src) is co-located — the Spark analogue of the
    reference's HashPartitioner co-located partition files
    (HashPartitioner.java:43-59, FileGraphPartition.java:147-174)."""

    vertices: DataFrame
    edges: DataFrame
    partitions: int | None = None
    _nv: int | None = field(default=None, repr=False)
    _deg: DataFrame | None = field(default=None, repr=False)
    # edge count when already known (captured from a materializing count
    # that ran anyway — never costs an extra job). Consumers treat None
    # as "unknown": the superstep runner then keeps its default AQE
    # planning instead of deriving a static partition count.
    _ne: int | None = field(default=None, repr=False)

    @classmethod
    def from_transcripts(
        cls, transcripts: DataFrame, partitions: int | None = None, cache: bool = True
    ) -> "Graph":
        # NOTE (round-6 audit): distinct + repartition(id) does NOT pay
        # two exchanges — the optimizer collapses them into one
        # id-partitioned aggregate exchange (verified on the dumped
        # plan), so no restructuring is needed here.
        nodes = derive_nodes(transcripts)
        edges = derive_edges(transcripts)
        if partitions:
            nodes = nodes.repartition(partitions, "id")
            edges = edges.repartition(partitions, "src")
        nv = ne = None
        if cache:
            # lineage cut + materialize in ONE pass (round 6): a bare
            # persist re-contributes the entire derivation subtree to
            # EVERY downstream superstep's plan (the dumped PageRank
            # step plan was 1532 lines; 166 after the cut). The lazy
            # localCheckpoint converts under AQE (adaptive derivation
            # execution) and the count materializes the checkpoint
            # blocks directly — measured 2x cheaper at sf0.1 than the
            # persist->count->checkpoint->unpersist pin, which stores
            # the data twice. The count doubles as num_vertices.
            nodes, (nv,) = cut(nodes)
            edges, (ne,) = cut(edges)
        return cls(
            vertices=nodes, edges=edges, partitions=partitions, _nv=nv, _ne=ne
        )

    @property
    def num_vertices(self) -> int:
        if self._nv is None:
            self._nv = self.vertices.count()
        return self._nv

    @property
    def num_edges(self) -> int:
        if self._ne is None:
            self._ne = self.edges.count()
        return self._ne

    def out_degrees(self) -> DataFrame:
        """(id, outdeg) for every vertex, 0 for dangling — one edge-count
        per edge record, matching Vertex.numEdges() over loaded edges.

        Memoized + persisted per Graph (round 6): PageRank, LPA, SSSP
        and KCore all start from this table, so on a shared graph the
        E-sized aggregation and vertex join run once, not once per
        algorithm. Views that change the edge set (both_direction,
        in_direction, ...) construct fresh Graphs and get their own."""
        if self._deg is None:
            deg = self.edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("outdeg")
            )
            self._deg = (
                self.vertices.join(deg, "id", "left")
                .select("id", F.coalesce("outdeg", F.lit(0)).alias("outdeg"))
                .persist()
            )
        return self._deg

    def both_direction(self) -> "Graph":
        """Mirror every edge dst->src with inv=true (reference R5,
        WorkerInputManager.java:155-177)."""
        fwd = self.edges.withColumn("inv", F.lit(False))
        rev = self.edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "weight",
            "etype",
        ).withColumn("inv", F.lit(True))
        return Graph(
            self.vertices,
            fwd.unionByName(rev),
            self.partitions,
            self._nv,
            _ne=2 * self._ne if self._ne is not None else None,
        )

    def in_direction(self) -> "Graph":
        """`input.edge_direction=IN` loader view
        (ComputerOptions.java:147-156): each stored edge is attached to
        its TARGET vertex only — the edge list becomes dst->src with no
        forward copy (contrast both_direction, which keeps both). A
        column swap, zero extra scans; re-partitioned on the new src so
        downstream scatter joins stay co-located."""
        others = [c for c in self.edges.columns if c not in ("src", "dst")]
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), *others
        )
        if self.partitions:
            rev = rev.repartition(self.partitions, "src")
        return Graph(self.vertices, rev, self.partitions, self._nv, _ne=self._ne)

    def undirected_single(self) -> "Graph":
        """Symmetrized, (src,dst)-deduped, self-loop-free view — the
        TriangleCount/ClusteringCoefficient input (bothdirection=true +
        edge_freq=SINGLE, TriangleCountParams.java:41-45; self-loops
        dropped per TriangleCount.java:76-77)."""
        sym = self.edges.select("src", "dst").union(
            self.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        und = (
            sym.where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .withColumn("weight", F.lit(1.0))
            .withColumn("etype", F.lit("und"))
        )
        if self.partitions:
            und = und.repartition(self.partitions, "src")
        return Graph(self.vertices, und, self.partitions, self._nv)

    def edges_single(self) -> "Graph":
        """edge_freq=SINGLE on the directed view: dedup on (src,dst)
        (EdgeFrequency.java:25-44)."""
        return Graph(
            self.vertices,
            self.edges.dropDuplicates(["src", "dst"]),
            self.partitions,
            self._nv,
        )

    def edges_single_per_label(self) -> "Graph":
        """edge_freq=SINGLE_PER_LABEL: one edge per (src, dst, label)
        where our edge label is etype (EdgeFrequency.java:37 — SINGLE
        collapses parallel edges entirely, SINGLE_PER_LABEL keeps one
        per label, MULTIPLE keeps all)."""
        return Graph(
            self.vertices,
            self.edges.dropDuplicates(["src", "dst", "etype"]),
            self.partitions,
            self._nv,
        )

    def limit_out_edges(self, n: int) -> "Graph":
        """`input.limit_edges_in_one_vertex` analogue
        (ComputerOptions.java:186-194): cap the out-edges loaded per
        vertex at n. The reference truncates in partition-file load
        order; here the kept set is made deterministic — first n by
        (etype, dst, weight) per src — so runs and the SQL oracle
        agree. One hash shuffle on src; the hub-partition window is
        acceptable because the output is bounded at n rows/vertex and
        the cap is exactly the anti-hub lever."""
        w = Window.partitionBy("src").orderBy("etype", "dst", "weight")
        edges = (
            self.edges.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n)
            .drop("_rn")
        )
        return Graph(self.vertices, edges, self.partitions, self._nv)

    def densify(self) -> tuple["Graph", DataFrame]:
        """R13 fixed-length id remap: dictionary-encode string vertex ids
        to longs at ingest, decode on output — the Spark analogue of the
        reference's fixed-length id mapping in its partition files
        (FileGraphPartition.java:243-370, `input.fixed_length_id`
        ComputerOptions.java:941-954). Every superstep then shuffles
        8-byte keys instead of ~25-char strings: smaller exchange bytes,
        cheaper hash/compare, long-keyed joins.

        Returns (dense_graph, mapping(id, nid)). The mapping is built
        with monotonically_increasing_id (unique per row, NOT dense/
        deterministic across runs — same contract as the reference,
        which assigns ids per input-load), persisted + materialized so
        re-computation cannot reassign. Use `undensify(result, mapping)`
        to restore string ids on any per-vertex result."""
        mapping = (
            self.vertices.select("id")
            .withColumn("nid", F.monotonically_increasing_id())
            .persist()
        )
        mapping.count()  # pin the (non-deterministic) assignment NOW
        verts = mapping.select(F.col("nid").alias("id"))
        m_src = mapping.select(F.col("id").alias("src"), F.col("nid").alias("_nsrc"))
        m_dst = mapping.select(F.col("id").alias("dst"), F.col("nid").alias("_ndst"))
        others = [c for c in self.edges.columns if c not in ("src", "dst")]
        edges = (
            self.edges.join(m_src, "src")
            .join(m_dst, "dst")
            .select(
                F.col("_nsrc").alias("src"), F.col("_ndst").alias("dst"), *others
            )
        )
        if self.partitions:
            verts = verts.repartition(self.partitions, "id")
            edges = edges.repartition(self.partitions, "src")
        # persist, NOT a lineage cut (round-6 A/B): a localCheckpoint
        # stores row-format RDD blocks, losing the columnar cache's
        # column pruning + compression — on the data-bound dense x64
        # path every superstep then re-reads ~3x the bytes (8-core leg
        # 206.8 s persist vs 245.1 s checkpoint, adjacent quiet
        # windows). The dense tables are scanned O(supersteps) times,
        # so storage format beats the per-step re-analysis of this
        # (small: two joins over pinned inputs) plan subtree.
        # id remap is 1:1 over endpoints that are all vertices, so the
        # edge count carries over unchanged
        dense = Graph(
            verts.persist(), edges.persist(), self.partitions, self._nv,
            _ne=self._ne,
        )
        return dense, mapping


def undensify(result: DataFrame, mapping: DataFrame, id_col: str = "id") -> DataFrame:
    """Decode a densified per-vertex result back to string ids."""
    others = [c for c in result.columns if c != id_col]
    return result.join(
        mapping.select(F.col("nid").alias(id_col), F.col("id").alias("_sid")),
        id_col,
    ).select(F.col("_sid").alias(id_col), *others)
