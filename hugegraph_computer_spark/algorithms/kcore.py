"""KCore — iterative k-core peeling, reference-exact values.

Reference: /root/reference/computer-algorithm/.../community/kcore/
KCore.java:29-93 (+KCoreValue.java:47-66). Semantics:
- superstep 0 (:55-65): core = numEdges (out-edge records as loaded);
  if core < k: core = 0 and notify all out-targets of the deletion.
- superstep s (:68-92): only still-alive vertices process; core -=
  number of deletion messages received; if core drops below k: core = 0
  and cascade (the reference filters already-deleted targets via its
  deleted-neighbor set, KCore.java:85-89 — messages to deleted vertices
  are ignored anyway (:73-76), so filtering receivers on alive-ness is
  value-equivalent and needs no per-vertex set state).
- output: the decremented core value for survivors, 0 for peeled.

Deletion messages carry no payload beyond the sender id, so the gather
is a pure count per destination — map-side combined, skew-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.superstep import StepOutput, VertexProgram


class KCore(VertexProgram):
    name = "kcore"
    # round-6: deletion notices go to ALL out-edges of newly-peeled
    # vertices, so the in-flight message count is EXACTLY Σ outdeg over
    # the just_deleted frontier — aggregated in the runner's one agg
    # pass; the per-superstep count job + message checkpoint are
    # dropped (guide §2.4)
    needs_message_count = False

    def __init__(self, k: int = 3, max_supersteps: int = 100):
        # kcore.k default 3 (KCore.java:32-33)
        self.k = k
        self.max_supersteps = max_supersteps

    @staticmethod
    def _aggs():
        return {
            "expected_msgs": F.sum(
                F.col("just_deleted").cast("long") * F.col("outdeg")
            )
        }

    def _scatter(self, edges):
        e = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))

        def make(state: DataFrame) -> DataFrame:
            newly = state.where(F.col("just_deleted")).select("id")
            return newly.join(e, F.col("id") == F.col("e_src")).select(
                F.col("e_dst").alias("dst")
            )

        return make

    def superstep0(self, g) -> StepOutput:
        deg = g.out_degrees()
        state = deg.select(
            "id",
            F.when(F.col("outdeg") < self.k, F.lit(0))
            .otherwise(F.col("outdeg"))
            .alias("core"),
            (F.col("outdeg") >= self.k).alias("alive"),
            (F.col("outdeg") < self.k).alias("just_deleted"),
            "outdeg",
        )
        return StepOutput(
            state=state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    def superstep(self, s, g, state, messages, aggs) -> StepOutput:
        hits = messages.groupBy("dst").agg(F.count(F.lit(1)).alias("hits"))
        joined = state.join(hits, state["id"] == hits["dst"], "left")
        new_core = F.col("core") - F.col("hits")
        dies = F.col("alive") & F.col("hits").isNotNull() & (new_core < self.k)
        new_state = joined.select(
            state["id"].alias("id"),
            F.when(~F.col("alive"), F.col("core"))
            .when(dies, F.lit(0))
            .when(F.col("hits").isNotNull(), new_core)
            .otherwise(F.col("core"))
            .alias("core"),
            (F.col("alive") & ~dies).alias("alive"),
            dies.alias("just_deleted"),
            "outdeg",
        )
        return StepOutput(
            state=new_state, agg_exprs=self._aggs(), make_messages=self._scatter(g.edges)
        )

    def finalize(self, state: DataFrame) -> DataFrame:
        return state.select("id", F.col("core").cast("long").alias("core"))
