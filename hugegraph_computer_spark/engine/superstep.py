"""Generic BSP superstep runner over DataFrames.

Re-expresses the reference's fixed worker/master pipeline
(/root/reference/computer-core/.../worker/WorkerService.java:287-338,
master/MasterService.java:240-288) as a driver-side loop:

  superstep s:
    state_s   = program.superstep(s, state_{s-1}, messages_{s-1}, aggs)
    (materialize: lineage truncated -> the reference's vertex-state
     double buffer, FileGraphPartition.java:640-661)
    messages_s = program scatter over state_s (join with edges)
    aggregates = state_s.agg(...)  -> driver scalars (the reference's
     worker->master aggregator RPC, Aggregator.java:26-92)
    halt check = MasterService.finishedIteration(MasterService.java:353-364):
     master veto | s >= max_supersteps-1 | no messages in flight

Shuffle budget: exactly two shuffles per superstep at steady state —
the scatter join (state ⋈ edges, co-partitioned when Graph.partitions is
set, so often shuffle-free on the edges side) and the gather
groupBy(dst). Message combining (reference R6/R8,
CombineKvInnerSortFlusher.java:29-45) is Spark's map-side partial
aggregation — free. At 100 TB the per-superstep working set is the
vertex-state DataFrame (O(V)) and the message DataFrame (O(E)); both
are hash-partitioned and spill-safe.

Durability: every `checkpoint_every` supersteps the runner writes state
+ messages as parquet with a meta.json carrying (superstep, aggregates,
per-partition row-count lineage, timings). `resume_from` continues a
run mid-iteration — this EXCEEDS the reference, whose failover is an
unimplemented TODO (MasterService.java:337-343).
"""

from __future__ import annotations

import json
import math
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.pin import cut, static_plan_scope

MSG_COUNT = "_message_count"
SUPERSTEP = "_superstep"
# edges per task below which a superstep runs statically planned (see
# PregelRunner._static_step_partitions)
EDGES_PER_STATIC_TASK = 32768


class RunAborted(RuntimeError):
    """Raised by the runner when a `should_stop` callback requests
    termination at a superstep boundary — the driver's preemptive
    cancel point (checked BEFORE each superstep starts, so a cancel
    issued right after submit never lets superstep 0 run)."""


@dataclass
class StepOutput:
    """What a vertex program produces for one superstep."""

    state: DataFrame
    # evaluated over the materialized state in ONE .agg() pass
    agg_exprs: dict[str, Column] = field(default_factory=dict)
    # scatter: called with the *materialized* state so message lineage
    # never re-runs the compute join
    make_messages: Callable[[DataFrame], DataFrame] | None = None


class VertexProgram:
    """Algorithm contract — the Spark analogue of the reference's
    Computation + MasterComputation pair
    (computer-api/.../worker/Computation.java:42-106,
    computer-api/.../master/MasterComputation.java:33-78)."""

    name: str = "vertex_program"
    max_supersteps: int = 10  # bsp.max_super_step default,
    # ComputerOptions.java:478-485

    # True when the halt rule needs the exact in-flight message count
    # (vote-to-halt programs). Programs that halt on aggregates alone
    # (PageRank: L1) set False — the runner then skips the per-superstep
    # count job and lets messages materialize lazily inside the next
    # superstep's aggregate action (1 Spark job per superstep total).
    needs_message_count: bool = True

    def prepare(self, g) -> None:
        """Called once before the loop, on BOTH fresh and resumed runs —
        initialize instance state (graph-derived scalars, cached degree
        tables) here, never in superstep0, or resume breaks."""

    def superstep0(self, g) -> StepOutput:  # compute0
        raise NotImplementedError

    def superstep(
        self, s: int, g, state: DataFrame, messages: DataFrame | None, aggs: dict
    ) -> StepOutput:  # compute
        raise NotImplementedError

    def master_continue(self, s: int, aggs: dict[str, Any]) -> bool:
        """MasterComputation.compute() — return False to stop.

        Default: vote-to-halt on the `expected_msgs` aggregate (the
        exact in-flight message count of programs that halt without a
        count job). An empty state sums to NULL, which halts too."""
        return bool(aggs.get("expected_msgs", 1))

    def finalize(self, state: DataFrame) -> DataFrame:
        """Project the user-facing result from the internal state."""
        return state


@dataclass
class RunResult:
    state: DataFrame
    supersteps: int  # number of supersteps executed (incl. superstep 0)
    aggs: dict[str, Any]
    history: list[dict[str, Any]]
    metrics: dict[str, Any]


class PregelRunner:
    def __init__(self, checkpoint_dir: str | None = None, checkpoint_every: int = 5):
        self.checkpoint_dir = checkpoint_dir
        self.checkpoint_every = checkpoint_every

    # -- step planner ----------------------------------------------------
    @staticmethod
    def _static_step_partitions(g, spark) -> int | None:
        """Data-derived choice between AQE and static step planning.

        Under AQE the lazy localCheckpoint's plan->RDD conversion
        eagerly executes every query stage as its own Spark job
        (~6 jobs/superstep), which is the measured per-step floor when
        the per-step data is small (sf0.1 floor profile: 0.89 s/step,
        0.56 s of it the conversion). A statically planned step is ONE
        job whose stages pipeline inside the JVM — but at the session's
        full shuffle-partition count it loses AQE coalescing and pays
        stages x partitions tiny-task launches (measured 1.59 s/step vs
        0.88 at p=32, sf0.1). The resolution is to derive the partition
        count from the data (guide: partitioning scale-adaptive, never a
        constant): p = ceil(E / EDGES_PER_STATIC_TASK). When p < the
        graph's partition count the per-task work is below task-launch
        amortization, so the step runs statically at p (measured
        0.55 s/step at p=4 vs 1.31 AQE in the same window, sf0.1,
        local[32] — same superstep counts); when p >= partitions the
        data is large enough to amortize the AQE floor and adaptive
        planning keeps its runtime-broadcast/coalescing/skew advantages,
        so the runner keeps the AQE conversion unchanged.

        Uses the edge count only when the graph ALREADY knows it
        (captured from a materializing count that ran anyway) — unknown
        counts never trigger an extra job, they just keep AQE mode.
        """
        ne = getattr(g, "_ne", None)
        if ne is None:
            return None
        parts = getattr(g, "partitions", None) or spark.sparkContext.defaultParallelism
        p = max(1, math.ceil(ne / EDGES_PER_STATIC_TASK))
        return p if p < parts else None

    @staticmethod
    def _partition_lineage(df: DataFrame) -> list[dict[str, int]]:
        rows = (
            df.groupBy(F.spark_partition_id().alias("partition"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        return sorted(
            ({"partition": int(r["partition"]), "rows": int(r["rows"])} for r in rows),
            key=lambda d: d["partition"],
        )

    def _write_checkpoint(
        self, program, s: int, state: DataFrame, messages: DataFrame | None, aggs: dict
    ) -> None:
        base = os.path.join(self.checkpoint_dir, program.name, f"superstep={s:05d}")
        state.write.mode("overwrite").parquet(os.path.join(base, "state"))
        meta = {
            "algorithm": program.name,
            "superstep": s,
            "aggregates": {k: v for k, v in aggs.items()},
            "has_messages": messages is not None,
            "state_lineage": self._partition_lineage(state),
            "wall_time": time.time(),
        }
        if messages is not None:
            messages.write.mode("overwrite").parquet(os.path.join(base, "messages"))
            meta["messages_lineage"] = self._partition_lineage(messages)
        with open(os.path.join(base, "meta.json"), "w") as f:
            json.dump(meta, f, indent=2, default=str)

    @staticmethod
    def latest_checkpoint(checkpoint_dir: str, algorithm: str) -> str | None:
        base = os.path.join(checkpoint_dir, algorithm)
        if not os.path.isdir(base):
            return None
        steps = sorted(
            d
            for d in os.listdir(base)
            if d.startswith("superstep=")
            and os.path.exists(os.path.join(base, d, "meta.json"))
        )
        return os.path.join(base, steps[-1]) if steps else None

    # -- main loop -------------------------------------------------------
    def run(
        self,
        program: VertexProgram,
        g,
        resume_from: str | None = None,
        on_superstep: Callable[[dict], None] | None = None,
        should_stop: Callable[[], bool] | None = None,
    ) -> RunResult:
        """`on_superstep` is invoked with each superstep's metrics dict
        right after the step completes — the worker->master per-step
        stats report (WorkerService.java:329-338). Raising from it
        aborts the loop between supersteps (the driver's cooperative
        cancel point). `should_stop` is polled BEFORE each superstep
        (including superstep 0) and raises RunAborted when true — so a
        cancel issued between submit and the first superstep stops the
        run with zero supersteps executed."""
        spark = g.vertices.sparkSession
        history: list[dict[str, Any]] = []
        t_run0 = time.monotonic()
        program.prepare(g)

        if resume_from:
            with open(os.path.join(resume_from, "meta.json")) as f:
                meta = json.load(f)
            s = int(meta["superstep"])
            state, _ = cut(spark.read.parquet(os.path.join(resume_from, "state")))
            messages = None
            if meta["has_messages"]:
                messages, _ = cut(
                    spark.read.parquet(os.path.join(resume_from, "messages"))
                )
            aggs = dict(meta["aggregates"])
            aggs[SUPERSTEP] = s
            finished = self._finished(program, s, aggs)
        else:
            s = -1
            state = messages = None
            aggs = {}
            finished = False

        # Data-derived static step planning (see _static_step_partitions):
        # when the per-step data is too small to amortize AQE's
        # per-stage job scheduling, run the whole loop statically at a
        # derived partition count; otherwise this is None and nothing
        # changes. Scoped to this run and restored on exit (the
        # cooperative-cancel RunAborted path included).
        with static_plan_scope(spark, self._static_step_partitions(g, spark)):
            while not finished:
                if should_stop is not None and should_stop():
                    raise RunAborted(
                        f"{program.name}: stop requested before superstep {s + 1}"
                    )
                t0 = time.monotonic()
                if s < 0:
                    out = program.superstep0(g)
                    s = 0
                else:
                    s += 1
                    out = program.superstep(s, g, state, messages, aggs)

                # The state plan is cut every superstep — without it each
                # superstep's plan embeds the previous state AND message
                # plans (which embed the state again), doubling plan size
                # per superstep. This is the reference's per-superstep
                # status/value double buffer (FileGraphPartition.java:
                # 640-661). The step's computation rides the aggregate
                # action: one Spark job per superstep under the static
                # planner. Cutting through a cache, or only every K > 1
                # supersteps, measured slower (README "Measured negatives").
                exprs = [v.alias(k) for k, v in out.agg_exprs.items()]
                state, row = cut(
                    out.state, *exprs, F.count(F.lit(1)).alias("_state_rows")
                )
                # one agg pass = the reference's per-worker partial
                # aggregate + master merge (MasterAggrManager/WorkerAggrManager)
                aggs = row.asDict()
                # messages are cut ONLY when the halt rule needs their
                # count. Otherwise they stay lazy: consumed exactly once
                # by the next superstep's job (their plan roots at the
                # cut state, so no lineage growth).
                messages = None
                if out.make_messages is None:
                    aggs[MSG_COUNT] = 0
                else:
                    messages = out.make_messages(state)
                    if program.needs_message_count:
                        messages, n = cut(messages)
                        aggs[MSG_COUNT] = n[0]
                    else:
                        aggs[MSG_COUNT] = None  # unknown, assumed non-empty
                aggs[SUPERSTEP] = s

                step_metrics = {
                    "superstep": s,
                    "seconds": time.monotonic() - t0,
                    "messages": aggs[MSG_COUNT],
                    "state_rows": int(aggs["_state_rows"]),
                    "aggregates": {k: aggs[k] for k in out.agg_exprs},
                }
                history.append(step_metrics)
                if on_superstep is not None:
                    on_superstep(step_metrics)

                finished = self._finished(program, s, aggs)
                if self.checkpoint_dir and (
                    finished or (s > 0 and s % self.checkpoint_every == 0)
                ):
                    self._write_checkpoint(program, s, state, messages, aggs)

        total = time.monotonic() - t_run0
        metrics = {
            "algorithm": program.name,
            "supersteps": s + 1,
            "seconds": total,
            "supersteps_per_min": (s + 1) / total * 60.0 if total > 0 else None,
        }
        return RunResult(
            state=program.finalize(state),
            supersteps=s + 1,
            aggs=aggs,
            history=history,
            metrics=metrics,
        )

    @staticmethod
    def _finished(program: VertexProgram, s: int, aggs: dict) -> bool:
        # mirrors MasterService.finishedIteration (MasterService.java:353-364)
        if not program.master_continue(s, aggs):
            return True
        if s >= program.max_supersteps - 1:
            return True
        # vote-to-halt: our programs send messages iff the sending vertex
        # stayed active, so "no messages" == "all inactive & silent"
        return aggs.get(MSG_COUNT, 0) == 0
