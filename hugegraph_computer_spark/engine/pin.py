"""The two lineage cuts every iterative loop uses, plus the step
planner's conf scope.

- `cut`: lazy `localCheckpoint` + ONE materializing action that also
  returns the round's driver scalars. The checkpoint converts the plan
  under the session's current planning mode (AQE, or the static scope
  below) and the action stores the checkpoint blocks directly; later
  references read the stored RDD. One pass, one store. This is the
  per-superstep/per-round cut (the reference's vertex-state double
  buffer, FileGraphPartition.java:640-661).
- `pin`: the eager, partition-preserving cut for base views. localCheckpoint
  alone converts the UNCACHED plan to an RDD outside adaptive execution
  (statically planned join strategies — measured ~60x slower for complex
  round shapes, see louvain), while persist alone keeps the full logical
  plan growing round-over-round (explain strings go exponential -> driver
  OOM). So: force the computation through an AQE SQL action into cache,
  THEN checkpoint the (now trivial) cache scan statically and release the
  cache entry. The result is a lineage-free LogicalRDD leaf that keeps its
  physical partitioning.

Round-6 measurement note (BENCH/BASELINE.md round-4 floor profile +
this round's re-profile): the per-superstep lazy-localCheckpoint
plan->RDD conversion cost scales with the size of the plan tree being
converted, and a persisted-but-not-pinned base table (e.g. the derived
edge set) re-contributes its whole derivation subtree to EVERY
superstep's plan. Pinning the base tables once at graph build removes
that subtree from all downstream per-step planning.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

# SQL confs are per-SESSION, not per-thread, and ComputerDriver runs
# jobs concurrently on one session (engine/driver.py) — so only ONE
# loop at a time may own the static-planning confs. A loop that cannot
# take the lock simply keeps AQE (today's default behavior; values are
# partition-count-independent, only the floor optimization is skipped).
# Non-blocking also makes nested scopes on the same thread safe: the
# inner scope no-ops and inherits the outer confs.
_STATIC_SCOPE_LOCK = threading.Lock()


@contextmanager
def static_plan_scope(spark, partitions: int | None):
    """Scope for a data-derived static round loop: AQE off + the given
    shuffle-partition count, restored on exit (exceptions included).
    `partitions=None` means "keep AQE" and the scope is a no-op — pass
    the result of `PregelRunner._static_step_partitions` directly.
    The scope is also a no-op when another loop currently owns the
    session's planning confs (see _STATIC_SCOPE_LOCK).

    Rationale and measurements: engine/superstep.py (the same planner
    decision the Pregel runner applies through this scope); also used
    by round loops outside the runner (cc_fast, hits)."""
    if partitions is None:
        yield
        return
    if not _STATIC_SCOPE_LOCK.acquire(blocking=False):
        yield
        return
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
            spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    finally:
        _STATIC_SCOPE_LOCK.release()


def cut(df: DataFrame, *agg_exprs: Column) -> tuple[DataFrame, Row]:
    """Lazy lineage cut + ONE action that materializes it and returns
    `agg_exprs` evaluated over the cut frame (default: the row count,
    as `row[0]`)."""
    df = df.localCheckpoint(eager=False)
    return df, df.agg(*(agg_exprs or (F.count(F.lit(1)),))).collect()[0]


def pin(df: DataFrame) -> DataFrame:
    """Materialize + truncate lineage, AQE-safely (see module doc).

    The cache fill (count) runs UNDER AQE — complex round plans keep
    adaptive join planning — but the checkpoint of the now-trivial
    cache scan is statically planned so the LogicalRDD keeps its hash
    partitioning. Two measured effects of the static checkpoint (round
    6, OPTIMIZATION_r06.md): an AQE-planned checkpoint reports
    UnknownPartitioning, so every downstream key-equal join pays a
    fresh Exchange; and AQE's plan->RDD conversion runs every query
    stage as its own Spark job."""
    spark = df.sparkSession
    df = df.persist()
    df.count()
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = df.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    df.unpersist()
    return out
