"""Link-graph benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest-loops --seed 1 --seconds 25 --trace 0

Run from the repository root. A closed loop with one client: the
workload's query set runs one query at a time. Steps:

1. generate the seeded ``events`` input, and start the DuckDB oracle on
   it in a child process (oracle.py), beside the JVM launch;
2. set up: start the session (this launches the JVM), then one untimed
   warm-up pass, the query set on the real input with every loop capped
   at 2 rounds, so the JVM has compiled the hot paths at this data size
   before anything is timed. setup_s is the wall from the start of
   ``main`` until the warm-up pass ends: JVM launch and first-pass JIT
   are both in it;
3. time passes of the query set while the measured time stays within
   ``--seconds``, checking every output against the oracle after each
   pass (outside the timed region);
4. with ``--trace 1``, instead of 3: a pass in a fresh session with
   Spark's event log on and harness spans recorded (folded into the
   per-layer table, see fold.py), then an untraced pass.

The last stdout line is the JSON result; the line before it is the full
report (sizing, noise, sample counts, every metric).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

STORE_PREFIX = "perfbench_store"
ORACLE_TIMEOUT_S = 120
NOTE = (
    "committed BENCH_r0*.json figures come from a local[32]/128 GiB host "
    "and are not a baseline for this benchmark"
)
HUMAN_METRICS = [  # (name, unit), printed when the workload runs it
    ("setup_s", "s"),
    ("warmup_s", "s"),
    ("job_s", "s"),
    ("derive_s", "s"),
    ("pagerank_s", "s"),
    ("cc_fast_s", "s"),
    ("triangles_s", "s"),
    ("hits_s", "s"),
    ("store_s", "s"),
    ("pagerank_edges_per_s", "edges/s"),
    ("peak_rss_mb", "MiB"),
    ("failed_ops_ratio", "ratio"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=25.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics() -> dict:
    """The metric names and units BENCHMARK.json declares, by trace mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        0: [(m["name"], m["unit"]) for m in bench["end_to_end"]],
        1: [(m["name"], m["unit"]) for m in bench["per_layer"]],
    }


def oracle_count(expected: dict, name: str) -> int:
    """The single value of a one-row count oracle."""
    return expected[name][1][0][0]


def check_pass(q, expected: dict) -> tuple[int, int, dict]:
    """(attempted, failed, detail) for one pass's outputs."""
    from oracle import check

    counts = (oracle_count(expected, "vertices"), oracle_count(expected, "edges"))
    results = {}
    if q.graph is not None:
        results["derive"] = (q.graph.num_vertices, q.graph.num_edges)
    if q.loaded is not None:
        results["store"] = (q.loaded.vertices.count(), q.loaded.edges.count())
    detail = {
        name: "counts" if got == counts else f"counts {got} != {counts}"
        for name, got in results.items()
    }
    failed = sum(v != "counts" for v in detail.values())
    for name, df in q.outputs.items():
        ok, detail[name] = check(df, expected[name])
        failed += not ok
    return len(detail), failed, detail


def pass_metrics(q, wall: float, edges: int) -> dict:
    m = {"job_s": wall}
    for name, s in q.walls.items():
        m[f"{name}_s"] = s
    if "pagerank" in q.supersteps:
        m["pagerank_edges_per_s"] = edges * q.supersteps["pagerank"] / q.walls["pagerank"]
    return m


class Run:
    """State of one benchmark process: sizing, session, passes, checks."""

    def __init__(self, args, wl, size, conf, events_dir):
        from fold import Tracer
        from hugegraph_computer_spark.session import get_spark

        self.args, self.wl, self.size, self.conf = args, wl, size, conf
        self.events_dir = events_dir
        self._get_spark = get_spark
        self.spark = None
        self.expected: dict = {}
        self.attempted = self.failed = 0
        self.checks: list[dict] = []
        self.passes: list[dict] = []
        self.session_start_s = self.warm_s = self.setup_s = None
        self.untraced = Tracer()

    def start(self, extra: dict | None = None) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark = self._get_spark(
            app_name=f"perfbench-{self.wl.name}",
            master=self.size["master"],
            shuffle_partitions=self.size["shuffle_partitions"],
            extra_conf={**self.conf, **(extra or {})},
        )

    def set_up(self, t_process: float) -> bool:
        """Session start and the untimed warm-up pass; False if the
        warm-up raised."""
        t0 = time.monotonic()
        self.start()
        self.session_start_s = time.monotonic() - t0
        if self.one_pass(self.untraced, warm=True)[1] is None:
            return False
        self.setup_s = time.monotonic() - t_process
        return True

    def one_pass(self, tracer, warm: bool = False):
        """Run one pass and, unless it is the warm-up, check it;
        (QuerySet, wall or None on error)."""
        from workloads import QuerySet

        q = QuerySet(
            self.spark, self.events_dir, self.size["graph_partitions"], STORE_PREFIX, tracer, warm
        )
        t0 = time.monotonic()
        try:
            with tracer.span("set", kind="set"):
                self.wl.run(q)
        except Exception:
            traceback.print_exc()
            self.attempted += len(q.walls) + 1
            self.failed += 1
            return q, None
        wall = time.monotonic() - t0
        if warm:
            self.warm_s = wall
            return q, wall
        a, f, detail = check_pass(q, self.expected)
        self.attempted += a
        self.failed += f
        self.checks.append(detail)
        self.passes.append(pass_metrics(q, wall, oracle_count(self.expected, "edges")))
        return q, wall

    def measure(self) -> None:
        measured = 0.0
        while True:
            _, wall = self.one_pass(self.untraced)
            if wall is None:
                return
            measured += wall
            if measured + statistics.median(p["job_s"] for p in self.passes) > self.args.seconds:
                return

    def traced(self, trace_dir: str):
        """Traced pass in a fresh session with the event log on, then an
        untraced pass. The first full pass after the warm-up is still
        slower than the ones after it (JIT; on a 4-core host ingest-loops
        took 33.9 s, then 23.0 and 25.8 s), so the tracing overhead,
        traced minus the untraced pass after it, if anything overstates
        it. (tracer, QuerySet, untraced wall) or None."""
        import host
        from fold import Tracer

        self.start(host.event_log_conf(os.path.join(trace_dir, "eventlog")))
        tracer = Tracer(self.spark.sparkContext)
        q, traced = self.one_pass(tracer)
        if traced is not None:
            self.store_attrs(tracer, q)
        self.start()  # stopping the traced session closes its event log
        _, after = self.one_pass(self.untraced)
        if None in (traced, after):
            return None
        return tracer, q, after

    def store_attrs(self, tracer, q) -> None:
        """Size and load-plan facts of the bucketed store (untimed)."""
        from workloads import store_bytes

        span = next((s for s in tracer.spans if s["name"] == "graph.store"), None)
        if span is None:
            return
        nbytes = store_bytes(self.conf["spark.sql.warehouse.dir"], STORE_PREFIX)
        plan = q.loaded.edges.groupBy("src").count()._jdf.queryExecution().executedPlan()
        span["attrs"].update(
            bytes_on_disk=nbytes,
            bytes_per_edge=nbytes / oracle_count(self.expected, "edges"),
            load_exchanges=plan.toString().count("Exchange"),
        )


def main(argv=None) -> int:
    args = parse_args(argv)
    t_process = time.monotonic()
    declared = declared_metrics()
    sys.path.insert(0, ROOT)
    import host
    import inputs
    import oracle
    from fold import event_log_path, fold, format_table, layer_table, read_event_log
    from workloads import COUNT_ORACLES, WORKLOADS

    if args.workload not in WORKLOADS:
        sys.exit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    size = host.sizing()
    work = os.path.join(ROOT, ".perfbench_work", f"{wl.name}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    conf = host.configure(size, work)
    conf["spark.ui.showConsoleProgress"] = "false"
    noise = host.Noise()

    t0 = time.monotonic()
    events_dir = inputs.write_events(os.path.join(work, "events"), args.seed, wl.events, wl.users)
    gen_s = time.monotonic() - t0

    run = Run(args, wl, size, conf, events_dir)
    trace_dir = os.path.join(work, "trace")
    traced = None
    jvm_rss = 0.0
    sqls_path = os.path.join(work, "tmp", "oracle-sql.json")
    expected_path = os.path.join(work, "tmp", "oracle-expected.json")
    with open(sqls_path, "w") as f:
        json.dump({**COUNT_ORACLES, **wl.oracles}, f)
    child = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "oracle.py"), events_dir, sqls_path,
         expected_path, str(size["nproc"]), os.path.join(work, "tmp")]
    )
    try:
        ready = run.set_up(t_process)
        if child.wait(timeout=ORACLE_TIMEOUT_S) != 0:
            raise RuntimeError(f"oracle process exited with {child.returncode}")
        run.expected = oracle.load(expected_path)
        t_measure = time.monotonic()
        if ready and args.trace:
            traced = run.traced(trace_dir)
        elif ready:
            run.measure()
        measure_s = time.monotonic() - t_measure
        jvm = host.jvm_proc()
        jvm_rss = host.vm_hwm_mb(jvm.pid) if jvm is not None else 0.0
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        if run.spark is not None:
            run.spark.stop()
        host.shutdown_jvm()

    summary = {}
    for key in sorted({k for p in run.passes for k in p}):
        summary[key] = statistics.median(p[key] for p in run.passes if key in p)
    if run.setup_s is not None:
        summary["setup_s"] = run.setup_s
        summary["warmup_s"] = run.warm_s
    summary["peak_rss_mb"] = jvm_rss + host.vm_hwm_mb()
    summary["failed_ops_ratio"] = run.failed / max(1, run.attempted)
    samples = {k: sum(1 for p in run.passes if k in p) for k in summary}
    samples.update(setup_s=1, warmup_s=1, peak_rss_mb=1, failed_ops_ratio=run.attempted)

    layers = None
    if traced is not None:
        tracer, _, untraced = traced
        ctx = {
            "cores": size["nproc"],
            "session_start_s": run.session_start_s,
            "heap_mb": size["heap_mb"],
            "jvm_peak_rss_mb": jvm_rss,
            "untraced_job_s": untraced,
        }
        tracer.dump(os.path.join(trace_dir, "spans.json"), ctx)
        jobs, tasks = read_event_log(event_log_path(os.path.join(trace_dir, "eventlog")))
        layers = layer_table(tracer.spans, fold(tracer.spans, jobs, tasks, size["nproc"]), jobs, ctx)
        print(format_table(layers))

    for name, unit in HUMAN_METRICS:
        if name in summary:
            print(f"{wl.name:14s} {name:24s} {summary[name]:>16.6g} {unit}")
    counts = {k: oracle_count(run.expected, k) for k in COUNT_ORACLES}
    report = {
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "trace": args.trace,
        "claim": None,
        "note": NOTE,
        "sizing": size,
        "graph": {**counts, "events": wl.events, "users": wl.users},
        "noise": noise.record(),
        "samples": samples,
        "timings": {
            "gen_s": gen_s,
            "session_start_s": run.session_start_s,
            "measure_s": measure_s,
            "process_s": time.monotonic() - t_process,
        },
        "checks": run.checks,
        "passes": run.passes,
        "metrics": summary,
        "layers": layers,
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("report " + json.dumps(report))
    for sub in ("events", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    ok = run.failed == 0 and (traced is not None if args.trace else bool(run.passes))
    source = layers if args.trace else summary
    metrics = (
        {name: {"value": source[name], "unit": unit} for name, unit in declared[args.trace]}
        if ok
        else {}
    )
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": max(1, run.attempted),
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
