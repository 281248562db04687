"""Harness spans and the fold of Spark's event log into per-layer rows.

A traced run records one span per call into a layer (name, start, end,
parent) and tags every Spark job submitted inside a span with the job
group ``pb<span id>``. PregelRunner supersteps get their own child
spans: the harness closes the current step span and opens the next one
from the runner's public ``on_superstep`` callback. Spans stay in
memory and are written to ``spans.json`` when the run ends.

``fold`` joins the spans with the event log (uncompressed JSON lines)
through the job group and sums each span's jobs, stages, tasks and task
metrics. Two derived quantities:

- ``driver_gap_s``: span wall minus the time during which at least one
  of the span's tasks was running (the serial driver floor);
- ``busy_ratio``: summed task run time / (span wall x cores).

Run standalone on a traced run's directory to print its table::

    python3 perfbench/fold.py .perfbench_work/<workload>-s<seed>-t1/trace
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

GROUP_PREFIX = "pb"


class Tracer:
    """Span recorder. Disabled, every method is a no-op and no job
    group is ever set, so untraced runs pay nothing for it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _open(self, name: str, kind: str, **attrs) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "kind": kind,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{span['id']}", name)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        top = self._stack.pop()
        if top is not span:
            raise RuntimeError(f"span {span['name']} closed out of order")
        if self._stack:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{self._stack[-1]['id']}", self._stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str, kind: str = "query", **attrs):
        if not self.enabled:
            yield {"attrs": {}}
            return
        span = self._open(name, kind, **attrs)
        try:
            yield span
        finally:
            self._close(span)

    @contextmanager
    def supersteps(self, name: str):
        """Yield an ``on_superstep`` callback (None when disabled) that
        puts every superstep of one PregelRunner.run in its own span."""
        if not self.enabled:
            yield None
            return
        cur = [self._open(f"{name}.step", "step", superstep=0)]

        def on_superstep(m: dict) -> None:
            cur[0]["attrs"].update(superstep=m["superstep"], messages=m["messages"])
            self._close(cur[0])
            cur[0] = self._open(f"{name}.step", "step", superstep=m["superstep"] + 1)

        try:
            yield on_superstep
        finally:
            # the step opened by the last callback never ran; jobs after
            # the loop (result projection, sink) land in this tail span
            cur[0]["kind"] = "tail"
            self._close(cur[0])

    def dump(self, path: str, context: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "context": context}, f, indent=1)


# -- event log ---------------------------------------------------------------


def read_event_log(path: str) -> tuple[dict, list]:
    """(jobs by id, tasks) from one uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev.get("Submission Time", 0) / 1000.0,
                }
                for sid in ev.get("Stage IDs", []):
                    # a stage is run by the first job that lists it;
                    # later jobs only reuse (skip) it
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "launch": info.get("Launch Time", 0) / 1000.0,
                        "finish": info.get("Finish Time", 0) / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                    }
                )
    for t in tasks:
        t["job"] = stage_job.get(t["stage"])
    return jobs, tasks


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SUMMED = ("run_s", "cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")


def fold(spans: list[dict], jobs: dict, tasks: list, cores: int) -> dict[int, dict]:
    """Inclusive metrics per span id (a span owns its descendants' jobs)."""
    children: dict[int | None, list[int]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    own_jobs: dict[int, set] = {s["id"]: set() for s in spans}
    for jid, j in jobs.items():
        g = j["group"] or ""
        if g.startswith(GROUP_PREFIX) and g[len(GROUP_PREFIX):].isdigit():
            sid = int(g[len(GROUP_PREFIX):])
            if sid in own_jobs:
                own_jobs[sid].add(jid)
    tasks_by_job: dict[int, list] = {}
    for t in tasks:
        tasks_by_job.setdefault(t["job"], []).append(t)

    out: dict[int, dict] = {}

    def visit(sid: int) -> set:
        js = set(own_jobs[sid])
        for c in children.get(sid, []):
            js |= visit(c)
        span = spans[sid]
        wall = span["end"] - span["start"]
        ts = [t for j in js for t in tasks_by_job.get(j, [])]
        busy = _union_seconds(
            [
                (max(t["launch"], span["start"]), min(t["finish"], span["end"]))
                for t in ts
                if t["finish"] > span["start"] and t["launch"] < span["end"]
            ]
        )
        row = {k: sum(t[k] for t in ts) for k in SUMMED}
        row.update(
            wall_s=wall,
            jobs=len(js),
            stages=len({t["stage"] for t in ts}),
            tasks=len(ts),
            busy_s=busy,
            driver_gap_s=wall - busy,
            busy_ratio=row["run_s"] / (wall * cores) if wall > 0 else 0.0,
        )
        out[sid] = row
        return js

    for root in children.get(None, []):
        visit(root)
    return out


# -- per-layer table ---------------------------------------------------------


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# count and byte rows of the layers a workload may not call. Every
# workload's table carries them, so the JSON line of a traced run has
# the same rows on every workload; a layer the workload does not call
# ran no jobs and wrote no bytes, so they are 0 there. Its time rows
# have no such value and are only in the table of a workload that calls it.
CALLED_OR_ZERO = (
    "graph.store.jobs",
    "graph.store.bytes_per_edge",
    "algorithms.cc_fast.rounds",
    "algorithms.cc_fast.jobs_per_round",
    "algorithms.cc_fast.shuffle_write_bytes",
    "algorithms.hits.rounds",
    "algorithms.hits.jobs_per_round",
    "algorithms.hits.shuffle_write_bytes",
    "algorithms.triangle.jobs",
    "algorithms.triangle.shuffle_write_bytes",
)


def layer_table(spans: list[dict], rows: dict[int, dict], jobs: dict, ctx: dict) -> dict:
    """Per-layer metrics named after the engine's modules, plus the
    ``trace.*`` rows: tracing overhead and how the pass wall reconciles
    with the query spans."""
    t: dict[str, float | int | None] = {
        "session.start_s": ctx["session_start_s"],
        "session.heap_mb": ctx["heap_mb"],
        "session.jvm_peak_rss_mb": ctx["jvm_peak_rss_mb"],
    }
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    root = next(s for s in spans if s["kind"] == "set")
    query_wall = 0.0
    for q in kids.get(root["id"], []):
        r, a, layer = rows[q["id"]], q["attrs"], q["name"]
        query_wall += r["wall_s"]
        if layer == "graph.derive":
            for k in ("jobs", "tasks", "shuffle_write_bytes", "driver_gap_s"):
                t[f"{layer}.{k}"] = r[k]
            t[f"{layer}.executor_run_s"] = r["run_s"]
            t[f"{layer}.vertices"] = a.get("vertices")
            t[f"{layer}.edges"] = a.get("edges")
        elif layer == "graph.store":
            t[f"{layer}.jobs"] = r["jobs"]
            for k in ("bytes_on_disk", "bytes_per_edge", "load_exchanges"):
                t[f"{layer}.{k}"] = a.get(k)
        elif layer.startswith("engine.superstep."):
            steps = [rows[s["id"]] | s["attrs"] for s in kids.get(q["id"], []) if s["kind"] == "step"]
            msgs = [s["messages"] for s in steps if s.get("messages") is not None]
            t[f"{layer}.supersteps"] = len(steps)
            # None when the program's halt rule counts no messages (PageRank)
            t[f"{layer}.messages"] = sum(msgs) if msgs else None
            walls = [s["wall_s"] for s in steps]
            t[f"{layer}.step_s.p50"] = _median(walls)
            t[f"{layer}.step_s.max"] = max(walls, default=0.0)
            for k, src in (
                ("jobs_per_step", "jobs"),
                ("tasks_per_step", "tasks"),
                ("driver_gap_s_per_step", "driver_gap_s"),
                ("shuffle_bytes_per_step", "shuffle_write_bytes"),
                ("executor_run_s_per_step", "run_s"),
            ):
                t[f"{layer}.{k}"] = _median([s[src] for s in steps])
            for k in ("spill_bytes", "gc_s", "busy_ratio"):
                t[f"{layer}.{k}"] = r[k]
        elif layer in ("algorithms.cc_fast", "algorithms.hits"):
            # no per-round callback: rounds come from the result, the
            # rest is the whole call's
            n = int(a.get("rounds") or 0)
            t[f"{layer}.rounds"] = n
            t[f"{layer}.jobs_per_round"] = r["jobs"] / n if n else 0
            for k in ("shuffle_write_bytes", "driver_gap_s", "busy_ratio"):
                t[f"{layer}.{k}"] = r[k]
        elif layer == "algorithms.triangle":
            for k in ("jobs", "shuffle_write_bytes", "spill_bytes"):
                t[f"{layer}.{k}"] = r[k]
            t[f"{layer}.executor_run_s"] = r["run_s"]

    for k in CALLED_OR_ZERO:
        t.setdefault(k, 0)
    rs = rows[root["id"]]
    window = (root["start"], root["end"])
    untagged = [
        j for j in jobs.values()
        if not (j["group"] or "").startswith(GROUP_PREFIX) and window[0] <= j["submit"] <= window[1]
    ]
    untraced = ctx.get("untraced_job_s")
    t.update(
        {
            "trace.job_s": rs["wall_s"],
            "trace.untraced_job_s": untraced,
            "trace.overhead_s": rs["wall_s"] - untraced if untraced is not None else None,
            # pass wall not covered by any query span: harness time
            # between calls, which no layer owns
            "trace.unattributed_s": rs["wall_s"] - query_wall,
            "trace.untagged_jobs": len(untagged),
        }
    )
    return t


def event_log_path(log_dir: str) -> str:
    """The one finished event log in `log_dir` (glob skips .crc files)."""
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


def fold_dir(trace_dir: str) -> dict:
    """Fold a traced run's directory (spans.json + event log)."""
    with open(os.path.join(trace_dir, "spans.json")) as f:
        rec = json.load(f)
    jobs, tasks = read_event_log(event_log_path(os.path.join(trace_dir, "eventlog")))
    ctx = rec["context"]
    rows = fold(rec["spans"], jobs, tasks, ctx["cores"])
    return layer_table(rec["spans"], rows, jobs, ctx)


def format_table(table: dict) -> str:
    lines = []
    for k, v in table.items():
        if isinstance(v, float):
            v = f"{v:.6g}"
        lines.append(f"{k:48s} {v}")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/fold.py <trace dir>")
    print(format_table(fold_dir(sys.argv[1])))
