"""Benchmark-side spans and the Spark event-log fold.

Spans are recorded only around the benchmark's own calls into a layer's
public functions; nothing inside the engine is instrumented. Every span
carries name, layer, start, end, parent and run id, stays in memory, and is
written out once the run ends. When tracing is on, each span also tags the
Spark jobs its thread submits (``setJobDescription("span=<id> ...")``), and
:func:`spark_by_span` charges every job in Spark's event log to a span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time

from perfbench.stats import self_times

SPARK_KEYS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "python_worker_s", "shuffle_write_bytes", "fetch_wait_s",
              "spill_bytes")
_PY_WORKER_ACCUM = "time to run Python workers"


class Span:
    __slots__ = ("id", "name", "layer", "start", "end", "parent", "thread")

    @property
    def dt(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every span; records and tags them only when ``enabled``."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.sc = None  # SparkContext, once the session exists
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None):
        """Time a block. ``parent`` links a thread's first span to the span
        that started the thread; otherwise the thread's open span is it."""
        sp = Span()
        stack = self._stack()
        sp.id, sp.name, sp.layer = next(self._ids), name, layer
        sp.parent = parent.id if parent else (stack[-1].id if stack else None)
        sp.thread = threading.current_thread().name
        stack.append(sp)
        if self.enabled and self.sc is not None:
            self.sc.setJobDescription(f"span={sp.id} {name}")
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.enabled and self.sc is not None:
                up = stack[-1] if stack else None
                self.sc.setJobDescription(
                    f"span={up.id} {up.name}" if up else None)
            if self.enabled:
                with self._lock:
                    self.spans.append(sp)

    def current(self) -> Span | None:
        """The calling thread's innermost open span."""
        stack = self._stack()
        return stack[-1] if stack else None

    def as_dicts(self) -> list[dict]:
        return [{"id": s.id, "name": s.name, "layer": s.layer,
                 "start": s.start, "end": s.end, "parent": s.parent,
                 "thread": s.thread, "run_id": self.run_id}
                for s in sorted(self.spans, key=lambda s: s.start)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for d in self.as_dicts():
                f.write(json.dumps(d) + "\n")


# ------------------------------------------------------------ event log
def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and per-stage task metric sums from Spark's JSON event log.

    Returns ({job_id: {"desc", "submit", "stages"}},
             {stage_id: {metric: value}})."""
    jobs: dict = {}
    stages: dict = {}
    paths = sorted(os.path.join(d, fn) for d, _, fns in os.walk(log_dir)
                   for fn in fns if not fn.startswith((".", "appstatus")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description"),
                        "submit": ev["Submission Time"] / 1000.0,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = stages.setdefault(ev["Stage ID"],
                                            dict.fromkeys(SPARK_KEYS[1:], 0.0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["tasks"] += 1
                    acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if a.get("Name") == _PY_WORKER_ACCUM:
                            acc["python_worker_s"] += float(a.get("Update", 0)) / 1e3
    return jobs, stages


def attribute_jobs(spans: list[dict], jobs: dict, main_thread: str) -> dict:
    """span id -> list of job ids. A tagged job goes to the span named in its
    description; an untagged one (submitted from a thread the benchmark does
    not own, such as the replayer's batch pool) goes to the innermost
    main-thread span open at its submission time."""
    by_id = {s["id"]: s for s in spans}
    main = sorted((s for s in spans if s["thread"] == main_thread),
                  key=lambda s: s["end"] - s["start"])
    out: dict = {}
    for jid, j in jobs.items():
        sid = None
        desc = j["desc"] or ""
        if desc.startswith("span="):
            sid = int(desc.split()[0][5:])
        if sid not in by_id:
            sid = next((s["id"] for s in main
                        if s["start"] <= j["submit"] <= s["end"]), None)
        out.setdefault(sid, []).append(jid)
    return out


def spark_by_span(spans, jobs, stages, main_thread) -> dict:
    """span id -> summed Spark metrics of the jobs charged to it."""
    out = {}
    for sid, jids in attribute_jobs(spans, jobs, main_thread).items():
        acc = dict.fromkeys(SPARK_KEYS, 0.0)
        acc["jobs"] = float(len(jids))
        for jid in jids:
            for st in jobs[jid]["stages"]:
                for k, v in stages.get(st, {}).items():
                    acc[k] += v
        out[sid] = acc
    return out


def layer_table(spans: list[dict], spark: dict, wall_s: float,
                main_thread: str) -> tuple[list[dict], dict]:
    """Per-layer rows (self time on the main thread and on other threads,
    plus Spark metrics) and the per-layer main-thread self-time map."""
    selfs = self_times(spans)
    rows: dict = {}
    for s in spans:
        r = rows.setdefault(s["layer"], {
            "layer": s["layer"], "spans": 0, "self_s": 0.0,
            "other_threads_self_s": 0.0, **dict.fromkeys(SPARK_KEYS, 0.0)})
        r["spans"] += 1
        if s["thread"] == main_thread:
            r["self_s"] += selfs[s["id"]]
        else:
            r["other_threads_self_s"] += selfs[s["id"]]
        for k, v in spark.get(s["id"], {}).items():
            r[k] += v
    out = sorted(rows.values(), key=lambda r: -r["self_s"])
    for r in out:
        r["self_share_of_wall"] = r["self_s"] / wall_s if wall_s else 0.0
    return out, {r["layer"]: r["self_s"] for r in out}


def format_table(rows: list[dict]) -> str:
    cols = [("layer", 22, "{}"), ("spans", 6, "{:.0f}"), ("self_s", 8, "{:.3f}"),
            ("self_share_of_wall", 7, "{:.1%}"),
            ("other_threads_self_s", 9, "{:.3f}"), ("jobs", 6, "{:.0f}"),
            ("tasks", 7, "{:.0f}"), ("executor_run_s", 9, "{:.2f}"),
            ("executor_cpu_s", 9, "{:.2f}"), ("gc_s", 7, "{:.2f}"),
            ("python_worker_s", 9, "{:.2f}"),
            ("shuffle_write_bytes", 12, "{:.0f}"), ("fetch_wait_s", 8, "{:.2f}"),
            ("spill_bytes", 10, "{:.0f}")]
    heads = {"self_share_of_wall": "wall%", "other_threads_self_s": "oth_self",
             "executor_run_s": "run_s", "executor_cpu_s": "cpu_s",
             "python_worker_s": "py_s", "shuffle_write_bytes": "shuf_w_B",
             "fetch_wait_s": "fetch_s", "spill_bytes": "spill_B"}
    lines = [" ".join(f"{heads.get(c, c):>{w}}" for c, w, _ in cols)]
    for r in rows:
        lines.append(" ".join(f"{fmt.format(r[c]):>{w}}" for c, w, fmt in cols))
    return "\n".join(lines)
