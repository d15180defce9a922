"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of this repository. Each invocation starts
the workload in a fresh process (and so a fresh JVM) in a session of its
own, waits for it, and stops whatever that session left behind. Scratch
files go under ``.perfbench_work/`` (removed afterwards); results, spans and
the per-layer table under ``.perfbench_out/<workload>-s<seed>/``.

Workloads (see ``workload.py``), both on Spark ``local[4]``:
``bulk_replay`` (large batches; per-event work) and ``tail_serve`` (small
epochs tailed beside a reader; per-batch fixed costs and contention).

End-to-end metrics, printed on every run with ``--trace 0``. Both workloads
report the same names, each measured on its own operations:

=================  ===========================  ===========================
metric             bulk_replay                  tail_serve
=================  ===========================  ===========================
setup_s            session start + median of three warm-up passes +
                   one-time preparation (the tail's base-table build)
throughput_per_s   WAL events per second of     WAL events per second of
                   ``Replayer.run()``           the tailer's ``run()`` calls
latency_s          DV fold + rewrite fold       mean commit lag: publish due
                   seconds (median of the       time -> ``run()`` return
                   fold rounds)
read_s             full-table scan after the    ``lookup`` p50 on the table the
                   DV fold (median of the       tail built, once it drained
                   fold rounds)
=================  ===========================  ===========================

The workload's own figures (``peak_rss_mb``: peak summed VmRSS of driver,
JVM and Python workers, ungated because the JVM heap grows by a different
amount on every run; ``replay_events_per_s``, ``fold_dv_s``,
``scan_after_dv_s``, ``fold_rewrite_s``, ``commit_lag_tail_s`` with its
percentile and sample count, ``changes_pull_p50_s``, ``error_rate``,
``gen_s``, ...) and the noise diagnostics are printed on report lines above
the result. ``--trace 1`` makes a traced run, prints and writes the
per-layer table and reports every per-layer metric of BENCHMARK.json,
including the tracing overhead against the median of the untraced runs of
the workload this checkout already made (``.perfbench_out``; one untraced
run comes first when there are none).

Exit status: 0 when every output matched its oracle; 1 on a mismatch (the
result line still says ``"correct": false``) or when the workload failed
(no result line); 2 when the checkout holds no engine to measure.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if sys.path[0] == HERE:
    sys.path[0] = ROOT
else:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

ENGINE = "datax_3_0_0_src_spark"
WORKLOADS = ("bulk_replay", "tail_serve")
RUN_LIMIT_S = 170.0


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_child(args, trace: int, work: str, timeout_s: float) -> dict | None:
    """Run workload.py in a new session; always reap the session."""
    work = os.path.join(work, f"trace{trace}")
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # keep the JVM's scratch files inside the work directory
        "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                              "-XX:-UsePerfData"),
    })
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--work", work, "--result", result,
           "--out", os.path.join(ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}")]
    # the child's stdout (Spark's console noise included) goes to our
    # stderr, so the result stays the last line of our stdout
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {args.workload} exceeded {timeout_s:.0f}s", file=sys.stderr)
        rc = None
    finally:
        reap_session(proc)
    if rc != 0 or not os.path.exists(result):
        print(f"perfbench: workload process failed (exit {rc})", file=sys.stderr)
        return None
    with open(result) as f:
        return json.load(f)


def reap_session(proc: subprocess.Popen) -> None:
    """Stop every process of the child's session (the JVM and the Python
    worker daemon, which leaves the child's process group, included) and
    wait until none is left."""
    sid = proc.pid
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        for pid in stats.session_pids(sid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline:
            if proc.poll() is not None and not stats.session_pids(sid):
                return
            time.sleep(0.1)
    proc.wait()


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_pct", "pct"), ("_mb", "MB"),
                         ("_s", "s"), ("_frac", "ratio"), ("_rate", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def report(res: dict, label: str) -> None:
    def fmt(v):
        return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))

    head = f"perfbench {res['workload']} seed={res['seed']} [{label}]"
    print(head + " e2e: " + "  ".join(
        f"{k}={fmt(v)} {unit_of(k)}" for k, v in res["e2e"].items()))
    print(head + " workload: " + "  ".join(
        f"{k}={fmt(v)} {unit_of(k)}" for k, v in res["named"].items()))
    diag = {k: v for k, v in res["diag"].items() if k != "conf_changed"}
    print(head + " noise: " + "  ".join(f"{k}={fmt(v)}" for k, v in diag.items())
          + f"  conf_changed={res['diag']['conf_changed']}")
    print(head + f" attempted={res['attempted']} failed={res['failed']} "
          f"correct={res['correct']} measured_s={res['measured_s']:.3f} "
          f"wall_s={res['wall_s']:.3f}")
    for m in res["mismatches"]:
        print(head + " MISMATCH: " + m)


def untraced_runs(workload: str) -> list[dict]:
    """Untraced results of ``workload`` this checkout already made, any seed."""
    runs = []
    for path in sorted(glob.glob(os.path.join(ROOT, ".perfbench_out",
                                              f"{workload}-s*", "untraced.json"))):
        with open(path) as f:
            runs.append(json.load(f))
    return runs


def overhead(plain: list[dict], traced: dict) -> float:
    """Mean relative slowdown of the timed end-to-end metrics with tracing
    on, against the median of the untraced runs."""
    p = {k: stats.median([r["e2e"][k] for r in plain]) for k in plain[0]["e2e"]}
    t = traced["e2e"]
    return (p["throughput_per_s"] / t["throughput_per_s"] - 1
            + t["latency_s"] / p["latency_s"] - 1
            + t["read_s"] / p["read_s"] - 1) / 3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated benchmark still stops the workload's processes (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: no {ENGINE}/ package at {ROOT}; nothing to measure",
              file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(ROOT, ".perfbench_out", f"{args.workload}-s{args.seed}")
    try:
        t0 = time.monotonic()
        # a traced run measures its overhead against the untraced runs this
        # checkout already made; only without any does it make one first
        refs = untraced_runs(args.workload) if args.trace else []
        if refs:
            print(f"perfbench: tracing overhead against {len(refs)} untraced "
                  f"run(s) in .perfbench_out", file=sys.stderr)
            res = None
        else:
            res = run_child(args, 0, work, RUN_LIMIT_S / (2 if args.trace else 1))
            if res is None:
                return 1
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, "untraced.json"), "w") as f:
                json.dump(res, f)
            report(res, "untraced")
            refs = [res]
        correct = res is None or res["correct"]
        if args.trace:
            res = run_child(args, 1, work, RUN_LIMIT_S - (time.monotonic() - t0))
            if res is None:
                return 1
            report(res, "traced")
            res["layers"]["trace.overhead_frac"] = overhead(refs, res)
            correct = correct and res["correct"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": correct,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
