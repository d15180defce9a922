#!/usr/bin/env python
"""Fold-scaling lab (round-5 verdict item 2): measure the MOR delta->base
compaction fold in isolation, across pinned core counts, fold task counts,
and parquet codecs, against the SAME pristine applied table.

Why: round-4 driver artifact shows apply_plus_fold barely scaling 8->32
(92.5s -> 65.4s, eff 0.354) with the fold itself ~23s@8 but ~42s@32 — the
fold anti-scales. Two structural suspects: (a) the task cap
``max(8, cores//3)`` gives 10 fold tasks at 32 cores vs 8 at 8 cores, so the
fold cannot scale by construction; (b) the per-bucket winner sort is CPU
(pandas sort_values over string keys), not bandwidth, so more tasks SHOULD
help. This tool answers it empirically.

Method: one child applies the 16M WAL at 32 cores (default config, no
fold) and snapshots the table dir to a pristine copy. Each fold variant then
runs in its own pinned subprocess: restore pristine -> fresh SparkSession ->
time ONLY table.compact(strategy='local'). Serial children, cooldown between.

Usage: python tools/fold_lab.py [n_events]   (default 16_000_000)
Prints one JSON line per variant and a summary table.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHM = "/dev/shm"
N_EVENTS = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
WAL = os.path.join(SHM, f"datax_bench_wal_{N_EVENTS}")
PRISTINE = os.path.join(SHM, f"fold_lab_pristine_{N_EVENTS}")

_APPLY_CHILD = r"""
import os, sys, shutil
os.sched_setaffinity(0, set(range(32)))
sys.path.insert(0, {repo!r})
from datax_3_0_0_src_spark.session import get_spark
from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer
spark = get_spark(parallelism=32, shuffle_partitions=32,
                  extra_conf={{"spark.local.dir": {shm!r} + "/spark_local_foldlab"}})
if not os.path.isdir({wal!r}):
    write_event_log(spark, EventGenConfig(seed=42, n_events={n}, events_per_epoch={n}//2),
                    {wal!r}, slices=128)
base = {shm!r} + "/fold_lab_apply"
shutil.rmtree(base, ignore_errors=True)
profile = dict(max_events_per_batch={n}//8,
               file_compression={codec!r})
rep = Replayer(spark, ReplayConfig(log_dir={wal!r}, table_path=base + "/pages",
                                   work_dir=base + "/work", num_buckets=32, **profile))
rep.run()
shutil.rmtree({pristine!r}, ignore_errors=True)
shutil.copytree(base + "/pages", {pristine!r})
shutil.rmtree(base, ignore_errors=True)
spark.stop()
print("APPLY_DONE")
"""

_FOLD_CHILD = r"""
import os, sys, shutil, time
os.sched_setaffinity(0, set(range({cores})))
os.environ["DATAX_FOLD_TASKS"] = str({tasks})
sys.path.insert(0, {repo!r})
from datax_3_0_0_src_spark.session import get_spark
from datax_3_0_0_src_spark.lake.table import LakeTable
work = {shm!r} + "/fold_lab_work"
shutil.rmtree(work, ignore_errors=True)
shutil.copytree({pristine!r}, work)
spark = get_spark(parallelism={cores}, shuffle_partitions={cores},
                  extra_conf={{"spark.local.dir": {shm!r} + "/spark_local_foldlab"}})
t = LakeTable(spark, work)
t.compression = {codec!r}
# warm the python workers (package import) so the fold timing is steady-state
spark.range(0, {cores} * 100, numPartitions={cores}).mapInPandas(
    lambda it: it, "id long").write.format("noop").mode("overwrite").save()
t0 = time.monotonic()
stats = t.compact(target_files_per_bucket=2, strategy="local")
dt = time.monotonic() - t0
import json
print("RESULT " + json.dumps({{"fold_s": round(dt, 2), "buckets": stats.touched_buckets,
                               "new_files": stats.new_files}}))
shutil.rmtree(work, ignore_errors=True)
spark.stop()
"""


def run_child(code: str, timeout: int = 1200) -> str:
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=timeout)
    if p.returncode != 0:
        raise RuntimeError(f"child failed:\n{p.stderr[-3000:]}")
    return p.stdout


def main() -> None:
    results = []
    for codec in ("snappy", "zstd"):
        print(f"=== building pristine table (codec={codec}) ===", flush=True)
        t0 = time.monotonic()
        out = run_child(_APPLY_CHILD.format(repo=REPO, shm=SHM, wal=WAL, n=N_EVENTS,
                                            pristine=PRISTINE, codec=codec))
        assert "APPLY_DONE" in out
        du = subprocess.run(["du", "-sh", PRISTINE], capture_output=True, text=True)
        print(f"apply+snapshot took {time.monotonic()-t0:.1f}s, table {du.stdout.split()[0]}",
              flush=True)
        variants = [(32, 10), (32, 16), (32, 32), (8, 8), (8, 4)]
        for cores, tasks in variants:
            time.sleep(5)
            t0 = time.monotonic()
            out = run_child(_FOLD_CHILD.format(repo=REPO, shm=SHM, pristine=PRISTINE,
                                               cores=cores, tasks=tasks, codec=codec))
            line = [ln for ln in out.splitlines() if ln.startswith("RESULT ")][-1]
            r = json.loads(line[7:])
            r.update(cores=cores, tasks=tasks, codec=codec,
                     child_wall=round(time.monotonic() - t0, 1))
            results.append(r)
            print(json.dumps(r), flush=True)
    print("\n=== summary (fold seconds) ===")
    for r in results:
        print(f"codec={r['codec']:<7} cores={r['cores']:>2} tasks={r['tasks']:>2} "
              f"fold={r['fold_s']:>7.2f}s")
    with open(os.path.join(REPO, "BENCH_local_r5_fold_lab.json"), "w") as f:
        json.dump({"n_events": N_EVENTS, "results": results}, f, indent=1)


if __name__ == "__main__":
    main()
