#!/usr/bin/env python
"""DV-fold lab: times the delete-vector minor fold vs the rewrite fold at
bench scale, pinned like bench.py's children, plus the read-side cost the DV
leaves behind (broadcast anti-join) vs a rewritten base.

Usage: python tools/dv_lab.py [cores ...]   (default: 32 8)
Env: BENCH_EVENTS (default 16000000)
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
import bench  # noqa: E402

CHILD = r"""
import os, sys, time, shutil
if hasattr(os, "sched_setaffinity"):
    os.sched_setaffinity(0, set(range({cores})))
sys.path.insert(0, {repo!r})
from datax_3_0_0_src_spark.session import get_spark
from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer
from datax_3_0_0_src_spark.cdc.extract import extract_text_udf
from pyspark.sql import functions as F
cores = {cores}
spark = get_spark(parallelism=cores, shuffle_partitions=cores,
                  extra_conf={{"spark.local.dir": {shm!r} + "/spark_local_bench"}})
(spark.range(0, cores * 2000, numPartitions=cores)
 .select(extract_text_udf(F.lit(b"<html><body>b</body></html>")))
 .write.format("noop").mode("overwrite").save())
base = {shm!r} + f"/datax_dvlab_{{cores}}"
profile = {{"max_events_per_batch": {cap}}}

def read_probe(rep):
    t0 = time.monotonic()
    df = rep.table.read()
    df.agg(F.sum(F.crc32(F.col("url"))), F.sum(F.length("text"))).collect()
    return time.monotonic() - t0

out = {{}}
for wal in ({warm_wal!r}, {wal!r}):
    shutil.rmtree(base, ignore_errors=True)
    rep = Replayer(spark, ReplayConfig(log_dir=wal, table_path=base + "/pages",
                                       work_dir=base + "/work", num_buckets=32,
                                       **profile))
    t0 = time.monotonic(); rep.run(); out["apply_s"] = time.monotonic() - t0
    t0 = time.monotonic(); rep.table.compact(strategy="dv")
    out["dv_fold_s"] = time.monotonic() - t0
    out["read_after_dv_s"] = read_probe(rep)
    snap = rep.table.snapshot()
    import os as _os
    out["dv_bytes"] = sum(_os.path.getsize(_os.path.join(rep.table.path, f))
                          for f in snap.all_dvs())
    t0 = time.monotonic()
    rep.table.compact(target_files_per_bucket=2, concurrency=4, strategy="local")
    out["rewrite_fold_s"] = time.monotonic() - t0
    out["read_after_rewrite_s"] = read_probe(rep)
shutil.rmtree(base, ignore_errors=True)
for k in out: out[k] = round(out[k], 3)
print("RESULT " + __import__("json").dumps(out))
spark.stop()
"""

levels = [int(x) for x in sys.argv[1:]] or [32, 8]
for cores in levels:
    bench._reset_scratch()
    bench.wait_for_idle()
    probe = bench.capability_probe()
    code = CHILD.format(cores=cores, repo=REPO, shm=bench.SHM,
                        wal=bench.WAL_CACHE, warm_wal=bench.WARM_WAL,
                        cap=bench.N_EVENTS // 8)
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, env=dict(os.environ, SPARK_DRIVER_MEM="48g"))
    res = None
    for line in p.stdout.splitlines():
        if line.startswith("RESULT "):
            res = json.loads(line[7:])
    after = bench.capability_probe()
    if res is None:
        print(f"cores={cores} FAILED:\n{p.stderr[-2000:]}")
        continue
    print(f"cores={cores} wall={time.monotonic()-t0:.1f}s {json.dumps(res)} "
          f"probes={probe}|{after}", flush=True)
