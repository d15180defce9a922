#!/usr/bin/env python
"""Round-7 optimization lab: one pinned replay child per invocation.

Mirrors bench.py's _CHILD (same profile, same WAL caches in /dev/shm, same
affinity pinning) without the contamination machinery, so engine changes can
be A/B'd in minutes instead of full bench runs. Results are printed as one
JSON line; bench.py stays frozen (driver contract).

Usage: python tools/r7_lab.py --cores 32 --events 8000000 [--fold] [--no-warm]
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SHM = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--events", type=int, default=8_000_000)
    ap.add_argument("--fold", action="store_true", help="time DV fold + probes")
    ap.add_argument("--no-warm", action="store_true", help="skip the warm replay")
    ap.add_argument("--cap", type=int, default=None)
    ap.add_argument("--conc", type=int, default=4)
    ap.add_argument("--tag", default="")
    args = ap.parse_args()

    if hasattr(os, "sched_setaffinity"):
        os.sched_setaffinity(0, set(range(args.cores)))

    from pyspark.sql import functions as F

    from datax_3_0_0_src_spark.cdc.extract import extract_text_udf
    from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
    from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer
    from datax_3_0_0_src_spark.session import get_spark

    cores = args.cores
    n = args.events
    os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
    spark = get_spark(parallelism=cores, shuffle_partitions=cores,
                      extra_conf={"spark.local.dir": f"{SHM}/spark_local_bench"})
    wal = os.path.join(SHM, f"datax_bench_wal_{n}")
    if not os.path.isdir(wal):
        cfg = EventGenConfig(seed=42, n_events=n, events_per_epoch=n // 2)
        write_event_log(spark, cfg, wal, slices=128)
    warm_n = max(n // 8, 1_000_000)
    warm_wal = os.path.join(SHM, f"datax_bench_wal_{warm_n}")
    if not os.path.isdir(warm_wal):
        cfg = EventGenConfig(seed=42, n_events=warm_n, events_per_epoch=warm_n // 2)
        write_event_log(spark, cfg, warm_wal, slices=128)

    # worker warmup (pandas import) exactly like the bench child
    (spark.range(0, cores * 2000, numPartitions=cores)
     .select(extract_text_udf(F.lit(
         b"<html><head><title>t</title></head><body>b</body></html>")))
     .write.format("noop").mode("overwrite").save())

    base = SHM + f"/datax_r7lab_replay_{cores}"
    profile = dict(max_concurrent_batches=args.conc)
    profile["max_events_per_batch"] = args.cap or min(n // 8, 2_000_000)

    out = {"cores": cores, "events": n, "tag": args.tag}
    wals = [] if args.no_warm else [warm_wal]
    wals.append(wal)
    for w in wals:
        shutil.rmtree(base, ignore_errors=True)
        rep = Replayer(spark, ReplayConfig(
            log_dir=w, table_path=base + "/pages", work_dir=base + "/work",
            num_buckets=32, **profile))
        t0 = time.monotonic()
        rep.run()
        out["apply_s"] = round(time.monotonic() - t0, 2)
    laps: dict = {}
    for tl in rep.batch_timelines[-32:] if not args.no_warm else rep.batch_timelines:
        for k in ("read_epoch_s", "fused_build_s", "plan_s", "write_job",
                  "footers", "pre_commit", "commit_cas", "slice_stats_s",
                  "total_s"):
            laps[k] = round(laps.get(k, 0.0) + tl.get(k, 0.0), 2)
    out["laps"] = laps
    out["events_per_sec"] = round(n / out["apply_s"], 1)
    if args.fold:
        t0 = time.monotonic()
        rep.table.compact(strategy="dv")
        out["fold_dv_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        rep.table.read().write.format("noop").mode("overwrite").save()
        out["read_probe_dv_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        rep.table.compact(target_files_per_bucket=2, concurrency=4,
                          strategy="local")
        out["fold_rewrite_s"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        rep.table.read().write.format("noop").mode("overwrite").save()
        out["read_probe_rw_s"] = round(time.monotonic() - t0, 2)
    shutil.rmtree(base, ignore_errors=True)
    print("LAB " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
