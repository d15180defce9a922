#!/usr/bin/env python
"""Timeline profiler for the fused replay: run one pinned replay and print
per-batch phase laps plus the wall-clock layout, to localize the serial floor
(BENCH.md round-4 backlog: per-batch ~1-1.5s fixed cost).

Usage: python tools/profile_replay.py [cores] [wal_dir]
"""
from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CORES = int(sys.argv[1]) if len(sys.argv) > 1 else 32
WAL = sys.argv[2] if len(sys.argv) > 2 else "/dev/shm/datax_bench_wal_16000000"
N_EVENTS = int(os.path.basename(WAL).rsplit("_", 1)[-1])

if hasattr(os, "sched_setaffinity"):
    os.sched_setaffinity(0, set(range(CORES)))

from pyspark.sql import functions as F

from datax_3_0_0_src_spark.cdc.extract import extract_text_udf
from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer
from datax_3_0_0_src_spark.session import get_spark


def main() -> None:
    shm = "/dev/shm"
    spark = get_spark(parallelism=CORES, shuffle_partitions=CORES,
                      extra_conf={"spark.local.dir": shm + "/spark_local_prof"})
    (spark.range(0, CORES * 2000, numPartitions=CORES)
     .select(extract_text_udf(F.lit(
         b"<html><head><title>t</title></head><body>b</body></html>")))
     .write.format("noop").mode("overwrite").save())
    base = shm + f"/datax_prof_replay_{CORES}"
    import shutil
    profile = {"max_events_per_batch": N_EVENTS // 8}
    # warm run on quarter input (same as bench child)
    warm_wal = f"/dev/shm/datax_bench_wal_{max(N_EVENTS // 4, 1_000_000)}"
    for wal in ([warm_wal] if os.path.isdir(warm_wal) else []) + [WAL]:
        shutil.rmtree(base, ignore_errors=True)
        rep = Replayer(spark, ReplayConfig(log_dir=wal, table_path=base + "/pages",
                                           work_dir=base + "/work", num_buckets=32,
                                           **profile))
        t_plan0 = time.monotonic()
        plan = rep.plan_batches()
        plan_wall = time.monotonic() - t_plan0
        t0 = time.monotonic()
        rep.run()
        dt = time.monotonic() - t0
    print(f"\n=== cores={CORES} events={N_EVENTS} apply={dt:.2f}s "
          f"(plan_batches before run: {plan_wall:.2f}s, {len(plan)} batches)")
    tls = sorted(rep.batch_timelines, key=lambda d: d["t0"])
    keys = ["read_epoch_s", "fused_build_s", "plan_s", "write_job", "footers",
            "pre_commit", "commit_cas", "slice_stats_s", "total_s"]
    print(f"{'batch':>5} {'start':>7} {'end':>7} " + " ".join(f"{k:>12}" for k in keys)
          + f" {'other':>7}")
    for tl in tls:
        rel0 = tl["t0"] - t0
        rel1 = tl["t_end"] - t0
        captured = sum(tl.get(k, 0.0) for k in keys[:-1])
        other = tl["total_s"] - captured
        print(f"{tl['batch']:>5} {rel0:>7.2f} {rel1:>7.2f} "
              + " ".join(f"{tl.get(k, 0.0):>12.2f}" for k in keys)
              + f" {other:>7.2f}")
    # aggregate
    agg = {k: sum(tl.get(k, 0.0) for tl in tls) for k in keys}
    print("sums:", {k: round(v, 2) for k, v in agg.items()})
    # windows where no batch's write job could be running (rough serial gaps):
    # coverage of [t0, t0+dt] by batch [t0_b, t_end_b] intervals
    ivs = sorted((tl["t0"] - t0, tl["t_end"] - t0) for tl in tls)
    cov, cur_end, gap_head = 0.0, 0.0, 0.0
    for a, b in ivs:
        if a > cur_end:
            gap_head += a - cur_end
        cov += max(0.0, b - max(a, cur_end))
        cur_end = max(cur_end, b)
    print(f"batch-interval coverage {cov:.2f}s of {dt:.2f}s wall; "
          f"uncovered (pure driver) {dt - min(cur_end, dt) + gap_head:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
