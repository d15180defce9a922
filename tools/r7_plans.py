#!/usr/bin/env python
"""Capture .explain("formatted") plans for round-7 before/after evidence.

Usage: python tools/r7_plans.py <outdir> <suffix> [query ...]

Writes <outdir>/<query>_<suffix>.txt for each named query from the driver
catalog, plus synthetic plan captures for the engine paths the round touched
that are not directly a catalog query:

- ``cdc_fused_batch``: the fused micro-batch write DataFrame (scan -> layout
  exchange -> validation -> ArrowEval extract) exactly as the replayer builds
  it, at a small WAL scale;
- ``lake_read_after_dv``: LakeTable.read() over a DV-folded table (the path
  whose loser-masking strategy round 7 replaced).

Run from the repo whose plans you want (the round-6 baseline worktree for
_before, this tree for _after).
"""
from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def fused_batch_df(spark):
    """The per-micro-batch write DataFrame as _run_batch_fused builds it."""
    import shutil

    from pyspark.sql import functions as F

    from datax_3_0_0_src_spark.cdc.fused import apply_fused
    from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
    from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer
    from datax_3_0_0_src_spark.lake.table import SYS_BUCKET

    base = os.path.join(tempfile.gettempdir(), "r7_plan_fused")
    shutil.rmtree(base, ignore_errors=True)
    cfg = EventGenConfig(seed=42, n_events=20_000, events_per_epoch=10_000)
    write_event_log(spark, cfg, base + "/wal", slices=8)
    rep = Replayer(spark, ReplayConfig(
        log_dir=base + "/wal", table_path=base + "/pages",
        work_dir=base + "/work", num_buckets=8))
    c = rep.cfg
    ev = rep.read_epoch(0).drop("epoch")
    nb = rep.table.num_buckets
    bucket = F.when(F.col(c.key).isNull(), F.lit(-1)).otherwise(
        F.pmod(F.xxhash64(F.col(c.key)), F.lit(nb)).cast("int"))
    ev = ev.withColumn(SYS_BUCKET, bucket)
    if not c.dedup_per_batch and hasattr(rep.table, "_layout"):
        ev = rep.table._layout(ev, c.key, nb)
    return apply_fused(ev, epoch=0, slice_dir=base + "/q", key=c.key,
                       ts_col=c.ts_col, seq_col=c.seq_col, op_col=c.op_col)


def dv_read_df(spark):
    """LakeTable.read() over a freshly DV-folded table."""
    import shutil

    from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
    from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer

    base = os.path.join(tempfile.gettempdir(), "r7_plan_dv")
    shutil.rmtree(base, ignore_errors=True)
    cfg = EventGenConfig(seed=42, n_events=20_000, events_per_epoch=10_000)
    write_event_log(spark, cfg, base + "/wal", slices=8)
    rep = Replayer(spark, ReplayConfig(
        log_dir=base + "/wal", table_path=base + "/pages",
        work_dir=base + "/work", num_buckets=8))
    rep.run()
    rep.table.compact(strategy="dv")
    return rep.table.read()


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from datax_3_0_0_src_spark import queries as qcat
    from datax_3_0_0_src_spark.session import get_spark

    spark = get_spark(app_name="r7-plans", parallelism=8, shuffle_partitions=8)
    special = {"cdc_fused_batch": fused_batch_df, "lake_read_after_dv": dv_read_df}
    for name in names:
        if name in special:
            df = special[name](spark)
        else:
            df = qcat.QUERIES[name](spark, SF)
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan_text(df))
        print("wrote", name, suffix)
    spark.stop()


if __name__ == "__main__":
    main()
