"""Per-batch sizing of the replay's layout exchange, the memoized footer pass
and the epoch schema it carries, the scan-split estimate, and the session conf
staying untouched by runs and reads."""

from __future__ import annotations

import os
from collections import Counter
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
from datax_3_0_0_src_spark.cdc.oracle import gen_events_pdf, validate_pd
from datax_3_0_0_src_spark.cdc.replayer import SPLIT_CONF, ReplayConfig, Replayer
from datax_3_0_0_src_spark.lake.table import ROWS_PER_TASK, exchange_width

from test_replayer_e2e import CFG, assert_state_matches
from test_skipping import URLS_A, _fill, make_table

NB = 8


# ------------------------------------------------------------- pure rules
def test_exchange_width_rule():
    # a batch one task can carry is not split: one task, no exchange
    assert exchange_width(4, 16, 4_000) == 1
    assert exchange_width(4, 16, 0) == 1
    assert exchange_width(4, 16, ROWS_PER_TASK) == 1
    assert exchange_width(4, 16, ROWS_PER_TASK + 1) == 4
    assert exchange_width(4, 16, 150_000) == 16
    assert exchange_width(4, 16, None) == 16
    assert exchange_width(4, 16, 8 * ROWS_PER_TASK) == 8
    assert exchange_width(4, 16, 8 * ROWS_PER_TASK + 1) == 9
    # the measured bulk plans keep their full width
    assert exchange_width(8, 32, 2_000_000) == 32
    assert exchange_width(32, 32, 2_000_000) == 32
    for par in (1, 2, 3, 4, 6, 8, 16, 32):
        for nb in (1, 2, 3, 5, 8, 16, 32, 33):
            today = max(nb * max(1, par // nb), 1)
            assert exchange_width(par, nb, None) == today
            for rows in (0, 1, 1_000, 4_000, 100_000, 10**7):
                w = exchange_width(par, nb, rows)
                assert 1 <= w <= today, (par, nb, rows, w)
                if rows <= ROWS_PER_TASK:
                    assert w == 1, (par, nb, rows, w)
                else:
                    assert w >= min(par, today), (par, nb, rows, w)


def _split_target(sizes, cap, par):
    stub = SimpleNamespace(
        cfg=SimpleNamespace(max_events_per_batch=cap),
        spark=SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=par)),
    )
    return Replayer._split_target(stub, sizes)


def test_split_target_ignores_unknown_row_counts_in_the_ratio():
    mib = 1 << 20
    known, unknown = (400 * mib, 1_000_000), (800 * mib, None)
    # ratio from the known epoch only: 400 MiB / 1M rows -> a 200k-row slice
    # is 80 MiB, split 4 ways (mixing in the unknown epoch's bytes gave 60)
    assert _split_target([known, unknown], 200_000, 4) == 20 * mib
    assert _split_target([known], 200_000, 4) == 20 * mib
    # the unknown epoch still counts toward the whole-epoch maximum
    assert _split_target([known, unknown], 10**9, 16) == 50 * mib
    assert _split_target([known, unknown], None, 16) == 50 * mib
    # no ratio at all: whole-epoch size
    assert _split_target([unknown], 200_000, 16) == 50 * mib
    assert _split_target([], 200_000, 4) is None


# --------------------------------------------------------------- replays
def _foreign_wal(src: str, dst: str) -> None:
    """Copy of a WAL written without any column statistics (a foreign
    writer): the replayer gets no offset range or row count from footers."""
    for d in sorted(os.listdir(src)):
        if not d.startswith("epoch="):
            continue
        os.makedirs(os.path.join(dst, d))
        for f in sorted(os.listdir(os.path.join(src, d))):
            if f.endswith(".parquet"):
                t = pq.ParquetFile(os.path.join(src, d, f)).read()
                pq.write_table(t, os.path.join(dst, d, f), write_statistics=False)


# perfbench's WAL shape: pyarrow-written segments, no Spark schema JSON
PB_SCHEMA = pa.schema([("log_offset", pa.int64()), ("op", pa.string()),
                       ("url", pa.string()),
                       ("warc_ts", pa.timestamp("us", tz="UTC")),
                       ("html", pa.binary()), ("lang", pa.string())])


def _pyarrow_wal(dst: str, **write_kw) -> None:
    """CFG's events as a pyarrow-written WAL, four files per epoch."""
    ev = gen_events_pdf(CFG, np.arange(CFG.n_events))
    for e, part in ev.groupby("epoch"):
        d = os.path.join(dst, f"epoch={e}")
        os.makedirs(d)
        for i, idx in enumerate(np.array_split(np.arange(len(part)), 4)):
            t = pa.Table.from_pandas(part.iloc[idx][PB_SCHEMA.names],
                                     schema=PB_SCHEMA, preserve_index=False)
            pq.write_table(t, os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=256, **write_kw)


def _jobs_of(spark, group: str, fn) -> list[list[int]]:
    """fn() under a job group; per job it submitted (in submission order)
    its stages' task counts (pool threads inherit the caller's group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = []
    for j in sorted(st.getJobIdsForGroup(group)):
        infos = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        jobs.append([i.numTasks for i in infos if i is not None])
    return jobs


def _replay_counting_tasks(spark, rep: Replayer, group: str,
                           **run_kw) -> tuple[list[int], list[list[int]]]:
    """run(**run_kw) under a job group; the task count of every stage the
    run submitted, and per job its stages' task counts."""
    jobs = _jobs_of(spark, group, lambda: rep.run(**run_kw))
    return [n for job in jobs for n in job], jobs


def _assert_one_delta_per_bucket_per_batch(rep: Replayer, n_batches: int):
    deltas = [f for fs in rep.table.snapshot().deltas.values() for f in fs]
    per = Counter((f.split("/")[1], f.split("/")[2]) for f in deltas)  # (dir, bucket)
    assert per and set(per.values()) == {1}
    assert len({d for d, _ in per}) == n_batches


@pytest.mark.parametrize("cap", [1_000_000, None], ids=["sliced", "whole_epoch"])
def test_small_batches_run_one_wave(spark, tmp_path, cap):
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB,
        max_events_per_batch=cap, max_concurrent_batches=1))
    par = spark.sparkContext.defaultParallelism
    tasks, _jobs = _replay_counting_tasks(spark, rep, f"sizing-{tmp_path.name}")
    assert_state_matches(rep, CFG)
    assert [tl["exchange_parts"] for tl in rep.batch_timelines] == [
        exchange_width(par, NB, CFG.events_per_epoch)] * 3
    assert exchange_width(par, NB, CFG.events_per_epoch) < NB
    assert tasks and max(tasks) <= par
    _assert_one_delta_per_bucket_per_batch(rep, 3)


def test_wal_without_offset_stats_keeps_full_width(spark, tmp_path, monkeypatch):
    from datax_3_0_0_src_spark.cdc import replayer as rp

    src, log_dir = str(tmp_path / "wal"), str(tmp_path / "foreign")
    write_event_log(spark, CFG, src, slices=4)
    _foreign_wal(src, log_dir)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB,
        max_events_per_batch=None, max_concurrent_batches=1))
    per_task, real = [], rp.summarize

    def spy(rows):  # each batch's per-task event counts
        per_task.append([r["events_read"] for r in rows if r["path"] is None])
        return real(rows)

    monkeypatch.setattr(rp, "summarize", spy)
    par = spark.sparkContext.defaultParallelism
    tasks, _jobs = _replay_counting_tasks(spark, rep, f"sizing-{tmp_path.name}")
    assert rep._epoch_footers(0).ranges is None
    assert_state_matches(rep, CFG)
    full = exchange_width(par, NB, None)
    assert [tl["exchange_parts"] for tl in rep.batch_timelines] == [full] * 3
    assert max(tasks) == full
    _assert_one_delta_per_bucket_per_batch(rep, 3)
    # writer-task balance: one counts row per task of the full-width stage
    assert [tl["writer_tasks"] for tl in rep.batch_timelines] == [full] * 3
    assert [sum(n) for n in per_task] == [CFG.events_per_epoch] * 3
    assert [(tl["empty_writer_tasks"], tl["max_task_events"])
            for tl in rep.batch_timelines] == [
        (n.count(0), max(n)) for n in per_task]


def test_full_width_writer_tasks_all_get_rows(spark, tmp_path):
    """A full-width replay touching every bucket gives every writer task
    rows: the layout maps (bucket, salt) pairs onto tasks one to one, where
    hashing the pair collided and left tasks empty."""
    nb = 16
    src, log_dir = str(tmp_path / "wal"), str(tmp_path / "foreign")
    write_event_log(spark, CFG, src, slices=4)
    _foreign_wal(src, log_dir)  # no row counts: full width
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=nb,
        max_events_per_batch=None, max_concurrent_batches=1))
    rep.run()
    assert_state_matches(rep, CFG)
    full = exchange_width(spark.sparkContext.defaultParallelism, nb, None)
    assert full == nb
    deltas = [f for fs in rep.table.snapshot().deltas.values() for f in fs]
    per_batch = Counter(f.split("/")[1] for f in deltas)
    assert sorted(per_batch.values()) == [nb] * CFG.n_epochs  # every bucket
    assert [(tl["writer_tasks"], tl["empty_writer_tasks"])
            for tl in rep.batch_timelines] == [(full, 0)] * CFG.n_epochs


def test_rate_capped_plan_on_foreign_wal(spark, tmp_path):
    """Without offset stats the rate-capped planner aggregates each epoch
    (no schema-inference job beside it: the footers give the schema even
    without stats) and plans the slices the footer stats give; offset gaps
    add the quantile sketch's aggregation."""
    src, log_dir = str(tmp_path / "wal"), str(tmp_path / "foreign")
    write_event_log(spark, CFG, src, slices=4)
    _foreign_wal(src, log_dir)

    def planner(wal: str) -> Replayer:
        return Replayer(spark, ReplayConfig(
            log_dir=wal, work_dir=str(tmp_path / "work"),
            table_path=str(tmp_path / "pages"), num_buckets=NB,
            max_events_per_batch=300))

    expected = planner(src).plan_batches()
    got: list = []
    jobs = _jobs_of(spark, f"plan-{tmp_path.name}",
                    lambda: got.extend(planner(log_dir).plan_batches()))
    assert got == expected and len(got) == 4 * CFG.n_epochs
    # per epoch one min/max/count aggregation: its scan job and, under
    # AQE, its final stage as a job of its own
    assert [len(j) for j in jobs] == [1, 2] * CFG.n_epochs, jobs

    # offset gaps (every other offset, one epoch) take the quantile path
    gap_dir = str(tmp_path / "gaps" / "epoch=0")
    os.makedirs(gap_dir)
    t = pq.read_table(os.path.join(log_dir, "epoch=0"))
    t = t.filter(pc.equal(pc.bit_wise_and(t.column("log_offset"), 1), 0))
    pq.write_table(t, os.path.join(gap_dir, "part-0.parquet"),
                   write_statistics=False)
    got.clear()
    jobs = _jobs_of(spark, f"gaps-{tmp_path.name}",
                    lambda: got.extend(planner(str(tmp_path / "gaps")).plan_batches()))
    assert [len(j) for j in jobs] == [1, 2, 1, 2], jobs  # + the quantile sketch
    bounds = [lo for *_, lo, _ in got] + [got[-1][-1]]
    assert len(got) == 2 and bounds[0] == 0 and bounds[-1] == CFG.events_per_epoch - 1
    assert bounds == sorted(bounds)


def test_small_epoch_per_run_is_one_task_in_one_job(spark, tmp_path):
    """A tail: one small epoch per run(). Its batch is one writer job of one
    task (no shuffle-map job, no exchange, no schema-inference job: the
    schema comes from the footers), and still makes one delta file per
    touched bucket with the oracle's state and quarantine."""
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB,
        max_events_per_batch=None, max_concurrent_batches=1))
    n_epochs = CFG.n_epochs
    for e in range(n_epochs):
        _tasks, jobs = _replay_counting_tasks(
            spark, rep, f"tail-{tmp_path.name}-{e}", stop_after_batches=1)
        assert jobs == [[1]], jobs
    assert len(rep.batch_timelines) == n_epochs
    assert [(tl["exchange_parts"], tl["writer_tasks"], tl["empty_writer_tasks"],
             tl["max_task_events"]) for tl in rep.batch_timelines] == [
        (1, 1, 0, CFG.events_per_epoch)] * n_epochs
    assert_state_matches(rep, CFG)
    _assert_one_delta_per_bucket_per_batch(rep, n_epochs)
    ev = gen_events_pdf(CFG, np.arange(CFG.n_events))
    assert rep.quarantine().count() == int((~validate_pd(ev)).sum())


def test_pool_jobs_carry_the_callers_job_group(spark, tmp_path):
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB,
        max_events_per_batch=250, max_concurrent_batches=4))
    sc, group = spark.sparkContext, f"pool-{tmp_path.name}"
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        results = rep.run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(results) == 12
    # every job the run submitted, the batches' write jobs included, is in
    # the caller's group: none left the run without one
    assert set(st.getJobIdsForGroup(None)) <= ungrouped
    assert len(st.getJobIdsForGroup(group)) >= len(results)
    assert_state_matches(rep, CFG)


def test_footer_pass_memoized_per_epoch(spark, tmp_path, monkeypatch):
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB))
    plan = rep.plan_batches()
    first = {e: rep._epoch_footers(e) for e in rep.log_epochs()}
    assert all(m.rows == CFG.events_per_epoch and m.schema is not None
               for m in first.values())

    def no_footer_reads(*a, **kw):
        raise AssertionError("footer re-read")

    monkeypatch.setattr(pq, "ParquetFile", no_footer_reads)
    assert rep.plan_batches() == plan
    assert {e: rep._epoch_footers(e) for e in first} == first
    # reading an epoch opens no footer and submits no Spark job
    frames = []
    jobs = _jobs_of(spark, f"read-{tmp_path.name}", lambda: frames.extend(
        rep.read_epoch(e) for e in first))
    assert jobs == []
    assert [df.schema for df in frames] == [m.schema for m in first.values()]
    assert frames[0].count() == CFG.events_per_epoch


# ------------------------------------------------------- epoch schema
def _wal(spark, kind: str, dst: str) -> None:
    if kind == "spark":  # with evolution: the last epoch adds fetch_status
        write_event_log(spark, EventGenConfig(
            **{**CFG.__dict__, "evo_epoch": CFG.n_epochs - 1}), dst, slices=4)
    elif kind == "spark_not_null":  # the schema JSON says nullable=false
        for e in range(CFG.n_epochs):
            spark.range(e * 100, (e + 1) * 100).select(
                F.col("id").alias("log_offset"),
                F.array(F.col("id")).alias("ids"),
            ).write.parquet(os.path.join(dst, f"epoch={e}"))
    elif kind == "pyarrow":
        _pyarrow_wal(dst)
    else:
        write_event_log(spark, CFG, dst + "-src", slices=4)
        _foreign_wal(dst + "-src", dst)


@pytest.mark.parametrize("kind", ["spark", "spark_not_null", "pyarrow", "foreign"])
def test_footer_schema_is_sparks_inferred_schema(spark, tmp_path, kind):
    log_dir = str(tmp_path / "wal")
    _wal(spark, kind, log_dir)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB))
    schemas = []
    for e in rep.log_epochs():
        meta = rep._epoch_footers(e)
        assert meta.schema is not None
        assert (meta.ranges is None) == (kind == "foreign")
        assert meta.schema == spark.read.parquet(rep._epoch_path(e)).schema
        schemas.append(meta.schema)
    assert len(schemas) == CFG.n_epochs
    if kind == "spark":
        assert ["fetch_status" in s.fieldNames() for s in schemas] == [
            False] * (CFG.n_epochs - 1) + [True]


@pytest.mark.parametrize("case", ["int96", "files_disagree"])
def test_epoch_schema_falls_back_to_inference(spark, tmp_path, case):
    log_dir = str(tmp_path / "wal")
    if case == "int96":  # Spark-written: its schema JSON names no INT96
        conf = "spark.sql.parquet.outputTimestampType"
        saved = spark.conf.get(conf)
        spark.conf.set(conf, "INT96")
        try:
            write_event_log(spark, CFG, log_dir, slices=4)
        finally:
            spark.conf.set(conf, saved)
    else:
        _pyarrow_wal(log_dir)
        f = os.path.join(log_dir, "epoch=0", "part-00003.parquet")
        t = pq.read_table(f)
        pq.write_table(t.append_column("fetch_status", pa.array(
            [200] * t.num_rows, pa.int32())), f)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB))
    assert rep._epoch_footers(0).schema is None
    inferred = spark.read.parquet(rep._epoch_path(0)).schema
    assert rep.read_epoch(0).schema == inferred
    assert rep._epoch_footers(0).schema == inferred  # inferred once
    assert rep.read_epoch(0).count() == CFG.events_per_epoch


# ------------------------------------------------------- session conf
def test_read_epoch_leaves_session_conf_unchanged(spark, tmp_path):
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=str(tmp_path / "work"),
        table_path=str(tmp_path / "pages"), num_buckets=NB))
    before = dict(spark.conf.getAll)
    assert rep.read_epoch(0).count() == CFG.events_per_epoch
    assert dict(spark.conf.getAll) == before


def test_run_and_requeue_leave_session_conf_unchanged(spark, tmp_path):
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    seen: list = []

    def make(name: str, conc: int) -> Replayer:
        rep = Replayer(spark, ReplayConfig(
            log_dir=log_dir, work_dir=str(tmp_path / name / "work"),
            table_path=str(tmp_path / name / "pages"), num_buckets=NB,
            max_concurrent_batches=conc))
        commit = rep.table.commit_deltas

        def spy(*a, **kw):  # the tuned split size is live for the batch job
            seen.append(spark.conf.get(SPLIT_CONF))
            return commit(*a, **kw)

        rep.table.commit_deltas = spy
        return rep

    before = dict(spark.conf.getAll)
    seq = make("seq", 1)
    seq.run()
    assert dict(spark.conf.getAll) == before
    assert seen and all(v != before.get(SPLIT_CONF) for v in seen)

    conc = make("conc", 4)
    conc.run()
    assert dict(spark.conf.getAll) == before
    assert conc.requeue_quarantined()  # the CFG WAL has dirty events
    assert dict(spark.conf.getAll) == before

    # unset before the run -> unset after it
    saved = spark.conf.get(SPLIT_CONF, None)
    spark.conf.unset(SPLIT_CONF)
    try:
        seen.clear()
        make("unset", 1).run()
        assert seen
        assert spark.conf.get(SPLIT_CONF, None) is None
    finally:
        if saved is not None:
            spark.conf.set(SPLIT_CONF, saved)
    assert dict(spark.conf.getAll) == before


def test_reads_leave_session_conf_unchanged(spark, tmp_path):
    # the listing threshold is a build-time session setting ...
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024"
    t = _fill(spark, make_table(spark, str(tmp_path / "t")))
    t.compact(strategy="dv")
    assert t.snapshot().all_dvs()
    # ... and no read path sets anything on the session
    before = dict(spark.conf.getAll)
    assert t.lookup(URLS_A[:3]).collect()
    assert t.read().collect()
    assert dict(spark.conf.getAll) == before
