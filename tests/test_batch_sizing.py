"""Per-batch sizing of the replay's layout exchange, the memoized footer pass,
the scan-split estimate, and the session conf staying untouched by runs and
reads."""

from __future__ import annotations

import os
from collections import Counter
from types import SimpleNamespace

import numpy as np
import pyarrow.parquet as pq
import pytest

from datax_3_0_0_src_spark.cdc.gen import write_event_log
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


def _replay_counting_tasks(spark, rep: Replayer, group: str,
                           **run_kw) -> tuple[list[int], list[list[int]]]:
    """run(**run_kw) under a job group; the task count of every stage the
    run submitted, and per job (in submission order) its stages' task counts
    (the batch threads inherit the caller's group)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rep.run(**run_kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    jobs = []
    for j in sorted(st.getJobIdsForGroup(group)):
        infos = [st.getStageInfo(s) for s in st.getJobInfo(j).stageIds]
        jobs.append([i.numTasks for i in infos if i is not None])
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
    assert rep._epoch_stats_from_footers(0) is None
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


def test_small_epoch_per_run_is_one_task_in_one_job(spark, tmp_path):
    """A tail: one small epoch per run(). Its batch is one writer job of one
    task (no shuffle-map job, no exchange), beside at most the epoch's
    schema-inference job, and still makes one delta file per touched bucket
    with the oracle's state and quarantine."""
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
        # the writer job last, the schema-inference job (if any) before it
        assert 1 <= len(jobs) <= 2 and all(j == [1] for j in jobs), jobs
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
    first = {e: rep._epoch_stats_from_footers(e) for e in rep.log_epochs()}
    assert all(s is not None and s[2] == CFG.events_per_epoch for s in first.values())

    def no_footer_reads(*a, **kw):
        raise AssertionError("footer re-read")

    monkeypatch.setattr(pq, "ParquetFile", no_footer_reads)
    assert rep.plan_batches() == plan
    assert {e: rep._epoch_stats_from_footers(e) for e in first} == first
    assert all(br[1] == CFG.events_per_epoch
               for br in map(rep._epoch_bytes_rows, first))


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
