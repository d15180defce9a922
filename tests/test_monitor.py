"""F13 hung-task watchdog + F11 periodic reporter + late-epoch resume."""

from __future__ import annotations

import shutil
import time

import pytest

from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
from datax_3_0_0_src_spark.cdc.monitor import BatchTimeout, HungTaskGuard, PeriodicReporter
from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer


def test_hung_task_guard_cancels_wedged_job(spark):
    def wedge(batches):
        for b in batches:
            time.sleep(120)
            yield b

    df = spark.range(0, 4, numPartitions=4).mapInPandas(wedge, "id long")
    t0 = time.monotonic()
    with pytest.raises(BatchTimeout):
        with HungTaskGuard(spark, 3.0, "test-wedge"):
            df.count()
    assert time.monotonic() - t0 < 60  # cancelled, did not sleep out the tasks


def test_hung_task_guard_passthrough_when_fast(spark):
    with HungTaskGuard(spark, 60.0, "test-fast"):
        n = spark.range(10).count()
    assert n == 10


def test_periodic_reporter_counts_and_rates():
    lines: list[str] = []
    r = PeriodicReporter(0.05, sink=lines.append).start()
    r.update(events_read=100, batches=1)
    time.sleep(0.2)
    r.update(events_read=50)
    r.stop()
    assert lines
    assert "events_read=150" in lines[-1]
    assert "batches=1" in lines[-1]


def test_replayer_reporter_and_watchdog_wiring(spark, tmp_path):
    cfg = EventGenConfig(seed=7, n_events=1_000, events_per_epoch=500)
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, cfg, log_dir, slices=2)
    lines: list[str] = []
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, table_path=str(tmp_path / "pages"),
        work_dir=str(tmp_path / "work"), num_buckets=4,
        batch_timeout_s=600, report_interval_s=0.05, report_sink=lines.append,
    ))
    results = rep.run()
    assert len(results) == 2
    assert lines and "events_read=1000" in lines[-1]


def test_resume_processes_late_lower_epoch(spark, tmp_path):
    """An epoch numerically below already-committed ones, arriving between
    runs, must still be processed (resume tracks (epoch, sub) pairs, not a
    max batch id)."""
    cfg = EventGenConfig(seed=42, n_events=2_000, events_per_epoch=1_000)
    log_dir = tmp_path / "wal"
    write_event_log(spark, cfg, str(log_dir), slices=2)
    staged = tmp_path / "epoch0_staged"
    shutil.move(str(log_dir / "epoch=0"), str(staged))

    def mk():
        return Replayer(spark, ReplayConfig(
            log_dir=str(log_dir), table_path=str(tmp_path / "pages"),
            work_dir=str(tmp_path / "work"), num_buckets=4,
        ))

    first = mk().run()
    assert [r.epoch for r in first] == [1]

    shutil.move(str(staged), str(log_dir / "epoch=0"))
    second = mk().run()
    assert [r.epoch for r in second] == [0]  # late epoch applied, epoch 1 skipped

    # LWW convergence: final state equals the in-order replay's oracle
    from datax_3_0_0_src_spark.cdc.oracle import expected_pages

    got = mk().table.read().toPandas().sort_values("url").reset_index(drop=True)
    exp = expected_pages(cfg)
    assert list(got["url"]) == list(exp["url"])
    assert list(got["text"]) == list(exp["text"])


def test_global_lineage_observe_fewer_jobs_same_state(spark, tmp_path):
    """Lineage rides the batch's one fused job (no separate stat pass): the
    metrics table keeps its sum invariants — per-bucket applied/quarantined
    exact from footers, read/deduped/bytes as one batch-global row
    (partition -1) — and the guarded batches' jobs carry their group tag."""
    import numpy as np

    from datax_3_0_0_src_spark.cdc.oracle import gen_events_pdf, validate_pd

    cfg = EventGenConfig(seed=42, n_events=2_000, events_per_epoch=1_000)
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, cfg, log_dir, slices=2)
    rep = Replayer(spark, ReplayConfig(
        log_dir=log_dir, table_path=str(tmp_path / "pages"),
        work_dir=str(tmp_path / "work"), num_buckets=4, batch_timeout_s=3600,
    ))
    results = rep.run()
    tracker = spark.sparkContext.statusTracker()
    assert all(tracker.getJobIdsForGroup(f"cdc-batch-{i}") for i in range(2))

    ev = gen_events_pdf(cfg, np.arange(cfg.n_events))
    n_dirty = int((~validate_pd(ev)).sum())
    m = rep.metrics().toPandas()
    assert m["events_read"].sum() == cfg.n_events
    assert m["events_quarantined"].sum() == n_dirty
    assert rep.quarantine().count() == n_dirty
    per_bucket, batch_rows = m[m["partition_id"] >= 0], m[m["partition_id"] < 0]
    assert len(batch_rows) == len(results) == 2
    assert (per_bucket["events_read"] == 0).all()
    assert per_bucket["events_applied"].sum() == sum(r.events_applied for r in results)
    assert batch_rows["events_deduped"].sum() == sum(r.events_deduped for r in results)


def test_hung_guard_late_fire_does_not_fail_committed_block(spark):
    """ADVICE fix: the timer firing AFTER the guarded block's last action
    completed (but before __exit__ cancels it) must not raise — the batch
    succeeded, possibly checkpoint included; a spurious BatchTimeout would
    fail a committed batch (and the whole pool in concurrent mode)."""
    lines: list[str] = []
    with HungTaskGuard(spark, 0.05, "test-late-fire", late_cancel_sink=lines.append):
        time.sleep(0.3)  # let the timer fire; no Spark action is in flight
    assert lines and "late cancellation" in lines[0]


def test_late_epoch_does_not_clobber_quarantine_or_metrics(spark, tmp_path):
    """ADVICE fix: quarantine/metrics are keyed by (epoch, sub) like the
    checkpoints. A late-arriving lower epoch reuses the run-relative batch_id
    of an already-committed batch — its audit trail must land BESIDE the
    earlier batch's, never overwrite it."""
    import numpy as np

    from datax_3_0_0_src_spark.cdc.oracle import gen_events_pdf, validate_pd

    cfg = EventGenConfig(seed=42, n_events=2_000, events_per_epoch=1_000)
    log_dir = tmp_path / "wal"
    write_event_log(spark, cfg, str(log_dir), slices=2)
    staged = tmp_path / "epoch0_staged"
    shutil.move(str(log_dir / "epoch=0"), str(staged))

    def mk():
        return Replayer(spark, ReplayConfig(
            log_dir=str(log_dir), table_path=str(tmp_path / "pages"),
            work_dir=str(tmp_path / "work"), num_buckets=4,
        ))

    r1 = mk()
    assert [r.epoch for r in r1.run()] == [1]  # epoch 1 commits as batch_id 0
    q_after_first = r1.quarantine().count()
    shutil.move(str(staged), str(log_dir / "epoch=0"))
    r2 = mk()
    assert [r.epoch for r in r2.run()] == [0]  # late epoch 0 ALSO batch_id 0

    # both epochs' dirty events survive side by side
    ev = gen_events_pdf(cfg, np.arange(cfg.n_events))
    n_dirty_total = int((~validate_pd(ev)).sum())
    assert r2.quarantine().count() == n_dirty_total > q_after_first
    m = r2.metrics().toPandas()
    assert m["events_read"].sum() == cfg.n_events  # both batches' metrics kept


def test_committed_pair_props_rebuild_all_lost_checkpoints(spark, tmp_path):
    """ADVICE fix: every commit records committed:E:S in snapshot properties,
    so reconcile rebuilds EVERY missing checkpoint (not just the last
    committer's) — exactly-once survives a concurrent-mode crash that loses
    several checkpoint files. The bookkeeping keys are pruned once their
    checkpoints are durable again."""
    import os

    cfg = EventGenConfig(seed=7, n_events=2_000, events_per_epoch=500)
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, cfg, log_dir, slices=2)

    def mk():
        return Replayer(spark, ReplayConfig(
            log_dir=log_dir, table_path=str(tmp_path / "pages"),
            work_dir=str(tmp_path / "work"), num_buckets=4,
            max_concurrent_batches=2,
        ))

    r1 = mk()
    results = r1.run()
    assert len(results) == 4
    # simulate a crash that lost the LAST TWO checkpoints (their snapshots
    # committed): exactly the window the single last_batch_id couldn't heal
    ckpts = sorted(os.listdir(r1.cfg.checkpoint_dir))
    for f in ckpts[-2:]:
        os.unlink(os.path.join(r1.cfg.checkpoint_dir, f))

    r2 = mk()
    assert r2.run() == []  # reconcile rebuilt them: nothing re-applied
    assert sorted(os.listdir(r2.cfg.checkpoint_dir)) == ckpts
    # one more commit prunes the committed:* bookkeeping for durable pairs
    props = r2.table.snapshot().properties
    committed_keys = [k for k in props if k.startswith("committed:")]
    assert len(committed_keys) <= 4
