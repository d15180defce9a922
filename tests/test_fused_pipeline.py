"""Single-pass (fused) micro-batch pipeline: oracle parity, quarantine
side-write and returned-count correctness, pre-commit error-limit abort,
resume, the writer stage's one-Python-node plan, and the commit of exactly
the files the writer stage returns."""

from __future__ import annotations

import glob
import os
import threading
import time

import numpy as np
import pytest

from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
from datax_3_0_0_src_spark.cdc.oracle import expected_pages, gen_events_pdf, validate_pd
from datax_3_0_0_src_spark.cdc.quarantine import ErrorLimitExceeded
from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer

from test_replayer_e2e import CFG, assert_state_matches


@pytest.fixture()
def log_and_work(spark, tmp_path):
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    return log_dir, str(tmp_path / "work"), str(tmp_path / "pages")


def make(spark, log_dir, work, table, **kw) -> Replayer:
    return Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=work, table_path=table, num_buckets=8, **kw))


def test_fused_replay_matches_oracle_and_counts(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep = make(spark, log_dir, work, table)
    results = rep.run()
    assert [r.epoch for r in results] == [0, 1, 2]
    assert_state_matches(rep, CFG)

    ev = gen_events_pdf(CFG, np.arange(CFG.n_events))
    n_dirty = int((~validate_pd(ev)).sum())
    q = rep.quarantine()
    assert q.count() == n_dirty
    assert {"log_offset", "url", "reason", "raw_payload", "bucket"} <= set(q.columns)
    assert sum(r.events_quarantined for r in results) == n_dirty
    assert sum(r.events_read for r in results) == CFG.n_events

    m = rep.metrics().toPandas()
    assert m["events_read"].sum() == CFG.n_events
    assert m["events_quarantined"].sum() == n_dirty
    assert m["bytes_in"].sum() > 0
    # per-bucket applied rows (from delta footers) sum to the global applied
    assert (
        m.loc[m.partition_id >= 0, "events_applied"].sum()
        == sum(r.events_applied for r in results)
    )


def test_fused_error_limit_aborts_before_commit(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep = make(spark, log_dir, work, table, error_record_limit=0,
               error_percentage_limit=None)
    with pytest.raises(ErrorLimitExceeded):
        rep.run()
    # the gate fired on the writer stage's returned counts, after its files
    # were written but before the manifest commit: no snapshot beyond the
    # empty v0, no checkpoints, the written files unreferenced orphans
    assert rep.table.snapshot().version == 0
    assert rep.committed_pairs() == set()
    assert glob.glob(os.path.join(table, "data", "d*", "_bucket=*", "*.parquet"))


def test_first_failed_batch_stops_the_schedule(spark, log_and_work):
    """A failed batch stops the pool: queued batches never start, so at most
    the one in-flight sibling commits before run() raises; a resume with the
    same config converges to the oracle."""
    log_dir, work, table = log_and_work
    conc = dict(max_events_per_batch=500, max_concurrent_batches=2)
    rep = make(spark, log_dir, work, table, **conc)
    assert len(rep.plan_batches()) >= 6
    commit = rep.table.commit_deltas
    failed0 = threading.Event()

    class Boom(RuntimeError):
        pass

    def failing(*a, **kw):
        if kw["properties"]["last_batch_id"] == 0:
            failed0.set()
            raise Boom("batch 0")
        # a sibling commits only after batch 0 failed at its commit (as
        # behind a slow batch 0); the grace lets batch 0's thread stop the
        # schedule before the sibling's pool thread frees up
        assert failed0.wait(120)
        time.sleep(0.5)
        return commit(*a, **kw)

    rep.table.commit_deltas = failing
    with pytest.raises(Boom):
        rep.run()
    assert len(rep.committed_pairs()) <= 1
    resumed = make(spark, log_dir, work, table, **conc)
    resumed.run()
    assert_state_matches(resumed, CFG)


def test_fused_resume_and_idempotent_rerun(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep1 = make(spark, log_dir, work, table)
    assert len(rep1.run(stop_after_batches=1)) == 1
    rep2 = make(spark, log_dir, work, table)
    assert [r.epoch for r in rep2.run()] == [1, 2]
    assert_state_matches(rep2, CFG)
    v = rep2.table.snapshot().version
    rep3 = make(spark, log_dir, work, table)
    assert rep3.run() == []
    assert rep3.table.snapshot().version == v


def _low_rows_per_task(monkeypatch):
    """Size the test's small batches like large ones: the layout exchange
    at more than one task (the default sends a 1k-event batch to one; at
    the session width 4 and 8 buckets, 500 rows make 5 tasks, 1000 make 8)."""
    from datax_3_0_0_src_spark.lake import table as lake_table

    monkeypatch.setattr(lake_table, "ROWS_PER_TASK", 100)


def test_fused_with_per_batch_dedup(spark, log_and_work):
    """Per-batch dedup, plain and salted, runs through the same writer
    stage: every count is exact — events read, quarantined, and deduped =
    the valid events of a batch beyond its distinct keys. A 1k-event batch
    is one writer task."""
    _check_per_batch_dedup(spark, log_and_work, parts=1)


def test_fused_with_per_batch_dedup_behind_the_exchange(
        spark, log_and_work, monkeypatch):
    """The same counts when the batch's writer stage runs behind the
    layout exchange."""
    _low_rows_per_task(monkeypatch)
    _check_per_batch_dedup(spark, log_and_work, parts=8)


def _check_per_batch_dedup(spark, log_and_work, *, parts):
    log_dir, work, table = log_and_work
    ev = gen_events_pdf(CFG, np.arange(CFG.n_events))
    valid = validate_pd(ev)
    per_epoch = ev[valid].groupby("epoch")
    for salt in (None, 3):
        rep = make(spark, log_dir, f"{work}-{salt}", f"{table}-{salt}",
                   dedup_per_batch=True, salt_partitions=salt)
        results = rep.run()
        assert_state_matches(rep, CFG)
        assert [r.events_read for r in results] == \
            list(ev.groupby("epoch").size())
        assert [r.events_quarantined for r in results] == \
            list((~valid).groupby(ev["epoch"]).sum())
        assert [r.events_applied for r in results] == \
            list(per_epoch["url"].nunique())
        assert [r.events_deduped for r in results] == \
            list(per_epoch.size() - per_epoch["url"].nunique())
        m = rep.metrics().toPandas()
        assert m["events_deduped"].sum() == sum(r.events_deduped for r in results)
        assert m["bytes_in"].sum() == sum(
            len(h) for h in ev["html"] if h is not None)
        assert {tl["exchange_parts"] for tl in rep.batch_timelines} == {parts}


def test_fused_single_python_eval_in_plan(spark, log_and_work):
    """A batch's plan is ONE Python node (the writer stage's MapInArrow, no
    Arrow/batch eval UDF) behind at most ONE exchange (the bucket layout;
    none for a batch that fits one task): every row crosses into Python
    once, and the quarantine side-write happens once."""
    log_dir, work, table = log_and_work
    for dedup in (False, True):
        rep = make(spark, log_dir, work, f"{table}-{dedup}", dedup_per_batch=dedup)
        # rows=None: full width; 1000 rows fit one task, which needs no
        # layout exchange
        for rows, layout in ((None, 1), (1_000, 0)):
            stage, _ = rep._writer_stage(
                rep.read_epoch(0), epoch=0,
                slice_dir=work + "/probe", rows=rows, tl={})
            plan = stage._jdf.queryExecution().executedPlan().toString()
            assert plan.count("MapInArrow") == 1, plan
            assert "EvalPython" not in plan, plan
            exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
            # per-batch dedup adds its aggregation's key exchange
            assert len(exchanges) == layout + dedup, plan


def test_committed_deltas_are_exactly_the_returned_files(
        spark, log_and_work, monkeypatch):
    """The commit layers exactly the files the writer stage's collected rows
    name — no listing — with their returned ts ranges as the stats sidecar
    (equal to the footers), and lookup() and changes() see them. A
    500-event batch is one writer task."""
    _check_committed_deltas(spark, log_and_work, monkeypatch, parts=1)


def test_committed_deltas_behind_the_exchange(spark, log_and_work, monkeypatch):
    """The same commit of exactly the returned files when the batch's writer
    stage runs behind the layout exchange."""
    _low_rows_per_task(monkeypatch)
    _check_committed_deltas(spark, log_and_work, monkeypatch, parts=5)


def _check_committed_deltas(spark, log_and_work, monkeypatch, *, parts):
    from datax_3_0_0_src_spark.cdc import replayer as rp
    from datax_3_0_0_src_spark.lake import skipping

    log_dir, work, table = log_and_work
    named, real = [], rp.summarize

    def spy(rows):
        named.extend(r["path"] for r in rows if r["path"] is not None)
        return real(rows)

    monkeypatch.setattr(rp, "summarize", spy)
    rep = make(spark, log_dir, work, table, max_events_per_batch=500)
    results = rep.run()
    deltas = rep.table.snapshot().all_deltas()
    assert named and len(set(named)) == len(named)
    assert sorted(deltas) == sorted(named)
    on_disk = {os.path.relpath(p, table) for p in glob.glob(
        os.path.join(table, "data", "*", "_bucket=*", "*.parquet"))}
    assert on_disk == set(named)
    stats = skipping.load_stats(table, named)
    for f in named:
        _n, lo, hi = skipping.footer_stats(os.path.join(table, f), "warc_ts")
        assert stats[f] == [lo, hi] and lo is not None

    exp = expected_pages(CFG).set_index("url")
    urls = list(exp.index[:: max(1, len(exp) // 5)])
    got = {r["url"]: r["text"] for r in rep.table.lookup(urls).collect()}
    assert got == {u: exp.loc[u, "text"] for u in urls}
    ch = rep.table.changes(0).toPandas()
    assert len(ch) == sum(r.events_applied for r in results)
    assert set(ch["_commit_version"]) == {r.snapshot_version for r in results}
    assert {tl["exchange_parts"] for tl in rep.batch_timelines} == {parts}


def test_writer_task_failure_commits_no_duplicate(spark, log_and_work, monkeypatch):
    """A writer task that fails after writing its files (attempt 0) fails
    its batch with nothing of it committed; the re-run writes fresh,
    attempt-unique files and commits only those: no (url, offset) is
    layered twice, the failed attempt's files stay unreferenced orphans, and
    the state matches the oracle. (A local master makes one attempt per
    task, so the retry here is the batch's re-run.)"""
    from pyspark.sql import functions as F

    from datax_3_0_0_src_spark.cdc import fused

    log_dir, work, table = log_and_work
    marker = work + "_marker"

    def fail_first(tbl, path, _real=fused._atomic_parquet, _marker=marker):
        # runs in a Python worker: the first call anywhere fails its task
        # after the task wrote (and closed) its delta files
        try:
            os.close(os.open(_marker, os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            return _real(tbl, path)
        raise RuntimeError("injected writer-task failure")

    monkeypatch.setattr(fused, "_atomic_parquet", fail_first)
    conc = dict(max_concurrent_batches=1)
    with pytest.raises(Exception, match="injected writer-task failure"):
        make(spark, log_dir, work, table, **conc).run()
    assert os.path.exists(marker)
    orphans = {os.path.relpath(p, table) for p in glob.glob(
        os.path.join(table, "data", "*", "_bucket=*", "*.parquet"))}
    assert orphans

    resumed = make(spark, log_dir, work, table, **conc)
    resumed.run()
    assert_state_matches(resumed, CFG)
    deltas = resumed.table.snapshot().all_deltas()
    assert not set(deltas) & orphans
    df = spark.read.parquet(*[f"{table}/{f}" for f in deltas])
    assert df.groupBy("url", "_lww_offset").count() \
        .filter(F.col("count") > 1).count() == 0


def test_quarantine_requeue_after_rule_fix(spark, log_and_work):
    """Round-4 operator: overtight validation rule quarantines good rows ->
    rule fixed -> requeue reprocesses them through the same fused pipeline ->
    final state equals a replay that never had the bad rule; intrinsically
    dirty rows stay quarantined; lineage carries the requeue pass."""
    from pyspark.sql import functions as F

    from datax_3_0_0_src_spark.cdc.quarantine import reason_col

    log_dir, work, table = log_and_work

    def strict_rule(op_col="op", delete_op="D"):
        base = reason_col(op_col, delete_op)
        overtight = F.pmod(F.xxhash64(F.col("url")), F.lit(7)) == 0
        return (
            F.when(base.isNotNull(), base)
            .when(overtight, F.lit("overtight_rule"))
            .otherwise(F.lit(None).cast("string"))
        )

    rep = make(spark, log_dir, work, table, validity_rule=strict_rule,
               error_percentage_limit=0.5)
    rep.run()
    q0 = rep.quarantine().toPandas()
    n_overtight = int((q0["reason"] == "overtight_rule").sum())
    assert n_overtight > 0  # the bad rule really quarantined good rows

    # rule fixed: a new replayer over the SAME work/table dirs, default rule
    fixed = make(spark, log_dir, work, table)
    out = fixed.requeue_quarantined()
    assert_state_matches(fixed, CFG)  # state == replay-without-the-bad-rule

    # only intrinsically dirty rows remain, re-quarantined in rq slices
    ev = gen_events_pdf(CFG, np.arange(CFG.n_events))
    n_dirty = int((~validate_pd(ev)).sum())
    # every quarantined row is re-read; the overtight ones apply, the rest
    # stay dirty
    assert sum(r["events_applied"] for r in out) == n_overtight
    assert sum(r["events_still_dirty"] for r in out) == n_dirty
    assert sum(r["events_requeued"] for r in out) == n_overtight + n_dirty
    q1 = fixed.quarantine()
    assert q1.count() == n_dirty
    reasons = {r["reason"] for r in q1.select("reason").distinct().collect()}
    assert "overtight_rule" not in reasons

    # lineage: the requeue pass is recorded with a negative checkpoint epoch
    m = fixed.metrics().toPandas()
    rq = m[m["checkpoint_epoch"] < 0]
    assert len(rq) > 0 and rq["events_read"].sum() >= n_overtight

    # repair is idempotent: a second requeue applies nothing and keeps state
    out2 = fixed.requeue_quarantined()
    assert sum(r["events_applied"] for r in out2) == 0
    assert fixed.quarantine().count() == n_dirty
    assert_state_matches(fixed, CFG)


def test_quarantine_schema_stable_across_layouts(spark, log_and_work):
    """ADVICE round-3: quarantine() must surface ONE schema (`bucket` int)
    whether the slices were written by the old two-job batch pipeline
    (partition column `_bucket`, written here with pyarrow), the fused
    layout (data column), both (a work dir resumed across the change), or
    nobody (typed empty)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datax_3_0_0_src_spark.lake.table import SYS_BUCKET

    log_dir, work, table = log_and_work

    def write_old_slice(rep, sl):
        leaf = os.path.join(rep.cfg.quarantine_dir, f"slice={sl}", f"{SYS_BUCKET}=3")
        os.makedirs(leaf)
        pq.write_table(pa.table({
            "log_offset": pa.array([7], pa.int64()),
            "epoch": pa.array([0], pa.int32()),
            "url": pa.array(["https://old.example/"]),
            "reason": pa.array(["bad_html"]),
            "raw_payload": pa.array([b"<garbage>"], pa.binary()),
        }), os.path.join(leaf, "part-00000.parquet"))

    old = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=work + "_cl", table_path=table + "_cl",
        num_buckets=8))
    write_old_slice(old, "0-0")
    assert [tuple(r) for r in old.quarantine().select("bucket", "url").collect()] \
        == [(3, "https://old.example/")]
    mixed = make(spark, log_dir, work, table)
    mixed.run()
    n_fused = mixed.quarantine().count()
    write_old_slice(mixed, "9-0")
    assert mixed.quarantine().count() == n_fused + 1
    empty = Replayer(spark, ReplayConfig(
        log_dir=log_dir, work_dir=work + "_e", table_path=table + "_e",
        num_buckets=8))
    cols_c = dict(old.quarantine().dtypes)
    cols_f = dict(mixed.quarantine().dtypes)
    cols_e = dict(empty.quarantine().dtypes)
    for cols in (cols_c, cols_f, cols_e):
        assert cols["bucket"] == "int"
        assert "_bucket" not in cols
    assert cols_c.keys() == cols_f.keys() == cols_e.keys()


def test_concurrent_exactly_once_kill_soak(spark, log_and_work):
    """Round-4 soak (verdict item 6): randomized kill points at pipeline
    depth 4 — a batch dies either before its merge or in the window between
    the manifest CAS and its checkpoint write (the exactly-once protocol's
    hard window), while up to 3 sibling batches are in flight. Resume must
    (a) converge to the uninterrupted run's state, (b) apply every event
    exactly once — no duplicate (url, offset) delta rows — across >= 20
    seeded kill points."""
    import random

    from pyspark.sql import functions as F

    log_dir, work, table = log_and_work

    class Kill(RuntimeError):
        pass

    conc = dict(max_events_per_batch=500, max_concurrent_batches=4)

    # uninterrupted baseline
    base = make(spark, log_dir, work + "_b", table + "_b", **conc)
    base.run()
    exp = (base.table.read().toPandas()
           .sort_values("url").reset_index(drop=True))
    n_batches = len(base.plan_batches())
    assert n_batches >= 6

    def delta_rows(rep):
        snap = rep.table.snapshot()
        paths = [
            f"{rep.table.path}/{rel}"
            for b in range(rep.table.num_buckets)
            for rel in snap.bucket_deltas(b)
        ]
        if not paths:
            return 0, 0
        df = spark.read.parquet(*paths)
        dups = (df.groupBy("url", "_lww_offset").count()
                .filter(F.col("count") > 1).count())
        return df.count(), dups

    n_base_delta, _ = delta_rows(base)

    for seed in range(20):
        rng = random.Random(seed)
        target = rng.randrange(n_batches)
        mode = rng.choice(["pre_merge", "post_commit_pre_checkpoint"])
        w, t = f"{work}_k{seed}", f"{table}_k{seed}"
        rep = make(spark, log_dir, w, t, **conc)
        if mode == "post_commit_pre_checkpoint":
            orig_ckpt, fired = rep._write_checkpoint, []

            def ckpt(res, _o=orig_ckpt, _f=fired, _t=target):
                if res.batch_id == _t and not _f:
                    _f.append(1)  # commit already happened; die before ckpt
                    raise Kill(f"kill post-commit batch {_t}")
                _o(res)

            rep._write_checkpoint = ckpt
        else:
            orig_commit, calls = rep.table.commit_deltas, []

            def commit(*a, _o=orig_commit, _c=calls, _t=target, **kw):
                _c.append(1)
                if len(_c) - 1 == _t:
                    raise Kill(f"kill pre-commit call {_t}")
                return _o(*a, **kw)

            rep.table.commit_deltas = commit
        try:
            rep.run()
            # pre_merge kill on an already-planned batch can land after all
            # real merges when fewer calls happen; a clean run is acceptable
        except (Kill, RuntimeError):
            pass

        resumed = make(spark, log_dir, w, t, **conc)
        resumed.run()
        got = (resumed.table.read().toPandas()
               .sort_values("url").reset_index(drop=True))
        assert list(got["url"]) == list(exp["url"]), f"seed {seed} ({mode})"
        assert list(got["text"]) == list(exp["text"]), f"seed {seed} ({mode})"
        n_delta, dups = delta_rows(resumed)
        assert dups == 0, f"seed {seed} ({mode}): duplicate delta rows"
        assert n_delta == n_base_delta, f"seed {seed} ({mode})"


def test_overlapped_dv_fold_kill_soak(spark, log_and_work):
    """Exactly-once under crashes WITH background DV folds racing the apply:
    kill a merge, a checkpoint write, or the overlapped fold itself; resume
    with the identical config must converge to the uninterrupted baseline
    state with every WAL event present exactly once in the physical rows
    (DV folds promote deltas but never drop rows)."""
    import random

    from pyspark.sql import functions as F

    log_dir, work, table = log_and_work

    class Kill(RuntimeError):
        pass

    conc = dict(max_events_per_batch=500, max_concurrent_batches=4,
                compact_every=2, compact_strategy="dv")

    base = make(spark, log_dir, work + "_db", table + "_db", **conc)
    base.run()
    exp = (base.table.read().toPandas()
           .sort_values("url").reset_index(drop=True))
    n_batches = len(base.plan_batches())

    def physical_rows(rep):
        snap = rep.table.snapshot()
        paths = [f"{rep.table.path}/{rel}"
                 for b in range(rep.table.num_buckets)
                 for rel in snap.bucket_files(b) + snap.bucket_deltas(b)]
        df = spark.read.parquet(*paths)
        dups = (df.groupBy("url", "_lww_offset").count()
                .filter(F.col("count") > 1).count())
        return df.count(), dups

    n_rows_base, dups_base = physical_rows(base)
    assert dups_base == 0

    for seed in range(8):
        rng = random.Random(1000 + seed)
        mode = rng.choice(["pre_merge", "post_commit_pre_checkpoint", "fold"])
        target = rng.randrange(n_batches)
        w, t = f"{work}_dk{seed}", f"{table}_dk{seed}"
        rep = make(spark, log_dir, w, t, **conc)
        if mode == "fold":
            orig_compact, calls = rep.table.compact, []

            def compact(*a, _o=orig_compact, _c=calls, **kw):
                _c.append(1)
                if len(_c) == 1:
                    raise Kill("kill first overlapped fold")
                return _o(*a, **kw)

            rep.table.compact = compact
        elif mode == "post_commit_pre_checkpoint":
            orig_ckpt, fired = rep._write_checkpoint, []

            def ckpt(res, _o=orig_ckpt, _f=fired, _t=target):
                if res.batch_id == _t and not _f:
                    _f.append(1)
                    raise Kill(f"kill post-commit batch {_t}")
                _o(res)

            rep._write_checkpoint = ckpt
        else:
            orig_commit, calls = rep.table.commit_deltas, []

            def commit(*a, _o=orig_commit, _c=calls, _t=target, **kw):
                _c.append(1)
                if len(_c) - 1 == _t:
                    raise Kill(f"kill pre-commit call {_t}")
                return _o(*a, **kw)

            rep.table.commit_deltas = commit
        try:
            rep.run()
        except (Kill, RuntimeError):
            pass

        resumed = make(spark, log_dir, w, t, **conc)
        resumed.run()
        got = (resumed.table.read().toPandas()
               .sort_values("url").reset_index(drop=True))
        assert list(got["url"]) == list(exp["url"]), f"seed {seed} ({mode})"
        assert list(got["text"]) == list(exp["text"]), f"seed {seed} ({mode})"
        n_rows, dups = physical_rows(resumed)
        assert dups == 0, f"seed {seed} ({mode}): duplicated (url, offset)"
        assert n_rows == n_rows_base, f"seed {seed} ({mode})"


def test_fold_quarantine_compacts_and_preserves_rows(spark, log_and_work):
    """Offline quarantine fold: per-slice small per-task files collapse to
    one, row multiset preserved, idempotent, crash-recovery completes an
    interrupted fold from its marker."""
    import json as _json
    import os

    log_dir, work, table = log_and_work
    rep = make(spark, log_dir, work, table)
    rep.run()
    before = rep.quarantine().toPandas().sort_values(
        ["epoch", "log_offset"]).reset_index(drop=True)
    res = rep.fold_quarantine()
    assert res["slices_scanned"] >= 3
    after = rep.quarantine().toPandas().sort_values(
        ["epoch", "log_offset"]).reset_index(drop=True)
    assert len(after) == len(before)
    assert list(after["log_offset"]) == list(before["log_offset"])
    assert list(after["reason"]) == list(before["reason"])
    # idempotent: nothing left to fold
    res2 = rep.fold_quarantine()
    assert res2["files_removed"] == 0

    # crash recovery: simulate a fold that died between marker write and
    # input deletion — the file listed in the marker must be cleaned up,
    # not re-read alongside the folded output (which would duplicate rows)
    import glob
    import shutil

    q = rep.cfg.quarantine_dir
    d = sorted(glob.glob(os.path.join(q, "slice=*")))[0]
    folded = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(folded) == 1
    dup = "part-orphan.parquet"
    shutil.copy(os.path.join(d, folded[0]), os.path.join(d, dup))
    with open(os.path.join(d, "_fold-deadbeef.json"), "w") as fh:
        _json.dump([dup], fh)
    # a folded-deadbeef.parquet exists? no — marker without dst and without
    # tmp means the fold never wrote output: recovery drops the marker; the
    # orphan input stays and the re-fold merges it normally
    rep.fold_quarantine()
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 1 and not glob.glob(os.path.join(d, "_fold-*.json"))
    # the orphan was a COPY of the folded file, so the re-fold doubled that
    # slice's rows — precisely what the marker protocol prevents for real
    # interrupted folds (recovery deleted the marker, not the data)
    final = rep.quarantine().toPandas()
    slice_rows = after[after["slice"] == os.path.basename(d)[6:]].shape[0]
    assert len(final) == len(before) + slice_rows


def test_fold_requeue_interleave_with_crash_and_null_offsets(spark, log_and_work):
    """Round-4 verdict item 6: the quarantine lifecycle's last untested seam.
    Interleaves fold -> requeue -> (crash between merge and slice cleanup)
    -> requeue -> fold and asserts (a) convergence to the clean-rule oracle,
    (b) rows with NULL log_offset (foreign WALs — not re-keyable) survive
    every step instead of being deleted by the requeue cleanup (round-4
    advice item 1), (c) metrics reconcile."""
    import glob
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from datax_3_0_0_src_spark.cdc.fused import _dirty_schema
    from datax_3_0_0_src_spark.cdc.quarantine import reason_col

    log_dir, work, table = log_and_work

    def strict_rule(op_col="op", delete_op="D"):
        base = reason_col(op_col, delete_op)
        overtight = F.pmod(F.xxhash64(F.col("url")), F.lit(5)) == 0
        return (F.when(base.isNotNull(), base)
                .when(overtight, F.lit("overtight_rule"))
                .otherwise(F.lit(None).cast("string")))

    rep = make(spark, log_dir, work, table, validity_rule=strict_rule,
               error_percentage_limit=0.9)
    rep.run()

    # inject a foreign-WAL audit row (null log_offset) into an epoch slice
    q = rep.cfg.quarantine_dir
    a_slice = sorted(glob.glob(os.path.join(q, "slice=0-*")))[0]
    foreign = pa.Table.from_pylist(
        [{"log_offset": None, "epoch": 0, "url": "https://foreign.example/",
          "reason": "bad_html", "raw_payload": b"<garbage>", "bucket": 0}],
        schema=_dirty_schema())
    pq.write_table(foreign, os.path.join(a_slice, "part-foreign.parquet"))

    def n_null_offsets(r):
        return r.quarantine().filter(F.col("log_offset").isNull()).count()

    assert n_null_offsets(rep) == 1

    # fold BEFORE requeue: folded slices are what the requeue semi-joins
    rep.fold_quarantine()
    assert n_null_offsets(rep) == 1

    fixed = make(spark, log_dir, work, table)
    # snapshot one epoch's slices; restoring them after the requeue
    # simulates a crash BETWEEN the merge commit and the slice cleanup
    bak_root = os.path.join(work, "slice_bak")  # outside the slice=* glob
    os.makedirs(bak_root, exist_ok=True)
    pre = {d: os.path.join(bak_root, os.path.basename(d))
           for d in glob.glob(os.path.join(q, "slice=1-*"))}
    for d, bak in pre.items():
        shutil.copytree(d, bak)
    out1 = fixed.requeue_quarantined()
    assert sum(r["events_applied"] for r in out1) > 0
    assert n_null_offsets(fixed) == 1  # foreign row survived cleanup
    for d, bak in pre.items():  # "crash": cleanup of epoch 1 never happened
        shutil.rmtree(d, ignore_errors=True)
        os.rename(bak, d)

    # re-run: idempotent merge re-converges, stale slices cleaned again
    fixed2 = make(spark, log_dir, work, table)
    fixed2.requeue_quarantined()
    assert_state_matches(fixed2, CFG)
    assert n_null_offsets(fixed2) == 1

    # fold AFTER a requeue pass folds rq slices without losing rows
    before = fixed2.quarantine().toPandas()
    fixed2.fold_quarantine()
    after = fixed2.quarantine().toPandas()
    key = lambda u: (u is None, u)  # null_url rows sort stably  # noqa: E731
    assert sorted(before["url"], key=key) == sorted(after["url"], key=key)

    # converged: only intrinsically dirty rows + the foreign row remain
    ev = gen_events_pdf(CFG, np.arange(CFG.n_events))
    n_dirty = int((~validate_pd(ev)).sum())
    assert fixed2.quarantine().count() == n_dirty + 1
    reasons = {r["reason"] for r in
               fixed2.quarantine().select("reason").distinct().collect()}
    assert "overtight_rule" not in reasons

    # metrics reconcile: every requeue generation recorded (negative epoch),
    # original-run totals intact
    m = fixed2.metrics().toPandas()
    assert m[m["checkpoint_epoch"] < 0]["events_read"].sum() > 0
    assert m[m["checkpoint_epoch"] >= 0]["events_read"].sum() == CFG.n_events

    # a third requeue is a no-op on table state and quarantine
    out3 = make(spark, log_dir, work, table).requeue_quarantined()
    assert sum(r["events_applied"] for r in out3) == 0
