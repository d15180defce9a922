"""End-to-end CDC replay vs the pandas oracle: clean run, resume, rate caps,
salting, quarantine, error limits, schema evolution (FIXTURES.md §3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from datax_3_0_0_src_spark.cdc.gen import EventGenConfig, write_event_log
from datax_3_0_0_src_spark.cdc.oracle import expected_pages, validate_pd, gen_events_pdf
from datax_3_0_0_src_spark.cdc.quarantine import ErrorLimitExceeded
from datax_3_0_0_src_spark.cdc.replayer import ReplayConfig, Replayer

CFG = EventGenConfig(seed=42, n_events=3_000, events_per_epoch=1_000)


def engine_state(rep: Replayer) -> pd.DataFrame:
    pdf = rep.table.read().toPandas().sort_values("url").reset_index(drop=True)
    pdf["html"] = pdf["html"].map(lambda b: bytes(b) if b is not None else None)
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    return pdf


def assert_state_matches(rep: Replayer, gcfg: EventGenConfig):
    got = engine_state(rep)
    exp = expected_pages(gcfg)
    exp["warc_ts"] = exp["warc_ts"].astype("datetime64[us]")
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    assert list(got["url"]) == list(exp["url"])
    assert (got["warc_ts"].to_numpy() == exp["warc_ts"].to_numpy()).all()
    # the byte-identical invariant: extracted text per url
    assert list(got["text"]) == list(exp["text"])
    assert list(got["lang"]) == list(exp["lang"])
    assert list(got["html"]) == list(exp["html"])
    if "fetch_status" in exp.columns:
        assert "fetch_status" in got.columns
        g = got["fetch_status"].astype("Int32").fillna(-1)
        e = exp["fetch_status"].astype("Int32").fillna(-1)
        assert list(g) == list(e)


@pytest.fixture()
def log_and_work(spark, tmp_path):
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    return log_dir, str(tmp_path / "work"), str(tmp_path / "pages")


def make_replayer(spark, log_dir, work, table, **kw) -> Replayer:
    return Replayer(spark, ReplayConfig(
        log_dir=log_dir, table_path=table, work_dir=work, num_buckets=8, **kw))


def test_clean_replay_matches_oracle(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table)
    results = rep.run()
    assert [r.epoch for r in results] == [0, 1, 2]
    assert_state_matches(rep, CFG)

    # quarantine holds exactly the oracle's dirty events
    ev = gen_events_pdf(CFG, np.arange(CFG.n_events))
    n_dirty = int((~validate_pd(ev)).sum())
    assert rep.quarantine().count() == n_dirty
    assert sum(r.events_quarantined for r in results) == n_dirty

    # lineage: per-(partition, epoch) metrics sum to totals
    m = rep.metrics().toPandas()
    assert m["events_read"].sum() == CFG.n_events
    assert m["events_quarantined"].sum() == n_dirty
    assert set(m.columns) >= {
        "partition_id", "checkpoint_epoch", "events_read", "events_applied",
        "events_deduped", "events_quarantined", "bytes_in", "merge_duration_ms",
    }


def test_resume_from_checkpoint_and_idempotent_rerun(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep1 = make_replayer(spark, log_dir, work, table)
    first = rep1.run(stop_after_batches=1)  # "kill" after epoch 0
    assert len(first) == 1
    v_after_kill = rep1.table.snapshot().version

    # restart from checkpoints: must process only epochs 1..2
    rep2 = make_replayer(spark, log_dir, work, table)
    rest = rep2.run()
    assert [r.epoch for r in rest] == [1, 2]
    assert_state_matches(rep2, CFG)
    final_version = rep2.table.snapshot().version
    assert final_version > v_after_kill

    # re-running a fully committed log is a no-op (no new snapshot)
    rep3 = make_replayer(spark, log_dir, work, table)
    assert rep3.run() == []
    assert rep3.table.snapshot().version == final_version


def test_rate_capped_microbatches_same_state(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table, max_events_per_batch=400)
    results = rep.run()
    # 1000-event epochs with cap 400 => 3 sub-batches per epoch (channel speed cap)
    assert len(results) == 9
    assert max(r.events_read for r in results) <= 400
    assert_state_matches(rep, CFG)


def test_salted_dedup_same_state(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table, salt_partitions=4,
                        dedup_per_batch=True)
    rep.run()
    assert_state_matches(rep, CFG)


def test_salt_requires_per_batch_dedup(spark, tmp_path):
    with pytest.raises(ValueError, match="salt_partitions"):
        make_replayer(spark, str(tmp_path / "w"), str(tmp_path / "wk"),
                      str(tmp_path / "t"), salt_partitions=4)


def test_error_limit_aborts(spark, log_and_work):
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table,
                        error_percentage_limit=0.0001)
    with pytest.raises(ErrorLimitExceeded):
        rep.run()


def test_schema_evolution_mid_log(spark, tmp_path):
    gcfg = EventGenConfig(seed=42, n_events=3_000, events_per_epoch=1_000, evo_epoch=2)
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, gcfg, log_dir, slices=4)
    rep = make_replayer(spark, log_dir, str(tmp_path / "work"), str(tmp_path / "pages"))
    rep.run()
    # fetch_status appears additively; pre-evolution winners null-backfilled
    got = engine_state(rep)
    assert "fetch_status" in got.columns
    assert got["fetch_status"].isna().any() and got["fetch_status"].notna().any()
    assert_state_matches(rep, gcfg)


def test_mor_nodedup_fast_path_same_state(spark, log_and_work):
    """dedup_per_batch=False (the default): all valid events land as delta
    rows; the LWW (ts, offset) rule applied at read/compact resolution must
    converge to the byte-identical oracle state."""
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table)
    rep.run()
    assert_state_matches(rep, CFG)
    # folding the deltas preserves the state too
    rep.table.compact(target_files_per_bucket=1)
    assert rep.table.snapshot().deltas == {}
    assert_state_matches(rep, CFG)


def test_concurrent_batches_same_state(spark, log_and_work):
    """Pipelined micro-batches (MOR delta layering is commit-order-free):
    concurrent apply + optimistic manifest CAS must converge to the
    byte-identical oracle state and stay exactly-once on re-run."""
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table,
                        max_events_per_batch=400, max_concurrent_batches=3)
    results = rep.run()
    assert len(results) == 9
    assert_state_matches(rep, CFG)
    rep2 = make_replayer(spark, log_dir, work, table,
                         max_events_per_batch=400, max_concurrent_batches=3)
    assert rep2.run() == []  # all (epoch, sub) pairs committed
    assert_state_matches(rep2, CFG)


def test_overlapped_fold_same_state_and_fully_folded(spark, log_and_work):
    """compact_every: background folds race the still-running batches (the
    CAS commit preserves deltas layered after each fold's read), and the
    post-run tail fold leaves the table byte-identical to the oracle AND
    fully folded — zero deltas, <= compact_target_files files per bucket."""
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table,
                        max_events_per_batch=400, max_concurrent_batches=3,
                        compact_every=2)
    results = rep.run()
    assert len(results) == 9
    assert_state_matches(rep, CFG)
    snap = rep.table.snapshot()
    assert all(not v for v in snap.deltas.values())
    assert all(len(fs) <= rep.cfg.compact_target_files
               for fs in snap.files.values())
    # at least one fold commit landed on top of the 9 merge commits (how
    # many mid-run folds fire is timing-dependent; the tail fold no-ops
    # when an overlapped fold already read the final delta set)
    assert snap.version >= len(results) + 1
    # exactly-once on re-run, state unchanged
    rep2 = make_replayer(spark, log_dir, work, table,
                         max_events_per_batch=400, max_concurrent_batches=3,
                         compact_every=2)
    assert rep2.run() == []
    assert_state_matches(rep2, CFG)


def test_overlapped_dv_fold_same_state(spark, log_and_work):
    """compact_strategy='dv' through the replayer: overlapped DV minor folds
    + the tail fold leave ZERO deltas (all promoted), delete vectors
    attached, and the read byte-identical to the oracle."""
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table,
                        max_events_per_batch=400, max_concurrent_batches=3,
                        compact_every=2, compact_strategy="dv")
    results = rep.run()
    assert len(results) == 9
    assert_state_matches(rep, CFG)
    snap = rep.table.snapshot()
    assert all(not v for v in snap.deltas.values())
    assert snap.all_dvs()  # the WAL carries updates/deletes -> losers exist
    # a maintenance rewrite afterwards converges to the same state
    rep.table.compact(target_files_per_bucket=2, strategy="local")
    assert not rep.table.snapshot().all_dvs()
    assert_state_matches(rep, CFG)


@pytest.mark.parametrize("strategy", ["local", "dv"])
def test_depth_one_background_fold(spark, log_and_work, strategy):
    """compact_every at depth 1 takes the same background-fold path as any
    depth: the run ends fully folded and byte-identical to the oracle."""
    log_dir, work, table = log_and_work
    rep = make_replayer(spark, log_dir, work, table,
                        max_events_per_batch=400, max_concurrent_batches=1,
                        compact_every=2, compact_strategy=strategy)
    assert len(rep.run()) == 9
    assert_state_matches(rep, CFG)
    snap = rep.table.snapshot()
    assert not snap.all_deltas()
    if strategy == "local":
        assert all(len(fs) <= rep.cfg.compact_target_files
                   for fs in snap.files.values())


def test_checkpoint_dir_read_once_per_run(spark, tmp_path, monkeypatch):
    """Commit bookkeeping is O(1) per batch: one checkpoint-dir read per run
    whatever its batch count; committed:* keys are still pruned."""
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, CFG, log_dir, slices=4)
    reads = []
    orig = Replayer._read_checkpoints

    def counting(self):
        reads.append(1)
        return orig(self)

    monkeypatch.setattr(Replayer, "_read_checkpoints", counting)
    counts = {}
    for n in (2, 8):
        reads.clear()
        rep = make_replayer(spark, log_dir, str(tmp_path / f"work{n}"),
                            str(tmp_path / f"pages{n}"),
                            max_events_per_batch=250)
        assert len(rep.run(stop_after_batches=n)) == n
        counts[n] = len(reads)
        assert len(rep.committed_pairs()) == n
        keys = [k for k in rep.table.snapshot().properties
                if k.startswith("committed:")]
        assert len(keys) <= rep.cfg.max_concurrent_batches
    assert counts[2] == counts[8]


@pytest.mark.parametrize("strategy", ["shuffle", "bogus"])
def test_replayer_rejects_unknown_compact_strategy(spark, tmp_path, strategy):
    """An unknown fold strategy fails at construction, not at the first
    fold N batches later (and before any table is created)."""
    with pytest.raises(ValueError, match="compact_strategy"):
        make_replayer(spark, str(tmp_path / "w"), str(tmp_path / "wk"),
                      str(tmp_path / "t"), compact_strategy=strategy)
    assert not (tmp_path / "t").exists()


def test_frozen_bench_call_shapes(spark, tmp_path):
    """bench.py (frozen) builds its config from THROUGHPUT_PROFILE plus
    compact_concurrency and passes compact(concurrency=...): both are
    accepted and ignored. Removing either shim must break this test."""
    from datax_3_0_0_src_spark.cdc.replayer import THROUGHPUT_PROFILE
    from test_lake_table import batch

    profile = dict(THROUGHPUT_PROFILE, max_concurrent_batches=4,
                   compact_concurrency=4)
    profile["max_events_per_batch"] = 1000
    base = str(tmp_path)
    rep = Replayer(spark, ReplayConfig(log_dir=base + "/wal",
                                       table_path=base + "/pages",
                                       work_dir=base + "/work", num_buckets=4,
                                       **profile))
    # three delta layers: after the DV fold promotes them, a bucket holding
    # an even key has 3 base files, above bench.py's rewrite target of 2
    for n, (day, step) in enumerate([(1, 1), (2, 1), (3, 2)]):
        rep.table.merge(batch(spark, [
            (f"u{i}", f"2024-01-0{day}T00:00:00", "<x>", f"{'ABC'[n]}{i}",
             "en", 100 * n + i, "U")
            for i in range(0, 20, step)]), mode="mor")
    assert rep.table.compact(strategy="dv").touched_buckets > 0
    stats = rep.table.compact(target_files_per_bucket=2,
                              concurrency=profile["compact_concurrency"],
                              strategy=profile["compact_strategy"])
    assert stats.touched_buckets > 0  # the rewrite fold ran
    snap = rep.table.snapshot()
    assert not snap.all_deltas() and not snap.all_dvs()
    got = {r["url"]: r["text"] for r in rep.table.read().collect()}
    assert len(got) == 20
    assert got["u0"] == "C0" and got["u1"] == "B1"


def test_rate_cap_with_offset_gaps_no_events_lost(spark, tmp_path):
    """ADVICE fix: sub-batch slicing must be gap-proof. A WAL whose offsets
    have holes (every 3rd offset missing, plus a big jump) still applies every
    event exactly once under a rate cap."""
    import pyspark.sql.functions as F

    from datax_3_0_0_src_spark.cdc.gen import gen_events_df

    # dense events, then thin them out and warp offsets to create gaps
    dense = gen_events_df(spark, CFG, slices=4)
    gappy = (
        dense.filter(F.col("log_offset") % 3 != 0)
        .withColumn("log_offset",
                    F.when(F.col("log_offset") > 2000,
                           F.col("log_offset") + 100_000)
                    .otherwise(F.col("log_offset") * 7))
        .withColumn("epoch", (F.col("log_offset") % 2).cast("int"))
    )
    log_dir = str(tmp_path / "wal")
    gappy.write.partitionBy("epoch").parquet(log_dir)
    n_events = gappy.count()

    rep = make_replayer(spark, log_dir, str(tmp_path / "work"),
                        str(tmp_path / "pages"), max_events_per_batch=300)
    results = rep.run()
    assert sum(r.events_read for r in results) == n_events  # nothing dropped
    # cap honored to within the quantile sketch's rank error (the boundary
    # planner is approxQuantile-based — no global sort; the cap is a flow
    # control, slice COMPLETENESS is the hard invariant)
    assert max(r.events_read for r in results) <= 300 + max(2, 300 // 50)
    # exactly-once on re-run
    rep2 = make_replayer(spark, log_dir, str(tmp_path / "work"),
                         str(tmp_path / "pages"), max_events_per_batch=300)
    assert rep2.run() == []


def test_throughput_profile_clean_resume_evolution_fold(spark, tmp_path):
    """The default config, which is the measured throughput profile
    (pipelined MOR + deferred dedup + parallel fold), soaked end-to-end:
    clean replay matches the byte-identical oracle, resume stays
    exactly-once, mid-log schema evolution null-backfills, and the parallel
    compaction fold preserves it all."""
    gcfg = EventGenConfig(seed=42, n_events=3_000, events_per_epoch=1_000, evo_epoch=2)
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, gcfg, log_dir, slices=4)
    work, table = str(tmp_path / "work"), str(tmp_path / "pages")

    rep1 = make_replayer(spark, log_dir, work, table)
    first = rep1.run(stop_after_batches=1)  # "kill" mid-run
    assert len(first) == 1

    rep2 = make_replayer(spark, log_dir, work, table)
    rest = rep2.run()
    assert sorted(r.epoch for r in rest) == [1, 2]
    assert_state_matches(rep2, gcfg)

    # full fold after the resumed run
    rep2.table.compact(target_files_per_bucket=1)
    assert rep2.table.snapshot().deltas == {}
    assert_state_matches(rep2, gcfg)

    # exactly-once: full re-run is a no-op
    rep3 = make_replayer(spark, log_dir, work, table)
    assert rep3.run() == []
    assert_state_matches(rep3, gcfg)


def test_slice_file_pruning_parity_and_prunes(spark, tmp_path):
    """Round-7 slice-wide scans: a rate-capped replay whose batches read
    file-pruned slice DataFrames (_slice_df) must produce state identical to
    the whole-epoch path, and the pruned scan must actually select a strict
    subset of the epoch's files (plan-time footer stats drive it)."""
    import shutil

    cfg = EventGenConfig(seed=7, n_events=8_000, events_per_epoch=4_000)
    log_dir = str(tmp_path / "wal")
    write_event_log(spark, cfg, log_dir, slices=8)

    def run(cap, sub):
        base = str(tmp_path / sub)
        shutil.rmtree(base, ignore_errors=True)
        rep = Replayer(spark, ReplayConfig(
            log_dir=log_dir, table_path=base + "/pages",
            work_dir=base + "/work", num_buckets=8,
            max_events_per_batch=cap))
        rep.run()
        return rep

    sliced = run(1_000, "sliced")      # 8 slices across 2 epochs -> pruning
    whole = run(None, "whole")         # no cap -> whole-epoch DFs, no pruning

    # byte-identical final state
    a = sliced.table.read().toPandas().sort_values("url").reset_index(drop=True)
    b = whole.table.read().toPandas().sort_values("url").reset_index(drop=True)
    assert list(a["url"]) == list(b["url"])
    assert list(a["text"]) == list(b["text"])

    # the footer stats were harvested and a mid-epoch slice really prunes:
    # epoch 0 holds offsets [0, 4000) over 4 files (8 range slices split
    # across 2 epochs), so a 1000-offset slice must read < all files
    meta = sliced._epoch_footers(0)
    assert meta.ranges, "plan-time footer stats missing"
    df = sliced._slice_df(0, 1_000, 2_000)
    assert df is not None
    n_files = len(df.inputFiles())
    assert 0 < n_files < len(meta.files), (n_files, len(meta.files))
