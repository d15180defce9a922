"""Delete-vector (positional) minor fold: LWW resolution without rewriting
data — Iceberg-v2-style positional deletes on this manifest.

Covers: state parity with the rewrite fold, zero-rewrite layout (delta files
PROMOTED, base file paths untouched), reads through every later lifecycle op
(new deltas, re-fold, major fold, COW merge, rebucket, GC, time travel,
schema evolution), and tombstone preservation (late events can't resurrect).
"""

from __future__ import annotations

import pytest

from datax_3_0_0_src_spark.lake import LakeTable

from test_lake_table import PAGES_SCHEMA, TS, batch, make_table, state


def seed_mor(spark, path, nb=4) -> LakeTable:
    """Three MOR delta layers: inserts, updates+delete, out-of-order losers."""
    t = make_table(spark, path, nb=nb)
    t.merge(batch(spark, [
        ("a", "2024-01-01T00:00:00", "<a>", "A0", "en", 0, "I"),
        ("b", "2024-01-01T00:00:01", "<b>", "B0", "en", 1, "I"),
        ("c", "2024-01-01T00:00:02", "<c>", "C0", "de", 2, "I"),
        ("d", "2024-01-01T00:00:03", "<d>", "D0", "fr", 3, "I"),
    ]), mode="mor")
    t.merge(batch(spark, [
        ("a", "2024-01-01T00:10:00", "<a>", "A1", "en", 4, "U"),
        ("b", "2024-01-01T00:10:01", None, None, None, 5, "D"),
        ("e", "2024-01-01T00:10:02", "<e>", "E0", "en", 6, "I"),
    ]), mode="mor")
    t.merge(batch(spark, [
        # out-of-order: OLDER than the live rows -> pure losers
        ("a", "2024-01-01T00:05:00", "<a>", "A_LOSER", "en", 7, "U"),
        ("c", "2024-01-01T00:20:00", "<c>", "C1", "de", 8, "U"),
    ]), mode="mor")
    return t


EXPECTED = {
    "a": (TS("2024-01-01T00:10:00"), "A1"),
    "c": (TS("2024-01-01T00:20:00"), "C1"),
    "d": (TS("2024-01-01T00:00:03"), "D0"),
    "e": (TS("2024-01-01T00:10:02"), "E0"),
}


def test_dv_fold_state_identical_zero_rewrite(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "dv"))
    twin = seed_mor(spark, str(tmp_path / "rw"))

    pre = t.snapshot()
    base_before = {b: list(fs) for b, fs in pre.files.items()}
    delta_before = {b: list(fs) for b, fs in pre.deltas.items()}

    t.compact(strategy="dv")
    twin.compact(strategy="local", target_files_per_bucket=1)

    assert state(t) == EXPECTED
    assert state(t) == state(twin)

    snap = t.snapshot()
    # deltas promoted, none left
    assert all(not v for v in snap.deltas.values())
    # ZERO data rewritten: every pre-fold base and delta file is still
    # referenced verbatim in the new base
    for b, fs in base_before.items():
        assert set(fs) <= set(snap.bucket_files(int(b)))
    for b, fs in delta_before.items():
        assert set(fs) <= set(snap.bucket_files(int(b)))
    # losers exist (A0, A_LOSER, b's insert, C0, b tombstone wins) -> DVs
    assert snap.all_dvs()


def test_dv_tombstone_survives_and_blocks_resurrection(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")
    assert "b" not in state(t)
    # tombstone row is still physically present (guards resurrection)
    sysread = {r["url"] for r in t.read(include_deleted=True).collect()}
    assert "b" in sysread
    # a LATE event older than the tombstone must stay dead
    t.merge(batch(spark, [
        ("b", "2024-01-01T00:00:30", "<b>", "B_LATE", "en", 9, "U"),
    ]), mode="mor")
    assert "b" not in state(t)
    t.compact(strategy="dv")
    assert "b" not in state(t)


def test_fold_winner_pick_exact_at_2pow53_offsets(spark, tmp_path):
    """Round-6 advice #3 (low): the fold's narrow winner pick must compare
    offsets as exact int64 — float64 cannot represent 2^53+1, so equal-ts
    rows with adjacent huge offsets would tie and the tiebreak could pick the
    OLDER writer, diverging from _resolve_lww's exact long comparison."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    t = make_table(spark, str(tmp_path / "t"), nb=2)
    long_schema = StructType(
        PAGES_SCHEMA.fields
        + [StructField("log_offset", LongType()), StructField("op", StringType())]
    )
    base = 1 << 53  # above float64's integer-exact range
    rows = [
        ("a", TS("2024-01-01T00:00:00"), b"<a>", "OLD", "en", base, "I"),
        ("b", TS("2024-01-01T00:00:00"), b"<b>", "B_OLD", "en", base + 2, "I"),
    ]
    t.merge(spark.createDataFrame(rows, long_schema), mode="mor")
    rows2 = [
        # SAME ts, offset exactly one past the float64-representable twin
        ("a", TS("2024-01-01T00:00:00"), b"<a>", "NEW", "en", base + 1, "U"),
        # ...and a LOSER whose float64 repr equals the incumbent's offset
        ("b", TS("2024-01-01T00:00:00"), b"<b>", "B_LOSER", "en", base + 1, "U"),
    ]
    t.merge(spark.createDataFrame(rows2, long_schema), mode="mor")
    expected = {"a": (TS("2024-01-01T00:00:00"), "NEW"),
                "b": (TS("2024-01-01T00:00:00"), "B_OLD")}
    assert state(t) == expected        # read path: exact long comparison
    t.compact(strategy="dv")
    assert state(t) == expected        # dv fold must agree
    t2 = make_table(spark, str(tmp_path / "t2"), nb=2)
    t2.merge(spark.createDataFrame(rows, long_schema), mode="mor")
    t2.merge(spark.createDataFrame(rows2, long_schema), mode="mor")
    t2.compact(strategy="local", target_files_per_bucket=1)
    assert state(t2) == expected       # local rewrite fold must agree too


def test_dv_then_new_deltas_then_refold(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")
    # new deltas layered on DV-folded base: read resolves anti-join + LWW
    t.merge(batch(spark, [
        ("a", "2024-01-01T01:00:00", "<a>", "A2", "en", 10, "U"),
        ("f", "2024-01-01T01:00:01", "<f>", "F0", "en", 11, "I"),
    ]), mode="mor")
    exp = dict(EXPECTED)
    exp["a"] = (TS("2024-01-01T01:00:00"), "A2")
    exp["f"] = (TS("2024-01-01T01:00:01"), "F0")
    assert state(t) == exp
    # re-fold: DV set replaced, deltas promoted again, state unchanged
    t.compact(strategy="dv")
    assert state(t) == exp
    snap = t.snapshot()
    assert all(not v for v in snap.deltas.values())
    # dv fold on an already-folded table is a no-op commit-wise
    v = snap.version
    t.compact(strategy="dv")
    assert t.snapshot().version == v


def test_major_fold_after_dv_clears_dvs(spark, tmp_path):
    """Round-6 advice #1 (high): after a DV fold, a bucket's base files
    carry LWW-masked losers and its deltas are gone — a later rewrite fold
    (file-count-triggered, no unresolved deltas) must re-resolve instead of
    copying the masked losers into the new base while popping the DVs."""
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")
    assert t.snapshot().all_dvs()
    t.compact(strategy="local", target_files_per_bucket=1)
    snap = t.snapshot()
    assert not snap.all_dvs()          # rewrite clears the delete vectors
    assert all(not v for v in snap.deltas.values())
    assert all(len(fs) <= 1 for fs in snap.files.values())
    assert state(t) == EXPECTED        # ...and must not resurrect A0/A_LOSER/C0
    # deleted key stays dead through the rewrite (tombstone row kept)
    assert "b" not in state(t)
    rows = t.read(include_deleted=True).collect()
    assert {r["url"] for r in rows} == {"a", "b", "c", "d", "e"}
    assert len(rows) == 5              # exactly one physical row per key now


def test_cow_merge_after_dv(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")
    t.merge(batch(spark, [
        ("c", "2024-01-01T02:00:00", "<c>", "C2", "de", 12, "U"),
    ]), mode="cow")
    exp = dict(EXPECTED)
    exp["c"] = (TS("2024-01-01T02:00:00"), "C2")
    assert state(t) == exp
    # COW rewrote c's bucket -> its DVs died with the rewrite; other
    # buckets keep theirs; a full read stays exact either way
    snap = t.snapshot()
    cb = None
    for b in map(int, snap.files):
        if any("c" == r["url"] for r in t.read(buckets=[b]).collect()):
            cb = b
    assert cb is not None
    assert not snap.bucket_dvs(cb)


def test_rebucket_after_dv(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")
    t.rebucket(8)
    snap = t.snapshot()
    assert snap.num_buckets == 8
    assert not snap.all_dvs()
    assert state(t) == EXPECTED


def test_gc_keeps_live_dv_files_and_drops_dead(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")
    removed = t.expire_snapshots(keep_last=1)
    assert removed == 0  # every base file was promoted, DVs are live
    assert state(t) == EXPECTED
    # a major fold obsoletes the DV files; GC may then reclaim them
    t.compact(strategy="local", target_files_per_bucket=1)
    t.expire_snapshots(keep_last=1)
    assert state(t) == EXPECTED
    import os
    live = set(t.snapshot().all_files())
    for root, _d, fns in os.walk(os.path.join(t.path, "data")):
        for fn in fns:
            rel = os.path.relpath(os.path.join(root, fn), t.path)
            if fn.endswith(".parquet"):
                assert rel in live


def test_time_travel_across_dv_fold(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    v_pre = t.snapshot().version
    t.compact(strategy="dv")
    v_post = t.snapshot().version
    assert state(t, version=v_pre) == EXPECTED  # resolved via read-time LWW
    assert state(t, version=v_post) == EXPECTED  # resolved via DVs
    t.merge(batch(spark, [
        ("a", "2024-01-01T03:00:00", "<a>", "A3", "en", 13, "U"),
    ]), mode="mor")
    assert state(t, version=v_post) == EXPECTED  # unchanged history


def test_dv_with_schema_evolution(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")
    # evolved batch adds a column; older (promoted) files null-backfill
    rows = [("a", TS("2024-01-01T04:00:00"), b"<a>", "A4", "en", 200, 14, "U")]
    df = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, fetch_status int, log_offset int, op string",
    )
    t.merge(df, mode="mor")
    t.compact(strategy="dv")
    got = {r["url"]: (r["text"], r["fetch_status"])
           for r in t.read().collect()}
    assert got["a"] == ("A4", 200)
    assert got["c"] == ("C1", None)


def test_dv_table_path_containing_data_segment(spark, tmp_path):
    """The reader's rel-path derivation takes everything after the LAST
    '/data/' — a table rooted under a user dir literally named data/ must
    still map scan rows to the right DV entries."""
    p = tmp_path / "data" / "tbl"
    p.parent.mkdir(parents=True, exist_ok=True)
    t = seed_mor(spark, str(p))
    t.compact(strategy="dv")
    assert state(t) == EXPECTED


def test_dv_strategy_rejects_unknown(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="strategy"):
        t.compact(strategy="bogus")
    with pytest.raises(ValueError, match="shuffle fold was removed"):
        t.compact(strategy="shuffle")


def test_dv_cas_preserves_delta_layered_after_fold_read(spark, tmp_path):
    """A MOR merge landing BETWEEN the DV fold's snapshot read and its commit
    must survive: the CAS re-layer keeps the unread delta as a delta, and the
    read resolves (DV-masked base + late delta) exactly."""
    t = make_table(spark, str(tmp_path / "t"), nb=2)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I"),
                          ("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I")]),
            mode="mor")
    t.merge(batch(spark, [("a", "2024-01-01T00:05:00", "<x>", "A1b", "en", 2, "U")]),
            mode="mor")
    stale = t.snapshot()
    todo = sorted(int(b) for b in stale.deltas)
    # a concurrent merge lands after the DV fold's read...
    t.merge(batch(spark, [("a", "2024-01-02T00:00:00", "<x>", "A2", "en", 5, "U")]),
            mode="mor")
    # ...then the DV fold (computed from the stale snapshot) commits
    t._fold_dv(stale, todo)
    snap = t.snapshot()
    assert snap.all_deltas(), "late delta must survive the DV fold commit"
    got = state(t)
    assert got["a"][1] == "A2" and got["b"][1] == "B1"
    # a follow-up DV fold absorbs the late delta too
    t.compact(strategy="dv")
    assert all(not v for v in t.snapshot().deltas.values())
    assert state(t) == got


def test_dv_same_bucket_conflict_detected(spark, tmp_path):
    """A rewrite fold committing between the DV fold's read and its commit
    changes the bucket's base files — the stale DV commit must fail loudly
    (its positions no longer describe the live files)."""
    t = make_table(spark, str(tmp_path / "t"), nb=2)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I"),
                          ("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I")]),
            mode="mor")
    t.merge(batch(spark, [("a", "2024-01-01T00:05:00", "<x>", "A2", "en", 2, "U")]),
            mode="mor")
    stale = t.snapshot()
    todo = sorted(int(b) for b in stale.deltas)
    t.compact(strategy="local", target_files_per_bucket=1)  # rewrite wins
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        t._fold_dv(stale, todo)


@pytest.mark.parametrize("strategy", ["dv", "local"])
def test_fold_submits_one_spark_job(spark, tmp_path, strategy):
    """A fold is ONE Spark job: its bucket specs are cut into contiguous
    task runs with no range-partitioner sampling jobs in front."""
    t = seed_mor(spark, str(tmp_path / strategy), nb=8)
    sc, group = spark.sparkContext, f"fold-{strategy}-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        t.compact(strategy=strategy)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert state(t) == EXPECTED
