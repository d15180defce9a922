"""LakeTable.changes — the change-data-feed consumer API (Delta CDF /
Iceberg changelog-scan equivalent): per-version row-level changes derived
from the delta-file lists, fold-transparent, COW merges included."""

from __future__ import annotations

from test_dv_fold import seed_mor
from test_lake_table import batch, make_table


def rows_of(df):
    return sorted(
        (r["_commit_version"], r["url"], r["_change_type"], r["_change_offset"])
        for r in df.collect()
    )


def test_changes_full_and_ranged(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    all_ = rows_of(t.changes(0))
    assert len(all_) == 9  # 4 + 3 + 2 events, raw changelog (no dedup)
    assert (2, "b", "delete", 5) in all_
    assert (1, "b", "upsert", 1) in all_
    assert (3, "a", "upsert", 7) in all_  # out-of-order loser still a change
    # ranged reads
    assert len(rows_of(t.changes(1))) == 5
    assert len(rows_of(t.changes(1, 2))) == 3
    assert rows_of(t.changes(2, 3)) == [(3, "a", "upsert", 7),
                                        (3, "c", "upsert", 8)]
    # empty range keeps the schema
    empty = t.changes(3, 3)
    assert empty.count() == 0
    assert "_change_type" in empty.columns


def test_changes_skips_folds_and_crosses_them(spark, tmp_path):
    t = seed_mor(spark, str(tmp_path / "t"))
    t.compact(strategy="dv")          # v4: promotion, no logical changes
    t.compact(target_files_per_bucket=1, strategy="local")  # v5: rewrite
    assert len(rows_of(t.changes(0))) == 9  # feed unchanged by either fold
    v5 = t.snapshot().version
    t.merge(batch(spark, [
        ("z", "2024-01-05T00:00:00", "<z>", "Z0", "en", 50, "I"),
    ]), mode="mor")
    assert rows_of(t.changes(v5)) == [(v5 + 1, "z", "upsert", 50)]
    assert len(rows_of(t.changes(0))) == 10


def test_changes_reports_cow_merge_at_its_delta_commit(spark, tmp_path):
    """A COW merge commits its batch as delta files (v4) and then folds the
    touched bucket (v5): the batch's rows appear at the delta commit's
    version and the fold commit adds nothing to the feed."""
    t = seed_mor(spark, str(tmp_path / "t"))
    stats = t.merge(batch(spark, [
        ("c", "2024-01-06T00:00:00", "<c>", "C9", "de", 60, "U"),
    ]), mode="cow")
    assert stats.version == 5
    assert t.snapshot(5).summary.get("compacted_buckets") == 1
    assert rows_of(t.changes(3)) == [(4, "c", "upsert", 60)]
    assert rows_of(t.changes(4, 5)) == []
    assert len(rows_of(t.changes(0))) == 10


def test_changes_single_scan_over_many_commits(spark, tmp_path):
    """Round-6 verdict item 2: the feed over a LONG history must be ONE
    parquet scan per schema generation (version attribution via a broadcast
    file->version map), not a per-commit union chain — at production
    micro-batch cadence a day is thousands of versions and a thousand-node
    plan is a driver-side scale bug."""
    t = make_table(spark, str(tmp_path / "t"), nb=2)
    n = 110
    for i in range(n):
        t.merge(batch(spark, [
            (f"u{i}", f"2024-01-01T00:{i // 60:02d}:{i % 60:02d}",
             "<x>", f"T{i}", "en", i, "D" if i % 10 == 9 else "I"),
        ]), mode="mor")
    ch = t.changes(0)
    got = rows_of(ch)
    assert len(got) == n
    # correct per-version attribution across all 110 commits
    assert got[0] == (1, "u0", "upsert", 0)
    assert (10, "u9", "delete", 9) in got
    assert got[-1] == (n, f"u{n - 1}", "upsert" if (n - 1) % 10 != 9 else "delete",
                       n - 1)
    # plan shape: exactly ONE parquet file-source scan (plus the tiny local
    # map relation) — no 110-way union of per-version scans
    plan = ch._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both sections
    assert final.count("FileScan parquet") == 1, final[:2000]


def test_changes_schema_evolution_backfills(spark, tmp_path):
    from test_lake_table import TS

    t = seed_mor(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("a", TS("2024-01-07T00:00:00"), b"<a>", "A9", "en", 207, 70, "U")],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, fetch_status int, log_offset int, op string",
    )
    t.merge(df, mode="mor")
    ch = t.changes(0)
    assert "fetch_status" in ch.columns
    got = {(r["_commit_version"], r["url"]): r["fetch_status"]
           for r in ch.collect()}
    assert got[(4, "a")] == 207
    assert got[(1, "a")] is None  # pre-evolution commits null-backfill
