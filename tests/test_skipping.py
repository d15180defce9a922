"""Data-skipping sidecars: per-file ts stats, driver-side point lookups,
pruned scans.

Covers lake/skipping.py + the LakeTable lookup()/scan_ts_range() read paths:
stats harvested on every write path, ts pruning only where LWW-safe (folded
buckets), exact lookups that submit no Spark job, and sidecar GC."""

from __future__ import annotations

import datetime as dt
import json
import os

from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType, TimestampType,
)

from datax_3_0_0_src_spark.lake import LakeTable
from datax_3_0_0_src_spark.lake.skipping import STATS_NAME
from datax_3_0_0_src_spark.lake.table import xxhash64

TS = lambda s: dt.datetime.fromisoformat(s)  # noqa: E731

PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

BATCH_SCHEMA = StructType(
    PAGES_SCHEMA.fields
    + [StructField("log_offset", IntegerType()), StructField("op", StringType())]
)


def make_table(spark, path, nb=4):
    return LakeTable.create(
        spark, path, PAGES_SCHEMA, key="url", ts_col="warc_ts", num_buckets=nb
    )


def batch(spark, rows):
    return spark.createDataFrame(
        [
            (u, TS(t), f"<html>{u}</html>".encode(), f"text-{u}-{t}", "en", off, op)
            for (u, t, off, op) in rows
        ],
        BATCH_SCHEMA,
    )


def day_rows(day: int, urls, off0: int):
    """One batch worth of rows, all inside day `day` of 2024-01."""
    return [
        (u, f"2024-01-{day:02d}T{(i % 23):02d}:00:00", off0 + i, "U")
        for i, u in enumerate(urls)
    ]


def state(df):
    return {r["url"]: (r["warc_ts"], r["text"]) for r in df.collect()}


URLS_A = [f"https://a.example/{i}" for i in range(24)]
URLS_B = [f"https://b.example/{i}" for i in range(24)]


def _fill(spark, t):
    """Three MOR batches on distinct days; returns the table."""
    t.merge(batch(spark, day_rows(1, URLS_A, 0)), mode="mor")
    t.merge(batch(spark, day_rows(2, URLS_B, 100)), mode="mor")
    # day-3 updates of half the day-1 urls (so LWW matters)
    t.merge(batch(spark, day_rows(3, URLS_A[:12], 200)), mode="mor")
    return t


def test_stats_sidecar_written_on_mor(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    snap = t.snapshot()
    rel = snap.all_deltas()
    assert rel, "expected delta files"
    dirs = {os.path.join(tmp_table_dir, *f.split("/")[:2]) for f in rel}
    for d in dirs:
        p = os.path.join(d, STATS_NAME)
        assert os.path.exists(p), f"missing {p}"
        stats = json.load(open(p))
        assert stats, "empty stats sidecar"
        for f, (lo, hi) in stats.items():
            assert lo is not None and lo <= hi
    # values actually bracket the file contents: day-1 dir spans day 1 only
    first_dir = sorted(dirs)[0]
    stats = json.load(open(os.path.join(first_dir, STATS_NAME)))
    day1_lo = int(TS("2024-01-01T00:00:00").replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    day2_lo = int(TS("2024-01-02T00:00:00").replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    for _f, (lo, hi) in stats.items():
        assert day1_lo <= lo <= hi < day2_lo


def test_scan_ts_range_pruned_after_fold(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    # DV minor fold: resolves LWW (pruning becomes safe) while keeping the
    # per-batch time-clustered delta files in place — a rewrite fold would
    # coalesce all days into one file per bucket and kill ts pruning
    t.compact(strategy="dv")
    lo, hi = TS("2024-01-02T00:00:00"), TS("2024-01-02T23:59:59")
    got = t.scan_ts_range(lo, hi)
    from pyspark.sql import functions as F
    want = t.read().filter(F.col("warc_ts").between(lo, hi))
    assert state(got) == state(want)
    assert set(state(got)) == set(URLS_B)
    assert t.last_prune["ts_skipped"] > 0, t.last_prune
    assert t.last_prune["scanned_files"] < t.last_prune["candidate_files"]


def test_scan_ts_range_unfolded_never_resurrects_losers(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))  # deltas, no fold
    # day-1 window: urls updated on day 3 have their CURRENT ts on day 3 =>
    # they must NOT appear (their day-1 rows are LWW losers)
    got = t.scan_ts_range(TS("2024-01-01T00:00:00"), TS("2024-01-01T23:59:59"))
    from pyspark.sql import functions as F
    want = t.read().filter(
        F.col("warc_ts").between(TS("2024-01-01T00:00:00"),
                                 TS("2024-01-01T23:59:59")))
    assert state(got) == state(want)
    assert set(state(got)) == set(URLS_A[12:])


def test_scan_ts_range_open_bounds(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    t.compact(strategy="dv")
    assert state(t.scan_ts_range()) == state(t.read())
    newest = t.scan_ts_range(TS("2024-01-03T00:00:00"), None)
    assert set(state(newest)) == set(URLS_A[:12])


def test_lookup_without_blooms_exact(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    keys = [URLS_A[0], URLS_B[5], "https://missing.example/x"]
    got = state(t.lookup(keys))
    full = state(t.read())
    assert got == {k: full[k] for k in keys if k in full}
    # bucket pruning alone already skips sibling buckets' files
    assert t.last_prune["candidate_files"] <= len(t.snapshot().all_deltas())


def test_lookup_exact_after_rewrite_fold(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    t.compact(strategy="local", target_files_per_bucket=3)
    snap = t.snapshot()
    full = state(t.read())
    for k in full:
        assert state(t.lookup([k])) == {k: full[k]}
        # every file of the key's bucket is read, no other bucket's
        b = xxhash64(k, StringType()) % snap.num_buckets
        assert t.last_prune == {
            "candidate_files": len(snap.bucket_files(b)), "bloom_skipped": 0,
            "scanned_files": len(snap.bucket_files(b))}
    assert state(t.lookup(list(full) + ["https://never.example/"])) == full
    assert state(t.lookup(["https://never.example/"])) == {}


def test_lookup_sees_deltas_layered_after_fold(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    t.compact(strategy="local")
    # new delta AFTER the fold: updates + a fresh key
    t.merge(batch(spark, [
        (URLS_A[0], "2024-01-09T00:00:00", 900, "U"),
        ("https://new.example/1", "2024-01-09T01:00:00", 901, "U"),
    ]), mode="mor")
    got = state(t.lookup([URLS_A[0], "https://new.example/1"]))
    assert got[URLS_A[0]][0] == TS("2024-01-09T00:00:00")
    assert "https://new.example/1" in got
    # a tombstone after the fold must hide the key
    t.merge(batch(spark, [(URLS_B[0], "2024-01-09T02:00:00", 902, "D")]),
            mode="mor")
    assert state(t.lookup([URLS_B[0]])) == {}


def test_lookup_after_dv_fold(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    t.compact(strategy="dv")  # minor fold: losers masked by delete vectors
    full = state(t.read())
    for k in (URLS_A[0], URLS_A[15], URLS_B[3]):
        assert state(t.lookup([k])) == {k: full[k]}


def test_expire_reclaims_stats_sidecars(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, day_rows(1, URLS_A[:8], 0)), mode="mor")
    t.merge(batch(spark, day_rows(2, URLS_A[:8], 50)), mode="mor")
    t.compact(strategy="local")  # deltas now unreferenced by the head
    t.expire_snapshots(keep_last=1)
    data_root = os.path.join(tmp_table_dir, "data")
    leftover = [
        os.path.join(r, f)
        for r, _d, fs in os.walk(data_root) for f in fs if f == STATS_NAME
    ]
    live_dirs = {
        os.path.join(tmp_table_dir, *f.split("/")[:2])
        for f in t.snapshot().all_files()
    }
    for p in leftover:  # sidecars only survive inside still-live dirs
        assert os.path.dirname(p) in live_dirs
    # the dead delta dirs (no live parquet left) are reclaimed wholesale,
    # including Spark's _SUCCESS/.crc residue and the stats sidecar
    assert not [d for d in os.listdir(data_root) if d.startswith("d0")]
    assert state(t.read())  # table still reads fine


def _jobs(spark, group: str, fn):
    """Run ``fn`` under a job group; returns (result, Spark jobs it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_lookup_submits_no_spark_job(spark, tmp_path):
    """A lookup over more than 32 files (Spark's default threshold for a
    parallel listing job) submits no Spark job: keys hash on the driver,
    the files are read there with pyarrow and the result is a local
    DataFrame."""
    t = make_table(spark, str(tmp_path / "t"), nb=2)
    urls = URLS_A[:8]
    for i in range(18):  # 18 MOR layers, each touching both buckets
        t.merge(batch(spark, day_rows(1 + i % 20, urls, 100 * i)), mode="mor")
    assert {int(f.split("_bucket=")[1].split("/")[0])
            for f in t.snapshot().all_deltas()} == {0, 1}
    keys = [urls[0], urls[3], urls[6], "https://absent.example/"]
    want = {k: v for k, v in state(t.read()).items() if k in keys}
    assert len(want) == 3

    rows, n_jobs = _jobs(spark, f"lookup-{tmp_path.name}",
                         lambda: t.lookup(keys).collect())
    assert t.last_prune["scanned_files"] > 32
    assert n_jobs == 0
    assert {r["url"]: (r["warc_ts"], r["text"]) for r in rows} == want
    # the last layer (day 18) wins every key
    assert {v[1] for v in want.values()} == {
        f"text-{u}-2024-01-18T{i:02d}:00:00" for i, u in enumerate(urls)
        if u in keys}


def test_dv_folded_read_builds_without_jobs(spark, tmp_table_dir):
    t = _fill(spark, make_table(spark, tmp_table_dir))
    t.compact(strategy="dv")
    assert t.snapshot().all_dvs()
    full = state(t.read())
    df, n_jobs = _jobs(spark, "dv-read-build", t.read)
    assert n_jobs == 0  # no path-hash job, no listing job
    assert state(df) == full
    lk, n_jobs = _jobs(spark, "dv-lookup", lambda: t.lookup(URLS_A[:3]).collect())
    assert n_jobs == 0
    assert {r["url"]: (r["warc_ts"], r["text"]) for r in lk} == {
        k: full[k] for k in URLS_A[:3]}


def test_rewrite_fold_stats_equal_footers(spark, tmp_table_dir):
    """The rewrite fold's tasks return each output file's ts range, and the
    stats sidecar written from them equals what the footers say."""
    from datax_3_0_0_src_spark.lake.skipping import footer_stats, load_stats

    t = _fill(spark, make_table(spark, tmp_table_dir))
    t.compact(strategy="local", target_files_per_bucket=2)
    files = t.snapshot().all_files()
    assert files
    stats = load_stats(tmp_table_dir, files)
    for f in files:
        _n, lo, hi = footer_stats(os.path.join(tmp_table_dir, f), "warc_ts")
        assert lo is not None and stats[f] == [lo, hi], f


def test_rewrite_fold_stats_only_on_pruned_columns(spark, tmp_table_dir):
    """The rewrite fold writes with the replay's delta-writer options
    (``lake.table.parquet_options``): min/max statistics on the key and the
    ts, which lookups and skipping prune on, none on the wide html/text
    payload."""
    import pyarrow.parquet as pq

    t = _fill(spark, make_table(spark, tmp_table_dir))
    t.compact(strategy="local", target_files_per_bucket=2)
    files = t.snapshot().all_files()
    assert files
    for f in files:
        md = pq.ParquetFile(os.path.join(tmp_table_dir, f)).metadata
        assert md.num_row_groups
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            cols = {rg.column(i).path_in_schema: rg.column(i)
                    for i in range(rg.num_columns)}
            assert {c.compression for c in cols.values()} == {"ZSTD"}, f
            for name in ("url", "warc_ts"):
                assert cols[name].is_stats_set, (f, name)
                assert cols[name].statistics.has_min_max, (f, name)
            for name in ("html", "text"):
                assert not cols[name].is_stats_set, (f, name)
