"""LakeTable: snapshot commits, COW and MOR merges, LWW, tombstones, evolution,
time travel."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType, TimestampType,
)

from datax_3_0_0_src_spark.lake import LakeTable
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
            (u, TS(t), (h or "").encode() or None, x, lg, off, op)
            for (u, t, h, x, lg, off, op) in rows
        ],
        BATCH_SCHEMA,
    )


def state(table, **kw):
    return {
        r["url"]: (r["warc_ts"], r["text"])
        for r in table.read(**kw).collect()
    }


def test_create_and_empty_read(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    assert t.read().count() == 0
    assert t.schema().fieldNames() == ["url", "warc_ts", "html", "text", "lang"]
    with pytest.raises(FileExistsError):
        make_table(spark, tmp_table_dir)


def test_insert_update_delete_lww(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [
        ("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I"),
        ("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I"),
    ]))
    assert state(t) == {"a": (TS("2024-01-01T00:00:00"), "A1"),
                        "b": (TS("2024-01-01T00:00:01"), "B1")}

    # update a, delete b, insert c
    t.merge(batch(spark, [
        ("a", "2024-01-01T00:01:00", "<x>", "A2", "en", 2, "U"),
        ("b", "2024-01-01T00:01:01", None, None, None, 3, "D"),
        ("c", "2024-01-01T00:01:02", "<x>", "C1", "de", 4, "I"),
    ]))
    assert state(t) == {"a": (TS("2024-01-01T00:01:00"), "A2"),
                        "c": (TS("2024-01-01T00:01:02"), "C1")}
    # tombstone visible when asked
    assert "b" in {r["url"] for r in t.read(include_deleted=True).collect()}


def test_out_of_order_event_loses(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [("a", "2024-01-01T00:10:00", "<x>", "NEW", "en", 0, "I")]))
    # older ts arrives later (higher offset) -> must NOT win
    t.merge(batch(spark, [("a", "2024-01-01T00:05:00", "<x>", "OLD", "en", 1, "U")]))
    assert state(t)["a"][1] == "NEW"
    # equal ts, higher offset -> wins
    t.merge(batch(spark, [("a", "2024-01-01T00:10:00", "<x>", "TIE", "en", 2, "U")]))
    assert state(t)["a"][1] == "TIE"


def test_delete_tombstone_blocks_older_resurrection(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [("a", "2024-01-01T00:10:00", None, None, None, 0, "D")]))
    # an older upsert arriving after the delete must stay dead
    t.merge(batch(spark, [("a", "2024-01-01T00:05:00", "<x>", "OLD", "en", 1, "U")]))
    assert state(t) == {}
    # a NEWER upsert revives the row
    t.merge(batch(spark, [("a", "2024-01-01T00:20:00", "<x>", "NEW", "en", 2, "U")]))
    assert state(t)["a"][1] == "NEW"


def test_cow_touches_only_dirty_buckets(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, nb=8)
    rows = [(f"u{i}", f"2024-01-01T00:00:{i:02d}", "<x>", f"T{i}", "en", i, "I")
            for i in range(32)]
    t.merge(batch(spark, rows))
    files_v1 = dict(t.snapshot().files)
    stats = t.merge(batch(spark, [("u0", "2024-01-02T00:00:00", "<x>", "T0b", "en", 99, "U")]))
    assert stats.touched_buckets == 1
    hit = str(xxhash64("u0", StringType()) % 8)
    snap = t.snapshot()
    files_v2 = dict(snap.files)
    assert files_v2[hit] != files_v1[hit]
    # the 7 untouched buckets' file lists are reused verbatim
    assert ({b: fs for b, fs in files_v2.items() if b != hit}
            == {b: fs for b, fs in files_v1.items() if b != hit})
    # the touched bucket was folded: no deltas left, at most one base file
    assert not snap.all_deltas()
    assert len(snap.bucket_files(int(hit))) <= 1


def test_cow_merge_commits_delta_layer_then_fold(spark, tmp_table_dir):
    """A COW merge is two snapshots: the MOR delta commit, then the fold of
    the buckets it wrote. merge() returns the fold's version."""
    t = make_table(spark, tmp_table_dir)
    stats = t.merge(batch(spark, [
        ("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I"),
        ("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I"),
    ]))
    assert stats.version == 2 == t.snapshot().version
    assert stats.batch_rows == 2
    layer, fold = t.snapshot(1), t.snapshot(2)
    assert layer.files == {} and layer.all_deltas()
    assert layer.summary["batch_rows"] == 2
    assert fold.summary["compacted_buckets"] == stats.touched_buckets
    assert not fold.all_deltas() and fold.all_files()
    assert stats.new_files == len(fold.all_files())
    assert state(t, version=1) == state(t, version=2)


def test_cow_merge_collapses_appended_duplicates_in_touched_bucket(
        spark, tmp_table_dir):
    """append() may leave repeated keys in a bucket. A COW merge that
    touches the bucket folds it with one LWW winner per key, the rows read()
    resolves once a delta lands there."""
    from collections import Counter

    t = make_table(spark, tmp_table_dir, nb=1)
    t.append(batch(spark, [
        ("a", "2024-01-01T00:00:00", "<a>", "A1", "en", 0, "I"),
        ("a", "2024-01-01T00:00:01", "<a>", "A2", "en", 1, "I"),
        ("b", "2024-01-01T00:00:02", "<b>", "B1", "en", 2, "I"),
        ("b", "2024-01-01T00:00:03", "<b>", "B2", "en", 3, "I"),
    ]).drop("log_offset", "op"))
    assert t.read().count() == 4  # blind append keeps every row
    t.merge(batch(spark, [("a", "2024-01-02T00:00:00", "<a>", "A3", "en", 4, "U")]))
    rows = t.read().collect()
    assert Counter(r["url"] for r in rows) == {"a": 1, "b": 1}
    assert {r["url"]: r["text"] for r in rows} == {"a": "A3", "b": "B2"}


def test_schema_evolution_additive_null_backfill(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I")]))
    evolved = batch(
        spark, [("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I")]
    ).withColumn("fetch_status", F.lit(200))
    t.merge(evolved)
    df = t.read()
    assert df.schema.fieldNames() == ["url", "warc_ts", "html", "text", "lang", "fetch_status"]
    got = {r["url"]: r["fetch_status"] for r in df.collect()}
    assert got == {"a": None, "b": 200}  # old row null-backfilled


def test_time_travel_and_expire(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    v1 = t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "V1", "en", 0, "I")])).version
    v2 = t.merge(batch(spark, [("a", "2024-01-01T00:01:00", "<x>", "V2", "en", 1, "U")])).version
    assert state(t, version=v1)["a"][1] == "V1"
    assert state(t, version=v2)["a"][1] == "V2"
    removed = t.expire_snapshots(keep_last=1)
    assert removed >= 1
    assert state(t)["a"][1] == "V2"  # current still intact


def test_expire_reclaims_cow_merge_delta_layer(spark, tmp_table_dir):
    """The delta files a COW merge commits before its fold are garbage once
    the fold is the only kept snapshot: expire unlinks them and removes
    their write dir, so the extra commit leaks no storage."""
    import os

    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I"),
                          ("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I")]))
    layer = t.snapshot(1).all_deltas()
    assert layer
    delta_dirs = {f.split("/")[1] for f in layer}
    assert all(d.startswith("d") for d in delta_dirs)
    removed = t.expire_snapshots(keep_last=1)
    assert removed == len(layer)
    data = os.path.join(t.path, "data")
    assert not delta_dirs & set(os.listdir(data))
    live = set(t.snapshot().all_files())
    on_disk = {
        os.path.relpath(os.path.join(root, fn), t.path)
        for root, _d, fns in os.walk(data) for fn in fns if fn.endswith(".parquet")
    }
    assert on_disk == live
    assert state(t) == {"a": (TS("2024-01-01T00:00:00"), "A1"),
                        "b": (TS("2024-01-01T00:00:01"), "B1")}


def test_merge_properties_carry_epoch(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A", "en", 0, "I")]),
            properties={"checkpoint_epoch": 0, "end_offset": 1})
    assert t.property("checkpoint_epoch") == 0
    assert t.property("end_offset") == 1


def test_empty_batch_commits_metadata_snapshot(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    stats = t.merge(batch(spark, []), properties={"checkpoint_epoch": 0})
    assert stats.version == 1 and stats.batch_rows == 0
    assert t.read().count() == 0


def test_compact_reduces_files_preserves_state(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir, nb=4)
    # COW merges rewrite whole buckets (never fragment); appends DO fragment
    for e in range(3):
        rows = [(f"u{e}_{i}", f"2024-01-0{e+1}T00:00:{i:02d}", "<x>", f"T{i}e{e}",
                 "en", e * 100 + i, "I") for i in range(12)]
        t.append(batch(spark, rows).drop("log_offset", "op"))
    t.merge(batch(spark, [("u0_0", "2024-01-09T00:00:00", None, None, None, 999, "D")]))
    before = state(t)
    n_files_before = len(t.snapshot().all_files())
    stats = t.compact(target_files_per_bucket=1)
    assert stats.version == t.snapshot().version
    n_files_after = len(t.snapshot().all_files())
    assert n_files_after < n_files_before
    assert n_files_after <= 4  # <= one file per bucket
    assert state(t) == before  # data identical
    # tombstone must survive compaction (blocks late-event resurrection)
    t.merge(batch(spark, [("u0_0", "2024-01-05T00:00:00", "<x>", "STALE", "en", 1000, "U")]))
    assert "u0_0" not in state(t)
    # idempotent: nothing left to compact
    assert t.compact(target_files_per_bucket=1).touched_buckets == 0


def test_compact_keeps_every_row_of_append_only_buckets(spark, tmp_table_dir):
    """Blind appends (no deltas, no delete vectors) may repeat keys on
    purpose: the default fold rewrites such a bucket for its file count only
    and must not collapse the duplicates with a LWW winner pick."""
    from collections import Counter

    t = make_table(spark, tmp_table_dir, nb=2)
    rows = [("a", "2024-01-01T00:00:00", "<a>", "A", "en", 0, "I"),
            ("b", "2024-01-01T00:00:01", "<b>", "B", "en", 1, "I"),
            ("c", "2024-01-01T00:00:02", "<c>", "C", "de", 2, "I")]
    for _ in range(2):
        t.append(batch(spark, rows).drop("log_offset", "op"))

    def multiset():
        return Counter(tuple(r) for r in t.read().collect())

    before = multiset()
    assert sum(before.values()) == 6
    snap = t.snapshot()
    assert not snap.all_deltas() and not snap.all_dvs()
    frag = [b for b in map(int, snap.files) if len(snap.bucket_files(b)) > 1]
    assert frag  # at least one bucket is fragmented, so the fold rewrites it
    stats = t.compact()
    assert stats.touched_buckets == len(frag)
    assert multiset() == before
    snap = t.snapshot()
    for b in frag:
        assert len(snap.bucket_files(b)) == 1  # target_files_per_bucket


# ------------------------------------------------------------- merge-on-read
def test_mor_merge_writes_deltas_not_base(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [
        ("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I"),
        ("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I"),
    ]), mode="mor")
    snap = t.snapshot()
    assert snap.files == {} and snap.all_deltas()  # base untouched, deltas added
    # LWW across delta layers: update a, delete b, insert c
    t.merge(batch(spark, [
        ("a", "2024-01-01T00:01:00", "<x>", "A2", "en", 2, "U"),
        ("b", "2024-01-01T00:01:01", None, None, None, 3, "D"),
        ("c", "2024-01-01T00:01:02", "<x>", "C1", "de", 4, "I"),
    ]), mode="mor")
    assert state(t) == {"a": (TS("2024-01-01T00:01:00"), "A2"),
                        "c": (TS("2024-01-01T00:01:02"), "C1")}
    assert t.snapshot().files == {}  # still zero base rewrites
    # out-of-order older event loses at read-time resolution
    t.merge(batch(spark, [("a", "2024-01-01T00:00:30", "<x>", "OLD", "en", 5, "U")]),
            mode="mor")
    assert state(t)["a"][1] == "A2"


def test_mor_compact_folds_deltas_preserves_state_and_tombstones(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    for i, (u, ts, txt, off, op) in enumerate([
        ("a", "2024-01-01T00:00:00", "A1", 0, "I"),
        ("b", "2024-01-01T00:00:01", "B1", 1, "I"),
        ("a", "2024-01-01T00:01:00", "A2", 2, "U"),
        ("b", "2024-01-01T00:01:01", None, 3, "D"),
    ]):
        t.merge(batch(spark, [(u, ts, "<x>" if op != "D" else None, txt,
                               "en" if op != "D" else None, off, op)]), mode="mor")
    before = state(t)
    stats = t.compact(target_files_per_bucket=1)
    assert stats.touched_buckets >= 1
    snap = t.snapshot()
    assert snap.deltas == {} and snap.all_files()  # folded into base
    assert state(t) == before == {"a": (TS("2024-01-01T00:01:00"), "A2")}
    # tombstone survived the fold: an older event cannot resurrect b
    t.merge(batch(spark, [("b", "2024-01-01T00:00:30", "<x>", "STALE", "en", 9, "U")]),
            mode="mor")
    assert "b" not in state(t)
    # a newer one revives it
    t.merge(batch(spark, [("b", "2024-01-02T00:00:00", "<x>", "NEW", "en", 10, "U")]),
            mode="mor")
    assert state(t)["b"][1] == "NEW"


def test_mor_schema_evolution_and_time_travel(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I")]),
            mode="mor")
    evolved = batch(
        spark, [("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I")]
    ).withColumn("fetch_status", F.lit(200))
    t.merge(evolved, mode="mor")
    df = t.read()
    assert df.schema.fieldNames() == ["url", "warc_ts", "html", "text", "lang", "fetch_status"]
    got = {r["url"]: r["fetch_status"] for r in df.collect()}
    assert got == {"a": None, "b": 200}
    # time travel to v1 sees only a, pre-evolution schema
    v1 = t.read(version=1)
    assert v1.schema.fieldNames() == ["url", "warc_ts", "html", "text", "lang"]
    assert [r["url"] for r in v1.collect()] == ["a"]


def test_cow_merge_onto_mor_deltas_folds_them(spark, tmp_table_dir):
    t = make_table(spark, tmp_table_dir)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I")]),
            mode="mor")
    t.merge(batch(spark, [("a", "2024-01-01T00:01:00", "<x>", "A2", "en", 1, "U")]),
            mode="cow")
    assert state(t)["a"][1] == "A2"
    snap = t.snapshot()
    # the touched bucket's deltas were folded into the rewritten base
    assert snap.all_deltas() == [] and snap.all_files()


def test_mor_concurrent_committers_optimistic_cas(spark, tmp_table_dir):
    """Two threads merging disjoint MOR batches race on the manifest: the
    optimistic CAS must layer BOTH deltas (no lost update) in some order."""
    import threading

    t = make_table(spark, tmp_table_dir)
    rows_a = [(f"a{i}", f"2024-01-01T00:00:{i:02d}", "<x>", f"A{i}", "en", i, "I")
              for i in range(20)]
    rows_b = [(f"b{i}", f"2024-01-01T01:00:{i:02d}", "<x>", f"B{i}", "en", 100 + i, "I")
              for i in range(20)]
    errs = []

    def do(rows):
        try:
            t.merge(batch(spark, rows), mode="mor")
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    th = [threading.Thread(target=do, args=(r,)) for r in (rows_a, rows_b)]
    [x.start() for x in th]
    [x.join() for x in th]
    assert not errs
    snap = t.snapshot()
    assert snap.version == 2  # two commits, serialized by the CAS
    got = state(t)
    assert len(got) == 40  # both batches present — no lost update
    assert got["a5"][1] == "A5" and got["b7"][1] == "B7"


# ------------------------------------------------------------ full fold
def test_compact_folds_every_bucket_to_target(spark, tmp_table_dir):
    """A fold of an 8-bucket MOR table (inserts, updates, deletes) touches
    every bucket, leaves it delta-free at the target file count, keeps the
    resolved state, and a second fold is metadata-only."""
    t = make_table(spark, tmp_table_dir, nb=8)
    rows = [(f"u{i}", f"2024-01-01T00:{i % 60:02d}:00", "<x>", f"T{i}", "en", i, "I")
            for i in range(120)]
    updates = [(f"u{i}", f"2024-01-02T00:{i % 60:02d}:00", "<x>", f"N{i}", "en",
                1000 + i, "U") for i in range(0, 120, 3)]
    dels = [(f"u{i}", f"2024-01-03T00:00:00", None, None, None, 2000 + i, "D")
            for i in range(1, 120, 10)]
    for r in (rows, updates, dels):
        t.merge(batch(spark, r), mode="mor")
    before = state(t)
    stats = t.compact(target_files_per_bucket=1)
    assert stats.touched_buckets == 8
    snap = t.snapshot()
    assert snap.deltas == {}
    for b in snap.files:
        assert len(snap.bucket_files(int(b))) == 1
    assert state(t) == before
    # idempotent: a second compact is metadata-only
    again = t.compact(target_files_per_bucket=1)
    assert again.touched_buckets == 0


def test_local_fold_matches_unfolded_mor_read(spark, tmp_path):
    """strategy='local' (zero-exchange pyarrow per-bucket rewrite) must
    produce the identical state as the table's own unfolded MOR read taken
    before the fold — that read resolves LWW through _resolve_lww's
    max_by aggregation, an independent reference — covering LWW winners,
    tombstones and schema evolution null-backfill, with a delta-free
    manifest at the target files per bucket."""
    rows = [(f"u{i}", f"2024-01-01T00:{i % 60:02d}:00", "<x>", f"T{i}", "en", i, "I")
            for i in range(100)]
    updates = [(f"u{i}", f"2024-01-02T00:{i % 60:02d}:00", "<x>", f"N{i}", "en",
                1000 + i, "U") for i in range(0, 100, 3)]
    dels = [(f"u{i}", "2024-01-03T00:00:00", None, None, None, 2000 + i, "D")
            for i in range(1, 100, 10)]

    t = make_table(spark, str(tmp_path / "lo"), nb=4)
    for r in (rows, updates, dels):
        t.merge(batch(spark, r), mode="mor")
    # evolution mid-deltas: one bucket group gains a column
    evolved = batch(spark, [("zz", "2024-01-04T00:00:00", "<x>", "Z", "en",
                             9000, "I")]).withColumn("fetch_status", F.lit(7))
    t.merge(evolved, mode="mor")
    a = t.read(include_deleted=True, with_sys_cols=True).toPandas()
    st = t.compact(target_files_per_bucket=2, strategy="local")
    assert st.touched_buckets == 4
    assert t.snapshot().deltas == {}
    for b in t.snapshot().files:
        assert len(t.snapshot().bucket_files(int(b))) <= 2

    b = t.read(include_deleted=True, with_sys_cols=True).toPandas()
    a = a.sort_values("url").reset_index(drop=True)
    b = b.sort_values("url").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)
    assert "fetch_status" in a.columns
    # tombstones preserved by the fold (and present in the reference)
    assert bool(a["_deleted"].fillna(False).any())
    # and the fold is idempotent
    again = t.compact(target_files_per_bucket=2, strategy="local")
    assert again.touched_buckets == 0


def test_local_fold_preserves_late_delta_and_rejects_conflict(spark, tmp_path):
    t = make_table(spark, str(tmp_path / "t"), nb=2)
    t.merge(batch(spark, [("a", "2024-01-01T00:00:00", "<x>", "A1", "en", 0, "I"),
                          ("b", "2024-01-01T00:00:01", "<x>", "B1", "en", 1, "I")]),
            mode="mor")
    stale = t.snapshot()
    todo = sorted(int(x) for x in stale.deltas)
    t.merge(batch(spark, [("a", "2024-01-02T00:00:00", "<x>", "A2", "en", 5, "U")]),
            mode="mor")
    t._compact_local(stale, todo, 1)
    assert t.snapshot().all_deltas()
    got = state(t)
    assert got["a"][1] == "A2" and got["b"][1] == "B1"
    # conflict: a second fold from the stale snapshot must be rejected
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        t._compact_local(stale, todo, 1)
    # a full fold afterwards converges
    t.compact(target_files_per_bucket=1)
    assert t.snapshot().deltas == {} and state(t) == got
    # a stale fold read before a committed compact() cannot commit over it
    t.merge(batch(spark, [("b", "2024-01-02T00:00:01", "<x>", "B2", "en", 6, "U")]),
            mode="mor")
    stale = t.snapshot()
    todo = sorted(int(x) for x in stale.deltas)
    t.compact(target_files_per_bucket=1)  # first fold wins
    with pytest.raises(RuntimeError, match="concurrent compaction"):
        t._compact_local(stale, todo, 1)


def test_local_fold_mixed_int96_and_micros_files(spark, tmp_path):
    """ADVICE round-3: a bucket mixing legacy INT96 delta files (Arrow-naive
    ns) with engine-written TIMESTAMP_MICROS/UTC files must fold — pass 1
    normalizes each per-file ts frame before concat (naive-vs-aware compare
    raised before), and LWW winners respect the real instants across reprs."""
    path = str(tmp_path / "mixed_ts")
    t = make_table(spark, path, nb=2)
    # legacy writer: INT96 parquet timestamps (pre-round-3 tables)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        t.merge(batch(spark, [
            ("u1", "2026-01-01T10:00:00", "<html>a</html>", "a", "en", 1, "U"),
            ("u2", "2026-01-01T10:00:00", "<html>b</html>", "b", "en", 2, "U"),
        ]), mode="mor")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    # modern writer: micros/UTC — u1 older (loses), u2 newer (wins)
    t.merge(batch(spark, [
        ("u1", "2026-01-01T09:00:00", "<html>old</html>", "old", "en", 3, "U"),
        ("u2", "2026-01-01T11:00:00", "<html>new</html>", "new", "en", 4, "U"),
    ]), mode="mor")
    t.compact(target_files_per_bucket=1, strategy="local")
    got = state(t)
    assert got["u1"][1] == "a"      # INT96 instant beat the older micros row
    assert got["u2"][1] == "new"    # newer micros row beat the INT96 instant
    snap = t.snapshot()
    assert all(not snap.bucket_deltas(b) for b in range(2))  # fully folded


# --------------------------------------------------- rebucket (round 5)
def test_rebucket_preserves_state_and_enables_new_layout(spark, tmp_path):
    """Bucket-count evolution: state (incl. tombstones) survives the rewrite
    byte-for-byte, the manifest carries the new count, deltas are folded
    away, and post-rebucket merges/folds work in the new layout."""
    t = make_table(spark, str(tmp_path / "t"), nb=2)
    t.merge(batch(spark, [
        (f"u{i}", f"2024-01-01T00:{i % 60:02d}:00", "<x>", f"T{i}", "en", i, "I")
        for i in range(60)
    ]), mode="mor")
    t.merge(batch(spark, [
        (f"u{i}", "2024-01-02T00:00:00", "<x>", f"N{i}", "en", 100 + i, "U")
        for i in range(0, 60, 3)
    ] + [
        ("u5", "2024-01-03T00:00:00", None, None, None, 999, "D"),
    ]), mode="mor")
    before = {
        r["url"]: (r["warc_ts"], r["text"], r["_deleted"], r["_lww_offset"])
        for r in t.read(include_deleted=True, with_sys_cols=True).collect()
    }
    stats = t.rebucket(7, target_files_per_bucket=2)
    snap = t.snapshot()
    assert snap.num_buckets == 7
    assert snap.deltas == {}
    assert stats.touched_buckets == len(snap.files) <= 7
    for b in snap.files:
        assert len(snap.bucket_files(int(b))) <= 2
        # every rewritten file is bucket-pure in the NEW layout
        got = spark.read.parquet(
            *[f"{t.path}/{f}" for f in snap.bucket_files(int(b))]
        ).select(
            F.pmod(F.xxhash64(F.col("url")), F.lit(7)).cast("int").alias("nb")
        ).distinct().collect()
        assert [r["nb"] for r in got] == [int(b)]
    after = {
        r["url"]: (r["warc_ts"], r["text"], r["_deleted"], r["_lww_offset"])
        for r in t.read(include_deleted=True, with_sys_cols=True).collect()
    }
    assert after == before
    # tombstone still blocks resurrection in the new layout
    t.merge(batch(spark, [
        ("u5", "2024-01-01T05:00:00", "<x>", "zombie", "en", 5000, "U"),
    ]), mode="mor")
    assert "u5" not in state(t)
    # and the fold works against the new bucket count
    t.compact(target_files_per_bucket=1, strategy="local")
    assert t.snapshot().deltas == {}
    # time travel to the pre-rebucket version still reads the old layout
    old = {r["url"]: r["text"] for r in t.read(version=2).collect()}
    assert old["u0"] == "N0" and "u5" not in old


def test_rebucket_rejects_concurrent_commit(spark, tmp_path):
    """A merge landing between the rebucket's read and its commit must fail
    the rebucket (old-layout deltas cannot cross a bucket-count change)."""
    t = make_table(spark, str(tmp_path / "t"), nb=2)
    t.merge(batch(spark, [
        ("u1", "2024-01-01T00:00:00", "<x>", "a", "en", 1, "I"),
    ]), mode="mor")
    v_before = t.snapshot().version

    def sneak():
        t.merge(batch(spark, [
            ("u2", "2024-01-01T00:00:00", "<x>", "b", "en", 2, "I"),
        ]), mode="mor")

    with pytest.raises(RuntimeError, match="concurrent commit during rebucket"):
        t.rebucket(5, pre_commit=sneak)
    # the loser committed nothing: the sneak merge's snapshot is the head
    snap = t.snapshot()
    assert snap.version == v_before + 1
    assert snap.num_buckets == 2
    assert set(state(t)) == {"u1", "u2"}


# ------------------------------------- fold winner-pick tie semantics (round 5)
def test_local_fold_tiebreaks_match_unfolded_mor_read(spark, tmp_path):
    """Adversarial LWW corner cases through the rewrite fold: equal ts
    (offset decides), null ts (loses to any real ts; among null-ts rows the
    offset decides), null offset (treated as -1). The local fold's
    dictionary-encode+lexsort winner pick must agree row for row with the
    same table's unfolded MOR read (_resolve_lww's max_by). (Fully-equal
    (ts, offset) rows are NOT tested: the engine's contract is at most one
    row per (key, offset) — WAL offsets are unique and every batch is
    pre-deduped — and outside it the max_by read path tie-break is
    arbitrary by design.)"""
    rows_by_file = [
        # file 1 (first delta batch)
        [
            ("tie_off", "2024-01-01T00:00:00", "<x>", "f1-off1", "en", 1, "I"),
            ("null_ts", None, "<x>", "f1-nullts-off9", "en", 9, "I"),
            ("null_off", "2024-01-01T00:00:00", "<x>", "f1-nulloff", "en", None, "I"),
        ],
        # file 2 (second delta batch)
        [
            ("tie_off", "2024-01-01T00:00:00", "<x>", "f2-off2", "en", 2, "U"),
            ("null_ts", None, "<x>", "f2-nullts-off3", "en", 3, "U"),
            ("null_off", "2024-01-01T00:00:00", "<x>", "f2-off0", "en", 0, "U"),
        ],
    ]

    def batch_nullable(rows):
        return spark.createDataFrame(
            [
                (u, TS(t) if t else None, (h or "").encode() or None, x, lg, off, op)
                for (u, t, h, x, lg, off, op) in rows
            ],
            BATCH_SCHEMA,
        )

    def winners(t):
        return {
            r["url"]: (r["text"], r["_lww_offset"])
            for r in t.read(include_deleted=True, with_sys_cols=True).collect()
        }

    t = make_table(spark, str(tmp_path / "lo"), nb=2)
    for rows in rows_by_file:
        t.merge(batch_nullable(rows), mode="mor")
    tables = {"mor": winners(t)}
    t.compact(target_files_per_bucket=1, strategy="local")
    assert not t.snapshot().all_deltas()
    tables["lo"] = winners(t)
    assert tables["lo"] == tables["mor"]
    # and the specific winners are the documented semantics
    assert tables["lo"]["tie_off"][0] == "f2-off2"       # equal ts -> max offset
    assert tables["lo"]["null_ts"][0] == "f1-nullts-off9"  # both null ts -> offset
    assert tables["lo"]["null_off"][0] == "f2-off0"      # null off == -1 < 0
