"""LakeTable.lookup: the driver-side point read agrees with read() filtered
to the same keys, row for row and schema for schema, across time travel,
tombstones, schema evolution, key types and delete-vector folds; and it
reads one pinned snapshot."""

from __future__ import annotations

import datetime as dt
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from datax_3_0_0_src_spark.lake import LakeTable

KEY_TYPES = {
    "string": (StringType(), lambda i: f"https://k.example/{i}"),
    "int": (IntegerType(), lambda i: i * 7919 - 50_000),
    "long": (LongType(), lambda i: i * 10**12 + 3),
    "binary": (BinaryType(), lambda i: f"k{i}".encode() * (i % 3 + 1)),
}


def _ts(day: int, i: int) -> dt.datetime:
    return dt.datetime(2024, 1, day, i % 24)


def _batch(spark, ktype, rows, *, evolved=False):
    """rows: (key, ts, value, offset, op); ``evolved`` adds a ``status``
    column the table does not have yet."""
    fields = [StructField("k", ktype), StructField("ts", TimestampType()),
              StructField("v", StringType()),
              StructField("log_offset", LongType()), StructField("op", StringType())]
    df = spark.createDataFrame(rows, StructType(fields))
    return df.withColumn("status", F.lit(200)) if evolved else df


def _rows(df):
    """The multiset of ``df``'s rows, binary values as bytes."""
    return Counter(
        tuple(bytes(x) if isinstance(x, bytearray) else x for x in r)
        for r in df.collect())


def _check(t, keys, *, version=None, include_deleted=False):
    got = t.lookup(keys, version=version, include_deleted=include_deleted)
    assert got.schema == t.schema(version)
    wanted = {k for k in keys if k is not None}
    full = t.read(version, include_deleted=include_deleted)
    want = Counter({r: n for r, n in _rows(full).items() if r[0] in wanted})
    assert _rows(got) == want
    return want


@pytest.mark.parametrize("kind", sorted(KEY_TYPES))
def test_lookup_matches_read(spark, tmp_path, kind):
    ktype, K = KEY_TYPES[kind]
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        StructType([StructField("k", ktype), StructField("ts", TimestampType()),
                    StructField("v", StringType())]),
        key="k", ts_col="ts", num_buckets=4)
    v1 = t.merge(_batch(spark, ktype, [
        (K(i), _ts(1, i), f"a{i}", i, "U") for i in range(16)]), mode="mor").version
    t.merge(_batch(spark, ktype, [
        (K(i), _ts(2, i), f"b{i}", 100 + i, "U") for i in range(6)]
        + [(K(6), _ts(2, 6), None, 106, "D")]), mode="mor")
    t.compact(strategy="dv")
    # layered after the delete-vector fold: an update, a tombstone, an insert
    t.merge(_batch(spark, ktype, [
        (K(1), _ts(3, 1), "c1", 201, "U"), (K(7), _ts(3, 7), None, 207, "D"),
        (K(20), _ts(3, 20), "c20", 220, "U")]), mode="mor")
    # additive evolution: every row written before has a null status
    t.merge(_batch(spark, ktype, [
        (K(2), _ts(4, 2), "d2", 302, "U"), (K(21), _ts(4, 21), "d21", 321, "U")],
        evolved=True), mode="mor")
    snap = t.snapshot()
    dv_buckets = {f.split("_bucket=")[1].split("/")[0] for f in snap.all_dvs()}
    late = {f.split("_bucket=")[1].split("/")[0] for f in snap.all_deltas()}
    assert dv_buckets & late, "no DV-folded bucket with a later delta"

    every = [K(i) for i in range(24)]
    head = _check(t, every)
    assert {r[0] for r in head} == {K(i) for i in [*range(16), 20, 21]} - {K(6), K(7)}
    assert {r[3] for r in head if r[0] in (K(0), K(2))} == {None, 200}
    assert {r[0] for r in _check(t, every, include_deleted=True)} >= {K(6), K(7)}
    old = _check(t, every, version=v1)
    assert {r[2] for r in old} == {f"a{i}" for i in range(16)}
    _check(t, every, version=v1 + 1, include_deleted=True)
    _check(t, [K(1), K(1), None, K(2), K(20), K(1)])
    assert not _check(t, [])
    assert not _check(t, [K(22), K(23)])
    assert not _check(t, [None])


def test_lookup_reads_its_pinned_snapshot(spark, tmp_path):
    """A commit that lands after the lookup pinned its snapshot does not
    show in its rows."""
    path = str(tmp_path / "t")
    t = LakeTable.create(
        spark, path,
        StructType([StructField("k", StringType()), StructField("ts", TimestampType()),
                    StructField("v", StringType())]),
        key="k", ts_col="ts", num_buckets=2)
    t.merge(_batch(spark, StringType(), [
        (f"k{i}", _ts(1, i), f"a{i}", i, "U") for i in range(8)]), mode="mor")
    keys = ["k0", "k1", "k9"]
    pinned = t.snapshot().version
    want = _rows(t.read(pinned).filter(F.col("k").isin(keys)))
    other = LakeTable.load(spark, path)
    snapshot = t.snapshot

    def snapshot_then_commit(version=None):
        snap = snapshot(version)
        other.merge(_batch(spark, StringType(), [
            ("k0", _ts(2, 0), "b0", 100, "U"), ("k1", _ts(2, 1), None, 101, "D"),
            ("k9", _ts(2, 9), "b9", 109, "U")]), mode="mor")
        return snap

    t.snapshot = snapshot_then_commit
    got = t.lookup(keys)
    del t.snapshot
    assert t.snapshot().version == pinned + 1
    assert _rows(got) == want
    assert {r[2] for r in t.lookup(keys).collect()} == {"b0", "b9"}
