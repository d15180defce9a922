"""LakeTable — snapshot-isolated, url-hash-bucketed parquet table with MERGE.

Implements the Iceberg subset the CDC engine needs, natively on parquet (no
Iceberg jars ship in this environment):

- atomic snapshot commits (manifest + pointer swap)            -> exactly-once sinks
- MERGE INTO by key with LWW ordering, one write path: the batch's rows land
    as per-bucket DELTA files (Iceberg v2 merge-on-read; write cost O(batch),
    zero table reads), which is what lets ingest throughput scale with cores
    instead of being serialised on whole-table rewrites (BENCH.md round-1
    scaling analysis). LWW resolves at read time or in a fold. A "mor" merge
    stops at the delta commit; a "cow" merge follows it with a rewrite fold
    of exactly the buckets it wrote, so reads of those buckets stay cheap.
- hash-bucket layout: only buckets touched by a batch change    -> bounded write amp
- additive schema evolution with null backfill                 -> ALTER TABLE ADD COLUMN
- tombstoned deletes                                           -> late events can't resurrect rows
- time travel by snapshot version                              -> audits / resume reconcile
- compaction folds deltas into the base (rewrite_data_files)

Reference parity: upsert semantics mirror DataX's writeMode=update
(INSERT ... ON DUPLICATE KEY UPDATE template,
plugin-rdbms-util/src/main/java/com/alibaba/datax/plugin/rdbms/writer/util/WriterUtil.java:148-168)
and the commit protocol mirrors hdfswriter's temp-dir + rename
(hdfswriter/.../HdfsHelper.java:207-243), upgraded to snapshot isolation.

Scale design: a MERGE writes only the batch (one exchange on the
(bucket, salt) pair, one file per touched bucket and task) and commits it
against the manifest (driver-side KB of JSON). A fold reads one bucket's file
group per task with no exchange, because every file is bucket-pure. Untouched
buckets are never read or written. Bucket count is chosen at table creation
to keep per-bucket rewrite size ~file-group sized at the target scale (e.g.
4096 buckets for 100 TB => ~25 GB/bucket).
"""

from __future__ import annotations

import os
import re
import shutil
import struct
import uuid
from dataclasses import dataclass, replace

import pandas as pd  # module-level: pandas_udf type hints must resolve here
import pyarrow as pa  # module-level: arrow_udf type hints must resolve here

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, DataType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from .manifest import Snapshot, read_snapshot, write_snapshot

# system columns persisted in data files (never exposed by read())
SYS_OFFSET = "_lww_offset"   # sequence number of the winning event (LWW tiebreak)
SYS_DELETED = "_deleted"     # tombstone flag
SYS_BUCKET = "_bucket"       # partition-directory column (not stored inside files)

# Rows a task of a batch's writer stage is sized for. Every task of the stage
# pays a fixed Python-worker cost whatever its row count: at local[4], one
# wave of four warm extract-UDF tasks of 1k rows runs 0.10-0.12 s longer than
# the same job without Python. It was 0.29-0.31 s while Spark's per-task
# importlib.invalidate_caches() re-parsed every zip on the worker's path (the
# package __init__ now re-reads only a changed archive). The extract kernel
# clears ~300k rows/s, so a task pays for itself only from ~33k rows.
#
# One-task rule: a batch of at most ROWS_PER_TASK known rows is not split at
# all. Its scan, validity/bucket columns and writer stage run as one task in
# one Spark job with no exchange, and that task writes one file per touched
# bucket, the layout the exchange exists to produce. A larger batch fills
# ROWS_PER_TASK rows a task, raised to one wave of ``par`` tasks and capped at
# one task per (bucket, salt) pair. Measured crossover (one batch replayed into
# 16 buckets at local[4], writer job median of 7, one task against four tasks
# behind the exchange): 2k rows 0.079 vs 0.130 s, 4k 0.070 vs 0.110 s, 8k
# 0.093 vs 0.108 s, 16k 0.139 vs 0.131 s, 32k 0.241 vs 0.159 s. One task wins
# up to 8k rows and loses from 16k, so the bound sits at the crossover's low
# side.
#
# As a per-task size the constant sits far below the ~33k-row break-even on
# purpose, so large batches keep the full-width plan: 8192 = 2^13 is the
# largest power of two under the per-task rows of the measured bulk plans
# (150k-event slices over 16 buckets: 9.4k; 2M-event slices over 32
# buckets: 62k).
ROWS_PER_TASK = 8192


def exchange_width(par: int, nb: int, rows: int | None) -> int:
    """Task count of a batch's writer stage over ``nb`` buckets at session
    width ``par``.

    ``rows`` at most ``ROWS_PER_TASK``: 1, one task and no exchange (see
    :meth:`LakeTable._layout`). Larger ``rows``: the width the batch fills at
    ``ROWS_PER_TASK`` rows a task, raised to one wave of ``par`` tasks and
    capped at the full width ``nb * max(1, par // nb)``, one partition per
    (bucket, salt) pair. ``rows=None`` (size unknown) keeps the full width.
    The layout numbers the pairs and sends each to exactly one task
    (:func:`_pair_task`), so the write makes the same files at any width."""
    full = max(nb * max(1, par // nb), 1)
    if rows is None:
        return full
    if rows <= ROWS_PER_TASK:
        return 1
    return min(full, max(par, -(-rows // ROWS_PER_TASK)))


def _pair_task(bucket, key, salt: int, width: int):
    """The writer task, of ``width``, of a row's (bucket, salt) pair for
    ``repartitionById``: pair ``bucket * salt + pmod(xxhash64(key), salt)``
    modulo ``width``. At the full width ``nb * salt`` pairs and tasks map one
    to one; hashing the pair instead (``repartition(width, bucket, salt)``)
    collided and left tasks empty. The outer pmod keeps the null-key bucket
    -1 in range."""
    pair = bucket * F.lit(salt) + F.pmod(F.xxhash64(key), F.lit(salt))
    return F.pmod(pair, F.lit(width)).cast("int")


# zstd level of the engine's pyarrow-written data files: parquet-mr's
# default, the level Spark's writer used for them (at pyarrow's default, 1,
# they were 8% larger)
ZSTD_LEVEL = 3


def parquet_options(schema: "pa.Schema", key: str, codec: str) -> dict:
    """``pq.ParquetWriter`` options of a data file with ``schema``: the
    table's codec (zstd at ``ZSTD_LEVEL``), and min/max statistics only
    where a reader prunes on them: the key (lookup's IN pushdown), the ts
    (skipping's footer stats) and the other non-string/binary columns. Wide
    string/binary payload (html, text) min/max cost ~8% of a 250-row tail
    file's bytes at zstd level 3."""
    return {
        "compression": codec,
        "compression_level": ZSTD_LEVEL if codec == "zstd" else None,
        "write_statistics": [
            f.name for f in schema if f.name == key
            or not (pa.types.is_string(f.type) or pa.types.is_binary(f.type))],
    }


# XXH64 primes and the seed Spark's ``xxhash64`` uses (XxHash64 expression)
_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1
_XXH_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64_bytes(data: bytes) -> int:
    """XXH64 of ``data`` at seed 42, as Spark's ``XXH64.hashUnsafeBytes``
    (the reference algorithm, little-endian lanes), as a signed int64."""
    n, i = len(data), 0
    if n >= 32:
        v = [(_XXH_SEED + _P1 + _P2) & _M64, (_XXH_SEED + _P2) & _M64,
             _XXH_SEED, (_XXH_SEED - _P1) & _M64]
        lanes = struct.unpack_from(f"<{n // 32 * 4}Q", data)
        for j in range(0, len(lanes), 4):
            v = [_xxh_round(v[k], lanes[j + k]) for k in range(4)]
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _xxh_round(0, a)) * _P1 + _P4) & _M64
        i = n // 32 * 32
    else:
        h = (_XXH_SEED + _P5) & _M64
    h = (h + n) & _M64
    for j in range(i, n - 7, 8):
        h ^= _xxh_round(0, struct.unpack_from("<Q", data, j)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i = j + 8
    if i + 4 <= n:
        h ^= struct.unpack_from("<I", data, i)[0] * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h ^= h >> 33
    h = h * _P2 & _M64
    h ^= h >> 29
    h = h * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def xxhash64(value, dtype: DataType) -> int:
    """Driver-side ``F.xxhash64`` of one non-null ``value`` of Spark type
    ``dtype``: the same signed int64 the JVM computes, so ``h % nb`` is the
    row's ``_bucket_expr`` bucket (Python's ``%`` is ``pmod``). Strings hash
    their UTF-8 bytes, binaries their raw bytes; ints and longs take
    Spark's ``hashInt`` / ``hashLong`` paths, which are XXH64 over the
    value's 4 / 8 little-endian bytes. Pinned against the JVM in
    tests/test_xxhash64.py. Any other type, or a value that is not of
    ``dtype``, raises ``TypeError``."""
    if isinstance(dtype, StringType) and isinstance(value, str):
        return _xxh64_bytes(value.encode("utf-8"))
    if isinstance(dtype, BinaryType) and isinstance(value, (bytes, bytearray)):
        return _xxh64_bytes(bytes(value))
    if isinstance(dtype, IntegerType) and isinstance(value, int):
        return _xxh64_bytes(struct.pack("<i", value))
    if isinstance(dtype, LongType) and isinstance(value, int):
        return _xxh64_bytes(struct.pack("<q", value))
    raise TypeError(
        f"xxhash64: unsupported key {value!r} of type {dtype.simpleString()}")


def _lww_winner_pick(paths: list, key: str, ts_col: str):
    """Pass-1 NARROW LWW winner pick over one bucket's parquet files (runs
    inside executor tasks — pyarrow/pandas/numpy only, no Spark).

    Reads just (key, ts, offset) from each file, computes the per-key winner
    as max (ts, coalesce(offset, -1)) with a last-concat-position tiebreak —
    exactly the engine's LWW rule (see _resolve_lww) — via factorize codes +
    integer lexsort (the measured fast path; keys are urls, an object-dtype
    multi-key sort is the hotspot this avoids).

    Returns ``(widx, file_all, row_all, schemas)``: ``widx`` indexes winner
    rows in the virtual concatenation of all files in ``paths`` order;
    ``file_all``/``row_all`` map every concat index to (file ordinal,
    within-file row position); ``schemas`` is each file's arrow schema.

    Round-7: the key/ts columns stay in Arrow end to end — the previous
    pandas path materialised every key as a Python str object and hashed
    them with pd.factorize, which at 2M-row buckets was the DV fold's
    superlinear hotspot (round-6 verdict item 3). ``dictionary_encode`` on
    the raw Arrow string buffer produces the same grouping (code VALUES
    differ, but the winner per group — and hence widx as a SET — is
    identical; both downstream consumers are order-insensitive: _fold_dv
    takes the complement, _compact_local re-sorts by (file, row)).
    """
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    # null ts pinned to the same floor the pandas path used (Timestamp.min),
    # so a null can never beat a real timestamp and ties behave identically
    ns_floor = pd.Timestamp.min.value
    unit_scale = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}
    schemas = []
    k_chunks, ts_parts, off_parts, file_parts = [], [], [], []
    for i, p in enumerate(paths):
        pf = pq.ParquetFile(p)
        schemas.append(pf.schema_arrow)
        want = [c for c in (key, ts_col, SYS_OFFSET)
                if c in pf.schema_arrow.names]
        nt = pq.read_table(p, columns=want, use_threads=False)
        # offsets stay int64 END TO END: fill_null(-1) before any numpy
        # conversion — a nullable int64 would otherwise become float64 and
        # offsets >= 2^53 would lose precision there, letting an equal-ts
        # tiebreak pick a different winner than _resolve_lww's exact long
        # comparison (round-6 advice #3)
        if SYS_OFFSET in nt.column_names:
            off_np = (nt.column(SYS_OFFSET).cast("int64").fill_null(-1)
                      .combine_chunks().to_numpy(zero_copy_only=False))
        else:
            off_np = np.full(len(nt), -1, dtype=np.int64)
        # ts -> int64 ns per file BEFORE concat (a bucket can mix legacy
        # INT96 files — arrow-surfaced as naive ns, values UTC instants —
        # with engine-written us/UTC files); casting tz-aware to int64
        # yields the same UTC-instant epoch the old tz_convert path did
        ts_arr = nt.column(ts_col).combine_chunks()
        scale = unit_scale.get(getattr(ts_arr.type, "unit", "ns"), 1)
        ts_np = (ts_arr.cast(pa.int64()).fill_null(0)
                 .to_numpy(zero_copy_only=False)) * np.int64(scale)
        if ts_arr.null_count:
            null_np = ts_arr.is_null().to_numpy(zero_copy_only=False)
            ts_np[null_np] = ns_floor
        k_chunks.append(nt.column(key))
        ts_parts.append(ts_np)
        off_parts.append(off_np)
        file_parts.append(np.full(len(nt), i, dtype=np.int32))
    k_all = pa.chunked_array(k_chunks).combine_chunks()
    codes = (k_all.dictionary_encode().indices.fill_null(-1)
             .to_numpy(zero_copy_only=False))
    ts_all = np.concatenate(ts_parts)
    off_all = np.concatenate(off_parts)
    file_all = np.concatenate(file_parts)
    sizes = [len(a) for a in file_parts]
    row_all = np.concatenate(
        [np.arange(n, dtype=np.int64) for n in sizes])
    del k_chunks, k_all, ts_parts, off_parts, file_parts
    # lexsort is stable, keys ascending, last key primary:
    # order by (code, ts, off, concat-position)
    order = np.lexsort((off_all, ts_all, codes))
    sc = codes[order]
    is_last = np.empty(len(sc), dtype=bool)
    if len(sc):
        is_last[:-1] = sc[1:] != sc[:-1]
        is_last[-1] = True
    widx = order[is_last]
    return widx, file_all, row_all, schemas


def _every_row(paths: list):
    """:func:`_lww_winner_pick`'s result shape with every row a winner, read
    from the parquet footers alone (no column is decoded)."""
    import numpy as np
    import pyarrow.parquet as pq

    pfs = [pq.ParquetFile(p) for p in paths]
    sizes = [pf.metadata.num_rows for pf in pfs]
    file_all = np.repeat(np.arange(len(paths), dtype=np.int32), sizes)
    row_all = np.concatenate(
        [np.arange(n, dtype=np.int64) for n in sizes] or [np.empty(0, np.int64)])
    return (np.arange(len(file_all)), file_all, row_all,
            [pf.schema_arrow for pf in pfs])


# Python-worker-lifetime cache of loaded delete vectors, keyed by a bucket's
# DV sidecar path tuple: {file_rel: sorted int64 positions}. Lives at module
# level so reused workers keep it across tasks (guide §4.5); DV sidecar paths
# are content-unique (uuid-suffixed dirs), so stale entries can never alias a
# new fold's vectors — at most they linger until the worker dies.
_DV_POS_CACHE: dict[tuple, dict] = {}


def _dv_positions_cached(dv_paths: tuple) -> dict:
    """{table-relative data file -> sorted np.int64 positions} for one
    bucket's delete-vector sidecars (executor-side, cached per worker)."""
    out = _DV_POS_CACHE.get(dv_paths)
    if out is None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        out = {}
        for p in dv_paths:
            t = pq.read_table(p, use_threads=False)
            fcol = t.column("file").combine_chunks()
            if pa.types.is_dictionary(fcol.type):
                idx = fcol.indices.to_numpy(zero_copy_only=False)
                names = fcol.dictionary.to_pylist()
            else:
                idx, uniques = __import__("pandas").factorize(
                    fcol.to_pandas())
                names = list(uniques)
            pos = t.column("pos").to_numpy(zero_copy_only=False)
            order = np.argsort(idx, kind="stable")
            fs, ps = idx[order], pos[order]
            bounds = np.flatnonzero(np.diff(fs)) + 1
            for code, chunk in zip(
                fs[np.concatenate(([0], bounds))] if len(fs) else [],
                np.split(ps, bounds),
            ):
                f = names[int(code)]
                prev = out.get(f)
                chunk = np.sort(chunk)
                out[f] = chunk if prev is None else np.sort(
                    np.concatenate([prev, chunk]))
        _DV_POS_CACHE[dv_paths] = out
    return out


def _merged_props(base: dict, updates: dict | None) -> dict:
    """Merge property updates into a snapshot's properties; an update mapped
    to None REMOVES the key. This is the bounded-growth contract for
    per-batch bookkeeping keys (cdc.replayer's ``committed:E:S`` markers are
    pruned once their checkpoint file is durable) — without it the manifest
    would accrete one property per batch forever."""
    out = {**base, **(updates or {})}
    return {k: v for k, v in out.items() if v is not None}


@dataclass
class MergeStats:
    version: int
    touched_buckets: int
    batch_rows: int
    new_files: int


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # Parquet codec for files THIS writer produces (deltas, appends,
        # fold output). Readers never consult it — parquet files are
        # self-describing, so a table can mix codecs across generations.
        # zstd trades ~15-25% extra compress CPU for ~30-40% smaller files
        # (measured: 1.9 GB vs 3.1 GB delta sets at 16M events); whenever
        # the store or the socket is bandwidth-contended — RAM-backed page
        # cache here, object-store egress or disk at cluster scale — smaller
        # bytes win. Decided by the round-6 A/B (BENCH.md "delta-codec A/B",
        # 16M events, within-window pairs: 32-core apply 45.3s zstd vs 78.8s
        # snappy best-of, 8-core a tie; concurring: round-5 fold lab 10.9s
        # vs 12.6s, BENCH_local_r5_fold_lab.json, and all four round-5
        # within-window 32-core pairs).
        self.compression = "zstd"
        # diagnostics from the last lookup()/scan_ts_range() pruning pass
        self.last_prune: dict = {}

    # ------------------------------------------------------------- lifecycle
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: StructType,
        *,
        key: str,
        ts_col: str,
        num_buckets: int = 16,
        properties: dict | None = None,
    ) -> "LakeTable":
        if read_snapshot(path) is not None:
            raise FileExistsError(f"LakeTable already exists at {path}")
        if key not in schema.fieldNames() or ts_col not in schema.fieldNames():
            raise ValueError(f"key={key!r} and ts_col={ts_col!r} must be in schema")
        props = dict(properties or {})
        props.update({"key": key, "ts_col": ts_col})
        snap = Snapshot(
            version=0,
            parent=None,
            schema_json=schema.json(),
            num_buckets=num_buckets,
            files={},
            properties=props,
            summary={"created": True},
        )
        write_snapshot(path, snap)
        return cls(spark, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        if read_snapshot(path) is None:
            raise FileNotFoundError(f"no LakeTable at {path}")
        return cls(spark, path)

    @classmethod
    def exists(cls, path: str) -> bool:
        return read_snapshot(path) is not None

    # ------------------------------------------------------------- metadata
    def snapshot(self, version: int | None = None) -> Snapshot:
        snap = read_snapshot(self.path, version)
        if snap is None:
            raise FileNotFoundError(f"no snapshot v{version} at {self.path}")
        return snap

    def schema(self, version: int | None = None) -> StructType:
        return StructType.fromJson(__import__("json").loads(self.snapshot(version).schema_json))

    def _physical_schema(self, user_schema: StructType) -> StructType:
        return StructType(
            list(user_schema.fields)
            + [StructField(SYS_OFFSET, LongType(), True), StructField(SYS_DELETED, BooleanType(), True)]
        )

    @staticmethod
    def evolved_schema(snap: Snapshot, batch_schema: StructType,
                       seq_col: str, op_col: str | None) -> StructType:
        """Additive schema evolution: ``snap``'s user columns, then the
        batch's columns the table lacks (nullable). The sequence and op
        columns and the system columns never become user columns."""
        old = StructType.fromJson(__import__("json").loads(snap.schema_json))
        reserved = {seq_col, op_col, SYS_OFFSET, SYS_DELETED, SYS_BUCKET}
        return StructType(list(old.fields) + [
            StructField(f.name, f.dataType, True) for f in batch_schema.fields
            if f.name not in old.fieldNames() and f.name not in reserved
        ])

    @property
    def key(self) -> str:
        return self.snapshot().properties["key"]

    @property
    def ts_col(self) -> str:
        return self.snapshot().properties["ts_col"]

    @property
    def num_buckets(self) -> int:
        return self.snapshot().num_buckets

    def property(self, name: str, default=None):
        return self.snapshot().properties.get(name, default)

    def _bucket_expr(self, col: str):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.num_buckets)).cast("int")

    # ------------------------------------------------------------- read path
    def _read_files(self, files: list[str], schema: StructType) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, f) for f in files]
        # explicit schema => additive evolution backfills missing columns as null
        return self.spark.read.schema(schema).parquet(*paths)

    def _apply_dvs(
        self, scan: DataFrame, dv_files: list[str],
        scan_files: list[str] | None = None,
    ) -> DataFrame:
        """Drop the rows a delete-vector fold marked as LWW losers.

        ``scan_files``: the table-relative data files ``scan`` reads. When
        given, per-row file identity crosses to Python as xxhash64(rel) —
        8 bytes instead of the path string — with a driver-side collision
        check over exactly this list (collision => exact-string fallback).

        FILE-LOCAL positional masking (round-7, round-6 verdict item 2): the
        scan keeps its file-source partitioning and every row is tested
        against ITS OWN file's delete vector — a sorted-positions
        searchsorted inside a vectorized boolean UDF. Each Python worker
        lazily loads a bucket's DV sidecar once (module-level cache, workers
        are reused) and groups it into {file: sorted positions}; a task only
        ever loads the vectors of buckets it actually scans.

        The previous implementation broadcast the ENTIRE loser set to every
        task: at 64M events that is ~18M (file, pos) rows — a serial driver
        collect plus a multi-hundred-MB hash relation rebuilt per query —
        and the full-table read probe ANTI-scaled 8->32 cores (32.4 -> 36.6s,
        BENCH_r06 read_probe_s). Per-file masks are how Iceberg applies
        positional deletes; cost now scales with cores and with the bytes
        actually scanned. Positions come from the parquet reader's
        ``_metadata.row_index`` (within-file row ordinal), matching the DV
        fold's within-file positions exactly.
        """
        from pyspark.sql.functions import arrow_udf, pandas_udf

        # {bucket: (dv sidecar paths...)} — the per-bucket sidecar path is
        # tiny driver-side metadata; the POSITIONS are only ever read
        # executor-side (round-6 verdict item 2's driver-memory complaint)
        dv_by_bucket: dict[int, tuple] = {}
        for f in dv_files:
            b = int(re.search(rf"{SYS_BUCKET}=(-?\d+)/", f).group(1))
            dv_by_bucket[b] = dv_by_bucket.get(b, ()) + (
                os.path.join(self.path, f),)

        # table-relative path of each scanned row's file: everything after
        # the LAST "/data/" (data-dir names are hex-suffixed m/c/v/dv dirs —
        # they never contain "/data/", so the last occurrence is always the
        # table's own data root even when the table PATH contains "/data/")
        rel = F.concat(
            F.lit("data/"),
            F.substring_index(F.col("_metadata.file_path"), "/data/", -1),
        )

        # Row->file identity crosses the Python boundary as the 8-byte
        # xxhash64 of the relative path, not the ~120-byte path string
        # (guide §4.1: control how many bytes cross — at 64M rows the
        # string column alone was multi-GB of Arrow transfer, the dominant
        # cost of the post-DV read probe). The hash->file map is computed
        # on the driver by ``xxhash64`` (this module's XXH64, pinned to the
        # JVM's in tests/test_xxhash64.py) over the (small) scanned file
        # list — no Spark job; a collision inside that list would be
        # detected right here and falls back to exact path strings, so
        # masking can never hit the wrong file.
        by_hash: dict[int, tuple] = {}
        n_rels = 0
        for f in scan_files or []:
            m = re.search(rf"{SYS_BUCKET}=(-?\d+)/", f)
            if m and int(m.group(1)) in dv_by_bucket:
                n_rels += 1
                by_hash[xxhash64(f, StringType())] = (
                    f, dv_by_bucket[int(m.group(1))])
        if scan_files is not None and len(by_hash) == n_rels:
            @arrow_udf("boolean")
            def _dv_keep_h(fh: pa.Array, pos: pa.Array) -> pa.Array:
                # arrow_udf (round 7): the two int64 inputs and the boolean
                # output stay Arrow/numpy end to end — no pandas wrappers on
                # the read hot path
                import numpy as np

                from datax_3_0_0_src_spark.lake import table as _tbl

                keep = np.ones(len(fh), dtype=bool)
                pos_np = pos.to_numpy(zero_copy_only=False)
                fh_np = fh.to_numpy(zero_copy_only=False)
                for h in np.unique(fh_np):  # ~1 unique per arrow batch
                    ent = by_hash.get(int(h))
                    if ent is None or not ent[1]:
                        continue
                    f, dv_paths = ent
                    dv_pos = _tbl._dv_positions_cached(dv_paths).get(f)
                    if dv_pos is None:
                        continue
                    rows = fh_np == h
                    p = pos_np[rows]
                    idx = np.searchsorted(dv_pos, p)
                    idx_c = np.minimum(idx, len(dv_pos) - 1)
                    keep[rows] = ~((idx < len(dv_pos)) & (dv_pos[idx_c] == p))
                return pa.array(keep)

            return scan.filter(
                _dv_keep_h(F.xxhash64(rel), F.col("_metadata.row_index")))

        # exact-string fallback (xxhash64 collision inside the file list —
        # astronomically rare, but correctness must not depend on it)
        @pandas_udf("boolean")
        def _dv_keep(rel_path: pd.Series, pos: pd.Series) -> pd.Series:
            import numpy as np

            # worker-lifetime cache: importable-module global (survives task
            # boundaries under spark.python.worker.reuse; guide §4.5)
            from datax_3_0_0_src_spark.lake import table as _tbl

            keep = np.ones(len(rel_path), dtype=bool)
            pos_np = pos.to_numpy()
            codes, files = pd.factorize(rel_path)  # ~1 unique per arrow batch
            for i, f in enumerate(files):
                m = re.search(rf"{SYS_BUCKET}=(-?\d+)/", f)
                dv_paths = dv_by_bucket.get(int(m.group(1))) if m else None
                if not dv_paths:
                    continue
                posmap = _tbl._dv_positions_cached(dv_paths)
                dv_pos = posmap.get(f)
                if dv_pos is None:
                    continue
                rows = codes == i
                p = pos_np[rows]
                idx = np.searchsorted(dv_pos, p)
                idx_c = np.minimum(idx, len(dv_pos) - 1)
                keep[rows] = ~((idx < len(dv_pos)) & (dv_pos[idx_c] == p))
            return pd.Series(keep)

        return scan.filter(_dv_keep(rel, F.col("_metadata.row_index")))

    def _resolve_lww(self, df: DataFrame, key: str, ts_col: str) -> DataFrame:
        """Fold base+delta rows down to one LWW winner per key.

        One hash aggregation with map-side partial combine (``max_by`` over the
        whole row, ordered by (ts, offset)) — the merge-on-read resolution.
        Requires at most one row per (key, offset): true by construction, every
        delta batch is pre-deduped and the base is resolved."""
        cols = df.columns
        others = [c for c in cols if c != key]
        row = F.struct(*[F.col(c) for c in others])
        order = F.struct(F.col(ts_col), F.coalesce(F.col(SYS_OFFSET), F.lit(-1)))
        return (
            df.groupBy(key)
            .agg(F.max_by(row, order).alias("_row"))
            .select(key, "_row.*")
            .select(*cols)
        )

    def read(
        self,
        version: int | None = None,
        *,
        include_deleted: bool = False,
        buckets: list[int] | None = None,
        with_sys_cols: bool = False,
    ) -> DataFrame:
        snap = self.snapshot(version)
        user_schema = StructType.fromJson(__import__("json").loads(snap.schema_json))
        phys = self._physical_schema(user_schema)
        if buckets is None:
            files = snap.all_files()
            dfiles = snap.all_deltas()
            vfiles = snap.all_dvs()
        else:
            files = [f for b in buckets for f in snap.bucket_files(b)]
            dfiles = [f for b in buckets for f in snap.bucket_deltas(b)]
            vfiles = [f for b in buckets for f in snap.bucket_dvs(b)]
        df = self._read_files(files + dfiles, phys)
        if vfiles:
            # delete-vector-folded buckets: losers drop via file-local
            # positional masks (no shuffle); deltas layered AFTER the DV fold
            # (if any) still resolve below — against winners only
            df = self._apply_dvs(df, vfiles, files + dfiles)
        if dfiles:
            df = self._resolve_lww(df, snap.properties["key"], snap.properties["ts_col"])
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
        if not with_sys_cols:
            df = df.select(*user_schema.fieldNames())
        return df

    # -------------------------------------------------- data-skipping reads
    def build_key_blooms(
        self, *, buckets: list[int] | None = None, bits_per_key: int = 10
    ) -> dict[int, int]:
        """Build/refresh the advisory per-file key blooms (skipping.py) for
        point-lookup pruning. A maintenance op (compact cadence), never on
        the ingest hot path — Iceberg's Puffin pattern. Returns
        {bucket: files_covered}."""
        from . import skipping

        return skipping.build_blooms(
            self.spark, self, buckets=buckets, bits_per_key=bits_per_key)

    def lookup(
        self,
        keys: list,
        *,
        version: int | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Pruned point lookup: current-state rows for the given key values.

        Three skipping layers, all metadata/driver-side before the one scan:
        bucket hashing (each key touches 1 of num_buckets file groups), the
        bucket's bloom sidecar (per-file membership of xxhash64(key) — no
        false negatives; files without a bloom row, e.g. deltas layered
        after the last build, are always read), then an exact ``IN`` filter
        pushed to the parquet scan. LWW stays exact under pruning because a
        key's rows are confined to its bucket and blooms never skip a file
        that holds the key. At 100 TB a 5-key lookup plans from KB of
        manifest + bloom sidecar reads and scans a handful of files.

        Intended for point reads (up to ~thousands of keys — the key list
        travels as an IN literal and is hashed on the driver by
        :func:`xxhash64`, so the lookup submits only its scan and its LWW
        resolve); for bulk key sets join against :meth:`read` instead.
        Diagnostics land in ``self.last_prune``."""
        import numpy as np

        from . import skipping

        snap = self.snapshot(version)
        user_schema = StructType.fromJson(__import__("json").loads(snap.schema_json))
        phys = self._physical_schema(user_schema)
        key, ts_col = snap.properties["key"], snap.properties["ts_col"]
        keys = [k for k in dict.fromkeys(keys) if k is not None]
        if not keys:
            self.last_prune = {"candidate_files": 0, "bloom_skipped": 0,
                               "scanned_files": 0}
            return self.spark.createDataFrame([], user_schema)
        ktype = user_schema[key].dataType
        by_bucket: dict[int, list[int]] = {}
        for k in keys:
            h = xxhash64(k, ktype)
            by_bucket.setdefault(h % snap.num_buckets, []).append(h)
        files: list[str] = []
        dfiles: list[str] = []
        vfiles: list[str] = []
        cand = skipped = 0
        for b, hs in sorted(by_bucket.items()):
            harr = np.array(hs, dtype=np.int64)
            bf, bd = snap.bucket_files(b), snap.bucket_deltas(b)
            cand += len(bf) + len(bd)
            kept_f, s1 = skipping.probe_blooms(self.path, b, bf, harr)
            kept_d, s2 = skipping.probe_blooms(self.path, b, bd, harr)
            skipped += s1 + s2
            files += kept_f
            dfiles += kept_d
            vfiles += snap.bucket_dvs(b)
        self.last_prune = {"candidate_files": cand, "bloom_skipped": skipped,
                           "scanned_files": len(files) + len(dfiles)}
        df = self._read_files(files + dfiles, phys)
        # exact IN filter FIRST (pushed into the parquet scan), THEN the DV
        # positional mask — the two row-level predicates commute, and a
        # python-UDF filter above the scan would otherwise block pushdown
        df = df.filter(F.col(key).isin(keys))
        if vfiles:
            df = self._apply_dvs(df, vfiles, files + dfiles)
        if dfiles:
            df = self._resolve_lww(df, key, ts_col)
        if not include_deleted:
            df = df.filter(~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
        return df.select(*user_schema.fieldNames())

    def scan_ts_range(
        self,
        lo=None,
        hi=None,
        *,
        version: int | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Current-state rows whose ts column falls in ``[lo, hi]`` (either
        bound optional, datetimes interpreted as UTC), with per-file ts
        min/max pruning from the ``_stats.json`` sidecars.

        Pruning is only LWW-safe for FULLY-FOLDED buckets (no unresolved
        deltas): there every surviving row is its key's winner, so dropping
        whole files by ts range drops exactly the out-of-range state rows.
        A bucket that still carries deltas must resolve over ALL its rows
        first — pruning before resolution could resurrect a loser whose
        winner sits outside the window — so such buckets are scanned in
        full and filtered after resolution ("fold to prune": in the CDC
        steady state, periodic folds keep most buckets prunable).

        The DV MINOR fold is the natural companion: it resolves LWW with
        zero rewrite, leaving the per-micro-batch (time-clustered) delta
        files in place — a narrow window then skips nearly every file. A
        REWRITE fold coalesces a bucket's whole history into few files,
        trading ts clustering for file-count hygiene (its output spans the
        union of its inputs' ranges). Diagnostics land in
        ``self.last_prune``."""
        from . import skipping

        snap = self.snapshot(version)
        user_schema = StructType.fromJson(__import__("json").loads(snap.schema_json))
        phys = self._physical_schema(user_schema)
        key, ts_col = snap.properties["key"], snap.properties["ts_col"]
        lo_us = skipping._to_micros(lo)
        hi_us = skipping._to_micros(hi)
        all_b = sorted({int(b) for b in set(snap.files) | set(snap.deltas)})
        pruned_files: list[str] = []
        pruned_dvs: list[str] = []
        full_files: list[str] = []
        full_dvs: list[str] = []
        has_deltas_full = False
        cand = skipped = 0
        for b in all_b:
            bf, bd = snap.bucket_files(b), snap.bucket_deltas(b)
            cand += len(bf) + len(bd)
            if bd:  # unresolved deltas: resolve over the whole bucket
                full_files += bf + bd
                full_dvs += snap.bucket_dvs(b)
                has_deltas_full = True
                continue
            kept, n_skip = skipping.prune_by_ts(self.path, bf, lo_us, hi_us)
            skipped += n_skip
            pruned_files += kept
            pruned_dvs += snap.bucket_dvs(b)
        self.last_prune = {
            "candidate_files": cand, "ts_skipped": skipped,
            "scanned_files": len(pruned_files) + len(full_files),
        }
        in_range = F.lit(True)
        if lo is not None:
            in_range = in_range & (F.col(ts_col) >= F.lit(lo))
        if hi is not None:
            in_range = in_range & (F.col(ts_col) <= F.lit(hi))

        # folded buckets: ts predicate FIRST (pushed into the parquet scan —
        # a python-UDF filter above it would block pushdown), then the DV
        # positional mask; the row-level predicates commute
        out = self._read_files(pruned_files, phys).filter(in_range)
        if pruned_dvs:
            out = self._apply_dvs(out, pruned_dvs, pruned_files)
        if full_files:
            fdf = self._read_files(full_files, phys)
            if full_dvs:
                fdf = self._apply_dvs(fdf, full_dvs, full_files)
            if has_deltas_full:
                fdf = self._resolve_lww(fdf, key, ts_col)
            out = out.unionByName(fdf.filter(in_range))
        if not include_deleted:
            out = out.filter(~F.coalesce(F.col(SYS_DELETED), F.lit(False)))
        return out.select(*user_schema.fieldNames())

    def changes(
        self, since_version: int, until_version: int | None = None
    ) -> DataFrame:
        """Change data feed (Delta CDF / Iceberg changelog-scan equivalent):
        the row-level changes merged in ``(since_version, until_version]``.

        Zero extra storage: every merge commits its batch as delta files, and
        those files ARE the changelog (upserts as rows, deletes as tombstone
        rows, the LWW (ts, offset) attached), so the feed is the per-version
        set difference of delta file lists — driver-side manifest JSON only —
        plus a parquet scan of exactly the added files. Fold commits (rewrite
        or delete-vector, including the fold a "cow" merge commits after its
        delta commit) and rebucket move data without adding logical changes
        and contribute nothing. Rows written by ``append()`` go straight to
        the base and are not in the feed. Requires the range's manifests to
        still exist (``expire_snapshots`` keep window).

        Output: the commit-time user columns (schema evolution null-backfills
        older commits) + ``_change_type`` ('upsert' | 'delete'),
        ``_commit_version``, and ``_change_offset`` (the WAL sequence).

        Plan shape (round-6 verdict item 2): ONE parquet scan per SCHEMA
        GENERATION in the range — not one per commit. At production
        micro-batch cadence a day of history is thousands of versions; a
        per-version union chain bloats the plan and does driver-side linear
        work per node. Here the (cheap, manifest-JSON-only) driver loop just
        collects added-file -> version, files sharing a schema are read in a
        single multi-path scan, and ``_commit_version`` attaches via a
        broadcast join on ``_metadata.file_path`` (evolution is additive and
        rare, so generations ~= 1).
        """
        import json as _json

        until = self.snapshot().version if until_version is None else until_version
        prev = set(self.snapshot(since_version).all_deltas())
        # schema_json -> list[(relative file path, commit version)], grouped
        # in first-seen (= version) order so unions run oldest-schema-first
        gens: dict[str, list[tuple[str, int]]] = {}
        latest_schema_json = self.snapshot(since_version).schema_json
        for v in range(since_version + 1, until + 1):
            s = self.snapshot(v)
            cur = set(s.all_deltas())
            added = sorted(cur - prev)
            prev = cur  # folds only REMOVE deltas — removals are not changes
            latest_schema_json = s.schema_json
            if added:
                gens.setdefault(s.schema_json, []).extend(
                    (f, v) for f in added)
        sys_fields = [StructField("_change_type", StringType()),
                      StructField("_commit_version", LongType()),
                      StructField("_change_offset", LongType())]
        latest_user = StructType.fromJson(_json.loads(latest_schema_json))
        if not gens:
            return self.spark.createDataFrame(
                [], StructType(list(latest_user.fields) + sys_fields))
        out = None
        for schema_json, file_vers in gens.items():
            user_schema = StructType.fromJson(_json.loads(schema_json))
            phys = self._physical_schema(user_schema)
            df = self._read_files([f for f, _ in file_vers], phys)
            # table-relative path of each row's source file (same derivation
            # as _apply_dvs), joined against the tiny broadcast file->version
            # map — one scan regardless of how many commits are in the range
            vmap = self.spark.createDataFrame(
                file_vers, "_cdf_rel string, _commit_version long")
            rel = F.concat(
                F.lit("data/"),
                F.substring_index(F.col("_metadata.file_path"), "/data/", -1),
            )
            df = (
                df.withColumn("_cdf_rel", rel)
                .join(F.broadcast(vmap), on="_cdf_rel", how="inner")
                .select(
                    *[F.col(f.name) for f in user_schema.fields],
                    F.when(F.coalesce(F.col(SYS_DELETED), F.lit(False)),
                           "delete").otherwise("upsert").alias("_change_type"),
                    F.col("_commit_version"),
                    F.col(SYS_OFFSET).alias("_change_offset"),
                )
            )
            out = df if out is None else out.unionByName(
                df, allowMissingColumns=True)
        # latest-schema column order regardless of generation union order
        return out.select(
            *[F.col(f.name) for f in latest_user.fields],
            *[F.col(f.name) for f in sys_fields],
        )

    # ------------------------------------------------------------ merge path
    def merge(
        self,
        batch: DataFrame,
        *,
        seq_col: str = "log_offset",
        op_col: str | None = "op",
        delete_op: str = "D",
        properties: dict | None = None,
        mode: str = "cow",
    ) -> MergeStats:
        """MERGE INTO: last-writer-wins upsert/delete by key.

        ``batch`` must contain at most one row per key (use cdc.dedup first),
        the table's key and ts columns, ``seq_col`` (monotone tiebreak, e.g.
        WAL offset), optionally ``op_col`` (rows with value ``delete_op``
        become tombstones), and any subset/superset of user payload columns —
        extra columns trigger additive schema evolution, missing ones are
        null-filled for inserted rows.

        Semantics match: MERGE INTO t USING s ON t.key = s.key
          WHEN MATCHED AND s is newer AND s.op = 'D' THEN DELETE (tombstone)
          WHEN MATCHED AND s is newer THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT * (or tombstone for op='D')
        where "newer" = (s.ts, s.seq) > (t.ts, t._lww_offset).

        Both modes write the batch as per-bucket delta files in one MOR
        commit (:meth:`_merge_mor`: O(batch) writes, zero table reads). The
        ``mode`` decides what follows:

        - "mor": nothing. LWW resolution is deferred to read()/compact(),
          and ``version`` is the delta commit's.
        - "cow" (default): a "local" rewrite fold of exactly the buckets that
          commit wrote (``compact(buckets=..., target_files_per_bucket=1)``),
          so each touched bucket ends as one resolved base file with no
          deltas and every untouched bucket keeps its files. That is a second
          commit: ``version`` is the fold's, and the delta commit before it
          is what ``changes()`` reports for this batch. The fold picks one
          LWW winner per key over the whole bucket, so keys that
          ``append()`` repeated in a touched bucket collapse to one row, as
          ``read()`` already resolves them once a delta lands there.

        The fold's commit rejects a concurrent fold of the same bucket. If
        it loses that check, ``merge()`` raises after the delta commit has
        landed: the batch is applied and reads resolve it, but its buckets
        stay unfolded until a later ``compact()``.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"merge mode must be 'cow' or 'mor', got {mode!r}")
        snap = self.snapshot()
        key, ts_col = snap.properties["key"], snap.properties["ts_col"]
        user_schema = self.evolved_schema(snap, batch.schema, seq_col, op_col)
        batch_fields = {f.name: f for f in batch.schema.fields}

        # --- normalize the batch to physical shape ---------------------
        is_del = (
            (F.col(op_col) == F.lit(delete_op)) if op_col and op_col in batch.columns
            else F.lit(False)
        )
        cols = []
        for f in user_schema.fields:
            if f.name in batch_fields:
                c = F.col(f.name)
                if batch_fields[f.name].dataType != f.dataType:
                    c = c.cast(f.dataType)
            else:
                c = F.lit(None).cast(f.dataType)
            if f.name not in (key, ts_col):
                # a delete's stale payload must not leak into the tombstone
                c = F.when(is_del, F.lit(None).cast(f.dataType)).otherwise(c)
            cols.append(c.alias(f.name))
        cols.append(F.col(seq_col).cast("long").alias(SYS_OFFSET))
        cols.append(is_del.alias(SYS_DELETED))
        s = batch.select(*cols).withColumn(SYS_BUCKET, self._bucket_expr(key))
        stats, written = self._merge_mor(snap, s, key, user_schema, properties)
        if mode == "mor" or not written:
            return stats
        fold = self.compact(buckets=written, target_files_per_bucket=1)
        return replace(stats, version=fold.version, new_files=fold.new_files)

    def _written_buckets(self, out_dir: str, rel_dir: str) -> dict[int, list[str]]:
        """{bucket: sorted file list} for a just-written partitioned dir."""
        out: dict[int, list[str]] = {}
        if not os.path.isdir(out_dir):
            return out
        for d in sorted(os.listdir(out_dir)):
            if not d.startswith(f"{SYS_BUCKET}="):
                continue
            fs = sorted(
                f"{rel_dir}/{d}/{fn}"
                for fn in os.listdir(os.path.join(out_dir, d))
                if fn.endswith(".parquet")
            )
            if fs:
                out[int(d.split("=", 1)[1])] = fs
        return out

    def _layout(self, s: DataFrame, key: str, nb: int,
                rows: int | None = None) -> DataFrame:
        """The controlled-file-layout exchange: partition on the
        ``(bucket, salt)`` pair (:func:`_pair_task`) so a write makes
        ~write_salt files per touched bucket (without it every upstream task
        spills a file into every bucket dir it saw). The MOR merge and the
        CDC replayer's writer stage both write behind it. ``rows``, the batch's row count when the
        caller knows it, sizes the exchange (see :func:`exchange_width`); at
        width 1 the frame is ``coalesce(1)``-ed instead: one task, no
        shuffle, the same one file per touched bucket."""
        par = self.spark.sparkContext.defaultParallelism
        width = exchange_width(par, nb, rows)
        if width == 1:
            return s.coalesce(1)
        return s.repartitionById(
            width, _pair_task(F.col(SYS_BUCKET), F.col(key), max(1, par // nb), width))

    def _merge_mor(
        self,
        snap: Snapshot,
        s: DataFrame,
        key: str,
        user_schema: StructType,
        properties: dict | None,
    ) -> tuple[MergeStats, list[int]]:
        """Merge-on-read apply: write the (pre-deduped) batch as per-bucket
        delta files with Spark's writer and commit them
        (:meth:`commit_deltas`). No table reads, no join — per-batch cost is
        O(batch) regardless of table size; resolution happens in
        read()/compact(). The row count and ts stats come from the parquet
        footers (driver-side metadata, no extra Spark job). Returns the
        commit's stats and the sorted buckets it wrote."""
        from concurrent.futures import ThreadPoolExecutor

        from . import skipping

        rel_dir = self.delta_dir(snap)
        out_dir = os.path.join(self.path, rel_dir)
        s = self._layout(s, key, snap.num_buckets)
        s.write.option("compression", self.compression).mode("errorifexists").partitionBy(SYS_BUCKET).parquet(out_dir)
        written = self._written_buckets(out_dir, rel_dir)
        files = [f for fs in written.values() for f in fs]
        ts_col = snap.properties["ts_col"]
        # footer reads are tiny but add up serially: a small thread pool
        with ThreadPoolExecutor(max_workers=min(8, len(files) or 1)) as pool:
            footers = dict(zip(files, pool.map(lambda f: skipping.footer_stats(
                os.path.join(self.path, f), ts_col), files)))
        skipping.write_dir_stats(self.path, files, ts_col, precomputed={
            f: (lo, hi) for f, (_n, lo, hi) in footers.items()})
        batch_rows = sum(int(n) for n, _lo, _hi in footers.values())
        new_snap = self.commit_deltas(
            written, user_schema, batch_rows=batch_rows, properties=properties)
        stats = MergeStats(new_snap.version, len(written), batch_rows, len(files))
        return stats, sorted(written)

    @staticmethod
    def delta_dir(snap: Snapshot) -> str:
        """A fresh table-relative dir for one write attempt's delta files.
        The unique token means two writers that both read version N never
        collide on files: the manifest CAS stays the ONLY contention point,
        and a crashed attempt's dir is an unreferenced orphan that
        expire_snapshots reclaims."""
        return f"data/d{snap.version + 1:08d}-{uuid.uuid4().hex[:8]}"

    def commit_deltas(
        self,
        written: dict[int, list[str]],
        user_schema: StructType,
        *,
        batch_rows: int,
        properties: dict | None = None,
    ) -> Snapshot:
        """Layer ``written`` ({bucket: [table-relative delta file]}) onto the
        table as one MOR commit, evolving its schema to ``user_schema``.

        CONCURRENCY-SAFE: an optimistic-retry CAS (:meth:`_commit_cas`) — a
        loser re-reads the latest snapshot and re-layers only its own files,
        so disjoint micro-batches can be committed by concurrent writers
        (delta layering is order-free: LWW is resolved from (ts, offset) in
        the data, not from commit order). Committing no file still makes a
        snapshot carrying ``properties``."""
        n_new = sum(len(fs) for fs in written.values())

        def layer(base: Snapshot) -> Snapshot:
            # re-derive evolution against the freshest schema
            base_schema = StructType.fromJson(__import__("json").loads(base.schema_json))
            merged_fields = list(base_schema.fields) + [
                f for f in user_schema.fields if f.name not in base_schema.fieldNames()
            ]
            new_deltas = {b: list(fs) for b, fs in base.deltas.items()}
            for b, fs in written.items():
                new_deltas[str(b)] = new_deltas.get(str(b), []) + fs
            return Snapshot(
                version=base.version + 1, parent=base.version,
                schema_json=StructType(merged_fields).json(),
                num_buckets=base.num_buckets, files=dict(base.files),
                properties=_merged_props(base.properties, properties),
                summary={
                    "touched_buckets": len(written),
                    "batch_rows": batch_rows,
                    "new_files": n_new,
                },
                deltas=new_deltas,
                dvs=dict(base.dvs),
            )

        return self._commit_cas(layer, "MOR commit")

    # ------------------------------------------------------------- append
    def append(self, df: DataFrame, *, properties: dict | None = None) -> MergeStats:
        """Blind append (no key resolution) — for quarantine/metrics tables."""
        snap = self.snapshot()
        user_schema = StructType.fromJson(__import__("json").loads(snap.schema_json))
        key = snap.properties["key"]
        out = df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in user_schema.fields])
        out = (
            out.withColumn(SYS_OFFSET, F.lit(None).cast("long"))
            .withColumn(SYS_DELETED, F.lit(False))
            .withColumn(SYS_BUCKET, self._bucket_expr(key))
        )
        version = snap.version + 1
        rel_dir = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"  # see delta_dir()
        out_dir = os.path.join(self.path, rel_dir)
        out.write.option("compression", self.compression).mode("errorifexists").partitionBy(SYS_BUCKET).parquet(out_dir)
        new_files = {b: list(fs) for b, fs in snap.files.items()}
        n_new = 0
        appended = self._written_buckets(out_dir, rel_dir)
        from . import skipping
        skipping.write_dir_stats(
            self.path, [f for fs in appended.values() for f in fs],
            snap.properties["ts_col"])
        for b, fs in appended.items():
            new_files[str(b)] = new_files.get(str(b), []) + fs
            n_new += len(fs)
        new_snap = Snapshot(
            version=version, parent=snap.version, schema_json=snap.schema_json,
            num_buckets=snap.num_buckets, files=new_files,
            properties=_merged_props(snap.properties, properties),
            summary={"appended_files": n_new},
            deltas=dict(snap.deltas),
            dvs=dict(snap.dvs),
        )
        write_snapshot(self.path, new_snap)
        return MergeStats(version, 0, 0, n_new)

    # --------------------------------------------------------- maintenance
    def compact(self, *, target_files_per_bucket: int = 1,
                buckets: list[int] | None = None,
                concurrency: int | None = None,
                strategy: str = "local") -> MergeStats:
        """Fold merge-on-read deltas into the base and rewrite fragmented
        buckets into ~target_files_per_bucket files each (Iceberg
        rewrite_data_files + minor compaction in one pass). Metadata-only for
        buckets already folded and at/below the target; commits one new
        snapshot. Tombstones are preserved through the fold (they guard
        against late-event resurrection). The fold stays safe under
        concurrent MOR *merges*: its commit re-layers against the freshest
        snapshot and preserves any delta that arrived after the fold's read
        (the folded rows keep their (ts, offset), so read-time LWW against
        later deltas is unchanged). Concurrent folds of the SAME bucket are
        detected and rejected.

        ``strategy``:
        - "local" (default): MAJOR fold with zero exchange — one executor
          task per bucket reads that bucket's base+delta files directly with
          pyarrow (they are bucket-pure by the write layout), resolves the
          (ts, offset) LWW in-task, and writes the folded files. This is
          Iceberg's file-group-local rewrite_data_files: at 100 TB a fold
          never needs a cluster-wide shuffle because every key's rows are
          already confined to one bucket's file group. Requires executors to
          reach the table path (shared FS / object store — true wherever the
          table itself is readable).
        - "dv": MINOR fold via positional delete vectors — resolves the
          deferred LWW without rewriting any data (narrow pass-1 winner pick
          + (file, pos) sidecars; see :meth:`_fold_dv`). File counts are
          untouched; pair with an occasional "local" rewrite for file-count
          hygiene (Iceberg's minor/major split). ``target_files_per_bucket``
          is ignored.

        ``concurrency`` is accepted and ignored (see
        ``cdc.replayer.THROUGHPUT_PROFILE``): the fold's task count comes
        from the bucket and core counts."""
        if strategy not in ("local", "dv"):
            raise ValueError(
                f"strategy must be 'local' or 'dv' (the shuffle fold was "
                f"removed), got {strategy!r}")
        snap = self.snapshot()
        candidates = set(int(b) for b in snap.files) | set(int(b) for b in snap.deltas)
        if strategy == "dv":
            # minor fold: only buckets with unresolved deltas need new
            # delete vectors (file counts are untouched by design)
            todo = sorted(
                b for b in candidates
                if snap.bucket_deltas(b) and (buckets is None or b in buckets)
            )
            if not todo:
                return MergeStats(snap.version, 0, 0, 0)
            return self._fold_dv(snap, todo)
        todo = sorted(
            b for b in candidates
            if (snap.bucket_deltas(b) or len(snap.bucket_files(b)) > target_files_per_bucket)
            and (buckets is None or b in buckets)
        )
        if not todo:
            return MergeStats(snap.version, 0, 0, 0)
        return self._compact_local(snap, todo, target_files_per_bucket)

    def _compact_local(
        self, snap: Snapshot, todo: list[int], target_files_per_bucket: int
    ) -> MergeStats:
        """Zero-exchange fold: one executor task per bucket, pyarrow in/out.

        Every data/delta file is bucket-pure (the merge/compact writers
        repartition on the bucket before a partitionBy write), so a bucket's
        LWW winners are computable from its own file group alone — no
        shuffle, no sort of wide rows through the exchange. Each task:
        pick per-key max (ts, coalesce(offset, -1)) rows on the NARROW
        columns only (:func:`_lww_winner_pick`), then stream each file's
        winners into ~target files (schemas unified by name, pre-evolution
        files null-filled; wide columns never converted). Same winner rule
        as _resolve_lww; tombstones are rows like any other and survive.

        A bucket with no deltas and no delete vectors skips the winner pick
        and keeps EVERY row: its base is either already resolved (one row
        per key) or blind-appended (``append()``), where repeated keys are
        data, not superseded versions. Such a bucket is only rewritten for
        its file count."""
        import json as _json

        from pyspark.sql.types import TimestampNTZType, TimestampType

        key, ts_col = snap.properties["key"], snap.properties["ts_col"]
        user_schema = StructType.fromJson(_json.loads(snap.schema_json))
        # Spark-compatible timestamp output: TimestampType must land as
        # parquet TIMESTAMP(MICROS, adjustedToUTC) — legacy INT96 input files
        # surface in Arrow as naive ns (their values ARE UTC instants), and
        # writing those back unconverted yields TIMESTAMP(NANOS), which
        # Spark's reader rejects
        ts_kinds = {
            f.name: "utc" if isinstance(f.dataType, TimestampType) else "ntz"
            for f in self._physical_schema(user_schema).fields
            if isinstance(f.dataType, (TimestampType, TimestampNTZType))
        }
        folded_files = {b: set(snap.bucket_files(b)) for b in todo}
        folded_deltas = {b: set(snap.bucket_deltas(b)) for b in todo}
        rel_dir = f"data/c{snap.version + 1:08d}-{uuid.uuid4().hex[:8]}"
        out_root = os.path.join(self.path, rel_dir)
        table_path = self.path
        codec = self.compression  # plain string — picklable into the fold task
        n_out = max(1, int(target_files_per_bucket))

        specs = [
            (b, _json.dumps(sorted(folded_files[b]) + sorted(folded_deltas[b])),
             bool(folded_deltas[b] or snap.bucket_dvs(b)))
            for b in todo
        ]

        def fold_bucket(batches):
            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            from .skipping import TsRange

            def cast_to(t: "pa.Table", target: "pa.Schema") -> "pa.Table":
                """Align a file's table to the unified output schema: missing
                columns (pre-evolution files) null-filled, timestamp repr
                normalised (legacy INT96 surfaces as naive ns — values are UTC
                instants; unconverted they'd write TIMESTAMP(NANOS), which
                Spark's reader rejects)."""
                cols = []
                for f in target:
                    if f.name in t.column_names:
                        c = t.column(f.name)
                        if c.type != f.type:
                            c = c.cast(f.type)
                    else:
                        c = pa.nulls(len(t), f.type)
                    cols.append(c)
                return pa.Table.from_arrays(cols, schema=target)

            for pdf in batches:
                for b, files_json, lww in zip(
                        pdf["bucket"], pdf["files"], pdf["lww"]):
                    b = int(b)
                    paths = [os.path.join(table_path, f) for f in _json.loads(files_json)]
                    # ---- pass 1 (narrow): winner (file, row) per key from the
                    # (key, ts, offset) columns only — the wide payload columns
                    # (html/text) are never materialised for losing rows.
                    # use_threads=False inside: every fold task would otherwise
                    # spin up arrow's own cpu_count-wide pool — tasks × cores
                    # threads oversubscribe the executor; parallelism comes
                    # from the per-bucket tasks themselves
                    widx, file_all, row_all, schemas = (
                        _lww_winner_pick(paths, key, ts_col) if lww
                        else _every_row(paths))
                    # unified output schema across evolution generations.
                    # Timestamp fields are normalized to the engine repr
                    # (us, UTC-or-naive per ts_kinds) in EVERY input schema
                    # BEFORE unify: legacy INT96 files surface as naive ns
                    # and unify_schemas refuses to merge naive-vs-aware, so
                    # a bucket mixing generations would otherwise fail here
                    def _norm_ts(s: "pa.Schema") -> "pa.Schema":
                        for name, kind in ts_kinds.items():
                            if name in s.names:
                                want_t = pa.timestamp(
                                    "us", tz="UTC" if kind == "utc" else None)
                                i = s.names.index(name)
                                s = s.set(
                                    i,
                                    s.field(i).with_type(want_t).remove_metadata())
                        return s

                    target = pa.unify_schemas(
                        [_norm_ts(s) for s in schemas],
                        promote_options="permissive")
                    # ---- pass 2 (streaming): one file in memory at a time;
                    # rows land in (file, row) order — identical to the old
                    # whole-bucket concat+take — and rotate across ~n_out
                    # output files at the same chunk boundaries
                    total = len(widx)
                    per = -(-total // n_out) if total else 0
                    file_w, row_w = file_all[widx], row_all[widx]
                    del widx, file_all, row_all
                    o2 = np.lexsort((row_w, file_w))
                    file_w, row_w = file_w[o2], row_w[o2]
                    del o2
                    uf, starts = np.unique(file_w, return_index=True)
                    by_file = {
                        int(f): r
                        for f, r in zip(uf, np.split(row_w, starts[1:]))
                    }
                    del file_w, row_w
                    d = os.path.join(out_root, f"{SYS_BUCKET}={b}")
                    os.makedirs(d, exist_ok=True)
                    # per output file: [name, rows, ts range] for its stats
                    outs, writer, written = [], None, 0
                    try:
                        for i, p in enumerate(paths):
                            rows = by_file.get(i)
                            if rows is None or not len(rows):
                                continue  # fully superseded file: never read wide
                            t = cast_to(
                                pq.read_table(p, use_threads=False), target
                            ).take(pa.array(np.sort(rows)))
                            pos = 0
                            while pos < len(t):
                                if writer is None:
                                    name = f"part-{len(outs):05d}.parquet"
                                    outs.append([name, 0, TsRange()])
                                    writer = pq.ParquetWriter(
                                        os.path.join(d, name), target,
                                        **parquet_options(target, key, codec),
                                    )
                                room = per - (written % per) if per else len(t)
                                chunk = t.slice(pos, room)
                                writer.write_table(chunk)
                                outs[-1][1] += len(chunk)
                                outs[-1][2].add(chunk.column(ts_col))
                                written += len(chunk)
                                pos += len(chunk)
                                if per and written % per == 0:
                                    writer.close()
                                    writer = None
                    finally:
                        if writer is not None:
                            writer.close()
                    yield pd.DataFrame({
                        "bucket": [b] * len(outs),
                        "file": [f"{rel_dir}/{SYS_BUCKET}={b}/{o[0]}" for o in outs],
                        "rows": [o[1] for o in outs],
                        "ts_min": pd.array([o[2].value()[0] for o in outs], "Int64"),
                        "ts_max": pd.array([o[2].value()[1] for o in outs], "Int64"),
                    }, columns=["bucket", "file", "rows", "ts_min", "ts_max"])

        # parallelize cuts the sorted specs into n_tasks contiguous, even
        # bucket runs with no sampling job (repartitionByRange sampled the
        # specs first: three Spark jobs a fold instead of one), and hash
        # repartitioning would collide ~40% of buckets together. One task
        # per core (up to one bucket each): the round-5
        # fold lab (BENCH_local_r5_fold_lab.json, BENCH.md) showed
        # the old max(8, cores//3) cap was the fold's anti-scaling culprit —
        # 16M events fold in 25.6s with 10 tasks at 32 cores but 12.6s with
        # 32 tasks; the winner pick is integer lexsort CPU, not pure
        # bandwidth, so it scales to ~core count (and no further: 8 tasks on
        # 8 cores hit 11.9s, so the per-level floors are bandwidth-bound
        # near equal — flat, not inverted).
        par = self.spark.sparkContext.defaultParallelism
        n_tasks = min(len(specs), max(1, par))
        spec_df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(specs, n_tasks),
            "bucket int, files string, lww boolean")
        out = spec_df.mapInPandas(
            fold_bucket,
            "bucket int, file string, rows long, ts_min long, ts_max long",
        ).collect()  # driver-side: one row per output file (metadata only)
        written: dict[int, list[str]] = {}
        for r in out:
            written.setdefault(int(r["bucket"]), []).append(r["file"])
        from . import skipping
        skipping.write_dir_stats(
            self.path, [r["file"] for r in out], ts_col,
            precomputed={r["file"]: (r["ts_min"], r["ts_max"]) for r in out})
        return self._commit_fold(todo, folded_files, folded_deltas, written)

    def _fold_dv(self, snap: Snapshot, todo: list[int]) -> MergeStats:
        """Delete-vector minor fold (Iceberg v2 positional deletes / Delta
        deletion vectors, re-expressed on this manifest): resolve the
        deferred LWW WITHOUT rewriting any data.

        One executor task per bucket runs the same NARROW pass-1 winner pick
        as the rewrite fold (:func:`_lww_winner_pick` — (key, ts, offset)
        columns only) and writes the LOSER positions as a tiny (file, pos)
        parquet sidecar; the commit PROMOTES the bucket's delta files into
        the base and attaches the recomputed DV set. Readers drop losers with
        a file-local positional mask (:meth:`_apply_dvs`) — no wide-row
        aggregation.

        Why this is the scale path: a rewrite fold's cost is the table's
        FULL width (read+write every surviving byte — memory-bandwidth-bound
        and ~flat in core count on one box), while the DV fold touches three
        narrow columns in and KBs-to-MBs of positions out, so its cost is
        the integer winner-sort — CPU-bound, scaling with cores. File-count
        hygiene still needs an occasional rewrite fold (strategy='local'),
        exactly like Iceberg's minor-vs-major compaction split.

        Recomputation is idempotent by the winner rule's determinism: a
        previously-masked loser loses again, so each DV fold REPLACES the
        bucket's DV set (no read-modify-write of old vectors).
        """
        import json as _json

        key, ts_col = snap.properties["key"], snap.properties["ts_col"]
        folded_files = {b: set(snap.bucket_files(b)) for b in todo}
        folded_deltas = {b: set(snap.bucket_deltas(b)) for b in todo}
        rel_dir = f"data/dv{snap.version + 1:08d}-{uuid.uuid4().hex[:8]}"
        out_root = os.path.join(self.path, rel_dir)
        table_path = self.path
        codec = self.compression
        specs = [
            (b, _json.dumps(sorted(folded_files[b]) + sorted(folded_deltas[b])))
            for b in todo
        ]

        def dv_bucket(batches):
            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            for pdf in batches:
                for b, files_json in zip(pdf["bucket"], pdf["files"]):
                    b = int(b)
                    rels = _json.loads(files_json)
                    paths = [os.path.join(table_path, f) for f in rels]
                    widx, file_all, row_all, _schemas = _lww_winner_pick(
                        paths, key, ts_col)
                    win = np.zeros(len(file_all), dtype=bool)
                    win[widx] = True
                    lose = ~win
                    n_losers = int(lose.sum())
                    rel_out = None
                    if n_losers:
                        d = os.path.join(out_root, f"{SYS_BUCKET}={b}")
                        os.makedirs(d, exist_ok=True)
                        name = "dv-00000.parquet"
                        # dictionary-encoded file column: per-loser cost is
                        # one int32 index, not a repeated path string (the
                        # loser set is ~30% of rows at 64M — round 7)
                        tbl = pa.table({
                            "file": pa.DictionaryArray.from_arrays(
                                pa.array(file_all[lose], type=pa.int32()),
                                pa.array(rels, type=pa.string())),
                            "pos": pa.array(row_all[lose], type=pa.int64()),
                        })
                        pq.write_table(
                            tbl, os.path.join(d, name), compression=codec)
                        rel_out = f"{rel_dir}/{SYS_BUCKET}={b}/{name}"
                    yield pd.DataFrame({
                        "bucket": [b], "n_losers": [n_losers],
                        "dv_file": [rel_out],
                    })

        par = self.spark.sparkContext.defaultParallelism
        n_tasks = min(len(specs), max(1, par))
        spec_df = self.spark.createDataFrame(  # one job: see _compact_local
            self.spark.sparkContext.parallelize(specs, n_tasks),
            "bucket int, files string")
        stats = spec_df.mapInPandas(
            dv_bucket, "bucket int, n_losers long, dv_file string").collect()
        dv_written = {
            int(r["bucket"]): [r["dv_file"]] if r["dv_file"] else []
            for r in stats
        }
        return self._commit_dv(todo, folded_files, folded_deltas, dv_written)

    def _commit_cas(self, layer, what: str) -> Snapshot:
        """Optimistic-CAS commit: ``layer`` builds the next snapshot from the
        freshest one (another committer may have won since the caller read);
        a lost version race re-layers and retries, up to 64 times. Whatever
        ``layer`` raises (a rejected concurrent fold) propagates."""
        for _attempt in range(64):
            new_snap = layer(self.snapshot())
            try:
                write_snapshot(self.path, new_snap)
                return new_snap
            except FileExistsError:
                continue  # optimistic-concurrency loser: re-layer and retry
        raise RuntimeError(f"{what} lost the optimistic race 64 times")

    def _commit_dv(
        self,
        todo: list[int],
        folded_files: dict[int, set],
        folded_deltas: dict[int, set],
        dv_written: dict[int, list[str]],
    ) -> MergeStats:
        """Optimistic-CAS commit of a DV fold: promote the folded delta files
        into the base, replace the bucket's DV set, preserve deltas layered
        after the fold's read, reject concurrent folds of the same bucket."""
        n_new = sum(len(fs) for fs in dv_written.values())

        def layer(base: Snapshot) -> Snapshot:
            new_files = {b: list(fs) for b, fs in base.files.items()}
            new_deltas = {b: list(fs) for b, fs in base.deltas.items()}
            new_dvs = {b: list(fs) for b, fs in base.dvs.items()}
            for b in todo:
                if set(base.bucket_files(b)) != folded_files[b]:
                    raise RuntimeError(
                        f"concurrent compaction of bucket {b}: base files "
                        f"changed under the DV fold (folds must target "
                        f"disjoint buckets)"
                    )
                new_files[str(b)] = (
                    base.bucket_files(b) + sorted(folded_deltas[b]))
                survivors = [
                    f for f in base.bucket_deltas(b)
                    if f not in folded_deltas[b]
                ]
                if survivors:
                    new_deltas[str(b)] = survivors
                else:
                    new_deltas.pop(str(b), None)
                if dv_written.get(b):
                    new_dvs[str(b)] = list(dv_written[b])
                else:
                    new_dvs.pop(str(b), None)  # zero losers: winners only
            return Snapshot(
                version=base.version + 1, parent=base.version,
                schema_json=base.schema_json,
                num_buckets=base.num_buckets, files=new_files,
                properties=dict(base.properties),
                summary={"dv_folded_buckets": len(todo), "dv_files": n_new},
                deltas=new_deltas,
                dvs=new_dvs,
            )

        new_snap = self._commit_cas(layer, "DV fold commit")
        return MergeStats(new_snap.version, len(todo), 0, n_new)

    def _commit_fold(
        self,
        todo: list[int],
        folded_files: dict[int, set],
        folded_deltas: dict[int, set],
        written: dict[int, list[str]],
    ) -> MergeStats:
        """Optimistic-CAS commit of a rewrite fold: re-layer against the
        freshest snapshot, preserve deltas added after the fold's read,
        reject concurrent folds of the same bucket."""
        n_new = sum(len(fs) for fs in written.values())

        def layer(base: Snapshot) -> Snapshot:
            new_files = {b: list(fs) for b, fs in base.files.items()}
            new_deltas = {b: list(fs) for b, fs in base.deltas.items()}
            new_dvs = {b: list(fs) for b, fs in base.dvs.items()}
            for b in todo:
                if set(base.bucket_files(b)) != folded_files[b]:
                    raise RuntimeError(
                        f"concurrent compaction of bucket {b}: base files changed "
                        f"under the fold (folds must target disjoint buckets)"
                    )
                # the rewrite kept winners only; DV-masked losers were re-
                # identified by the same deterministic (ts, offset) rule and
                # dropped, so the bucket's delete vectors are obsolete
                new_dvs.pop(str(b), None)
                new_files[str(b)] = written.get(b, [])
                if not new_files[str(b)]:
                    new_files.pop(str(b), None)  # bucket folded away (all tombstoned? no rows)
                # deltas layered AFTER the fold read survive; read-time LWW
                # against the folded rows (which keep ts/_lww_offset) is exact
                survivors = [f for f in base.bucket_deltas(b) if f not in folded_deltas[b]]
                if survivors:
                    new_deltas[str(b)] = survivors
                else:
                    new_deltas.pop(str(b), None)
            return Snapshot(
                version=base.version + 1, parent=base.version,
                schema_json=base.schema_json,
                num_buckets=base.num_buckets, files=new_files,
                properties=dict(base.properties),
                summary={"compacted_buckets": len(todo), "new_files": n_new},
                deltas=new_deltas,
                dvs=new_dvs,
            )

        new_snap = self._commit_cas(layer, "compact commit")
        return MergeStats(new_snap.version, len(todo), 0, n_new)

    def rebucket(
        self,
        new_num_buckets: int,
        *,
        target_files_per_bucket: int = 1,
        pre_commit=None,
    ) -> MergeStats:
        """Bucket-count evolution — re-lay the table out over a different
        hash-bucket count (Iceberg's partition-spec evolution for
        ``bucket[N](key)``, done as a rewrite so every file stays
        bucket-pure in the NEW layout).

        Why this exists at 100 TB: the bucket count fixes the fold's
        parallelism unit and bounds per-bucket rewrite size. A table created
        at N buckets that then grows 100x ends up with file groups far past
        file-group size — folds and bucket-pruned reads degrade until the
        layout is widened. One pass: read the resolved current state
        (LWW over base+deltas, TOMBSTONES KEPT — late events still cannot
        resurrect rows after the rewrite), shuffle once on the new bucket
        function, write, and commit a snapshot whose manifest carries the
        new ``num_buckets``. Every later read/merge/fold derives its bucket
        expr from the manifest, so the change is transparent downstream;
        time travel to pre-rebucket versions still reads the old layout.

        EXCLUSIVE by design: a concurrent MOR merge's delta files are
        bucket-pure in the OLD layout and cannot be re-layered across a
        bucket-count change, so the commit requires the snapshot to be
        unchanged since this rewrite's read and raises on interference
        (run it like a maintenance op, same as Iceberg's spec evolution).
        """
        if new_num_buckets < 1:
            raise ValueError(f"new_num_buckets must be >= 1, got {new_num_buckets}")
        snap = self.snapshot()
        user_schema = StructType.fromJson(__import__("json").loads(snap.schema_json))
        phys = self._physical_schema(user_schema)
        key, ts_col = snap.properties["key"], snap.properties["ts_col"]
        df = self._read_files(snap.all_files() + snap.all_deltas(), phys)
        if snap.all_deltas() or snap.all_dvs():
            # DV-folded buckets still carry masked losers in their base
            # files; the (ts, offset) rule re-identifies them, so one LWW
            # resolve covers deltas and delete vectors alike
            df = self._resolve_lww(df, key, ts_col)
        n_out = max(1, int(target_files_per_bucket))
        df = df.withColumn(
            SYS_BUCKET,
            F.pmod(F.xxhash64(F.col(key)), F.lit(new_num_buckets)).cast("int"),
        )
        width = new_num_buckets * n_out
        df = df.repartitionById(
            width, _pair_task(F.col(SYS_BUCKET), F.col(key), n_out, width))
        rel_dir = f"data/r{snap.version + 1:08d}-{uuid.uuid4().hex[:8]}"
        out_dir = os.path.join(self.path, rel_dir)
        df.write.option("compression", self.compression).mode(
            "errorifexists").partitionBy(SYS_BUCKET).parquet(out_dir)
        written = self._written_buckets(out_dir, rel_dir)
        from . import skipping
        skipping.write_dir_stats(
            self.path, [f for fs in written.values() for f in fs],
            snap.properties["ts_col"])
        if pre_commit is not None:
            pre_commit()  # raising aborts with no snapshot (orphan files)
        base = self.snapshot()
        if base.version != snap.version:
            raise RuntimeError(
                f"concurrent commit during rebucket (read v{snap.version}, "
                f"now v{base.version}): rebucket is exclusive — retry when "
                f"no merges/folds are running"
            )
        new_snap = Snapshot(
            version=base.version + 1, parent=base.version,
            schema_json=base.schema_json,
            num_buckets=new_num_buckets,
            files={str(b): fs for b, fs in written.items()},
            properties=dict(base.properties),
            summary={
                "rebucketed_from": snap.num_buckets,
                "rebucketed_to": new_num_buckets,
                "new_files": sum(len(fs) for fs in written.values()),
            },
            deltas={},
        )
        try:
            write_snapshot(self.path, new_snap)
        except FileExistsError:
            raise RuntimeError(
                "concurrent commit raced the rebucket's manifest write — "
                "rebucket is exclusive; retry when the table is quiet"
            ) from None
        return MergeStats(
            new_snap.version, len(written), 0,
            sum(len(fs) for fs in written.values()),
        )

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Delete data files referenced only by expired snapshots (GC).

        Equivalent of Iceberg expire_snapshots; keeps time travel for the
        newest ``keep_last`` versions.
        """
        meta = os.path.join(self.path, "_meta")
        versions = sorted(
            int(f[1:9]) for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json")
        )
        keep = set(versions[-keep_last:])
        live: set[str] = set()
        for v in keep:
            s = self.snapshot(v)
            live.update(s.all_files())
            live.update(s.all_deltas())
            live.update(s.all_dvs())
        removed = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for vdir in sorted(os.listdir(data_root)):
                for root, _dirs, fns in os.walk(os.path.join(data_root, vdir)):
                    for fn in fns:
                        rel = os.path.relpath(os.path.join(root, fn), self.path)
                        if fn.endswith(".parquet") and rel not in live:
                            os.unlink(os.path.join(root, fn))
                            removed += 1
        for v in versions:
            if v not in keep:
                os.unlink(os.path.join(meta, f"v{v:08d}.json"))
        # reclaim write dirs that no longer hold any live parquet: the dead
        # data files were unlinked above, so whatever parquet remains is
        # referenced — a dir with none left is pure residue (Spark _SUCCESS
        # + .crc bookkeeping, the advisory _stats.json sidecar) and dies
        # wholesale with the data it described
        if os.path.isdir(data_root):
            for vdir in list(os.listdir(data_root)):
                p = os.path.join(data_root, vdir)
                if not os.path.isdir(p):
                    continue
                has_live = any(
                    fn.endswith(".parquet")
                    for _root, _dirs, fns in os.walk(p) for fn in fns
                )
                if not has_live:
                    shutil.rmtree(p, ignore_errors=True)
        return removed

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
