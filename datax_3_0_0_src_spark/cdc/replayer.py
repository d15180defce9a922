"""The CDC replay engine: driver-planned micro-batch epochs -> lake MERGE.

This is the Spark re-expression of DataX's job lifecycle spine
(JobContainer.start: preHandle -> init -> prepare -> split -> schedule -> post,
core/src/main/java/com/alibaba/datax/core/job/JobContainer.java:100-202):

- split/schedule      => driver-planned epoch + sub-batch ranges over the WAL
                         (reader.split, common/.../spi/Reader.java:46)
- channel rate limits => ``max_events_per_batch`` caps each micro-batch
                         (Channel.statPush flow control, core/.../transport/channel/Channel.java:362-435)
- dirty collector     => quarantine parquet table (epoch-partitioned, idempotent)
- Communication stats => lineage/metrics table keyed (partition_id, checkpoint_epoch)
                         (core/.../statistics/communication/CommunicationTool.java:16-111)
- OTS shard ckpts     => per-batch checkpoint JSON + snapshot properties;
                         resume + reconcile mirrors OTSStreamReaderSlaveProxy.java:40-107
- task failover       => idempotent MERGE + committed-epoch guard: re-running
                         any batch is a no-op (TaskGroupContainer failover,
                         core/.../taskgroup/TaskGroupContainer.java:402-429)
- task group schedule => ONE thread-pool loop runs 1..max_concurrent_batches
                         batches and stops scheduling at the first failure
                         (TaskGroupContainer.start, AbstractScheduler)

Every micro-batch runs one pipeline: ONE scan of its WAL slice carries
validation + quarantine side-write, Arrow text extraction, and the MOR delta
MERGE (cdc.fused); LWW resolves at read/compact time unless
``dedup_per_batch`` asks for it per batch.

Exactly-once protocol (the hard part, SURVEY §7.3):
  1. MERGE commits a lake snapshot whose properties embed (batch_id, end_offset).
  2. A checkpoint JSON for batch_id is then written atomically.
  3. On restart: batches <= the MAX of (last checkpoint, table's last committed
     batch) are skipped; a crash between 1 and 2 is healed by re-deriving the
     checkpoint from the snapshot properties (commit reconcile). MERGE itself is
     LWW-idempotent, so even a torn re-run converges to the same state.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import uuid
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, DataType, MapType, StringType, StructField, StructType,
)

from ..lake.manifest import _atomic_write
from ..lake.table import SYS_BUCKET, LakeTable, exchange_width
from .dedup import dedup_lww
from .fused import summarize, write_stage
from .quarantine import check_error_limits, reason_col

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"

# the scan-split size the replayer tunes for its own scans (_tune_scan_splits)
SPLIT_CONF = "spark.sql.files.maxPartitionBytes"


def _split_conf_scoped(method):
    """Keep the scan-split tuning inside one Replayer entry point: the
    caller's maxPartitionBytes is restored on the way out (unset when it was
    unset). The tuned value only matters while the call's batches scan;
    left on the shared session it sized every later scan's splits too."""

    @functools.wraps(method)
    def scoped(self: "Replayer", *args, **kwargs):
        saved = self.spark.conf.get(SPLIT_CONF, None)
        try:
            return method(self, *args, **kwargs)
        finally:
            if saved is None:
                self.spark.conf.unset(SPLIT_CONF)
            else:
                self.spark.conf.set(SPLIT_CONF, saved)

    return scoped


@dataclass
class ReplayConfig:
    log_dir: str                      # WAL: parquet segments partitioned by epoch
    table_path: str                   # target LakeTable (created if missing)
    work_dir: str                     # checkpoints/, quarantine/, metrics/
    num_buckets: int = 16             # used at table CREATION; existing tables keep theirs
    # rate cap: split epochs into sub-batches of at most this many events
    # (None = whole-epoch batches). 1M with pipeline depth 4 measured best
    # 32-core apply among {whole-epoch x2, 2M x3, 1M x3, 1M x4, 500k x6,
    # 2M x4} (BENCH.md round 3): more, smaller batches keep scan, extract,
    # write and commit phases overlapping; at 500k per-batch fixed costs win.
    max_events_per_batch: int | None = 1_000_000
    # two-phase dedup for hot keys; needs dedup_per_batch=True
    salt_partitions: int | None = None
    error_record_limit: int | None = None
    error_percentage_limit: float | None = 0.05
    key: str = "url"
    ts_col: str = "warc_ts"
    seq_col: str = "log_offset"
    op_col: str = "op"
    # False: write all valid events as delta rows — the SAME last-writer-wins
    # (ts, offset) rule is applied at read/compact-time resolution, so the
    # final state is identical (tested). True adds a whole-batch LWW
    # aggregation before the writer stage (see _writer_stage); worth it only
    # when batches carry high duplicate ratios (delta size).
    dedup_per_batch: bool = False
    # pipeline N micro-batches concurrently (driver thread pool; Spark
    # schedules their jobs side by side). Safe because MOR delta layering is
    # commit-order-free (LWW comes from (ts, offset) in the data) and the
    # manifest commit is an optimistic-retry CAS. Amortizes per-batch fixed
    # costs (job scheduling, commit, Python dispatch) across batches.
    max_concurrent_batches: int = 4
    # fold MOR deltas every N committed batches in a BACKGROUND thread,
    # overlapped with the still-running batches, then once more after the
    # last commit. Safe by construction: _commit_fold re-layers against the
    # freshest snapshot and preserves any delta committed after the fold's
    # read (read-time LWW against folded rows is exact — the folded rows
    # keep their (ts, offset)), and folds never race each other because the
    # fold thread is single. The post-run state is fully folded:
    # <= compact_target_files files/bucket, zero deltas.
    compact_every: int | None = None
    compact_target_files: int = 2      # files/bucket after a fold
    compact_concurrency: int = 4       # ignored; see THROUGHPUT_PROFILE
    # "local" (major fold: zero-exchange pyarrow rewrite, one task per
    # bucket up to the core count) | "dv" (minor fold: LWW resolved via
    # positional-delete sidecars, no data rewrite — see LakeTable._fold_dv)
    compact_strategy: str = "local"
    # parquet codec for delta/base/fold files this job writes ("snappy" |
    # "zstd" | ...): zstd shrinks the bytes the memory-bandwidth-bound fold
    # and apply must move (~35-40% in the round-5/6 A/Bs) for a small
    # compress-CPU premium; the round-6 within-window A/B (BENCH.md
    # "delta-codec A/B") made it the default — it wins precisely when the
    # machine is bandwidth-contended, the realistic wide-cluster regime;
    # readers are codec-agnostic (parquet self-describes)
    file_compression: str = "zstd"
    batch_timeout_s: float | None = None   # F13: cancel a wedged batch (watchdog)
    report_interval_s: float | None = None  # F11: periodic counter reporting
    report_sink: object = None              # callable(str); default print
    # validation rule: callable (op_col, delete_op) -> Column returning NULL
    # for valid rows / a reason string for dirty ones (quarantine.reason_col
    # signature). Swappable so a rule FIX can be followed by
    # ``Replayer.requeue_quarantined`` — reprocess the quarantined rows under
    # the corrected rule. None = the engine default (quarantine.reason_col).
    validity_rule: object = None

    @property
    def checkpoint_dir(self) -> str:
        return os.path.join(self.work_dir, "checkpoints")

    @property
    def quarantine_dir(self) -> str:
        return os.path.join(self.work_dir, "quarantine")

    @property
    def metrics_dir(self) -> str:
        return os.path.join(self.work_dir, "metrics")


# bench.py is frozen and still reads these two keys; nothing else uses this.
# Debt to delete with the next bench.py change: bench.py passes
# ``ReplayConfig(compact_concurrency=…)`` and ``LakeTable.compact(
# concurrency=…)``, so both stay as accepted-and-ignored parameters (the
# fold's task count is min(buckets, defaultParallelism)). No other caller
# may pass them; test_frozen_bench_call_shapes pins bench.py's call shapes.
THROUGHPUT_PROFILE: dict = {
    k: getattr(ReplayConfig, k) for k in ("compact_concurrency", "compact_strategy")
}


@dataclass
class BatchResult:
    batch_id: int
    epoch: int
    sub: int
    events_read: int
    events_quarantined: int
    events_deduped: int
    events_applied: int
    snapshot_version: int
    duration_s: float


@dataclass(frozen=True)
class EpochFooters:
    """One WAL epoch as its parquet footers describe it, from one
    driver-side pass (``Replayer._epoch_footers``).

    ``ranges`` holds each file's (min, max) offset and ``rows`` the epoch's
    row count; both are None when a footer lacks min/max statistics for the
    offset column (a foreign writer). ``schema`` is the Spark schema a read
    of the epoch dir infers, built from the footers (:func:`_footer_schema`);
    None leaves it to Spark's inference: the files disagree, a column is
    INT96, or an Arrow type has no exact Spark reading."""

    files: tuple[str, ...]
    nbytes: int
    ranges: tuple[tuple[int, int], ...] | None
    rows: int | None
    schema: StructType | None


# the footer key under which Spark's parquet writer stores the row schema as
# JSON; Spark's reader prefers it to the parquet schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _offset_range(md, seq: str) -> tuple[int, int] | None:
    """(min, max) of column ``seq`` over a footer's row groups; None when
    the column is absent or a row group lacks min/max statistics."""
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    if seq not in names:
        return None
    idx = names.index(seq)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return None
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return None if lo is None else (int(lo), int(hi))


def _exact_arrow_type(t) -> bool:
    """Whether Spark's parquet reader types a column pyarrow wrote from
    Arrow type ``t`` the way ``from_arrow_type`` converts ``t``. Not for a
    zone-less timestamp (TIMESTAMP_NTZ or TIMESTAMP by session setting),
    nanoseconds, unsigned or nested types."""
    import pyarrow.types as T

    if T.is_timestamp(t):
        return t.tz is not None and t.unit != "ns"
    return any(f(t) for f in (
        T.is_boolean, T.is_signed_integer, T.is_float32, T.is_float64,
        T.is_string, T.is_large_string, T.is_binary, T.is_large_binary,
        T.is_date32, T.is_decimal128))


def _nullable(t: DataType) -> DataType:
    """``t`` with every level nullable, as Spark's file sources read it."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _nullable(f.dataType), True, f.metadata)
                           for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def _footer_schema(pf) -> StructType | None:
    """The Spark schema a read of the parquet file ``pf`` infers, from its
    footer alone: Spark's own schema JSON where a Spark writer left it (the
    reader prefers it too), else the Arrow schema through
    ``from_arrow_schema``. None for an INT96 column and for Arrow types that
    conversion does not reproduce (:func:`_exact_arrow_type`)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    md = pf.metadata
    if any(md.schema.column(i).physical_type == "INT96"
           for i in range(md.num_columns)):
        return None
    spark_json = (md.metadata or {}).get(SPARK_SCHEMA_KEY)
    try:
        if spark_json is not None:
            schema = StructType.fromJson(json.loads(spark_json))
        elif all(_exact_arrow_type(f.type) for f in pf.schema_arrow):
            schema = from_arrow_schema(pf.schema_arrow)
        else:
            return None
    except (ValueError, KeyError, TypeError):
        return None
    return _nullable(schema)


class Replayer:
    def __init__(self, spark: SparkSession, cfg: ReplayConfig):
        self.spark = spark
        self.cfg = cfg
        # per-batch phase timelines (and writer-task counts): reviewable
        # serial breakdown, surfaced by bench.py into the artifact
        self.batch_timelines: list[dict] = []
        # per-epoch footer record (EpochFooters): WAL epoch dirs are
        # immutable once logged (segments roll to NEW epoch dirs), so one
        # footer pass per epoch serves the Replayer's lifetime: plan_batches,
        # the split tuning, the exchange sizing, slice file pruning and
        # read_epoch's schema all read it. Filled before the batch pool
        # starts (plan_batches, _tune_scan_splits, the run() pre-warm).
        self._epochs: dict[int, EpochFooters] = {}
        self._epoch_lock = threading.Lock()
        # (epoch, sub) pairs whose checkpoint file is durable: filled from one
        # checkpoint-dir read per run (last_committed_batch), then extended by
        # _write_checkpoint, so a commit prunes its committed:* keys without
        # re-listing the dir. Pool threads add to it; readers only test
        # membership.
        self._durable: set[tuple[int, int]] = set()
        if cfg.salt_partitions and not cfg.dedup_per_batch:
            raise ValueError(
                "salt_partitions needs dedup_per_batch=True (salting splits "
                "the per-batch LWW dedup; without that dedup it does nothing)"
            )
        if cfg.compact_strategy not in ("local", "dv"):
            raise ValueError(
                f"compact_strategy must be 'local' or 'dv' (the shuffle fold "
                f"was removed), got {cfg.compact_strategy!r}"
            )
        if LakeTable.exists(cfg.table_path):
            self.table = LakeTable.load(spark, cfg.table_path)
        else:
            self.table = LakeTable.create(
                spark,
                cfg.table_path,
                StructType.fromDDL(PAGES_DDL),
                key=cfg.key,
                ts_col=cfg.ts_col,
                num_buckets=cfg.num_buckets,
            )
        self.table.compression = cfg.file_compression

    # ------------------------------------------------------------- planning
    def log_epochs(self) -> list[int]:
        """Epochs present in the WAL (directory listing — metadata only)."""
        if not os.path.isdir(self.cfg.log_dir):
            return []
        out = []
        for d in os.listdir(self.cfg.log_dir):
            m = re.fullmatch(r"epoch=(\d+)", d)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def plan_batches(self) -> list[tuple[int, int, int, int | None, int | None]]:
        """(batch_id, epoch, sub, lo, hi) for every micro-batch in the WAL;
        the batch is the offset slice [lo, hi) of its epoch (None = whole
        epoch). Driver-planned, like reader.split producing task slices.

        Slice boundaries are computed ONCE here (not per sub-batch at run
        time) and are gap-proof: dense offsets get arithmetic bounds; sparse
        offsets fall back to exact rank-based boundaries, so every event of
        the epoch lands in exactly one slice even when offsets have holes.
        """
        cap = self.cfg.max_events_per_batch
        seq = self.cfg.seq_col
        plan: list[tuple[int, int, int, int | None, int | None]] = []
        bid = 0
        for e in self.log_epochs():
            if not cap:
                plan.append((bid, e, 0, None, None))
                bid += 1
                continue
            meta = self._epoch_footers(e)
            if meta is None or meta.ranges is None:
                # footers lack min/max stats for the offset column (foreign
                # writer): a tiny Spark aggregation as the fallback, over the
                # epoch read with the schema its footers still give
                row = self.read_epoch(e).agg(
                    F.min(seq).alias("lo"), F.max(seq).alias("hi"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()[0]
                lo, hi, n = row["lo"], row["hi"], int(row["n"])
            else:
                lo = min(flo for flo, _ in meta.ranges)
                hi = max(fhi for _, fhi in meta.ranges)
                n = meta.rows
            if n == 0:
                plan.append((bid, e, 0, None, None))
                bid += 1
                continue
            if hi - lo + 1 == n:
                # dense offsets: arithmetic slice bounds, no extra scan
                subs = -(-n // cap)
                bounds = [lo + s * cap for s in range(subs)] + [hi + 1]
            else:
                # offset gaps: APPROXIMATE boundaries from quantiles (one
                # distributed Greenwald-Khanna sketch pass per epoch at PLAN
                # time — no global sort; the previous rank-exact planner put
                # the whole epoch through a single-partition Window sort,
                # which is one task sorting 10^8 rows at target scale).
                # The correctness invariant is SLICE COMPLETENESS — every
                # event lands in exactly one [b_k, b_k+1) — which holds for
                # ANY boundary values; the rate cap itself is approximate by
                # nature, and the sketch keeps each slice within ~0.1% of cap.
                subs = -(-n // cap)
                probs = [s_ / subs for s_ in range(1, subs)]
                qs = (self.read_epoch(e).stat.approxQuantile(seq, probs, 0.001)
                      if probs else [])
                inner = sorted({int(q) for q in qs if lo < int(q) <= hi})
                bounds = [lo] + inner + [hi + 1]
            for s in range(len(bounds) - 1):
                plan.append((bid, e, s, bounds[s], bounds[s + 1]))
                bid += 1
        return plan

    def _epoch_path(self, epoch: int) -> str:
        return os.path.join(self.cfg.log_dir, f"epoch={epoch}")

    def _epoch_footers(self, epoch: int) -> EpochFooters | None:
        """The epoch's :class:`EpochFooters` from ONE pass over its parquet
        footers: driver-side metadata reads, no Spark job. None for a
        missing or empty epoch dir (not memoized).

        Scale note: this is O(files) driver-side metadata, same order as the
        split planning Spark itself must do to scan the epoch; at 10^8-event
        epochs the WAL segment count stays in the hundreds (writers roll
        segments by size), so plan time stays sub-second where an agg job
        paid a full scheduler round trip per epoch.

        Memoized per epoch (epoch dirs are immutable once logged)."""
        import pyarrow.parquet as pq

        meta = self._epochs.get(epoch)
        if meta is not None:
            return meta
        p = self._epoch_path(epoch)
        try:
            entries = sorted((f.path, f.stat().st_size) for f in os.scandir(p)
                             if f.name.endswith(".parquet"))
        except OSError:
            return None
        if not entries:
            return None
        seq = self.cfg.seq_col

        def read(path: str):
            with pq.ParquetFile(path) as pf:
                md = pf.metadata
                return _offset_range(md, seq), md.num_rows, _footer_schema(pf)

        # footer opens are tiny I/O-bound metadata reads but they add up
        # SERIALLY at plan time (hundreds of files x row groups, before any
        # executor can work) — a small thread pool cuts this serial floor
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(entries))) as pool:
            per_file = list(pool.map(read, [f for f, _ in entries]))
        ranges = [r for r, _, _ in per_file]
        schemas = [sc for _, _, sc in per_file]
        known = all(r is not None for r in ranges)
        meta = EpochFooters(
            files=tuple(f for f, _ in entries),
            nbytes=sum(n for _, n in entries),
            ranges=tuple(ranges) if known else None,
            rows=sum(n for _, n, _ in per_file) if known else None,
            # files that disagree leave the choice to Spark's inference
            schema=schemas[0] if all(sc == schemas[0] for sc in schemas) else None,
        )
        with self._epoch_lock:
            return self._epochs.setdefault(epoch, meta)

    def _slice_df(self, epoch: int, lo: int, hi: int) -> DataFrame | None:
        """A DataFrame over ONLY the epoch files whose offset range overlaps
        [lo, hi) — driver-side file pruning from the footer ranges gathered
        at plan time: a rate-capped slice touches slice/epoch of the files,
        so its scan schedules no no-op splits. None when the ranges are
        unavailable (foreign writer) — the caller falls back to the
        whole-epoch DF + predicate."""
        meta = self._epoch_footers(epoch)
        if meta is None or meta.ranges is None:
            return None
        files = [f for f, (flo, fhi) in zip(meta.files, meta.ranges)
                 if fhi >= lo and flo < hi]
        if not files:
            return None
        return self.spark.read.schema(self._epoch_schema(epoch)).parquet(*files)

    def _split_target(self, sizes: list[tuple[int, int | None]]) -> int | None:
        """maxPartitionBytes for this run's scans, from (bytes, rows) per
        pending epoch (rows None: the footers lack offset stats).

        The unit that must go wide is the rate-capped SLICE, not the epoch:
        with a 2M-event cap on a 32M-event epoch, epoch-size/(2*par) splits
        hand each batch's map stage only slice/epoch of the cores (measured:
        ~4 real scan tasks per batch at 32 cores — the round-6 verdict's 0.63
        cpu_frac). Size splits so ONE SLICE yields ~par row-group-aligned
        splits; non-slice row groups prune via offset stats inside their
        tasks (footer-only, ~ms), so the extra scheduled splits per epoch
        cost microseconds each while every batch's scan+shuffle-write map
        stage runs full-width. The [4 MB, 128 MB] clamp keeps the setting
        sane at 100 TB (10^8-event slices saturate at the 128 MB default).

        The bytes-per-row ratio comes from epochs with a known row count
        only; every epoch still counts toward the whole-epoch maximum."""
        slice_b = max((b for b, _ in sizes), default=0)  # whole-epoch batches
        if not slice_b:
            return None
        tot_b = sum(b for b, r in sizes if r)
        tot_r = sum(r for _, r in sizes if r)
        cap = self.cfg.max_events_per_batch
        par = self.spark.sparkContext.defaultParallelism
        if cap and tot_r:
            slice_b = min(slice_b, int(cap * (tot_b / tot_r)))
        return min(max(slice_b // par, 4 << 20), 128 << 20)

    def _tune_scan_splits(self, epochs: list[int]) -> None:
        """Size parquet splits once per entry point so each rate-capped slice
        of these epochs scans ~par-wide (see _split_target); the entry point
        restores the caller's value (_split_conf_scoped). Driver-side
        metadata only: the epochs' footer records."""
        metas = [m for e in set(epochs) if (m := self._epoch_footers(e))]
        target = self._split_target([(m.nbytes, m.rows) for m in metas])
        if target:
            self.spark.conf.set(SPLIT_CONF, str(target))

    def _epoch_schema(self, epoch: int) -> StructType:
        """The epoch's Spark schema: from its footer record, else (see
        :class:`EpochFooters`) from Spark's schema inference — a one-task
        Spark job, run once per epoch: its result is memoized in the
        record."""
        meta = self._epoch_footers(epoch)
        if meta is not None and meta.schema is not None:
            return meta.schema
        schema = self.spark.read.parquet(self._epoch_path(epoch)).schema
        if meta is not None:
            with self._epoch_lock:
                self._epochs[epoch] = replace(meta, schema=schema)
        return schema

    def read_epoch(self, epoch: int) -> DataFrame:
        """One WAL epoch's rows under its files' own schema (=> additive
        evolution surfaces naturally when later segments carry new columns).

        The schema comes from the memoized footer record, so building the
        frame submits no Spark job. Sets no session conf."""
        return self.spark.read.schema(self._epoch_schema(epoch)).parquet(
            self._epoch_path(epoch))

    # ---------------------------------------------------------- checkpoints
    def _ckpt_path(self, epoch: int, sub: int) -> str:
        # keyed by (epoch, sub) — batch ids are run-relative enumerations and
        # would collide when an out-of-order epoch arrives between runs
        return os.path.join(
            self.cfg.checkpoint_dir, f"epoch-{epoch:010d}-sub-{sub:04d}.json"
        )

    def _write_checkpoint(self, res: BatchResult) -> None:
        _atomic_write(
            self._ckpt_path(res.epoch, res.sub),
            json.dumps(
                {
                    "batch_id": res.batch_id,
                    "epoch": res.epoch,
                    "sub": res.sub,
                    "snapshot_version": res.snapshot_version,
                    "events_applied": res.events_applied,
                    "status": "committed",
                },
                sort_keys=True,
            ),
            exclusive=False,
        )
        self._durable.add((res.epoch, res.sub))

    def _read_checkpoints(self) -> list[dict]:
        d = self.cfg.checkpoint_dir
        if not os.path.isdir(d):
            return []
        out = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".json"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
        return out

    @staticmethod
    def _committed_prop_key(epoch: int, sub: int) -> str:
        # every commit durably records its (epoch, sub, batch_id) as a
        # snapshot property, so reconcile can rebuild ALL missing checkpoints
        # (not just the last committer's — required for exactly-once under
        # max_concurrent_batches>1 crashes); the key is pruned (mapped to
        # None, see lake.table._merged_props) once its checkpoint file is
        # durable, so manifest properties stay O(in-flight batches)
        return f"committed:{epoch}:{sub}"

    def _committed_prop_prunes(self) -> dict[str, None]:
        """{committed:E:S -> None} for pairs whose checkpoint file already
        exists — piggybacked on the next commit to garbage-collect the
        bookkeeping keys. O(1) per key: membership in the in-memory durable
        set, no checkpoint-dir read."""
        out: dict[str, None] = {}
        for k in self.table.snapshot().properties:
            if not k.startswith("committed:"):
                continue
            _, e, s = k.split(":")
            if (int(e), int(s)) in self._durable:
                out[k] = None
        return out

    def last_committed_batch(self) -> int:
        """MAX(checkpoint files, table snapshot properties) — heals a crash
        between snapshot commit and checkpoint write (commit reconcile).

        Rebuilds a checkpoint for EVERY ``committed:E:S`` property lacking
        one, so concurrent-mode crashes (several batches committed, some
        checkpoints lost) heal completely instead of only the last committer's
        identity. Resets the in-memory durable set from this one read."""
        ckpts = self._read_checkpoints()
        done = {(int(c["epoch"]), int(c.get("sub", 0))) for c in ckpts}
        self._durable = set(done)
        ids = [int(c["batch_id"]) for c in ckpts]
        snap = self.table.snapshot()
        for k, v in snap.properties.items():
            if not k.startswith("committed:"):
                continue
            _, e, s = k.split(":")
            e, s = int(e), int(s)
            if (e, s) in done:
                continue
            self._write_checkpoint(
                BatchResult(
                    batch_id=int(v), epoch=e, sub=s,
                    events_read=0, events_quarantined=0, events_deduped=0,
                    events_applied=0, snapshot_version=snap.version, duration_s=0.0,
                )
            )
            ids.append(int(v))
        from_ckpt = max(ids) if ids else -1
        # legacy single-identity reconcile (tables written before committed:*)
        from_table = self.table.property("last_batch_id", -1)
        if from_table > from_ckpt:
            self._write_checkpoint(
                BatchResult(
                    batch_id=from_table,
                    epoch=snap.properties.get("last_epoch", -1),
                    sub=snap.properties.get("last_sub", 0),
                    events_read=0, events_quarantined=0, events_deduped=0,
                    events_applied=0, snapshot_version=snap.version, duration_s=0.0,
                )
            )
        return max(from_ckpt, from_table)

    def committed_pairs(self) -> set[tuple[int, int]]:
        """Set of committed (epoch, sub) pairs, from checkpoint files.

        Resume skips exactly these — NOT everything below a max batch id — so
        a late-arriving epoch numerically below already-committed ones is
        still processed (no silent drops on out-of-order epoch arrival).
        ``last_committed_batch()`` must run first (it heals the
        crash-between-commit-and-checkpoint case by re-deriving the missing
        checkpoint from the table snapshot's properties)."""
        return {
            (int(c["epoch"]), int(c.get("sub", 0))) for c in self._read_checkpoints()
        }

    # -------------------------------------------------------------- running
    @_split_conf_scoped
    def run(self, *, stop_after_batches: int | None = None) -> list[BatchResult]:
        """Replay all uncommitted micro-batches. Safe to re-run / resume.

        Up to ``max_concurrent_batches`` batches run side by side on a driver
        thread pool: MOR deltas are commit-order-free, so batch N+1's
        scan/extract overlaps batch N's write and per-batch fixed costs
        amortize across the pipeline. The first failed batch stops the
        schedule: batches not yet started never run, the in-flight ones and
        the fold finish, then the failure is raised."""
        from concurrent.futures import ThreadPoolExecutor, as_completed

        from pyspark.util import inheritable_thread_target

        from .monitor import PeriodicReporter

        cfg = self.cfg
        self.last_committed_batch()  # heal a lost checkpoint before resume
        pending = [p for p in self.plan_batches()
                   if (p[1], p[2]) not in self._durable]
        if stop_after_batches is not None:
            pending = pending[:stop_after_batches]
        self._tune_scan_splits([p[1] for p in pending])
        # every pending epoch now has its footer record; resolve the schemas
        # the footers do not give (EpochFooters.schema) while executors are
        # IDLE: Spark's inference job for them, submitted after the write
        # pipeline fills the executors, waits seconds in the scheduler queue
        # (profiled). An epoch whose footers give the schema submits nothing.
        for e in dict.fromkeys(p[1] for p in pending):
            self._epoch_schema(e)

        def carry(fn):
            # pool threads run their Spark jobs under the caller's local
            # properties (job group, description), copied at submit time:
            # one copy per task, because tasks sharing one copy overwrite
            # each other's job group and SQL execution id
            return inheritable_thread_target(self.spark)(fn)

        failed = threading.Event()

        def batch(p):
            if failed.is_set():
                return None  # a sibling batch failed: start nothing new
            try:
                return self._run_batch(*p)
            except BaseException:
                failed.set()
                raise

        def fold():
            return self.table.compact(
                target_files_per_bucket=cfg.compact_target_files,
                strategy=cfg.compact_strategy,
            )

        reporter = None
        if cfg.report_interval_s:
            sink = cfg.report_sink if callable(cfg.report_sink) else print
            reporter = PeriodicReporter(cfg.report_interval_s, sink=sink).start()
        results: list[BatchResult] = []
        # compact_every: a SINGLE background thread folds the deltas
        # committed so far while later batches still run, so folds never
        # race each other; deltas layered after a fold's read survive its
        # commit (LakeTable._commit_fold)
        fold_pool = ThreadPoolExecutor(max_workers=1)
        fold_fut = None
        since_fold = 0
        try:
            with ThreadPoolExecutor(
                max_workers=max(1, cfg.max_concurrent_batches)
            ) as pool:
                futs = [pool.submit(carry(batch), p) for p in pending]
                try:
                    for fut in as_completed(futs):
                        res = fut.result()  # the first failure propagates
                        if res is None:
                            continue
                        results.append(res)
                        since_fold += 1
                        if reporter:
                            reporter.update(
                                events_read=res.events_read,
                                events_applied=res.events_applied,
                                events_quarantined=res.events_quarantined,
                                batches=1,
                            )
                        if (
                            cfg.compact_every
                            and since_fold >= cfg.compact_every
                            and (fold_fut is None or fold_fut.done())
                        ):
                            if fold_fut is not None:
                                fold_fut.result()  # surface a fold failure
                            since_fold = 0
                            fold_fut = fold_pool.submit(carry(fold))
                except BaseException:
                    failed.set()
                    pool.shutdown(cancel_futures=True)
                    raise
            if fold_fut is not None:
                fold_fut.result()  # drain the in-flight fold
            results.sort(key=lambda r: r.batch_id)
            if cfg.compact_every and results:
                fold()  # tail fold: the post-run state is fully folded
        finally:
            fold_pool.shutdown(wait=True)
            if reporter:
                reporter.stop()
        return results

    def _run_batch(
        self, batch_id: int, epoch: int, sub: int,
        lo: int | None = None, hi: int | None = None,
    ) -> BatchResult:
        cfg = self.cfg
        if cfg.batch_timeout_s:
            from .monitor import HungTaskGuard

            with HungTaskGuard(self.spark, cfg.batch_timeout_s, f"cdc-batch-{batch_id}"):
                return self._run_batch_fused(batch_id, epoch, sub, lo, hi)
        return self._run_batch_fused(batch_id, epoch, sub, lo, hi)

    def _run_batch_fused(
        self, batch_id: int, epoch: int, sub: int,
        lo: int | None, hi: int | None,
    ) -> BatchResult:
        """One micro-batch, single pass: ONE scan of the WAL slice, the
        layout exchange and ONE writer stage (:meth:`_apply`) that
        validates, quarantines, extracts and writes the delta files; the
        driver commits exactly the files the stage returns."""
        cfg = self.cfg
        t0 = time.monotonic()
        tl: dict = {"batch": batch_id, "t0": t0}
        if lo is not None:
            # file-pruned slice scan (offset predicate still applied — file
            # ranges overlap at boundaries); falls back to the epoch DF
            ev = self._slice_df(epoch, lo, hi)
            if ev is None:
                ev = self.read_epoch(epoch)
            ev = ev.filter((F.col(cfg.seq_col) >= lo) & (F.col(cfg.seq_col) < hi))
            rows = hi - lo
        else:
            ev = self.read_epoch(epoch)
            meta = self._epoch_footers(epoch)
            rows = meta.rows if meta else None
        tl["read_epoch_s"] = time.monotonic() - t0
        out = self._apply(
            ev, epoch=epoch, slice_name=f"{epoch}-{sub}", ckpt_epoch=batch_id,
            rows=rows, tl=tl, gate=True,
            properties={
                "last_batch_id": batch_id,
                "last_epoch": epoch,
                "last_sub": sub,
                self._committed_prop_key(epoch, sub): batch_id,
                **self._committed_prop_prunes(),
            },
        )
        res = BatchResult(
            batch_id=batch_id, epoch=epoch, sub=sub,
            events_read=out["events_read"], events_quarantined=out["n_dirty"],
            events_deduped=out["deduped"], events_applied=out["applied"],
            snapshot_version=out["version"], duration_s=time.monotonic() - t0,
        )
        self._write_checkpoint(res)
        tl["total_s"] = res.duration_s
        tl["t_end"] = time.monotonic()
        self.batch_timelines.append(tl)  # list.append is GIL-atomic
        return res

    def _writer_stage(
        self, ev: DataFrame, *, epoch: int, slice_dir: str, rows: int | None,
        tl: dict,
    ) -> tuple[DataFrame, StructType]:
        """The writer-stage frame over ``ev`` and the user schema its files
        carry. The ONE exchange is the (bucket, salt) layout, sized from
        ``rows`` (None: full width) and placed before the Python stage: the
        WAL's offset-contiguous segments give a slice few populated row
        groups, so a stage riding the scan would run on that many cores. A
        batch of at most ``ROWS_PER_TASK`` rows has no layout exchange: its
        writer stage is one task (``exchange_parts`` 1) that also scans.
        ``dedup_per_batch`` reduces the valid rows to their LWW winners
        before it (each counting the events it stands for) and unions the
        dirty rows back in."""
        cfg = self.cfg
        snap = self.table.snapshot()
        user_schema = self.table.evolved_schema(
            snap, StructType(ev.schema.fields + [StructField("text", StringType())]),
            cfg.seq_col, cfg.op_col)
        nb = self.table.num_buckets
        # the events each row stands for and their html bytes (fused.py)
        weights = {"_n": F.lit(1).cast("long"),
                   "_nbytes": F.octet_length("html").cast("long")}
        k = F.col(cfg.key)
        ev = ev.withColumns({  # a null key buckets to -1
            SYS_BUCKET: F.when(k.isNull(), F.lit(-1)).otherwise(
                F.pmod(F.xxhash64(k), F.lit(nb)).cast("int")),
            "_reason": (cfg.validity_rule or reason_col)(cfg.op_col, "D"),
        })
        if cfg.dedup_per_batch:
            dirty = ev.filter(F.col("_reason").isNotNull())
            ev = dedup_lww(
                ev.filter(F.col("_reason").isNull()), key=cfg.key,
                ts_col=cfg.ts_col, seq_col=cfg.seq_col,
                salt_partitions=cfg.salt_partitions,
                sums=weights,
            ).unionByName(dirty.withColumns(weights))
        else:
            ev = ev.withColumns(weights)
        ev = self.table._layout(ev, cfg.key, nb, rows)
        tl["exchange_parts"] = exchange_width(
            self.spark.sparkContext.defaultParallelism, nb, rows)
        stage = write_stage(
            ev, epoch=epoch, slice_dir=slice_dir, table_path=self.table.path,
            rel_dir=LakeTable.delta_dir(snap),
            phys=self.table._physical_schema(user_schema), key=cfg.key,
            ts_col=cfg.ts_col, seq_col=cfg.seq_col, op_col=cfg.op_col,
            codec=self.table.compression,
        )
        return stage, user_schema

    def _apply(
        self, ev: DataFrame, *, epoch: int, slice_name: str, ckpt_epoch: int,
        rows: int | None, tl: dict, gate: bool, properties: dict,
    ) -> dict:
        """Run the writer stage over ``ev``, commit exactly the files it
        returns and write lineage slice ``slice_name`` (keyed by
        ``ckpt_epoch``) from the returned counts. With ``gate`` the error
        limits run on those counts BEFORE the commit: an abort commits
        nothing, and the written files stay orphans (``expire_snapshots``
        reclaims them). Returns ``fused.summarize``'s counts plus
        ``deduped`` and the new ``version``."""
        import shutil

        from ..lake import skipping

        cfg = self.cfg
        slice_dir = os.path.join(cfg.quarantine_dir, f"slice={slice_name}")
        # idempotent re-run: a prior partial attempt may have left task files
        # under a different partitioning — clear before the job (driver-side;
        # concurrent batches touch distinct slice dirs)
        shutil.rmtree(slice_dir, ignore_errors=True)
        last = [time.monotonic()]

        def lap(name: str) -> None:
            now = time.monotonic()
            tl[name], last[0] = now - last[0], now

        stage, user_schema = self._writer_stage(
            ev, epoch=epoch, slice_dir=slice_dir, rows=rows, tl=tl)
        lap("fused_build_s")
        tl["plan_s"] = time.monotonic() - tl["t0"]
        collected = stage.collect()
        lap("write_job")
        got = summarize(collected)
        for k in ("writer_tasks", "empty_writer_tasks", "max_task_events"):
            tl[k] = got[k]
        lap("slice_stats_s")
        if gate:
            check_error_limits(
                got["n_dirty"], got["events_read"],
                record_limit=cfg.error_record_limit,
                percentage_limit=cfg.error_percentage_limit,
            )
        lap("pre_commit")
        skipping.write_dir_stats(
            self.table.path, list(got["stats"]), cfg.ts_col,
            precomputed=got["stats"])
        lap("footers")
        snap = self.table.commit_deltas(
            got["written"], user_schema, batch_rows=got["applied"],
            properties=properties)
        lap("commit_cas")
        got["version"] = snap.version
        got["deduped"] = got["events_read"] - got["n_dirty"] - got["applied"]
        dur_ms = int((time.monotonic() - tl["t0"]) * 1000)
        wins, dirty = got["rows_per_bucket"], got["dirty_by_bucket"]
        self._write_metrics_slice([
            (b, ckpt_epoch, epoch, 0, wins.get(b, 0), 0, dirty.get(b, 0), 0, dur_ms)
            for b in sorted(set(wins) | {b for b in dirty if b >= 0})
        ] + [(-1, ckpt_epoch, epoch, got["events_read"], 0, got["deduped"],
              dirty.get(-1, 0), got["bytes_in"], dur_ms)], slice_name)
        return got

    def _write_metrics_slice(self, rows: list[tuple], slice_name: str) -> None:
        """Lineage slice write: tiny table, driver-side pyarrow (no Spark job)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*rows)) if rows else [[]] * 9
        mtable = pa.table(
            {
                "partition_id": pa.array(cols[0], pa.int32()),
                "checkpoint_epoch": pa.array(cols[1], pa.int64()),
                "log_epoch": pa.array(cols[2], pa.int32()),
                "events_read": pa.array(cols[3], pa.int64()),
                "events_applied": pa.array(cols[4], pa.int64()),
                "events_deduped": pa.array(cols[5], pa.int64()),
                "events_quarantined": pa.array(cols[6], pa.int64()),
                "bytes_in": pa.array(cols[7], pa.int64()),
                "merge_duration_ms": pa.array(cols[8], pa.int64()),
            }
        )
        mpath = os.path.join(self.cfg.metrics_dir, f"slice={slice_name}")
        os.makedirs(mpath, exist_ok=True)
        pq.write_table(mtable, os.path.join(mpath, "part-0.parquet"))

    # ------------------------------------------------------------- reading
    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.cfg.metrics_dir, "slice=*"))

    def quarantine(self) -> DataFrame:
        # basePath: slice= (and, in work dirs written by the retired two-job
        # batch pipeline, _bucket=) partition levels under the root; fused
        # slices keep bucket as a data column. A run with zero dirty rows has no
        # data files at all — return a typed empty frame. One stable schema
        # regardless of layout: the old layout's `_bucket` partition column
        # is renamed to `bucket` so consumers see the same column name the
        # fused layout (and the empty frame) carry. The two layouts are read
        # apart: a work dir resumed across the change holds both, and one
        # partition discovery over mixed depths fails.
        import glob

        q = self.cfg.quarantine_dir
        flat = sorted({os.path.dirname(p) for p in glob.glob(
            os.path.join(q, "slice=*", "*.parquet"))})
        old = sorted({os.path.dirname(os.path.dirname(p)) for p in glob.glob(
            os.path.join(q, "slice=*", f"{SYS_BUCKET}=*", "*.parquet"))})
        if not flat and not old:
            return self.spark.createDataFrame(
                [], "log_offset long, epoch int, url string, reason string, "
                    "raw_payload binary, slice string, bucket int"
            )
        reader = self.spark.read.option("basePath", q)
        parts = [reader.parquet(*flat)] if flat else []
        if old:
            parts.append(reader.parquet(*old).withColumnRenamed(SYS_BUCKET, "bucket"))
        parts = [df.withColumn("bucket", F.col("bucket").cast("int")) for df in parts]
        return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])

    def fold_quarantine(self, *, concurrency: int = 4) -> dict:
        """Fold each quarantine slice's many per-task dirty files into one
        (round-3 verdict watch item: the fused stage writes one small file
        per task-with-dirty-rows per slice — at 10^5 tasks/slice that is
        10^5 tiny audit files; this is the offline fold that bounds it).

        Driver-side pyarrow — quarantine data is small by construction
        (dirty rows are the exception) and slices are independent, so a
        thread pool covers the sandbox and the same per-slice fold could be
        shipped to executors unchanged at larger audit volumes.

        Crash-safe without transactions: per slice, (1) write the folded
        file to a tmp name, (2) atomically write a ``_fold-G.json`` marker
        listing the consumed inputs, (3) rename tmp into place, (4) delete
        the inputs, (5) delete the marker. Recovery on the next call
        completes an interrupted fold from the marker instead of re-reading
        a mix of folded and unfolded files (which would duplicate rows).
        """
        import glob as _glob
        from concurrent.futures import ThreadPoolExecutor

        import pyarrow as pa
        import pyarrow.parquet as pq

        def leaf_dirs() -> list[str]:
            out = []
            for s in _glob.glob(os.path.join(self.cfg.quarantine_dir, "slice=*")):
                subs = [d for d in _glob.glob(os.path.join(s, f"{SYS_BUCKET}=*"))
                        if os.path.isdir(d)]
                out.extend(subs if subs else [s])
            return out

        def recover(d: str) -> None:
            for marker in _glob.glob(os.path.join(d, "_fold-*.json")):
                gen = os.path.basename(marker)[6:-5]
                dst = os.path.join(d, f"folded-{gen}.parquet")
                tmp = dst + ".tmp"
                if not os.path.exists(dst) and os.path.exists(tmp):
                    os.replace(tmp, dst)
                if os.path.exists(dst):
                    for fn in json.load(open(marker)):
                        p = os.path.join(d, fn)
                        if os.path.exists(p):
                            os.unlink(p)
                else:  # crashed before the tmp write finished: restart clean
                    if os.path.exists(tmp):
                        os.unlink(tmp)
                os.unlink(marker)

        def fold_dir(d: str) -> int:
            recover(d)
            files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            if len(files) <= 1:
                return 0
            t = pa.concat_tables(
                [pq.read_table(os.path.join(d, f)) for f in files],
                promote_options="permissive")
            gen = uuid.uuid4().hex[:8]
            dst = os.path.join(d, f"folded-{gen}.parquet")
            pq.write_table(t, dst + ".tmp")
            _atomic_write(os.path.join(d, f"_fold-{gen}.json"),
                          json.dumps(files), exclusive=False)
            os.replace(dst + ".tmp", dst)
            for f in files:
                os.unlink(os.path.join(d, f))
            os.unlink(os.path.join(d, f"_fold-{gen}.json"))
            return len(files)

        dirs = leaf_dirs()
        with ThreadPoolExecutor(max_workers=max(1, concurrency)) as pool:
            folded = list(pool.map(fold_dir, dirs))
        return {"slices_scanned": len(dirs),
                "slices_folded": sum(1 for n in folded if n),
                "files_removed": sum(max(0, n - 1) for n in folded)}

    @_split_conf_scoped
    def requeue_quarantined(self, *, epochs: list[int] | None = None) -> list[dict]:
        """Reprocess quarantined rows through the SAME fused pipeline after a
        validation-rule fix (an operator the reference lacks — DataX can only
        re-run the whole job; round-3 verdict item 5).

        The quarantine table is an AUDIT table: it does not carry the full
        event (no ``warc_ts``/``op``), so the requeue re-reads the original
        WAL rows by (epoch, offset) semi-join — the WAL stays the source of
        truth, exactly like a DataX re-run, but scoped to the quarantined
        offsets only. Per epoch with quarantined rows:

        1. WAL epoch scan ⋉ quarantined offsets (semi join; the offsets side
           is small by construction — dirty rows are the exception);
        2. the standard fused apply under the CURRENT ``validity_rule``:
           still-dirty rows land in a fresh ``slice={epoch}-rq{gen}`` dir,
           now-valid rows get text extracted and MERGE into the table
           (LWW-idempotent, so a crash + re-run converges);
        3. after the merge commits, the epoch's previous quarantine slices
           are dropped — their rows are now either applied or re-quarantined
           in the rq slice. A crash between 2 and 3 merely re-runs the
           requeue (idempotent merge, slice overwrite, delete retried).

        Lineage: a metrics slice ``slice={epoch}-rq{gen}`` is written with
        checkpoint_epoch = -gen (negative marks a requeue pass). Rows whose
        ``log_offset`` is null (foreign WALs) cannot be re-keyed and stay
        quarantined; error limits deliberately do not gate a requeue (it is
        an explicit repair action; still-dirty rows just stay put).
        """
        import glob as _glob
        import shutil

        cfg = self.cfg
        q = self.quarantine().filter(F.col("log_offset").isNotNull())
        if epochs is not None:
            q = q.filter(F.col("epoch").isin([int(e) for e in epochs]))
        target = sorted(
            int(r[0]) for r in q.select("epoch").distinct().collect())
        self._tune_scan_splits(target)
        results: list[dict] = []
        for epoch in target:
            old_slices = sorted(
                d for d in _glob.glob(
                    os.path.join(cfg.quarantine_dir, f"slice={epoch}-*"))
                if os.path.isdir(d)
            )
            # strictly-increasing generation: COUNTING rq dirs collides after
            # a cleanup (pass 2 writes rq2 + deletes rq1; a count-based pass
            # 3 would recompute gen=2 and rmtree its own input rq2 below
            # before the semi-join reads it — caught by the 3-pass
            # fold/requeue interleave soak)
            import re as _re

            gens = [int(m.group(1)) for d in old_slices
                    if (m := _re.search(r"-rq(\d+)$", os.path.basename(d)))]
            gen = max(gens, default=0) + 1
            # fresh read per epoch: the parquet file index is resolved at
            # DataFrame creation, and the previous iteration deleted its
            # epoch's slice dirs — a stale index would scan missing files.
            # refreshByPath drops the SESSION-level FileStatusCache entries
            # too: without it a listing cached by an earlier pass (or an
            # earlier epoch's offs scan) can resurface files the cleanup
            # below already removed and fail the scan with FILE_NOT_EXIST
            # (observed on the 3rd fold+requeue interleave pass)
            self.spark.catalog.refreshByPath(cfg.quarantine_dir)
            offs = (
                self.quarantine()
                .filter(F.col("log_offset").isNotNull()
                        & (F.col("epoch") == epoch))
                .select(F.col("log_offset").alias("_rq_off")).distinct()
            )
            ev = self.read_epoch(epoch).join(
                offs, F.col(cfg.seq_col) == F.col("_rq_off"), "leftsemi")
            out = self._apply(
                ev, epoch=epoch, slice_name=f"{epoch}-rq{gen}", ckpt_epoch=-gen,
                rows=None, tl={"t0": time.monotonic()}, gate=False,
                properties={f"requeued:{epoch}:rq{gen}": "1"},
            )
            # Drop the epoch's previous slices — EXCEPT rows whose
            # log_offset is null (foreign WALs): those were filtered out of
            # the requeue above and must stay quarantined, so each old slice
            # is rewritten in place to keep only its null-offset rows (file
            # deleted when none remain, dir deleted when empty). Idempotent:
            # re-running the filter is a no-op, so a crash mid-cleanup just
            # resumes.
            import pyarrow.compute as _pc
            import pyarrow.parquet as _pq

            from .fused import _atomic_parquet as _atomic_pq

            for d in old_slices:
                kept = 0
                for pf in sorted(
                    _glob.glob(os.path.join(d, "*.parquet"))
                    + _glob.glob(os.path.join(d, "*", "*.parquet"))
                ):
                    t = _pq.read_table(pf)
                    if "log_offset" not in t.column_names:
                        os.remove(pf)
                        continue
                    nulls = t.filter(_pc.is_null(t.column("log_offset")))
                    if nulls.num_rows == 0:
                        os.remove(pf)
                    else:
                        if nulls.num_rows < t.num_rows:
                            _atomic_pq(nulls, pf)
                        kept += nulls.num_rows
                if kept == 0:
                    shutil.rmtree(d, ignore_errors=True)
            results.append({
                "epoch": epoch, "generation": gen,
                "events_requeued": out["events_read"],
                "events_applied": out["applied"],
                "events_still_dirty": out["n_dirty"],
                "snapshot_version": out["version"],
            })
        return results
