"""Single-pass micro-batch stage: validate + quarantine + stats + extract in
ONE Arrow python stage riding the WAL scan.

A two-job batch pipeline runs TWO full scans of every micro-batch — one job for
the dirty-record quarantine (reads the whole ``html`` column to tag validity
and carry raw payloads) and one for the extract→merge write. At 10^10 events
the WAL is read twice and the driver plans/dispatches two jobs per batch. This
module collapses them: an **iterator-form arrow_udf** (Spark 4.1 Arrow-native
scalar UDF — batches arrive and return as pa.Array, zero pandas-object
materialization; the round-7 upgrade of the previous pandas_udf, which built
~8M Python objects per 2M-row batch across its four string/binary input
columns) rides the single scan and

- extracts ``text`` for valid non-delete rows (the byte-identical
  invariant, checked against ``cdc.oracle``); validation itself stays
  JVM-side (``quarantine.reason_col``, codegen'd byte checks) and arrives as
  a precomputed ``_reason`` input column — the Python workers are the batch's
  critical resource and do ONLY the extraction plus cheap masking,
- side-writes its task's dirty rows and a per-task stats row (events_read,
  n_dirty, bytes_in, per-bucket dirty counts) as parquet into the slice's
  quarantine dir at generator exhaustion, via tmp-file + atomic ``os.replace``
  with names keyed by the Spark partition id — a retried or speculative task
  attempt regenerates identical content and the last rename wins, so the side
  effect is idempotent (the driver clears the slice dir before the job, so a
  previous run's stale task files can't pollute counts).

The scalar-iterator form matters: only the requested input columns cross into
Python and only the narrow ``text`` array returns — the wide ``html``
payload crosses once, inbound (a ``mapInArrow`` variant was measured 29%
SLOWER at the compute-bound 8-core level because every passthrough column
round-trips through the boundary both ways). The generator shape gives the
end-of-task flush point that a plain scalar udf lacks.

Reference parity: this is DataX's single-pass record path — reader ->
transformer chain -> TaskPluginCollector.collectDirtyRecord -> writer, one
traversal per record (core/src/main/java/com/alibaba/datax/core/transport/
channel/Channel.java, AbstractTaskPluginCollector.java:53-76) — where the
two-job variant was an artifact of Spark's one-sink-per-job model.

DIRTY-FILE GRANULARITY (scale note): each task with >=1 dirty row writes one
quarantine file per slice. At ~1% dirty that is one small file per task —
same order as a bucket-partitioned write's (buckets+1) shuffled files at
sandbox task counts, but at 10^5 tasks/slice it is more, smaller files;
quarantine is an audit table, so fold it offline if it ever matters. Stats rows are a few
hundred bytes each and are read driver-side once per batch.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Iterator, Tuple

import pyarrow as pa

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.functions import arrow_udf

from ..lake.table import SYS_BUCKET
from .extract import extract_text_arrow

RESULT_DDL = "string"

_DIRTY_FIELDS = [
    ("log_offset", "int64"),
    ("epoch", "int32"),
    ("url", "string"),
    ("reason", "string"),
    ("raw_payload", "binary"),
    ("bucket", "int32"),
]


def _dirty_schema():
    import pyarrow as pa

    return pa.schema([(n, getattr(pa, t)()) for n, t in _DIRTY_FIELDS])


def _stats_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("task", pa.int32()),
            ("events_read", pa.int64()),
            ("n_dirty", pa.int64()),
            ("bytes_in", pa.int64()),
            ("dirty_by_bucket", pa.string()),  # {bucket: count} JSON
        ]
    )


def _atomic_parquet(table, path: str) -> None:
    import pyarrow.parquet as pq

    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def fused_result_col(
    *,
    epoch: int,
    slice_dir: str,
    key: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "log_offset",
    op_col: str = "op",
    delete_op: str = "D",
) -> Column:
    """The ``text`` column evaluated by the fused stage.

    Apply to a DataFrame that already carries ``SYS_BUCKET`` and ``_reason``
    (JVM-computed ``quarantine.reason_col`` — validation stays codegen'd
    JVM work; the Python stage is the batch's critical resource and gets
    ONLY the extraction). Filter on ``_reason`` AFTER this projection — Catalyst cannot push a predicate
    through a projection containing a nondeterministic expression, so the
    udf is guaranteed to see every row (dirty ones included) exactly once."""

    @arrow_udf(RESULT_DDL)
    def _fused(
        it: Iterator[Tuple[pa.Array, pa.Array, pa.Array,
                           pa.Array, pa.Array, pa.Array]]
    ) -> Iterator[pa.Array]:
        import numpy as np
        import pyarrow.compute as pc
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        events_read = 0
        bytes_in = 0
        n_dirty = 0
        by_bucket: dict[int, int] = {}
        dirty_parts: list = []
        for url, html, op, seq, bucket, reason in it:
            events_read += len(url)
            bytes_in += int(pc.sum(pc.binary_length(html)).as_py() or 0)
            dirty = pc.fill_null(pc.is_valid(reason), False)
            any_dirty = pc.any(dirty).as_py()
            if any_dirty:
                db = bucket.filter(dirty).cast("int32")
                for bk, n in zip(*np.unique(
                        db.to_numpy(zero_copy_only=False), return_counts=True)):
                    by_bucket[int(bk)] = by_bucket.get(int(bk), 0) + int(n)
                n_dirty += len(db)
                dirty_parts.append(pa.table(
                    {
                        # nullable int64: a foreign WAL may carry null
                        # offsets on exactly the rows that are dirty
                        "log_offset": seq.filter(dirty).cast("int64"),
                        "epoch": pa.array([epoch] * len(db), "int32"),
                        "url": url.filter(dirty).cast("string"),
                        "reason": reason.filter(dirty).cast("string"),
                        "raw_payload": html.filter(dirty).cast("binary"),
                        "bucket": db,
                    },
                    schema=_dirty_schema(),
                ))
            # tombstones carry no payload: null html => null text, as the
            # streaming replay's when(is_del, NULL) before extraction; dirty
            # rows are filtered downstream, their text is never read
            drop = pc.or_(pc.fill_null(pc.equal(op, delete_op), False), dirty)
            masked = pc.if_else(drop, pa.scalar(None, html.type), html)
            yield extract_text_arrow(masked)

        # ---- end-of-task flush: side-write dirty rows + this task's stats
        os.makedirs(os.path.join(slice_dir, "_stats"), exist_ok=True)
        if dirty_parts:
            _atomic_parquet(
                pa.concat_tables(dirty_parts),
                os.path.join(slice_dir, f"part-{pid:05d}.parquet"))
        stats = pa.table(
            {
                "task": pa.array([pid], "int32"),
                "events_read": pa.array([events_read], "int64"),
                "n_dirty": pa.array([n_dirty], "int64"),
                "bytes_in": pa.array([bytes_in], "int64"),
                "dirty_by_bucket": pa.array([json.dumps(by_bucket)], "string"),
            },
            schema=_stats_schema(),
        )
        _atomic_parquet(stats, os.path.join(slice_dir, "_stats", f"part-{pid:05d}.parquet"))

    # asNondeterministic is LOAD-BEARING twice over: (1) it stops Catalyst
    # pushing the downstream dirty filter below this projection (the udf must
    # see every row once — its side files ARE the quarantine), and (2) it
    # stops CollapseProject duplicating the expression into multiple
    # ArrowEvalPython nodes (a second post-filter evaluation would see only
    # clean rows and overwrite the stats flush with dirty=0; caught by
    # test_fused_single_python_eval_in_plan).
    return _fused.asNondeterministic()(
        F.col(key), F.col("html"), F.col(op_col), F.col(seq_col),
        F.col(SYS_BUCKET), F.col("_reason"),
    )


def apply_fused(
    df: DataFrame,
    *,
    epoch: int,
    slice_dir: str,
    key: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "log_offset",
    op_col: str = "op",
    delete_op: str = "D",
    reason_fn=None,
) -> DataFrame:
    """Valid rows of ``df`` with ``text`` attached (and tombstone html nulled),
    quarantine/stats side-written per task. ``df`` must carry ``SYS_BUCKET``.
    ``reason_fn``: swappable validity rule (ReplayConfig.validity_rule);
    default is the engine rule ``quarantine.reason_col``."""
    from .quarantine import reason_col

    res = fused_result_col(
        epoch=epoch, slice_dir=slice_dir, key=key, ts_col=ts_col,
        seq_col=seq_col, op_col=op_col, delete_op=delete_op,
    )
    is_del = F.col(op_col) == F.lit(delete_op)
    out = (
        df.withColumn("_reason", (reason_fn or reason_col)(op_col, delete_op))
        .withColumn("text", res)
        .filter(F.col("_reason").isNull())
        .withColumn("html", F.when(is_del, None).otherwise(F.col("html")))
        .drop("_reason")
    )
    return out


def read_slice_stats(slice_dir: str) -> dict:
    """Driver-side aggregation of the slice's per-task stats files."""
    import pyarrow.parquet as pq

    d = os.path.join(slice_dir, "_stats")
    events_read = n_dirty = bytes_in = 0
    by_bucket: dict[int, int] = {}
    if os.path.isdir(d):
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(d, fn))
            events_read += int(sum(t.column("events_read").to_pylist()))
            n_dirty += int(sum(t.column("n_dirty").to_pylist()))
            bytes_in += int(sum(t.column("bytes_in").to_pylist()))
            for s in t.column("dirty_by_bucket").to_pylist():
                for b, n in json.loads(s).items():
                    by_bucket[int(b)] = by_bucket.get(int(b), 0) + int(n)
    return {
        "events_read": events_read,
        "n_dirty": n_dirty,
        "bytes_in": bytes_in,
        "dirty_by_bucket": by_bucket,
    }
