"""Advisory data-skipping sidecars: per-file ts stats.

One file-skipping index layered OUTSIDE the transactional core (the
manifest stays the single source of correctness; everything here is
advisory — a missing or stale sidecar only costs pruning, never rows):
**ts stats** (`_stats.json`, one per immutable write dir): min/max of the
table's ts column per data file, returned by the tasks that wrote the files
(the replay writer stage, the rewrite fold) or harvested from the footers
the MOR merge opens for row counts — zero extra I/O on the hot apply path.
Written AFTER the data files and BEFORE the manifest commit, so a crashed
attempt's stats die with its orphan dir. CDC delta files are naturally
time-clustered (each micro-batch covers a slice of WAL time), so
`scan_ts_range` skips almost every file outside the window — the same
metadata-based split pruning Iceberg plans from its manifest value ranges.

Point lookups (`LakeTable.lookup`) need no sidecar: they hash their keys to
buckets on the driver and read only those buckets' key columns there with
pyarrow, so a lookup submits no Spark job. They keep no per-file key
index: on the DV-folded table `cdc_point_lookup` reads, probing a per-file
key bloom saved less time than the spread between lookups. min/max cannot
serve point lookups either: keys are hash-distributed across a bucket, so
every file's [min,max] spans the key space.

Reference parity: DataX plans splits from driver-side metadata too (table
ranges in RdbmsRangeSplitWrap, reference
plugin-rdbms-util/src/main/java/com/alibaba/datax/plugin/rdbms/util/RdbmsRangeSplitWrap.java),
but has no per-file skipping because it streams sources once; this module is
what replaces full scans when the same data is SERVED back out of the lake.

100 TB story: stats are O(files) driver JSON sharded per write dir, loaded
only for candidate buckets.
"""

from __future__ import annotations

import json
import os
import tempfile
from concurrent.futures import ThreadPoolExecutor
from datetime import timezone

import numpy as np

STATS_NAME = "_stats.json"


# ---------------------------------------------------------------- ts stats
def _to_micros(v) -> int | None:
    """Parquet footer stat -> int epoch-micros (pyarrow yields datetimes for
    timestamp logical types; Spark writes TIMESTAMP_MICROS adjusted-to-UTC,
    surfaced tz-naive => interpret as UTC)."""
    if v is None:
        return None
    if isinstance(v, (int, np.integer)):
        return int(v)
    if hasattr(v, "timestamp"):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return int(round(v.timestamp() * 1_000_000))
    return None


def footer_stats(path: str, ts_col: str):
    """(num_rows, ts_min_us|None, ts_max_us|None) from one parquet footer.

    Metadata-only: no data pages are read. Missing/partial column stats
    (all-null files, stats disabled) degrade to None => never pruned."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    lo = hi = None
    ok = True
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        found = False
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            if col.path_in_schema != ts_col:
                continue
            found = True
            st = col.statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            mn, mx = _to_micros(st.min), _to_micros(st.max)
            if mn is None or mx is None:
                ok = False
                break
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        if not ok or not found:
            ok = False
            break
    if not ok:
        lo = hi = None
    return md.num_rows, lo, hi


class TsRange:
    """Running ts (min, max) of a file as a writer appends its row groups,
    equal to :func:`footer_stats`' reading of the finished file: epoch
    micros, or (None, None) once a row group holds no non-null ts or the
    column is neither a ``us`` timestamp nor an integer."""

    def __init__(self):
        self.lo = self.hi = None
        self.ok = True

    def add(self, col) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc

        t = col.type
        mm = (pc.min_max(col.cast(pa.int64())).as_py()
              if pa.types.is_timestamp(t) or pa.types.is_integer(t) else {})
        if mm.get("min") is None:
            self.ok = False
        elif self.lo is None:
            self.lo, self.hi = mm["min"], mm["max"]
        else:
            self.lo, self.hi = min(self.lo, mm["min"]), max(self.hi, mm["max"])

    def value(self) -> tuple[int | None, int | None]:
        return (self.lo, self.hi) if self.ok else (None, None)


def write_dir_stats(
    table_path: str,
    rel_files: list[str],
    ts_col: str,
    *,
    precomputed: dict[str, tuple[int | None, int | None]] | None = None,
) -> None:
    """Write `_stats.json` into each write dir covering ``rel_files``.

    ``precomputed`` lets the MOR hot path reuse footer opens it already did;
    anything not precomputed is read here (thread pool, metadata-only).
    Idempotent and crash-safe: tmp + rename per dir, dirs are immutable."""
    by_dir: dict[str, dict[str, list]] = {}
    pre = precomputed or {}
    todo = [f for f in rel_files if f not in pre]
    got: dict[str, tuple[int | None, int | None]] = dict(pre)
    if todo:
        with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
            for f, (_n, lo, hi) in zip(todo, pool.map(
                lambda rf: footer_stats(os.path.join(table_path, rf), ts_col),
                todo,
            )):
                got[f] = (lo, hi)
    for f, (lo, hi) in got.items():
        # _stats.json sits at the WRITE-DIR root (above the _bucket=N
        # partition dirs): one sidecar per commit, keyed by table-relative
        # path so loaders never reconstruct partition layout
        parts = f.split("/")
        d = "/".join(parts[:2]) if parts[0] == "data" and len(parts) > 2 else os.path.dirname(f)
        by_dir.setdefault(d, {})[f] = [lo, hi]
    for d, stats in by_dir.items():
        target_dir = os.path.join(table_path, d)
        if not os.path.isdir(target_dir):
            continue
        path = os.path.join(target_dir, STATS_NAME)
        merged = dict(stats)
        if os.path.exists(path):  # concurrent writers into one dir: merge
            try:
                with open(path) as fh:
                    old = json.load(fh)
                merged = {**old, **stats}
            except (OSError, ValueError):
                pass
        fd, tmp = tempfile.mkstemp(dir=target_dir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(merged, fh)
        os.replace(tmp, path)


_STATS_CACHE: dict[str, dict] = {}  # abs dir -> stats (dirs are immutable)


def load_stats(table_path: str, rel_files: list[str]) -> dict[str, list]:
    """{rel_file: [ts_min_us, ts_max_us]} for the files whose write dir has
    a stats sidecar; files with no entry are simply absent (=> kept)."""
    out: dict[str, list] = {}
    dirs: dict[str, list[str]] = {}
    for f in rel_files:
        parts = f.split("/")
        d = "/".join(parts[:2]) if parts[0] == "data" and len(parts) > 2 else os.path.dirname(f)
        dirs.setdefault(d, []).append(f)
    for d, fs in dirs.items():
        abs_d = os.path.join(table_path, d)
        cached = _STATS_CACHE.get(abs_d)
        if cached is None:
            path = os.path.join(abs_d, STATS_NAME)
            try:
                with open(path) as fh:
                    cached = json.load(fh)
            except (OSError, ValueError):
                cached = {}
            _STATS_CACHE[abs_d] = cached
        for f in fs:
            if f in cached:
                out[f] = cached[f]
    return out


def prune_by_ts(
    table_path: str, rel_files: list[str], lo_us: int | None, hi_us: int | None
) -> tuple[list[str], int]:
    """Keep files whose [min,max] ts intersects [lo,hi]; unknown => kept.
    Returns (kept, n_skipped)."""
    stats = load_stats(table_path, rel_files)
    kept = []
    for f in rel_files:
        s = stats.get(f)
        if s is None or s[0] is None or s[1] is None:
            kept.append(f)
            continue
        if (hi_us is not None and s[0] > hi_us) or (lo_us is not None and s[1] < lo_us):
            continue
        kept.append(f)
    return kept, len(rel_files) - len(kept)
