"""datax_3_0_0_src_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of DataX 3.0 (reference: tanbingshi666/datax-3.0.0-src,
read-only at /root/reference) as an idiomatic Spark engine:

- reader -> channel -> writer pipeline        => DataFrame plan -> shuffle -> lake MERGE
- job -> taskGroup -> task split              => driver-planned epochs + url-hash buckets
- per-record transformers (dx_*)              => Column expressions / pandas_udf
- dirty-record quarantine + error limits      => validation split -> quarantine table
- channel rate limiting                       => per-epoch event caps
- per-task Communication metrics              => lineage/metrics table (partition, epoch)
- OTS stream reader checkpoints               => epoch checkpoint protocol + idempotent MERGE

The target is an Iceberg-style lake table of Common-Crawl-like web pages
(url, warc_ts, html, text, lang) maintained by last-writer-wins replay of a
binlog/WAL change-event log. Since no Iceberg runtime jars ship in this
environment, ``lake/`` implements the required subset (atomic snapshot commits,
LWW MERGE as delta commits plus bucket folds, additive schema evolution,
time travel) natively on parquet.
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    # Spark's Python worker calls importlib.invalidate_caches() before every
    # task (pyspark.worker_util.setup_spark_files), and before 3.13 that makes
    # each zipimporter re-parse its archive's central directory in pure
    # Python: ~17 importers over pyspark.zip's 1328 entries, ~80 ms a call
    # and ~0.2 s of a task's setup with four workers busy. Importing this
    # package is the one step every worker running an engine UDF takes, so
    # here an archive is re-read only when its (inode, size, mtime_ns)
    # changed since its directory was last read. 3.13 made the call lazy.
    import os
    import zipimport

    _reparse = zipimport.zipimporter.invalidate_caches
    _read_stamps: dict[str, tuple[int, int, int] | None] = {}

    def _invalidate_if_changed(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
            self._files = files
            return
        _read_stamps[self.archive] = stamp
        _reparse(self)

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
