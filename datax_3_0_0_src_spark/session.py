"""SparkSession factory with scale-appropriate defaults.

Mirrors DataX's Engine.start() environment binding (reference:
core/src/main/java/com/alibaba/datax/core/Engine.java:169-238 — ColumnCast.bind
timezone/encoding defaults) — we pin UTC and Arrow batching once, centrally.
"""

from __future__ import annotations

import atexit
import contextlib
import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "datax-spark-cdc",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a SparkSession tuned for the CDC/ingest workload.

    ``parallelism``: local core count (``local[N]``); None = ``local[*]`` or
    whatever master the environment provides. On a real cluster this function
    is a no-op passthrough for master — all other settings still apply.
    """
    cpus = parallelism or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or None
    master = f"local[{cpus}]" if cpus else "local[*]"
    width = str(shuffle_partitions or cpus or 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic oracle comparison: UTC everywhere (duckdb is UTC-naive)
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing + skew-join splitting; essential at 100 TB
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: the only sanctioned Python<->JVM path (no per-row Python UDFs)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 100k-row batches (was 10k): every ArrowEvalPython round-trip has a
        # fixed dispatch cost, and the engine's UDF inputs are narrow (html
        # ~120 B, DV-mask int64s), so 10k-row batches made the Python node
        # overhead-bound — measured at 8 cores/8M events: CDC apply 27.2 ->
        # 23.6 s, DV fold 2.3 -> 1.4 s, post-DV read probe 7.1 -> 3.9 s just
        # from this knob (guide §4.2: keep batches large enough for
        # vectorization to pay off). maxBytesPerBatch (Spark 4) stays at its
        # 64 MB default as the guard for wide rows: whichever limit hits
        # first closes the batch, so a future fat-binary column cannot blow
        # worker memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # keep partition sizes bounded for wide binary (html) columns; the
        # CDC replayer tunes it for its own scans only, restoring this value
        # when run() / requeue_quarantined() return (replayer._split_conf_scoped)
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # tmpfs/SSD seek cost is ~0; the 4 MB default inflates small files in
        # the split-packing math and strangles scan parallelism on WALs of
        # many small segments
        .config("spark.sql.files.openCostInBytes", "1048576")
        # Every engine read names its files from the manifest, and above
        # this many paths Spark stats them in a listing job instead of on
        # the driver. Measured at local[4] on local files: the driver stats
        # a named file in ~0.25 ms (1000 files: 0.26 s), while the job costs
        # ~0.35 s at 33 paths and 4.9 s at 1000 (one task per path). Even a
        # job with no per-path cost would only pay off past 0.35 s / 0.25 ms
        # = ~1400 files; 1024 = 2^10 is the largest power of two under that,
        # so a point lookup (tens of files) or a post-fold scan (hundreds)
        # submits no listing job. Past the threshold the job still runs one
        # task per path (the parallelism default is 10000, a cap no read
        # reaches); capped at the session's width it runs one wave of
        # ``width`` tasks, each stat'ing its share serially. Measured at
        # local[4], warm, building a read of 1100 named files: 4.2-5.0 s
        # uncapped, 0.32-0.44 s capped at 4. Both set here, at session build
        # only: nothing changes them at run time.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", width)
        # cluster-posture resilience (no-ops in local mode): retry flaky
        # tasks, speculate stragglers (F12/F13 at the Spark layer)
        .config("spark.task.maxFailures", "4")
        .config("spark.speculation", os.environ.get("SPARK_SPECULATION", "false"))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT64 micros instead of legacy INT96 timestamps: INT96 disables
        # min/max predicate pushdown on timestamp columns and round-trips
        # through Arrow as unreadable TIMESTAMP(NANOS); micros is the modern
        # Iceberg/Arrow-interoperable representation
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # ParallelGC: G1 collapses under many allocation-heavy task threads on
        # a large heap (measured 4x slowdown at local[32] on the CDC merge);
        # the throughput collector is the right choice for batch ETL
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.sql.shuffle.partitions", width)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the spark-submit --py-files equivalent).

    Python workers deserialize our pandas_udfs by importing the package; on a
    real cluster that is ``spark-submit --py-files pkg.zip``, and in local mode
    the worker processes still need the zip when the driver script runs from
    outside the repo. Zipped by the process that ships it (a build takes a few
    ms), so a zip an older process left under a recycled pid is never shipped,
    then ``addPyFile``; removed when the interpreter exits.
    """
    sc = spark.sparkContext
    if getattr(sc, "_datax_pkg_shipped", False):
        return
    zpath = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"datax_3_0_0_src_spark_{os.getpid()}.zip"
    )
    build_pyfiles_zip(zpath)
    atexit.register(_remove_quietly, zpath)
    sc.addPyFile(zpath)
    sc._datax_pkg_shipped = True


def _remove_quietly(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def build_pyfiles_zip(dest: str) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The one artifact a cluster submission needs: every ``.py`` under the
    package, rooted so ``import datax_3_0_0_src_spark`` resolves from the
    zip on driver and executors alike. Returns ``dest``.
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    with zipfile.ZipFile(dest, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return dest
