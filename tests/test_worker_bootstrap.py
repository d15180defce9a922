"""What a Python task pays before its UDF runs, and what the session ships.

- Spark's worker calls ``importlib.invalidate_caches()`` before every task;
  importing the package makes each ``zipimporter`` re-read its archive's
  directory only when the archive changed on disk (Python < 3.13).
- A read naming more than the listing threshold's files lists them in one
  wave of tasks, not one task per path.
- The package zip a session ships is built by the process that ships it.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from datax_3_0_0_src_spark import session
from datax_3_0_0_src_spark.cdc.extract import extract_text_arrow, with_extracted_text

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidation is lazy from 3.13")


def _invalidate_probe():
    """A mapInPandas body (built here so it pickles by value): one
    ``invalidate_caches()`` inside a task, and how many of the worker's
    zipimporters kept their directory (``_files``) object."""

    def zip_directories():
        return {k: id(imp._files) for k, imp in list(sys.path_importer_cache.items())
                if isinstance(imp, zipimport.zipimporter)}

    def probe(batches):
        extract_text_arrow  # an engine function: unpickling this imports the package
        before = zip_directories()
        importlib.invalidate_caches()
        after = zip_directories()
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "importers": [len(before)],
                            "kept": [sum(after.get(k) == v for k, v in before.items())]})

    return probe


@needs_patch
def test_warm_workers_keep_unchanged_zip_directories(spark):
    """From a worker's second task on, invalidating caches re-reads no
    unchanged archive: every zipimporter keeps its ``_files`` object."""
    html = spark.createDataFrame(
        [(f"<html><body>b {i}</body></html>".encode(),) for i in range(64)],
        "html binary").repartition(4)
    for _ in range(3):  # engine-UDF rounds: workers import the package
        texts = {r["text"] for r in with_extracted_text(html).select("text").collect()}
        assert texts == {f"b {i}" for i in range(64)}

    schema = "pid long, importers long, kept long"
    seen: set[int] = set()
    warm = []  # probe tasks on workers that ran a probe in an earlier round
    for _ in range(4):
        rows = spark.range(0, 4, numPartitions=4).mapInPandas(
            _invalidate_probe(), schema).collect()
        assert all(r["importers"] > 0 for r in rows)  # pyspark.zip at least
        warm += [r for r in rows if r["pid"] in seen]
        seen |= {r["pid"] for r in rows}
    assert warm, "no worker ran probes in two rounds"
    assert all(r["kept"] == r["importers"] for r in warm), warm


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.mark.parametrize("rewrite", ["in_place", "replace"])
def test_rewritten_zip_is_reread_on_invalidate(tmp_path, rewrite):
    """A zip on ``sys.path`` that changes on disk is still re-read: a module
    added to it imports after ``importlib.invalidate_caches()``."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zb_first.py": "X = 1\n"})
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zb_first").X == 1
        importlib.invalidate_caches()  # the archive's directory as read now
        assert importlib.util.find_spec("zb_second") is None

        members = {"zb_first.py": "X = 1\n", "zb_second.py": "Y = 2\n"}
        if rewrite == "in_place":
            _write_zip(archive, members)
        else:
            _write_zip(str(tmp_path / "next.zip"), members)
            os.replace(tmp_path / "next.zip", archive)
        importlib.invalidate_caches()
        assert importlib.import_module("zb_second").Y == 2
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("zb_first", None)
        sys.modules.pop("zb_second", None)


def test_read_of_many_named_files_lists_in_one_wave(spark, tmp_path):
    """Past the 1024-path threshold Spark lists the named files in a job;
    that job runs at most ``defaultParallelism`` tasks, not one per path,
    and building the read leaves the session conf as it was."""
    n = 1100
    paths = []
    for i in range(n):
        p = str(tmp_path / f"part-{i:05d}.parquet")
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), p)
        paths.append(p)
    conf_before = spark.conf.getAll
    sc = spark.sparkContext
    group = f"many-files-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        df = spark.read.schema(StructType([StructField("id", LongType())])).parquet(*paths)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs, "a read past the threshold should list in a job"
    tasks = [tracker.getStageInfo(s).numTasks
             for j in jobs for s in tracker.getJobInfo(j).stageIds]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks
    assert spark.conf.getAll == conf_before
    assert df.count() == n


def test_ship_package_never_ships_a_stale_zip(tmp_path, monkeypatch):
    """A zip left at this pid's path by an older process (pid reuse) is
    rebuilt from the current source before it is shipped."""
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    stale = tmp_path / f"datax_3_0_0_src_spark_{os.getpid()}.zip"
    _write_zip(stale, {"datax_3_0_0_src_spark/__init__.py": "STALE = True\n"})

    shipped = []

    class _Context:
        def addPyFile(self, path):
            shipped.append(path)

    class _Session:
        sparkContext = _Context()

    session._ship_package(_Session())
    assert len(shipped) == 1
    pkg = os.path.dirname(os.path.abspath(session.__file__))
    with zipfile.ZipFile(shipped[0]) as z:
        names = z.namelist()
        assert "datax_3_0_0_src_spark/session.py" in names
        with open(os.path.join(pkg, "__init__.py"), "rb") as f:
            assert z.read("datax_3_0_0_src_spark/__init__.py") == f.read()
