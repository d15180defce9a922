"""Manifest head lookup and the delete-vector position cache, driver-only
(no Spark session)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from datax_3_0_0_src_spark.lake import manifest
from datax_3_0_0_src_spark.lake.manifest import (
    Snapshot, current_version, read_snapshot, write_snapshot,
)
from datax_3_0_0_src_spark.lake.table import DV_CACHE_SIZE, _dv_positions_cached


def _snap(v: int) -> Snapshot:
    return Snapshot(version=v, parent=v - 1 if v else None, schema_json="{}",
                    num_buckets=4, files={"0": [f"data/m{v:08d}/part.parquet"]})


def test_head_lookup_lists_no_directory(tmp_path, monkeypatch):
    """With the pointer in place, finding the head stats manifests above
    it and never lists ``_meta/``, however many manifests it holds."""
    d = str(tmp_path)

    def no_listing(path):
        raise AssertionError(f"listed {path}")

    monkeypatch.setattr(os, "listdir", no_listing)
    for v in range(300):
        write_snapshot(d, _snap(v))
        assert current_version(d) == v
    assert read_snapshot(d).files == _snap(299).files
    assert read_snapshot(d, 17).version == 17


def test_head_lookup_recovers_unswapped_pointer(tmp_path):
    """A committer that crashed after linking its manifest and before
    swapping the pointer leaves a newer head that readers still find; with
    the pointer gone the head comes from listing ``_meta/``."""
    d = str(tmp_path)
    for v in range(3):
        write_snapshot(d, _snap(v))
    for v in (3, 4):  # linked, pointer never swapped
        manifest._atomic_write(manifest._manifest_path(d, v), _snap(v).to_json(),
                               exclusive=True)
    with open(os.path.join(d, "_meta", manifest.CURRENT_PTR)) as f:
        assert f.read() == "2"
    assert current_version(d) == 4
    assert read_snapshot(d).version == 4
    os.unlink(os.path.join(d, "_meta", manifest.CURRENT_PTR))
    assert current_version(d) == 4
    assert current_version(str(tmp_path / "absent")) is None


def test_dv_position_cache_is_bounded(tmp_path):
    """Loading more distinct sidecar tuples than the cache holds keeps it at
    its size, and every load still returns that sidecar's positions."""
    paths = []
    for i in range(DV_CACHE_SIZE + 5):
        p = str(tmp_path / f"dv-{i}.parquet")
        pq.write_table(pa.table({"file": ["data/x.parquet"] * 2,
                                 "pos": pa.array([i + 1, i], pa.int64())}), p)
        paths.append(p)
    for i, p in enumerate(paths):
        assert _dv_positions_cached((p,))["data/x.parquet"].tolist() == [i, i + 1]
    assert _dv_positions_cached.cache_info().currsize == DV_CACHE_SIZE
