"""Snapshot manifests with an atomic commit protocol.

This is the engine's equivalent of Iceberg's metadata layer and of DataX's
hdfswriter temp-dir + atomic-rename commit (reference:
hdfswriter/src/main/java/com/alibaba/datax/plugin/writer/hdfswriter/HdfsHelper.java:207-243
renameFile; HdfsWriter.java:149-194 post/abort). Data files are immutable and
write-once; a commit is the atomic rename of a fully-written manifest JSON plus
a pointer swap. Readers only ever see a complete snapshot.

Scale note: manifests store per-bucket file lists, so planning a MERGE touches
only manifest JSON (KB-scale) on the driver — never a filesystem scan of the
data tree. At 100 TB the file lists grow linearly with file count; the format
leaves room for per-bucket manifest shards if that ever dominates.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field


CURRENT_PTR = "_current"


@dataclass
class Snapshot:
    version: int
    parent: int | None
    schema_json: str  # Spark StructType.json() of the USER schema (no sys cols)
    num_buckets: int
    # bucket id (as str, json keys) -> list of data-file paths relative to table root
    files: dict[str, list[str]] = field(default_factory=dict)
    properties: dict = field(default_factory=dict)
    summary: dict = field(default_factory=dict)
    # merge-on-read delta files per bucket: unresolved LWW rows layered on top
    # of ``files`` (the base); compaction folds them down. Same key layout.
    deltas: dict[str, list[str]] = field(default_factory=dict)
    # positional delete-vector files per bucket (Iceberg-v2-style minor
    # compaction): each DV parquet holds (file, pos) loser positions, the
    # file column dictionary-encoded; readers drop those rows with a
    # file-local positional mask instead of a read-time LWW aggregation. A
    # DV fold PROMOTES the deltas it read into ``files`` and attaches the
    # bucket's recomputed DV set; a major (rewrite) fold clears it.
    dvs: dict[str, list[str]] = field(default_factory=dict)

    def to_json(self) -> str:
        d = {
            "version": self.version,
            "parent": self.parent,
            "schema_json": self.schema_json,
            "num_buckets": self.num_buckets,
            "files": self.files,
            "deltas": self.deltas,
            "properties": self.properties,
            "summary": self.summary,
        }
        if self.dvs:  # older manifests stay byte-stable without the key
            d["dvs"] = self.dvs
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        return Snapshot(
            version=d["version"],
            parent=d["parent"],
            schema_json=d["schema_json"],
            num_buckets=d["num_buckets"],
            files=d["files"],
            properties=d.get("properties", {}),
            summary=d.get("summary", {}),
            deltas=d.get("deltas", {}),
            dvs=d.get("dvs", {}),
        )

    def bucket_files(self, bucket: int) -> list[str]:
        return self.files.get(str(bucket), [])

    def bucket_deltas(self, bucket: int) -> list[str]:
        return self.deltas.get(str(bucket), [])

    def bucket_dvs(self, bucket: int) -> list[str]:
        return self.dvs.get(str(bucket), [])

    def all_files(self) -> list[str]:
        return [f for lst in self.files.values() for f in lst]

    def all_deltas(self) -> list[str]:
        return [f for lst in self.deltas.values() for f in lst]

    def all_dvs(self) -> list[str]:
        return [f for lst in self.dvs.values() for f in lst]


def _meta_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_meta")


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_meta_dir(table_dir), f"v{version:08d}.json")


def _atomic_write(path: str, content: str, *, exclusive: bool) -> None:
    """Write content to path atomically via tmp-file + rename.

    ``exclusive=True`` claims the path atomically via ``os.link`` (EEXIST is
    raised by the filesystem itself, no check-then-rename window): two
    concurrent committers race on the link; the loser gets FileExistsError
    and retries on a fresh version.
    """
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        if exclusive:
            try:
                os.link(tmp, path)  # atomic claim: fails with EEXIST for the loser
            except FileExistsError:
                raise FileExistsError(f"commit conflict: {path} already exists") from None
        else:
            os.rename(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def write_snapshot(table_dir: str, snap: Snapshot) -> None:
    """Commit a snapshot: exclusive manifest write, then pointer swap."""
    _atomic_write(_manifest_path(table_dir, snap.version), snap.to_json(), exclusive=True)
    _atomic_write(os.path.join(_meta_dir(table_dir), CURRENT_PTR), str(snap.version), exclusive=False)


def current_version(table_dir: str) -> int | None:
    """The newest committed version: the pointer, then ``stat`` of
    ``v{ptr+1}``, ``v{ptr+2}``, ... until one is missing.

    The pointer is advisory: a committer that crashed between its manifest
    link and its pointer swap leaves a newer manifest behind, and that
    manifest wins. Versions above the pointer are dense (committers claim
    ``v{head+1}`` by exclusive ``os.link``), so the probe stops at the first
    gap and costs O(1) stats however many manifests ``_meta/`` holds. Only a
    missing pointer (a crash before the first swap) lists ``_meta/``."""
    meta = _meta_dir(table_dir)
    try:
        with open(os.path.join(meta, CURRENT_PTR)) as f:
            v = int(f.read().strip())
    except FileNotFoundError:
        if not os.path.isdir(meta):
            return None
        versions = [
            int(f[1:9]) for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json")
        ]
        return max(versions) if versions else None
    while os.path.exists(_manifest_path(table_dir, v + 1)):
        v += 1
    return v


def read_snapshot(table_dir: str, version: int | None = None) -> Snapshot | None:
    v = current_version(table_dir) if version is None else version
    if v is None:
        return None
    path = _manifest_path(table_dir, v)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return Snapshot.from_json(f.read())
