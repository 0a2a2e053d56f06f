"""Snapshot-aware table IO — the Iceberg boundary of the engine.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar (offline), so parquet directories stand in behind the same API: a *read*
returns (DataFrame, snapshot_id) where the snapshot id is a deterministic
fingerprint of the file manifest (name + length of every data file — the
moral equivalent of an Iceberg snapshot's manifest list). A real catalog
drops in by replacing these two functions; everything downstream only sees
(df, snapshot_id). Lineage rows record the snapshot id per stage
(BASELINE.json north_star: "input snapshot id").

Every file the driver lists, reads or writes itself goes through
``driver_fs``: the Hadoop filesystem Spark resolves the path on, called
over py4j, for every scheme (a local disk, ``hdfs://``, ``s3a://``,
``viewfs://``). ``DriverFS.commit_json`` moves a hidden file over the old
one with a move that replaces it on every scheme, so a crash leaves the old
or the new document.
"""

from __future__ import annotations

import hashlib
import json

from py4j.java_gateway import is_instance_of
from pyspark.sql import DataFrame, SparkSession

#: Bytes per py4j reply of ``DriverFS.read``: py4j's JVM side writes a reply
#: over 8,192 characters (6,141 bytes in base64) in two writes, and the
#: second waits about 40 ms for the first's delayed TCP acknowledgement.
_READ_CHUNK = 4096


def driver_fs(spark: SparkSession, path: str) -> DriverFS:
    """The Hadoop filesystem Spark reads and writes ``path`` on, with the
    calls the driver makes on it.

    Hadoop resolves ``path`` as Spark does, against ``fs.defaultFS``, so a
    path without a scheme names the same file for the driver as for Spark.
    A checksum filesystem (``file:``) is unwrapped to the raw one under it:
    the driver writes no ``.crc`` sidecars, and reads a file as it is on
    disk, so a file edited in place still reads."""
    hadoop = spark._jvm.org.apache.hadoop.fs
    fs = hadoop.Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    gateway = spark.sparkContext._gateway
    if is_instance_of(gateway, fs, "org.apache.hadoop.fs.ChecksumFileSystem"):
        fs = fs.getRawFileSystem()
    return DriverFS(gateway, hadoop, fs)


class DriverFS:
    """The driver's calls on one Hadoop ``FileSystem``. ``hadoop`` is the
    JVM package of Hadoop's filesystem classes, as ``driver_fs`` resolved
    it. Paths are anything Spark accepts for a file on that filesystem."""

    def __init__(self, gateway, hadoop, fs):
        # resolving a JVM class over py4j costs more than a call on it
        self._gateway, self._hadoop, self._fs = gateway, hadoop, fs
        self._path = hadoop.Path

    def data_files(self, path: str,
                   recursive: bool = False) -> list[tuple[str, int]]:
        """(URI, length) of every file under ``path`` (``path`` itself if it
        is a file) whose name does not start with ``_`` or ``.``, sorted.
        The URIs are Hadoop's qualified form (``file:/abs/part-…``). A
        missing ``path`` raises ``FileNotFoundError``."""
        p = self._path(path)
        if not self._fs.exists(p):
            raise FileNotFoundError(path)
        # listStatus, not listFiles: a located status loads each file's
        # owner and permissions, a shell process per file on a local disk
        out, dirs = [], [p]
        while dirs:
            for st in self._fs.listStatus(dirs.pop()):
                if st.isDirectory():
                    if recursive:
                        dirs.append(st.getPath())
                    continue
                uri = st.getPath().toString()
                if not uri.rpartition("/")[2].startswith(("_", ".")):
                    out.append((uri, st.getLen()))
        return sorted(out)

    def is_file(self, path: str) -> bool:
        return self._fs.isFile(self._path(path))

    def read(self, path: str, offset: int = 0,
             length: int | None = None) -> bytes:
        """``length`` bytes of ``path`` from ``offset`` (to the end if
        None), in replies of ``_READ_CHUNK`` bytes."""
        p = self._path(path)
        if length is None:
            length = self._fs.getFileStatus(p).getLen() - offset
        stream = self._fs.open(p)
        try:
            stream.seek(offset)
            return b"".join(stream.readNBytes(min(_READ_CHUNK, length - done))
                            for done in range(0, length, _READ_CHUNK))
        finally:
            stream.close()

    def read_json(self, path: str) -> dict | None:
        """The JSON document at ``path`` (None if there is none)."""
        if not self._fs.exists(self._path(path)):
            return None
        return json.loads(self.read(path))

    def commit_json(self, path: str, doc: dict) -> None:
        """Write ``doc`` under a hidden name beside ``path`` (creating its
        directory), then move it over ``path``: the move is the commit point.
        A plain rename replaces the old file atomically on a local disk;
        where it declines (HDFS, S3A), ``FileContext``'s ``OVERWRITE`` rename
        replaces it, atomically on HDFS. On a local disk that one deletes
        the old file first, so it comes second."""
        parent, _, name = path.rpartition("/")
        tmp, dst = self._path(f"{parent}/.{name}.tmp"), self._path(path)
        out = self._fs.create(tmp, True)
        try:
            out.write(json.dumps(doc).encode())
        finally:
            out.close()
        if self._fs.rename(tmp, dst):
            return
        rename = getattr(self._hadoop, "Options$Rename")
        overwrite = self._gateway.new_array(rename, 1)
        overwrite[0] = rename.OVERWRITE
        self._hadoop.FileContext.getFileContext(
            self._fs.getUri(), self._fs.getConf()).rename(tmp, dst, overwrite)

    def delete(self, path: str) -> None:
        """Delete ``path`` and everything under it, if it exists."""
        self._fs.delete(self._path(path), True)


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(URI, length) of every data file under ``path`` at any depth, sorted
    (``DriverFS.data_files``). The URIs are the qualified form the snapshot
    ids and the maintenance manifests hold. A missing ``path`` raises."""
    return driver_fs(spark, path).data_files(path, recursive=True)


def snapshot_id_for(spark: SparkSession, path: str) -> int:
    """Deterministic manifest fingerprint → positive int63."""
    h = hashlib.sha256()
    for name, length in list_data_files(spark, path):
        h.update(f"{name}:{length}\n".encode())
    return int.from_bytes(h.digest()[:8], "big") >> 1


def read_snapshot(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """Read a table and pin the snapshot id the read observed."""
    snap = snapshot_id_for(spark, path)
    return spark.read.parquet(path), snap


def incremental_read(
    spark: SparkSession,
    path: str,
    prev_manifest: dict[str, int] | None,
) -> tuple[DataFrame | None, dict[str, int]]:
    """Incremental scan: only the rows in data files ADDED since
    ``prev_manifest`` (Iceberg's incremental append scan between two
    snapshots). Returns (delta_df | None, new_manifest); None when nothing
    new. A manifest maps each data file to its length: the state a consumer
    persists to resume (a real catalog keeps the snapshot id alone).
    ``plans.maintenance.run_maintenance`` feeds the delta to
    ``feature_pass`` → ``fold_tiles`` and so processes each appended batch
    exactly once without ever rescanning history — the batch-side mirror of
    the streaming maintenance path.

    The contract is APPEND-ONLY: a file that shrank/grew in place or
    disappeared since ``prev_manifest`` raises ``ValueError`` — treating a
    mutated file as "new" would silently re-merge its already-consumed
    rows (data corruption), and silently skipping a delete would hide a
    compaction. After a compaction/rewrite, reset the consumer with a full
    re-read (``prev_manifest=None``)."""
    cur = dict(list_data_files(spark, path))
    prev = prev_manifest or {}
    changed = sorted(f for f, ln in prev.items() if cur.get(f, ln) != ln)
    removed = sorted(f for f in prev if f not in cur)
    if changed or removed:
        raise ValueError(
            "append-only contract violated (files changed: "
            f"{changed[:3]}, removed: {removed[:3]}); re-baseline with "
            "prev_manifest=None after a compaction/rewrite"
        )
    new_files = sorted(f for f in cur if f not in prev)
    if not new_files:
        return None, cur
    return spark.read.parquet(*new_files), cur
