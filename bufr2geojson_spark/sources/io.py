"""Snapshot-aware table IO — the Iceberg boundary of the engine.

The north rule targets Iceberg tables; this sandbox has no Iceberg runtime
jar (offline), so parquet directories stand in behind the same API: a *read*
returns (DataFrame, snapshot_id) where the snapshot id is a deterministic
fingerprint of the file manifest (name + length of every data file — the
moral equivalent of an Iceberg snapshot's manifest list). A real catalog
drops in by replacing these two functions; everything downstream only sees
(df, snapshot_id). Lineage rows record the snapshot id per stage
(BASELINE.json north_star: "input snapshot id").
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_fs(spark, path)
    return fs.exists(p)


def list_subdirs(spark: SparkSession, path: str) -> list[str]:
    """The directories directly under ``path``, sorted (none if it is absent)."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().toString() for st in fs.listStatus(p) if st.isDirectory()
    )


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return sorted(out)


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


def table_manifest(spark: SparkSession, path: str) -> dict[str, int]:
    """The table's current file manifest (file → length) — the state a
    consumer persists to resume incrementally (the parquet stand-in for an
    Iceberg snapshot's manifest list; a real catalog replaces this with the
    snapshot id alone)."""
    return dict(list_data_files(spark, path))


def incremental_read(
    spark: SparkSession,
    path: str,
    prev_manifest: dict[str, int] | None,
) -> tuple[DataFrame | None, dict[str, int]]:
    """Incremental scan: only the rows in data files ADDED since
    ``prev_manifest`` (Iceberg's incremental append scan between two
    snapshots). Returns (delta_df | None, new_manifest); None when nothing
    new. ``plans.maintenance.run_maintenance`` feeds the delta to
    ``delta_features`` → ``fold_tiles`` and so processes each appended batch
    exactly once without ever rescanning history — the batch-side mirror of
    the streaming maintenance path.

    The contract is APPEND-ONLY: a file that shrank/grew in place or
    disappeared since ``prev_manifest`` raises ``ValueError`` — treating a
    mutated file as "new" would silently re-merge its already-consumed
    rows (data corruption), and silently skipping a delete would hide a
    compaction. After a compaction/rewrite, reset the consumer with a full
    re-read (``prev_manifest=None``)."""
    cur = table_manifest(spark, path)
    if prev_manifest is None:
        new_files = sorted(cur)
    else:
        changed = sorted(
            f for f, ln in prev_manifest.items() if cur.get(f, ln) != ln
        )
        removed = sorted(f for f in prev_manifest if f not in cur)
        if changed or removed:
            raise ValueError(
                "append-only contract violated (files changed: "
                f"{changed[:3]}, removed: {removed[:3]}); re-baseline with "
                "prev_manifest=None after a compaction/rewrite"
            )
        new_files = sorted(f for f in cur if f not in prev_manifest)
    if not new_files:
        return None, cur
    return spark.read.parquet(*new_files), cur
