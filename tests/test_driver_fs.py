"""The driver's one path to files, ``sources.io.driver_fs``: input listings
equal Hadoop's, and the maintenance manifest lands where Spark writes the
tiles, on a ``file:`` URI work dir and on a non-local default filesystem
(the ``default_fs_elsewhere`` fixture)."""

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from bufr2geojson_spark.plans.maintenance import (
    load_state,
    run_maintenance,
    standing_tiles,
)
from bufr2geojson_spark.plans.pipeline import feature_pass, tile_stage
from bufr2geojson_spark.sources.io import list_data_files, snapshot_id_for
from bufr2geojson_spark.sources.synth import synth_documents
from bufr2geojson_spark.streaming.ingest import run_tile_maintenance_once


@pytest.fixture(params=["file_uri", "default_fs"])
def base(request, tmp_path):
    """Where the test's tables go, as the code under test names it: a
    ``file:`` URI of ``tmp_path``, or ``/work`` on a ``viewfs://`` default
    filesystem mounted on ``tmp_path``."""
    if request.param == "default_fs":
        request.getfixturevalue("default_fs_elsewhere")
        return "/work"
    return f"file:{tmp_path}"


def _hadoop_listing(spark, path):
    """Every data file under ``path`` as Hadoop's recursive listing names
    it, the way ``list_data_files`` listed before it went through
    ``driver_fs``."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        if not st.getPath().getName().startswith(("_", ".")):
            out.append((st.getPath().toString(), st.getLen()))
    return sorted(out)


def _snapshot_id(listing):
    h = hashlib.sha256()
    for name, length in listing:
        h.update(f"{name}:{length}\n".encode())
    return int.from_bytes(h.digest()[:8], "big") >> 1


def test_listing_equals_hadoops(spark, base, tmp_path):
    """A partitioned table (nested directories, ``_SUCCESS`` and ``.crc``
    files to skip) listed through ``driver_fs`` gives Hadoop's URIs and
    lengths byte for byte, so committed snapshot ids and manifests stay
    valid; a path that does not exist raises."""
    docs = synth_documents(spark, 30, partitions=3)
    docs.withColumn("k", F.crc32("doc_id") % 2).write.partitionBy("k") \
        .parquet(f"{base}/docs")
    one = next(f for f in os.listdir(tmp_path / "docs" / "k=0")
               if f.endswith(".parquet"))
    paths = [f"{base}/docs", f"{base}/docs/k=0/{one}"]
    if base.startswith("file:"):
        paths.append(str(tmp_path / "docs"))
    for path in paths:
        want = _hadoop_listing(spark, path)
        assert list_data_files(spark, path) == want
        assert snapshot_id_for(spark, path) == _snapshot_id(want)
    assert len(list_data_files(spark, f"{base}/docs")) > 2
    with pytest.raises(FileNotFoundError):  # a misspelled input fails
        list_data_files(spark, f"{base}/absent")


def _manifest(tmp_path):
    with open(tmp_path / "work" / "manifest.json") as f:
        return json.load(f)


def _waves(spark):
    docs = synth_documents(spark, 40, partitions=2)
    return docs, [docs.filter(F.crc32("doc_id") % 2 == i) for i in (0, 1)]


def test_run_maintenance_commits_where_spark_writes(spark, base, tmp_path,
                                                    assert_same_tiles):
    """Two folds: the second commit replaces ``manifest.json``, which sits
    next to the tiles, and the standing table equals A over everything."""
    docs, waves = _waves(spark)
    for version, wave in enumerate(waves):
        wave.write.mode("append").parquet(f"{base}/docs")
        assert run_maintenance(spark, f"{base}/docs",
                               f"{base}/work")["version"] == version
        assert _manifest(tmp_path)["version"] == version
    assert load_state(spark, f"{base}/work") == _manifest(tmp_path)
    assert not os.path.exists(tmp_path / "work" / ".manifest.json.tmp")
    assert_same_tiles(standing_tiles(spark, f"{base}/work"),
                      tile_stage(feature_pass(docs)))


def test_stream_tile_maintenance_commits_where_spark_writes(
        spark, base, tmp_path, assert_same_tiles):
    docs, waves = _waves(spark)
    versions = []
    for wave in waves:
        wave.write.mode("append").parquet(f"{base}/in")
        assert run_tile_maintenance_once(spark, f"{base}/in", f"{base}/work",
                                         f"{base}/ckpt") >= 1
        versions.append(_manifest(tmp_path)["version"])
    assert versions[0] < versions[1]
    assert load_state(spark, f"{base}/work") == _manifest(tmp_path)
    assert_same_tiles(standing_tiles(spark, f"{base}/work"),
                      tile_stage(feature_pass(docs)))
