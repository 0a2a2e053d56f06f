"""Structured Streaming ingest: micro-batch decode parity with batch, standing
tile maintenance, and exactly-once resume semantics via the
checkpoint dir."""

import os
import shutil
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.sources.synth import synth_documents
from bufr2geojson_spark.streaming.ingest import run_ingest_once


@pytest.fixture(scope="module")
def stream_dirs(spark):
    base = tempfile.mkdtemp(prefix="b2g_stream_")
    docs = synth_documents(spark, 80, partitions=4)
    docs.write.mode("overwrite").parquet(f"{base}/in")
    yield base, docs
    shutil.rmtree(base, ignore_errors=True)


def test_stream_ingest_matches_batch(spark, stream_dirs):
    base, docs = stream_dirs
    n = run_ingest_once(
        spark, f"{base}/in", f"{base}/out", f"{base}/ckpt"
    )
    assert n >= 1
    got = spark.read.parquet(f"{base}/out")
    batch = with_cells(decode_documents(docs).filter("error is null"))
    assert got.count() == batch.count()
    # identical rows (streaming reuses the exact batch stages)
    key = ["feature_id", "cell_s2", "cell_prefix", "result_value"]
    assert got.select(*key).subtract(batch.select(*key)).count() == 0


def test_stream_ingest_writes_the_w_layout(spark, stream_dirs):
    """Each micro-batch is written like the pipeline's W: range partitioned
    on the cell, no ``cell_prefix=`` directories, and the files of a batch
    hold disjoint cell ranges."""
    base, _ = stream_dirs
    batches = [d for d in os.listdir(f"{base}/out")
               if d.startswith("batch_id=")]
    assert batches
    for batch in batches:
        d = f"{base}/out/{batch}"
        assert not [e for e in os.listdir(d) if e.startswith("cell_prefix=")]
        ranges = sorted(
            (pc.min(col).as_py(), pc.max(col).as_py())
            for col in (pq.read_table(os.path.join(d, f),
                                      columns=["cell_s2"]).column("cell_s2")
                        for f in os.listdir(d) if f.endswith(".parquet"))
        )
        assert ranges
        for (lo, hi), (next_lo, _) in zip(ranges, ranges[1:]):
            assert lo <= hi < next_lo


def test_stream_resume_is_exactly_once(spark, stream_dirs):
    base, _ = stream_dirs
    before = spark.read.parquet(f"{base}/out").count()
    # same checkpoint, no new files -> nothing re-processed
    n = run_ingest_once(
        spark, f"{base}/in", f"{base}/out", f"{base}/ckpt"
    )
    assert n == 0
    assert spark.read.parquet(f"{base}/out").count() == before


def test_stream_new_file_processed_incrementally(spark, stream_dirs):
    base, _ = stream_dirs
    before = spark.read.parquet(f"{base}/out").count()
    extra = synth_documents(spark, 20, partitions=1, start_id=10_000)
    extra.write.mode("append").parquet(f"{base}/in")
    n = run_ingest_once(
        spark, f"{base}/in", f"{base}/out", f"{base}/ckpt"
    )
    assert n == 1
    after = spark.read.parquet(f"{base}/out").count()
    expected_extra = (
        with_cells(decode_documents(extra).filter("error is null")).count()
    )
    assert after - before == expected_extra


def test_stream_tile_maintenance_matches_batch(spark, tmp_path,
                                              assert_same_tiles):
    """Two waves of documents folded incrementally into the standing tile
    table must equal the pipeline's stage A over everything."""
    from bufr2geojson_spark.plans.maintenance import standing_tiles
    from bufr2geojson_spark.plans.pipeline import feature_pass, tile_stage
    from bufr2geojson_spark.streaming.ingest import run_tile_maintenance_once

    base = str(tmp_path)
    docs = synth_documents(spark, 80, partitions=4)
    wave1 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 0)
    wave2 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 1)
    wave1.write.mode("overwrite").parquet(f"{base}/in")
    n1 = run_tile_maintenance_once(
        spark, f"{base}/in", f"{base}/work", f"{base}/ckpt")
    assert n1 >= 1
    wave2.write.mode("append").parquet(f"{base}/in")
    n2 = run_tile_maintenance_once(
        spark, f"{base}/in", f"{base}/work", f"{base}/ckpt")
    assert n2 >= 1

    assert_same_tiles(standing_tiles(spark, f"{base}/work"),
                      tile_stage(feature_pass(docs)))


def test_stream_tile_maintenance_rerun_noop(spark, tmp_path):
    from bufr2geojson_spark.plans.maintenance import standing_tiles
    from bufr2geojson_spark.streaming.ingest import run_tile_maintenance_once

    base = str(tmp_path)
    synth_documents(spark, 40, partitions=2).write.parquet(f"{base}/in")
    run_tile_maintenance_once(spark, f"{base}/in", f"{base}/work",
                              f"{base}/ckpt")
    before = sorted(map(tuple,
                        standing_tiles(spark, f"{base}/work").collect()))
    # nothing new -> no batch fires, standing table unchanged
    n = run_tile_maintenance_once(spark, f"{base}/in", f"{base}/work",
                                  f"{base}/ckpt")
    assert n == 0
    after = sorted(map(tuple,
                       standing_tiles(spark, f"{base}/work").collect()))
    assert before == after


def test_stream_tile_replay_does_not_double_merge(spark, tmp_path):
    """foreachBatch is at-least-once: drop the last offset commit so Spark
    replays that batch. After the manifest commit the replay is skipped;
    with the manifest rolled back as well (a crash before the commit) it
    recomputes the same version from the same predecessor."""
    import json

    from bufr2geojson_spark.plans.maintenance import (
        load_state,
        standing_tiles,
    )
    from bufr2geojson_spark.streaming.ingest import run_tile_maintenance_once

    base = str(tmp_path)
    work, ckpt = f"{base}/work", f"{base}/ckpt"
    docs = synth_documents(spark, 40, partitions=2)
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 0).write.parquet(f"{base}/in")
    run_tile_maintenance_once(spark, f"{base}/in", work, ckpt)
    state_first = load_state(spark, work)
    docs.filter(F.crc32(F.col("doc_id")) % 2 == 1) \
        .write.mode("append").parquet(f"{base}/in")
    run_tile_maintenance_once(spark, f"{base}/in", work, ckpt)
    state_final = load_state(spark, work)
    assert state_final["version"] > state_first["version"]
    final = sorted(map(tuple, standing_tiles(spark, work).collect()))

    def drop_last_commit():
        commits = f"{ckpt}/commits"
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        assert last == state_final["version"]
        for name in (str(last), f".{last}.crc"):
            if os.path.exists(f"{commits}/{name}"):
                os.remove(f"{commits}/{name}")

    # crash after the manifest commit: the replayed batch is skipped
    drop_last_commit()
    assert run_tile_maintenance_once(spark, f"{base}/in", work, ckpt) == 1
    assert load_state(spark, work) == state_final
    assert sorted(map(tuple, standing_tiles(spark, work).collect())) == final

    # crash before the manifest commit: the replay refolds the same delta
    drop_last_commit()
    with open(f"{work}/manifest.json", "w") as f:
        json.dump(state_first, f)
    assert run_tile_maintenance_once(spark, f"{base}/in", work, ckpt) == 1
    assert load_state(spark, work) == state_final
    assert sorted(map(tuple, standing_tiles(spark, work).collect())) == final
