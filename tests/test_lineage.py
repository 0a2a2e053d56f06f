"""Write-side lineage: the stage checksum, per-file records from the parquet
footers, and the stage record as the completion marker and the inputs
resume compares (N9/N10)."""

import json
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bufr2geojson_spark.plans import lineage as L
from bufr2geojson_spark.plans.pipeline import PipelineConfig, run_pipeline
from bufr2geojson_spark.sources.io import DriverFS, driver_fs
from bufr2geojson_spark.sources.synth import (
    synth_documents,
    synth_region_polygons,
    synth_stations,
)

N_DOCS = 200
N_ST = 40
CONF = PipelineConfig()


@pytest.fixture(scope="module")
def inputs(spark):
    return (synth_documents(spark, N_DOCS, n_stations=N_ST, partitions=4),
            synth_stations(spark, N_ST), synth_region_polygons(spark))


def _run(spark, inputs, work, run_id, resume=False):
    docs, stations, polygons = inputs
    return run_pipeline(spark, docs, stations, polygons, work, run_id,
                        snapshot_id=11, resume=resume, conf=CONF)


#: AQE's coalescing floor for ``base``: the default (1 MB) folds this
#: small W into one file, and disjoint ranges need several.
_MIN_PARTITION = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


@pytest.fixture(scope="module")
def base(spark, inputs, tmp_path_factory):
    """One uninterrupted J/A/W run, ``base``: its work dir and result. W is
    sized by AQE from a 16 KB floor, so it writes several files."""
    work = str(tmp_path_factory.mktemp("lineage"))
    before = spark.conf.get(_MIN_PARTITION, None)
    spark.conf.set(_MIN_PARTITION, "16k")
    try:
        return work, _run(spark, inputs, work, "base")
    finally:
        if before is None:
            spark.conf.unset(_MIN_PARTITION)
        else:
            spark.conf.set(_MIN_PARTITION, before)


@pytest.fixture(scope="module")
def work(base):
    return base[0]


def _read(spark, work, run_id, stage):
    return L.read_stage(spark, work, run_id, stage,
                        L.stage_record(spark, work, run_id, stage))


def _recomputed(spark, work, run_id, stage):
    df = _read(spark, work, run_id, stage)
    return str(df.select(L.content_checksum(df)).first()[0])


def _files(work, run_id, stage):
    d = os.path.join(work, run_id, stage)
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet"))


def test_duplicated_row_pair_changes_stage_checksum(spark, tmp_path):
    """A row written twice more must move the checksum; a BIT_XOR of row
    hashes would not see it."""
    df = spark.range(50).select("id", (F.col("id") * 7 % 5).alias("v"))
    pair = df.filter("id = 3")
    L.write_stage(df, spark, str(tmp_path), "r", "X", 1)
    L.write_stage(df.union(pair).union(pair), spark, str(tmp_path), "r", "Y", 1)
    x = L.stage_record(spark, str(tmp_path), "r", "X")
    y = L.stage_record(spark, str(tmp_path), "r", "Y")
    assert (x["rows"], y["rows"]) == (50, 52)
    assert x["checksum"] != y["checksum"]


@pytest.mark.parametrize("stage", ["J", "A", "W"])
def test_stage_record_matches_what_was_written(spark, base, stage):
    work, res = base
    record = L.stage_record(spark, work, "base", stage)
    assert record["snapshot_id"] == record["inputs"]["snapshot_id"] == 11
    # A and W read J's checkpoint; J read the documents
    assert record["inputs"]["upstream"] == (
        None if stage == "J"
        else L.stage_record(spark, work, "base", "J")["checksum"])
    assert record["checksum"] == _recomputed(spark, work, "base", stage)
    rows = res.lineage.filter(F.col("stage") == stage).collect()
    assert sum(r.row_count for r in rows) == record["rows"]
    assert record["rows"] == _read(spark, work, "base", stage).count()
    assert len(rows) == len(_files(work, "base", stage))
    assert all(len(r.checksum) == 16 for r in rows)
    int(record["checksum"])  # an exact integer, not a rounded float


def test_w_file_ranges_are_disjoint(base):
    rows = sorted(
        (r.cell_lo, r.cell_hi) for r in
        base[1].lineage.filter("stage = 'W'").collect()
    )
    assert len(rows) > 1
    for (lo, hi), (next_lo, _) in zip(rows, rows[1:]):
        assert lo <= hi < next_lo


def test_changed_value_moves_checksum_and_footer_digest(spark, work,
                                                        tmp_path):
    """Rewrite one W file with one ``result_value`` changed, same row count.
    The footer digest is compared against the same file rewritten unchanged
    by the same writer, so only the value differs."""
    shutil.copytree(os.path.join(work, "base"), str(tmp_path / "run"))
    path = _files(str(tmp_path), "run", "W")[0]
    table = pq.read_table(path)
    values = table.column("result_value")
    i = table.schema.get_field_index("result_value")
    changed = values.to_pylist()
    changed[0] = pc.max(values).as_py() + 1.0
    same_path = str(tmp_path / "same.parquet")
    pq.write_table(table, same_path)
    pq.write_table(table.set_column(i, "result_value", [changed]), path)
    # the edit bypasses Hadoop, so drop the .crc sidecar Spark's read checks
    os.remove(os.path.join(os.path.dirname(path),
                           f".{os.path.basename(path)}.crc"))

    fs = driver_fs(spark, path)
    same, edited = (L._file_lineage(fs, p, os.path.getsize(p), "cell_s2")
                    for p in (same_path, path))
    assert edited["row_count"] == same["row_count"] == table.num_rows
    assert edited["checksum"] != same["checksum"]
    assert (_recomputed(spark, str(tmp_path), "run", "W")
            != L.stage_record(spark, str(tmp_path), "run", "W")["checksum"])


def test_crash_before_stage_record_recomputes_that_stage(
        spark, inputs, work, monkeypatch, assert_same_tiles):
    commit_json = DriverFS.commit_json

    def crash_on_a(fs, path, record):
        if path.endswith(f"/A/{L.STAGE_RECORD}"):
            raise RuntimeError("killed after A's data write")
        commit_json(fs, path, record)

    monkeypatch.setattr(DriverFS, "commit_json", crash_on_a)
    with pytest.raises(RuntimeError, match="killed"):
        _run(spark, inputs, work, "crashed")
    monkeypatch.undo()
    assert L.stage_record(spark, work, "crashed", "J") is not None
    assert L.stage_record(spark, work, "crashed", "A") is None

    res = _run(spark, inputs, work, "crashed", resume=True)
    assert res.skipped == ["J"]
    assert res.executed == ["A", "W"]
    assert_same_tiles(res.tiles, _read(spark, work, "base", "A"))
    for stage in ("J", "W"):
        assert (L.stage_record(spark, work, "crashed", stage)["checksum"]
                == L.stage_record(spark, work, "base", stage)["checksum"])


def test_recomputed_stage_invalidates_downstream_checkpoints(
        spark, inputs, work, assert_same_tiles):
    """J's stage record lost and the documents changed: the resumed run
    recomputes J, and A and W with it, because their complete outputs were
    computed from the old J; all three match a fresh run."""
    shutil.copytree(os.path.join(work, "base"), os.path.join(work, "stale"))
    os.remove(os.path.join(work, "stale", "_lineage", "J", L.STAGE_RECORD))
    docs, stations, polygons = inputs
    changed = (docs.filter(F.crc32("doc_id") % 3 != 0), stations, polygons)
    res = _run(spark, changed, work, "stale", resume=True)
    assert res.skipped == []
    assert res.executed == ["J", "A", "W"]
    fresh = _run(spark, changed, work, "fresh")
    assert_same_tiles(res.tiles, fresh.tiles)
    for stage in ("J", "A", "W"):
        stale = L.stage_record(spark, work, "stale", stage)
        want = L.stage_record(spark, work, "fresh", stage)
        assert stale["rows"] == want["rows"]
        if stage != "A":  # A's sum_val depends on the combine order
            assert stale["checksum"] == want["checksum"]
            assert stale["rows"] < L.stage_record(spark, work, "base",
                                                  stage)["rows"]


def _old_format(base, run_id, record_keys):
    """``base`` copied to ``run_id`` in an older run-directory format: a
    parquet lineage table beside a stage record that holds only
    ``record_keys`` (none: no record, and a ``_SUCCESS`` instead)."""
    work, res = base
    shutil.copytree(os.path.join(work, "base"), os.path.join(work, run_id))
    for stage in ("J", "A", "W"):
        lin = os.path.join(work, run_id, "_lineage", stage)
        pq.write_table(res.lineage.filter(F.col("stage") == stage).toArrow(),
                       os.path.join(lin, "part-00000.parquet"))
        with open(os.path.join(lin, L.STAGE_RECORD)) as f:
            record = json.load(f)
        os.remove(os.path.join(lin, L.STAGE_RECORD))
        if not record_keys:
            open(os.path.join(lin, "_SUCCESS"), "w").close()
            continue
        with open(os.path.join(lin, L.STAGE_RECORD), "w") as f:
            json.dump({k: record[k] for k in record_keys}, f)


def test_checkpoint_without_stage_record_is_recomputed(spark, inputs, base):
    """A run directory in a format before this one is recomputed: without
    stage records (parquet lineage and ``_SUCCESS``), or with records that
    hold no per-file rows and no inputs beside a parquet lineage table. Its
    stale lineage is replaced by the stage record alone."""
    work = base[0]
    _old_format(base, "old", ())
    _old_format(base, "keyless", ("rows", "checksum", "snapshot_id", "schema"))
    for run_id in ("old", "keyless"):
        res = _run(spark, inputs, work, run_id, resume=True)
        assert res.skipped == []
        assert res.executed == ["J", "A", "W"]
        lin = res.lineage
        for stage in ("J", "A", "W"):
            assert os.listdir(os.path.join(work, run_id, "_lineage",
                                           stage)) == [L.STAGE_RECORD]
            assert (lin.filter(F.col("stage") == stage).count()
                    == len(_files(work, run_id, stage)))
            assert (L.stage_record(spark, work, run_id, stage)["rows"]
                    == L.stage_record(spark, work, "base", stage)["rows"])


def test_stage_written_without_inputs_is_reused(spark, inputs, work):
    """A J written by ``write_stage`` alone, with no inputs to compare (as
    the benchmark builds its warm-up J), is resumed from as it is."""
    j = _read(spark, work, "base", "J")
    L.write_stage(j, spark, work, "bare", "J", 0, cell_col="cell_s2")
    assert L.stage_record(spark, work, "bare", "J")["inputs"] is None
    res = _run(spark, inputs, work, "bare", resume=True)
    assert res.skipped == ["J"]
    assert res.executed == ["A", "W"]


def test_checkpoint_of_another_row_format_is_recomputed(spark, inputs,
                                                        base):
    """Checkpoints recorded with another feature row format (as a run of
    an older decode left them) are recomputed on resume: J, and A and W
    with it, even though the snapshot and J's checksum still match."""
    work = base[0]
    shutil.copytree(os.path.join(work, "base"),
                    os.path.join(work, "reformat"))
    for stage in ("J", "A", "W"):
        path = os.path.join(work, "reformat", "_lineage", stage,
                            L.STAGE_RECORD)
        with open(path) as f:
            record = json.load(f)
        record["inputs"]["row_format"] = "0" * 16
        with open(path, "w") as f:
            json.dump(record, f)
    res = _run(spark, inputs, work, "reformat", resume=True)
    assert res.skipped == []
    assert res.executed == ["J", "A", "W"]
    for stage in ("J", "A", "W"):
        got = L.stage_record(spark, work, "reformat", stage)
        assert got["inputs"] == L.stage_record(spark, work, "base",
                                               stage)["inputs"]


@pytest.mark.parametrize("first, second", [
    (300, 150),
], ids=["snapshot"])
def test_resume_recomputes_stages_built_from_other_inputs(
        spark, inputs, tmp_path, first, second, assert_same_tiles):
    """Complete checkpoints built from another snapshot (jobs/pipeline.py
    ``--synth 300``, then ``--synth 150 --resume`` on the same run id) are
    recomputed, and the run matches a fresh one."""
    _, stations, polygons = inputs

    def run(n_docs, run_id, resume):
        docs = synth_documents(spark, n_docs, n_stations=N_ST, partitions=4)
        return run_pipeline(spark, docs, stations, polygons, str(tmp_path),
                            run_id, snapshot_id=n_docs, resume=resume,
                            conf=CONF)

    run(first, "r1", resume=False)
    res = run(second, "r1", resume=True)
    assert res.skipped == []
    assert res.executed == ["J", "A", "W"]
    fresh = run(second, "fresh", resume=False)
    assert_same_tiles(res.tiles, fresh.tiles)
    for stage in ("J", "A", "W"):
        got = L.stage_record(spark, str(tmp_path), "r1", stage)
        want = L.stage_record(spark, str(tmp_path), "fresh", stage)
        assert got["inputs"] == want["inputs"]
        assert got["rows"] == want["rows"]
        if stage != "A":  # A's sum_val depends on the combine order
            assert got["checksum"] == want["checksum"]


def _listing(spark, path, name="x.json"):
    """What ``driver_fs`` lists at ``path`` after committing ``name``."""
    fs = driver_fs(spark, path)
    fs.commit_json(f"{path}/{name}", {})
    return fs.data_files(path)


def test_driver_fs_resolves_paths_as_spark_does(spark, tmp_path):
    """A plain path, ``file:`` and ``file://`` name the same qualified
    ``file:/`` URI, and a commit leaves no ``.crc`` sidecar beside it."""
    for path in (str(tmp_path), tmp_path.as_uri(), f"file:{tmp_path}"):
        assert _listing(spark, path) == [(f"file:{tmp_path}/x.json", 2)]
    assert os.listdir(tmp_path) == ["x.json"]


def test_driver_fs_follows_the_default_filesystem(spark, tmp_path,
                                                  default_fs_elsewhere):
    assert _listing(spark, "/work/run") == [
        (f"viewfs://{default_fs_elsewhere}/work/run/x.json", 2)]
    assert _listing(spark, f"file:{tmp_path}", "y.json") == [
        (f"file:{tmp_path}/y.json", 2)]


def test_lineage_on_the_default_filesystem(spark, tmp_path,
                                           default_fs_elsewhere):
    """A work dir without a scheme on a non-local default filesystem: the
    data, the lineage and the stage record all land where Spark resolves the
    path, the completion check finds them there, and a rewrite replaces
    them. Every driver-side call goes through the Hadoop filesystem."""
    df = spark.range(60).select("id", (F.col("id") % 9).alias("cell"))
    for n in (60, 30):
        _, written = L.write_stage(df.limit(n).repartition(3), spark, "/work",
                                   "r", "X", 5, cell_col="cell")
        record = L.stage_record(spark, "/work", "r", "X")
        assert record == written
        assert (record["rows"], record["snapshot_id"]) == (n, 5)
        back = L.read_stage(spark, "/work", "r", "X", record)
        assert str(back.select(L.content_checksum(back)).first()[0]) == (
            record["checksum"])
        lin = L.lineage_table(spark, "r", {"X": record}).collect()
        assert len(lin) == len(_files(str(tmp_path), "r", "X"))
        assert sum(r.row_count for r in lin) == n
        assert all(0 <= r.cell_lo <= r.cell_hi <= 8 for r in lin)
    assert os.path.isfile(tmp_path / "r" / "_lineage" / "X" / L.STAGE_RECORD)
    assert L.stage_record(spark, "/work", "r", "Y") is None
