"""End-to-end pipeline, lineage, and checkpoint-resume tests (N9/N10,
FIXTURES.md §7)."""

import itertools
import json
import os
import re
import shutil
import tempfile
from dataclasses import fields, replace

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bufr2geojson_spark.operators.tiles import (
    hot_cells,
    tile_aggregate,
    tile_rollup,
)
from bufr2geojson_spark.plans.pipeline import (
    ROW_FORMAT,
    STAGES,
    PipelineConfig,
    _check_stages,
    hot_set,
    run_pipeline,
    tile_stage,
)
from bufr2geojson_spark.plans import lineage as L
from bufr2geojson_spark.schemas import LINEAGE_SCHEMA
from bufr2geojson_spark.sources.io import read_snapshot, snapshot_id_for
from bufr2geojson_spark.sources.synth import (
    synth_documents,
    synth_region_polygons,
    synth_stations,
)

N_DOCS = 400
N_ST = 60


@pytest.fixture(scope="module")
def dims(spark):
    return synth_stations(spark, N_ST), synth_region_polygons(spark)


@pytest.fixture(scope="module")
def workdir():
    d = tempfile.mkdtemp(prefix="b2g_pipe_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_config_holds_only_the_stage_choice():
    """The engine's parameters are class constants: the stage choice is
    all a caller sets, and ``replace`` keeps the constants readable."""
    assert [f.name for f in fields(PipelineConfig)] == [
        "stages", "checkpoint_stages"]
    with pytest.raises(TypeError):
        PipelineConfig(hot_threshold=50)
    j_only = replace(PipelineConfig(checkpoint_stages=("J",)),
                     stages=("D", "T", "J"))
    assert j_only.stages == ("D", "T", "J")
    assert j_only.s2_level == 14


def test_three_stage_configurations_are_legal():
    """Of every prefix of STAGES against every subset of STAGES as
    checkpoints, only the runs up to J, A and W pass, each checkpointing
    exactly the J/A/W stages it runs."""
    legal = []
    for n in range(len(STAGES) + 1):
        for k in range(len(STAGES) + 1):
            for ckpt in itertools.combinations(STAGES, k):
                conf = PipelineConfig(stages=STAGES[:n],
                                      checkpoint_stages=ckpt)
                try:
                    _check_stages(conf)
                except ValueError:
                    continue
                legal.append((conf.stages, conf.checkpoint_stages))
    assert legal == [(STAGES[:3], ("J",)), (STAGES[:4], ("J", "A")),
                     (STAGES, ("J", "A", "W"))]


@pytest.fixture(scope="module")
def full_run(spark, dims, workdir):
    """The default graph, run ``full``."""
    stations, polygons = dims
    docs = synth_documents(spark, N_DOCS, n_stations=N_ST, partitions=4)
    return run_pipeline(
        spark, docs, stations, polygons, workdir, "full", snapshot_id=123,
        resume=False,
    )


def test_full_pipeline(spark, full_run, workdir):
    res = full_run
    assert res.executed == ["J", "A", "W"]
    nf = res.features.count()
    assert nf > N_DOCS
    # every feature got cells, a region or null, and a nearest station
    row = res.features.filter("cell_s2 is not null").count()
    assert row == nf
    assert res.features.filter("nearest_station_id is null").count() == 0
    assert res.tiles.count() > 0
    assert {r.level for r in res.tiles.select("level").distinct().collect()} \
        == {14, 10, 6}
    # J counts the quarantine rows decode dropped: none for clean synth
    assert L.stage_record(spark, workdir, "full", "J")["quarantined"] == 0


def test_lineage_records(full_run):
    rows = full_run.lineage.collect()
    stages = {r.stage for r in rows}
    assert stages == {"J", "A", "W"}
    for r in rows:
        assert r.run_id == "full"
        assert r.snapshot_id == 123
        assert r.row_count > 0
        assert len(r.checksum) == 16
    # lineage row counts sum to stage row counts
    d_total = sum(r.row_count for r in rows if r.stage == "W")
    assert d_total == full_run.features.count()
    # W stage carries cell ranges
    w = [r for r in rows if r.stage == "W"]
    assert all(r.cell_lo is not None and r.cell_hi <= 2**60 for r in w)


def test_stage_inputs_are_snapshot_and_upstream(spark, full_run, workdir):
    """Resume compares the snapshot id, the checksum of the checkpoint a
    stage read (none for J) and the feature row format; the engine's
    parameters are not settings."""
    upstream = {"J": None, "A": "J", "W": "J"}
    for stage, source in upstream.items():
        inputs = L.stage_record(spark, workdir, "full", stage)["inputs"]
        assert set(inputs) == {"snapshot_id", "upstream", "row_format"}
        assert inputs["snapshot_id"] == 123
        assert inputs["row_format"] == ROW_FORMAT
        assert inputs["upstream"] == (source and L.stage_record(
            spark, workdir, "full", source)["checksum"])


def test_resume_skips_completed_stages(spark, dims, workdir):
    stations, polygons = dims
    docs = synth_documents(spark, N_DOCS, n_stations=N_ST, partitions=4)

    # 1) run only up to J, then "die" (kill after the feature stage)
    res1 = run_pipeline(
        spark, docs, stations, polygons, workdir, "resume1",
        snapshot_id=7, resume=True, conf=PipelineConfig(
            stages=("D", "T", "J"), checkpoint_stages=("J",)),
    )
    assert res1.executed == ["J"]
    j_lineage = {
        (r.partition_id, r.checksum)
        for r in res1.lineage.filter("stage = 'J'").collect()
    }

    # 2) resume the full run: J must be skipped, not recomputed
    res2 = run_pipeline(
        spark, docs, stations, polygons, workdir, "resume1",
        snapshot_id=7, resume=True,
    )
    assert res2.skipped == ["J"]
    assert res2.executed == ["A", "W"]
    j_lineage_after = {
        (r.partition_id, r.checksum)
        for r in res2.lineage.filter("stage = 'J'").collect()
    }
    assert j_lineage_after == j_lineage  # byte-identical checkpoint

    # 3) resumed final output == uninterrupted run's output (checksums)
    res_full = run_pipeline(
        spark, docs, stations, polygons, workdir, "uninterrupted",
        snapshot_id=7, resume=False,
    )

    def content_hash(df):
        cols = [f.name for f in df.schema.fields if f.dataType.typeName() != "map"]
        return df.select(
            F.bit_xor(F.xxhash64(F.struct(*sorted(cols)))).alias("h")
        ).collect()[0].h

    assert content_hash(res2.features) == content_hash(res_full.features)
    assert content_hash(res2.tiles) == content_hash(res_full.tiles)


#: Spark jobs the run in ``default_run`` may launch, counting the W range
#: write and J's hot set; lineage comes from the checkpoint writes and adds
#: none. A change that adds jobs to every pipeline run has to raise it on
#: purpose.
JOB_BUDGET = 9


def _jobs_of(spark, group, run):
    """``run()`` with its Spark jobs tagged with job group ``group``: its
    result and the number of jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _exchanges(df):
    """The shuffle and the broadcast exchanges in ``df``'s executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan)), plan.count("BroadcastExchange")


@pytest.fixture(scope="module")
def default_run(spark, dims, workdir):
    """One default run with the default W sizing, its jobs counted
    by job group, and for each stage the frame handed to ``write_stage``
    and the frame it returned kept. The range exchange starts at 32
    shuffle partitions, so a data-sized W shows up as fewer than 32
    partitions."""
    stations, polygons = dims
    docs = synth_documents(spark, N_DOCS, n_stations=N_ST, partitions=4)
    conf = PipelineConfig()
    computed, returned = {}, {}
    write_stage = L.write_stage

    def recording(df, spark_, work_dir, run_id, stage, *args, **kwargs):
        out = write_stage(df, spark_, work_dir, run_id, stage, *args, **kwargs)
        computed[stage], returned[stage] = df, out[0]
        return out

    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    L.write_stage = recording
    try:
        res, jobs = _jobs_of(spark, "default_run", lambda: run_pipeline(
            spark, docs, stations, polygons, workdir, "default", snapshot_id=5,
            resume=False, conf=conf,
        ))
    finally:
        L.write_stage = write_stage
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return res, jobs, returned, computed


def test_job_budget_per_run(default_run):
    res, jobs, _, _ = default_run
    assert res.executed == ["J", "A", "W"]
    assert 0 < jobs <= JOB_BUDGET, f"{jobs} jobs"


def test_a_is_one_shuffle_without_hot_cells(spark, default_run, workdir):
    """The synth corpus has no hot cell: J's record holds the empty hot
    set, ``hot_cells`` over J, and A tiles every level in one shuffle with
    no broadcast."""
    _, _, returned, computed = default_run
    record = L.stage_record(spark, workdir, "default", "J")
    assert record["hot_cells"] == [] == hot_cells(
        returned["J"], "cell_s2", PipelineConfig.hot_threshold).collect()
    assert _exchanges(computed["A"]) == (1, 0)


def test_resume_from_j_runs_no_hot_cell_job(spark, dims, default_run,
                                            workdir):
    """A resume from a complete J, with A and W lost, salts on the hot set
    in J's record: it runs the jobs of the same resume from a J whose
    record lacks the set, less the jobs that find the set."""
    _, _, returned, _ = default_run
    docs = synth_documents(spark, N_DOCS, n_stations=N_ST, partitions=4)

    def resume(run_id, keep_hot_cells):
        for sub in ("J", "_lineage/J"):
            shutil.copytree(f"{workdir}/default/{sub}",
                            f"{workdir}/{run_id}/{sub}")
        path = f"{workdir}/{run_id}/_lineage/J/{L.STAGE_RECORD}"
        with open(path) as f:
            record = json.load(f)
        if not keep_hot_cells:
            del record["hot_cells"]
        with open(path, "w") as f:
            json.dump(record, f)
        return _jobs_of(spark, run_id, lambda: run_pipeline(
            spark, docs, *dims, workdir, run_id, snapshot_id=5))

    res, kept = resume("from_j", True)
    assert (res.skipped, res.executed[-2:]) == (["J"], ["A", "W"])
    res, bare = resume("from_bare_j", False)
    assert (res.skipped, res.executed[-2:]) == (["J"], ["A", "W"])
    _, finding = _jobs_of(spark, "hot_set", lambda: hot_set(returned["J"]))
    assert finding > 0
    assert kept == bare - finding, (kept, bare, finding)


def _parquet_files(path):
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


def test_w_partitions_sized_from_data(default_run, workdir):
    res, _, _, _ = default_run
    files = len(_parquet_files(f"{workdir}/default/W"))
    assert 0 < files < 32
    assert res.lineage.filter("stage = 'W'").count() == files


def test_checkpoint_rereads_carry_written_schema(spark, default_run, workdir):
    res, _, returned, _ = default_run
    assert sorted(returned) == ["A", "J", "W"]
    for stage, frame in returned.items():
        inferred = spark.read.parquet(f"{workdir}/default/{stage}").schema
        assert frame.schema == inferred, stage
    assert res.lineage.schema == LINEAGE_SCHEMA
    for stage in returned:  # the stage record is the only lineage artifact
        assert os.listdir(f"{workdir}/default/_lineage/{stage}") == [
            L.STAGE_RECORD]


def test_j_is_stored_zstd_without_derivable_json(default_run, workdir):
    """J stores the per-feature metadata fragment, not the rendered
    documents: no ``prov_json`` or ``metadata_json`` column, every column
    chunk zstd, and the fragment dictionary-encoded (the full document ends
    in its report's headers, which overflowed parquet's dictionary)."""
    d = f"{workdir}/default/J"
    for name in _parquet_files(d):
        meta = pq.read_metadata(os.path.join(d, name))
        chunks = [meta.row_group(g).column(i)
                  for g in range(meta.num_row_groups)
                  for i in range(meta.num_columns)]
        assert {c.compression for c in chunks} == {"ZSTD"}
        paths = {c.path_in_schema for c in chunks}
        assert not paths & {"prov_json", "metadata_json"}
        frag = [c for c in chunks if c.path_in_schema == "metadata_frag"]
        assert frag
        for c in frag:
            assert c.has_dictionary_page
            assert "PLAIN" not in c.encodings, c.encodings


def test_j_record_counts_the_quarantine(spark, dims, workdir):
    """J's stage record holds the number of rows decode quarantined: one
    per document whose header span was corrupted (the synth documents have
    one subset each)."""
    docs = synth_documents(spark, 80, n_stations=N_ST, partitions=2)
    corrupt = F.crc32("doc_id") % 5 == 0
    docs = docs.withColumn("spans", F.when(corrupt, F.transform(
        "spans", lambda s: s.withField("text", F.when(
            s["kind"] == "header", F.lit("{corrupt header")
        ).otherwise(s["text"])),
    )).otherwise(F.col("spans"))).cache()
    n_corrupt = docs.filter(corrupt).count()
    assert n_corrupt > 0
    res = run_pipeline(spark, docs, *dims, workdir, "quarantine",
                       resume=False)
    assert res.executed == ["J", "A", "W"]
    record = L.stage_record(spark, workdir, "quarantine", "J")
    assert record["quarantined"] == n_corrupt
    assert all("quarantined" not in L.stage_record(
        spark, workdir, "quarantine", s) for s in ("A", "W"))
    docs.unpersist()


def test_lineage_is_this_runs_own(spark, dims, workdir):
    """A run up to J resumed on a run id first used for the default graph
    reports the lineage of its own checkpoint, J, not the A and W records
    the first run left behind."""
    stations, polygons = dims
    docs = synth_documents(spark, 300, n_stations=N_ST, partitions=4)
    for conf in (PipelineConfig(), PipelineConfig(
            stages=("D", "T", "J"), checkpoint_stages=("J",))):
        res = run_pipeline(
            spark, docs, stations, polygons, workdir, "reused_id",
            snapshot_id=300, resume=True, conf=conf,
        )
    assert os.path.isdir(f"{workdir}/reused_id/_lineage/A")
    assert res.skipped == ["J"]
    stages = {r.stage for r in res.lineage.select("stage").distinct().collect()}
    assert stages == {"J"}


def test_snapshot_id_tracks_manifest(spark, workdir, dims):
    stations, _ = dims
    p = f"{workdir}/snap_docs"
    synth_documents(spark, 50).write.mode("overwrite").parquet(p)
    s1 = snapshot_id_for(spark, p)
    df, s2 = read_snapshot(spark, p)
    assert s1 == s2 and s1 > 0
    assert df.count() == 50
    # appending files changes the snapshot id
    synth_documents(spark, 10).write.mode("append").parquet(p)
    assert snapshot_id_for(spark, p) != s1


def _snapped(docs, lat, lon, every=4):
    """``docs`` with the latitude/longitude spans of one document in
    ``every`` rewritten onto one point, so their features share a level-14
    cell (the synth corpus alone has none above ``hot_threshold``)."""
    def onto(text, code, value):
        return F.regexp_replace(text, rf"^({code}\|[^|]*\|)[^|]*", f"$1{value}")

    snap = F.crc32("doc_id") % every == 0
    return docs.withColumn("spans", F.when(snap, F.transform(
        "spans", lambda s: s.withField("text", onto(
            onto(s["text"], "005001", lat), "006001", lon)),
    )).otherwise(F.col("spans")))


def test_hot_cells_are_salted_to_the_plain_tiles(spark, dims, workdir,
                                                 assert_same_tiles):
    """With a quarter of the documents on one point, J holds a cell above
    ``hot_threshold``: J's record holds it, A salts it in two shuffles, and
    its tiles equal a plain (unsalted) aggregation of J, rolled up the same
    way. A J written by ``write_stage`` alone holds no hot set; a resume
    from it finds the set in A, to the same tiles."""
    stations, polygons = dims
    docs = _snapped(synth_documents(spark, N_DOCS, n_stations=N_ST,
                                    partitions=4), 41.25, -8.75)
    res = run_pipeline(spark, docs, stations, polygons, workdir, "hot",
                       resume=False)
    record = L.stage_record(spark, workdir, "hot", "J")
    j = L.read_stage(spark, workdir, "hot", "J", record)
    hot = hot_cells(j, "cell_s2", PipelineConfig.hot_threshold).collect()
    assert record["hot_cells"] == sorted(r.cell_s2 for r in hot) != []
    assert _exchanges(tile_stage(j, record["hot_cells"])) == (2, 0)
    plain = tile_rollup(tile_aggregate(j), PipelineConfig.s2_level,
                        list(PipelineConfig.rollup_levels))
    assert_same_tiles(res.tiles, plain)

    L.write_stage(j, spark, workdir, "hot_bare", "J", snapshot_id=0,
                  cell_col="cell_s2")
    assert "hot_cells" not in L.stage_record(spark, workdir, "hot_bare", "J")
    bare = run_pipeline(spark, docs, stations, polygons, workdir, "hot_bare")
    assert bare.skipped == ["J"]
    assert_same_tiles(bare.tiles, res.tiles)


@pytest.mark.parametrize("stages, checkpoints", [
    (STAGES, ("A", "W")),             # J would fuse into A and W
    (STAGES, ("D", "T", "J", "A")),   # W would write nothing
    (("D", "T", "A", "W"), ("J", "A", "W")),  # A on T output, J skipped
    (STAGES, ("D", "J", "A", "W")),   # D is no checkpoint
    (("D", "T"), ()),                 # a run must reach J
], ids=["J-fused", "W-fused", "J-skipped", "D-checkpointed", "no-J"])
def test_stages_outside_the_graph_raise(spark, dims, workdir, stages,
                                        checkpoints):
    """A run reaches J, A or W and checkpoints exactly the J/A/W stages it
    runs; anything else fails before a Spark job starts."""
    sc = spark.sparkContext
    group = f"illegal_{len(stages)}_{''.join(checkpoints)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        with pytest.raises(ValueError):
            run_pipeline(
                spark, synth_documents(spark, 20, n_stations=N_ST), *dims,
                workdir, "illegal", resume=False, conf=PipelineConfig(
                    stages=stages, checkpoint_stages=checkpoints))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not os.path.exists(f"{workdir}/illegal")


def test_j_prefix_checkpoints_only_j(spark, dims, workdir):
    """The graph's shortest run: J alone, its one checkpoint."""
    res = run_pipeline(
        spark, synth_documents(spark, 20, n_stations=N_ST), *dims, workdir,
        "j_only", resume=False, conf=PipelineConfig(
            stages=("D", "T", "J"), checkpoint_stages=("J",)))
    assert res.executed == ["J"]
    assert res.tiles is None
    assert sorted(os.listdir(f"{workdir}/j_only/_lineage")) == ["J"]


class TestIncrementalRead:
    def test_reads_only_appended_files(self, spark, tmp_path):
        from bufr2geojson_spark.sources.io import incremental_read
        from bufr2geojson_spark.sources.synth import synth_documents

        path = str(tmp_path / "docs")
        docs = synth_documents(spark, 60, partitions=3)
        wave1 = docs.filter(F.crc32("doc_id") % 2 == 0)
        wave2 = docs.filter(F.crc32("doc_id") % 2 == 1)
        wave1.write.parquet(path)
        d1, m1 = incremental_read(spark, path, None)
        assert sorted(r["doc_id"] for r in d1.select("doc_id").collect()) == \
            sorted(r["doc_id"] for r in wave1.select("doc_id").collect())
        # nothing new -> None, manifest unchanged
        d_none, m_same = incremental_read(spark, path, m1)
        assert d_none is None and m_same == m1
        wave2.write.mode("append").parquet(path)
        d2, m2 = incremental_read(spark, path, m1)
        assert sorted(r["doc_id"] for r in d2.select("doc_id").collect()) == \
            sorted(r["doc_id"] for r in wave2.select("doc_id").collect())
        assert len(m2) > len(m1)

    def test_mutated_file_raises_not_remerges(self, spark, tmp_path):
        import os

        import pytest as _pytest

        from bufr2geojson_spark.sources.io import incremental_read
        from bufr2geojson_spark.sources.synth import synth_documents

        path = str(tmp_path / "docs")
        synth_documents(spark, 20, partitions=1).write.parquet(path)
        _, m1 = incremental_read(spark, path, None)
        # mutate a data file in place (append-only contract violation):
        # silently treating it as new would re-merge consumed rows
        victim = next(f for f in os.listdir(path) if f.endswith(".parquet"))
        with open(os.path.join(path, victim), "ab") as f:
            f.write(b"xx")
        with _pytest.raises(ValueError, match="append-only"):
            incremental_read(spark, path, m1)

    def test_incremental_decode_merge_equals_batch(self, spark, tmp_path):
        from bufr2geojson_spark.functions.cells import with_cells
        from bufr2geojson_spark.operators.decode import decode_documents
        from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_merge
        from bufr2geojson_spark.sources.io import incremental_read
        from bufr2geojson_spark.sources.synth import synth_documents

        path = str(tmp_path / "docs")
        docs = synth_documents(spark, 60, partitions=3)
        docs.filter(F.crc32("doc_id") % 2 == 0).write.parquet(path)
        d1, m1 = incremental_read(spark, path, None)
        tiles = tile_aggregate(
            with_cells(decode_documents(d1).filter("error is null")))
        docs.filter(F.crc32("doc_id") % 2 == 1) \
            .write.mode("append").parquet(path)
        d2, _ = incremental_read(spark, path, m1)
        delta = tile_aggregate(
            with_cells(decode_documents(d2).filter("error is null")))
        merged = {r["cell_s2"]: r
                  for r in tile_merge(tiles, delta).collect()}
        full = {r["cell_s2"]: r for r in tile_aggregate(
            with_cells(decode_documents(docs).filter("error is null"))
        ).collect()}
        assert set(merged) == set(full)
        for c in full:
            assert merged[c]["n_obs"] == full[c]["n_obs"]
            assert abs(merged[c]["sum_val"] - full[c]["sum_val"]) < 1e-6


#: Spark jobs one ``run_maintenance`` fold of a delta into a standing table
#: may launch, the delta's hot set included; the tile count is observed on
#: the fold's write and adds none. A change that adds jobs to every fold
#: has to raise it on purpose.
MAINTENANCE_JOB_BUDGET = 7


class TestMaintenancePlan:
    def test_incremental_runs_converge_to_batch(self, spark, tmp_path, dims,
                                                assert_same_tiles):
        """Maintaining d1 then d2 gives the table ``run_pipeline``'s stage A
        writes over d1 ∪ d2 (J included there, left out here)."""
        from bufr2geojson_spark.plans.maintenance import (
            run_maintenance, standing_tiles)

        docs_path = str(tmp_path / "docs")
        work = str(tmp_path / "work")
        docs = synth_documents(spark, 60, partitions=3)
        docs.filter(F.crc32("doc_id") % 2 == 0).write.parquet(docs_path)
        r1 = run_maintenance(spark, docs_path, work)
        assert not r1["no_op"] and r1["version"] == 0
        # no-op when nothing new
        assert run_maintenance(spark, docs_path, work)["no_op"]
        docs.filter(F.crc32("doc_id") % 2 == 1) \
            .write.mode("append").parquet(docs_path)
        r2 = run_maintenance(spark, docs_path, work)
        assert r2["version"] == 1
        stations, polygons = dims
        want = run_pipeline(
            spark, docs, stations, polygons, str(tmp_path / "pipe"), "all",
            resume=False, conf=PipelineConfig(stages=("D", "T", "J", "A"),
                                              checkpoint_stages=("J", "A")),
        ).tiles
        assert r2["n_tiles"] == want.count()
        assert_same_tiles(standing_tiles(spark, work), want)

    def test_fold_counts_tiles_on_its_write(self, spark, tmp_path):
        """A maintenance run that folds a delta into a standing table stays
        within ``MAINTENANCE_JOB_BUDGET`` jobs: it takes ``n_tiles`` from
        the fold's own write, and that equals a count of the committed
        table."""
        from bufr2geojson_spark.plans.maintenance import (
            run_maintenance, standing_tiles)

        docs_path = str(tmp_path / "docs")
        work = str(tmp_path / "work")
        docs = synth_documents(spark, 60, partitions=3)
        docs.filter(F.crc32("doc_id") % 2 == 0).write.parquet(docs_path)
        run_maintenance(spark, docs_path, work)
        docs.filter(F.crc32("doc_id") % 2 == 1) \
            .write.mode("append").parquet(docs_path)
        out, jobs = _jobs_of(spark, "maintenance",
                             lambda: run_maintenance(spark, docs_path, work))
        assert out["version"] == 1
        assert 0 < jobs <= MAINTENANCE_JOB_BUDGET, f"{jobs} jobs"
        assert out["n_tiles"] == standing_tiles(spark, work).count() > 0

    def test_crash_before_commit_does_not_double_merge(self, spark, tmp_path):
        import json as _json

        from bufr2geojson_spark.plans.maintenance import (
            load_state, run_maintenance, standing_tiles)
        from bufr2geojson_spark.sources.synth import synth_documents

        docs_path = str(tmp_path / "docs")
        work = str(tmp_path / "work")
        docs = synth_documents(spark, 40, partitions=2)
        docs.filter(F.crc32("doc_id") % 2 == 0).write.parquet(docs_path)
        run_maintenance(spark, docs_path, work)
        state_v0 = load_state(spark, work)
        docs.filter(F.crc32("doc_id") % 2 == 1) \
            .write.mode("append").parquet(docs_path)
        run_maintenance(spark, docs_path, work)
        final = sorted(map(tuple, standing_tiles(spark, work).collect()))
        # simulate a crash between the tile write and the manifest commit:
        # roll the manifest back to v0 (tiles/v=1 already exists on disk)
        with open(f"{work}/manifest.json", "w") as f:
            _json.dump(state_v0, f)
        rerun = run_maintenance(spark, docs_path, work)
        assert rerun["version"] == 1   # overwrote the same version
        after = sorted(map(tuple, standing_tiles(spark, work).collect()))
        assert after == final          # identical, not double-merged
