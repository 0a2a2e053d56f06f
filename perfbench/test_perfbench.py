"""Self-tests of the benchmark (not part of the engine's suite).

    python3 -m pytest perfbench -q -p no:cacheprovider

* a tiny run prints every metric BENCHMARK.json names, in both modes;
* a corrupted W row or tile row makes the output check fail;
* the same seed gives identical generated inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen, layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

TINY_DOCS = 120
FIXTURE_DOCS = 400  # enough for the generator to corrupt a few documents


def _tiny_run(workload: str, trace: int) -> dict:
    """run.main in a fresh process, on a corpus of TINY_DOCS documents."""
    argv = ["--workload", workload, "--seed", "5", "--seconds", "0.1",
            "--trace", str(trace)]
    code = (
        "import sys; sys.path.insert(0, {root!r}); from perfbench import gen, run; "
        "[w.update(docs={n}) for w in gen.WORKLOADS.values()]; "
        "sys.exit(run.main({argv!r}))"
    ).format(root=ROOT, n=TINY_DOCS, argv=argv)
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(gen.WORKLOADS)
    for w in SPEC["workloads"]:
        assert f"{gen.WORKLOADS[w['name']]['docs']:,} docs" in w["why"]
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == layers.UNITS


@pytest.mark.parametrize("workload,trace", [("ingest", 0), ("ingest", 1), ("retile", 1)])
def test_tiny_run_prints_every_metric(workload, trace):
    out = _tiny_run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    m = out["metrics"]
    if trace and workload == "retile":
        for layer in ("decode", "cells", "pip", "knn"):
            assert m[f"{layer}.rows"]["value"] == 0
            assert m[f"{layer}.self_s"]["value"] == 0
    elif trace:
        assert m["decode.rows"]["value"] > 0 and m["knn.rows"]["value"] > 0


@pytest.fixture(scope="module")
def scratch():
    """A directory under .perfbench/, like the benchmark's own state."""
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    path = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench"))
    yield path
    shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def spark(scratch):
    from perfbench import session

    saved = {k: dict(v) for k, v in gen.WORKLOADS.items()}
    saved_tmp = os.environ.get("TMPDIR")
    for w in gen.WORKLOADS.values():
        w["docs"] = FIXTURE_DOCS
    os.environ["TMPDIR"] = os.path.join(scratch, "state", "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = None
    s = session.start_session(os.path.join(scratch, "state"))
    yield s
    session.shutdown(s)
    for k, v in saved.items():
        gen.WORKLOADS[k].update(v)
    if saved_tmp is None:
        del os.environ["TMPDIR"]
    else:
        os.environ["TMPDIR"] = saved_tmp
    tempfile.tempdir = None


def _generate(spark, scratch, seed: int) -> dict:
    return gen.generate(spark, "ingest", seed, tempfile.mkdtemp(dir=scratch))


@pytest.fixture(scope="module")
def pipeline_output(spark, scratch):
    from bufr2geojson_spark.plans.pipeline import PipelineConfig, run_pipeline

    m = _generate(spark, scratch, 3)
    p = m["paths"]
    conf = PipelineConfig(checkpoint_stages=("J", "A", "W"))
    docs, stations, polygons = (spark.read.parquet(p[k])
                                for k in ("docs", "stations", "polygons"))
    res = run_pipeline(spark, docs, stations, polygons,
                       tempfile.mkdtemp(dir=scratch), "r", resume=False, conf=conf)
    reference, quarantined = checks.reference(docs, stations, polygons, conf)
    return res, reference, conf, m, quarantined


def _recount(res, conf):
    return checks.tile_recount(res.features, conf.s2_level, conf.rollup_levels)


def test_clean_output_passes(pipeline_output):
    res, reference, conf, m, quarantined = pipeline_output
    assert checks.check_features(res.features, reference) == (reference, [])
    assert checks.check_tiles(_recount(res, conf), res.tiles)[1] == []
    assert m["corrupted"] > 0
    assert checks.check_quarantine(quarantined, m["corrupted"]) == []


def test_corrupted_w_row_fails(pipeline_output):
    from pyspark.sql import functions as F

    res, reference, *_ = pipeline_output
    victim = res.features.orderBy("feature_id").first()["feature_id"]
    bad = res.features.withColumn("result_value", F.when(
        F.col("feature_id") == victim, F.col("result_value") + 1
    ).otherwise(F.col("result_value")))
    assert checks.check_features(bad, reference)[1]


def test_corrupted_tile_row_fails(pipeline_output):
    from pyspark.sql import functions as F

    res, _, conf, *_ = pipeline_output
    victim = res.tiles.orderBy("level", "cell").first()
    bad = res.tiles.withColumn("n_obs", F.when(
        (F.col("level") == victim["level"]) & (F.col("cell") == victim["cell"]),
        F.col("n_obs") + 1,
    ).otherwise(F.col("n_obs")))
    assert checks.check_tiles(_recount(res, conf), bad)[1]


def test_quarantine_miscount_fails(pipeline_output):
    *_, m, quarantined = pipeline_output
    assert checks.check_quarantine(quarantined, m["corrupted"] + 1)


def test_same_seed_same_inputs(spark, scratch):
    def tables(seed):
        paths = _generate(spark, scratch, seed)["paths"]
        return {name: sorted(map(str, spark.read.parquet(path).collect()))
                for name, path in paths.items()}

    first = tables(8)
    assert tables(8) == first
    assert tables(9)["docs"] != first["docs"]
