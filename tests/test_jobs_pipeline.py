"""The jobs launched as plain scripts from outside the repository.
``jobs/pipeline.py`` twice in fresh processes: both exit 0, leave one stage
record per checkpoint and nothing else under ``_lineage/``, and record
equal per-file lineage for J and W (A waits for exact sums, ROADMAP 1(c)).
``jobs/maintain.py`` once, on a 20-document parquet input."""

import json
import os
import subprocess
import sys

from bufr2geojson_spark.sources.synth import synth_documents

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _launch(cwd, job, *args):
    """``python <repo>/jobs/<job> <args>`` in ``cwd`` at local[2], with no
    ``PYTHONPATH`` that could reach the package for it. Checks it exits 0
    and returns its JSON summary line."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[2] --conf spark.ui.enabled=false pyspark-shell")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", job), *map(str, args)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_plain_script_runs_reproduce_file_lineage(tmp_path):
    files = []
    for i in (1, 2):
        cwd = tmp_path / f"cwd{i}"
        cwd.mkdir()
        summary = _launch(cwd, "pipeline.py", "--synth", 20,
                          "--work", tmp_path / f"work{i}")
        assert summary["features"] > 0
        lineage = tmp_path / f"work{i}" / "run1" / "_lineage"
        assert sorted(str(p.relative_to(lineage)) for p in lineage.rglob("*")
                      if p.is_file()) == [f"{s}/_stage.json" for s in "AJW"]
        files.append({
            s: json.loads((lineage / s / "_stage.json").read_text())["files"]
            for s in "JW"})
    assert files[0] == files[1]


def test_plain_script_maintain_folds_parquet_documents(spark, tmp_path):
    docs = tmp_path / "docs"
    synth_documents(spark, 20, partitions=2).write.parquet(str(docs))
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    summary = _launch(cwd, "maintain.py", "--docs", docs,
                      "--work", tmp_path / "work")
    assert summary["no_op"] is False and summary["version"] == 0
    assert summary["n_tiles"] > 0
    assert (tmp_path / "work" / "manifest.json").is_file()
