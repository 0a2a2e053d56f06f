"""``jobs/pipeline.py`` launched as a plain script from outside the
repository, twice in fresh processes: both exit 0, leave one stage record
per checkpoint and nothing else under ``_lineage/``, and record equal
per-file lineage for J and W (A waits for exact sums, ROADMAP 1(c))."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _launch(cwd, work):
    """``python <repo>/jobs/pipeline.py --synth 20`` at local[2], with no
    ``PYTHONPATH`` that could reach the package for it."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[2] --conf spark.ui.enabled=false pyspark-shell")
    return subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "pipeline.py"),
         "--synth", "20", "--work", str(work)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600)


def test_plain_script_runs_reproduce_file_lineage(tmp_path):
    files = []
    for i in (1, 2):
        cwd = tmp_path / f"cwd{i}"
        cwd.mkdir()
        r = _launch(cwd, tmp_path / f"work{i}")
        assert r.returncode == 0, r.stderr[-2000:]
        assert json.loads(r.stdout.strip().splitlines()[-1])["features"] > 0
        lineage = tmp_path / f"work{i}" / "run1" / "_lineage"
        assert sorted(str(p.relative_to(lineage)) for p in lineage.rglob("*")
                      if p.is_file()) == [f"{s}/_stage.json" for s in "AJW"]
        files.append({
            s: json.loads((lineage / s / "_stage.json").read_text())["files"]
            for s in "JW"})
    assert files[0] == files[1]
