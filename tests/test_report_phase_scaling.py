"""scripts/report_phase_scaling.py: per-stage efficiency from stage records.

Feeds hand-built stage records (``_lineage/<stage>/_stage.json``, as
``plans/lineage.py:write_stage`` commits them) through the report and
checks the efficiency math, the identical-work classification (exact /
rows-only / NO), and the machine-readable JSON line.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "report_phase_scaling.py")


def _write_record(run_dir, stage, wall_ms, rows_per_file, checksum):
    lin = os.path.join(run_dir, "_lineage", stage)
    os.makedirs(lin)
    files = [{"partition_id": i, "cell_lo": 0, "cell_hi": 9, "row_count": n,
              "checksum": f"{i:016x}"} for i, n in enumerate(rows_per_file)]
    with open(os.path.join(lin, "_stage.json"), "w") as f:
        json.dump({"rows": sum(rows_per_file), "checksum": checksum,
                   "snapshot_id": 1, "schema": {"type": "struct",
                                                "fields": []},
                   "wall_ms": wall_ms, "files": files, "inputs": None}, f)


def _run(lo, hi):
    out = subprocess.run(
        [sys.executable, SCRIPT, "--lo", lo, "--lo-cores", "2",
         "--hi", hi, "--hi-cores", "8"],
        capture_output=True, text=True, check=True,
    )
    return out.stdout, json.loads(out.stdout.strip().splitlines()[-1])


def test_efficiency_and_work_classification(tmp_path):
    lo, hi = str(tmp_path / "lo"), str(tmp_path / "hi")
    # J: identical rows and stage checksum across DIFFERENT partitionings
    # (2 files vs 4) -> "exact"; 4x wall ratio = eff 1.0
    _write_record(lo, "J", 40_000, [60, 40], "-1234567890123456789012")
    _write_record(hi, "J", 10_000, [30, 30, 20, 20],
                  "-1234567890123456789012")
    # A: same rows, different checksum -> "rows-only"; 2x speedup = eff 0.5
    _write_record(lo, "A", 8_000, [10], "42")
    _write_record(hi, "A", 4_000, [10], "43")
    # W: different row counts -> "NO"
    _write_record(lo, "W", 1_000, [5], "7")
    _write_record(hi, "W", 1_000, [6], "7")

    text, rec = _run(lo, hi)
    assert rec["stages"]["J"]["efficiency"] == 1.0
    assert rec["stages"]["J"]["same_work"] == "exact"
    assert rec["stages"]["A"]["efficiency"] == 0.5
    assert rec["stages"]["A"]["same_work"] == "rows-only"
    assert rec["stages"]["W"]["same_work"] == "NO"
    assert "WARNING: stages ['W']" in text
    # overall = (40+8+1) / (10+4+1) / 4
    assert rec["overall_efficiency"] == round(49 / 15 / 4, 3)


def test_missing_lineage_dir_fails_cleanly(tmp_path):
    """A run dir without lineage, or only with records from before records
    carried ``wall_ms``, ends with a message, not a traceback."""
    lo, old = str(tmp_path / "lo"), str(tmp_path / "old")
    _write_record(lo, "J", 1000, [1], "1")
    os.makedirs(os.path.join(old, "_lineage", "J"))
    with open(os.path.join(old, "_lineage", "J", "_stage.json"), "w") as f:
        json.dump({"rows": 1, "checksum": "1", "snapshot_id": 1}, f)
    for hi, message in ((str(tmp_path / "nope"), "no lineage directory"),
                        (old, "share no lineage stages")):
        out = subprocess.run(
            [sys.executable, SCRIPT, "--lo", lo, "--lo-cores", "2",
             "--hi", hi, "--hi-cores", "8"],
            capture_output=True, text=True,
        )
        assert out.returncode != 0
        assert message in out.stderr
        assert "Traceback" not in out.stderr
