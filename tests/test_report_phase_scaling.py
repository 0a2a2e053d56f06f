"""scripts/report_phase_scaling.py: per-stage efficiency from lineage parquet.

Feeds hand-built lineage tables (``LINEAGE_SCHEMA``, as
``plans/lineage.py:write_stage`` writes them, with or without a stage
record) through the report and checks the efficiency math, the
identical-work classification (exact / rows-only / NO), and the
machine-readable JSON line.
"""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "scripts", "report_phase_scaling.py")


def _write_lineage(run_dir, stage, wall_ms, rows_per_part, checksums):
    os.makedirs(os.path.join(run_dir, "_lineage", stage), exist_ok=True)
    n = len(rows_per_part)
    tbl = pa.table({
        "run_id": ["r"] * n,
        "stage": [stage] * n,
        "snapshot_id": [1] * n,
        "partition_id": list(range(n)),
        "cell_lo": [0] * n,
        "cell_hi": [9] * n,
        "row_count": rows_per_part,
        "checksum": checksums,
        "wall_ms": [wall_ms] * n,
    })
    pq.write_table(
        tbl, os.path.join(run_dir, "_lineage", stage, "part-0.parquet")
    )


def _write_stage_record(run_dir, stage, rows, checksum):
    with open(os.path.join(run_dir, "_lineage", stage, "_stage.json"),
              "w") as f:
        json.dump({"rows": rows, "checksum": checksum, "snapshot_id": 1,
                   "schema": {"type": "struct", "fields": []}}, f)


def _run(lo, hi):
    out = subprocess.run(
        [sys.executable, SCRIPT, "--lo", lo, "--lo-cores", "2",
         "--hi", hi, "--hi-cores", "8"],
        capture_output=True, text=True, check=True,
    )
    return out.stdout, json.loads(out.stdout.strip().splitlines()[-1])


def test_efficiency_and_work_classification(tmp_path):
    lo, hi = str(tmp_path / "lo"), str(tmp_path / "hi")
    # J: identical rows + identical checksum XOR across DIFFERENT
    # partitionings (2 parts vs 4) -> "exact"; 4x wall ratio = eff 1.0
    _write_lineage(lo, "J", 40_000, [60, 40], ["00000000000000ff",
                                               "0000000000000f0f"])
    _write_lineage(hi, "J", 10_000, [30, 30, 20, 20],
                   ["000000000000000f", "00000000000000f0",
                    "0000000000000f00", "000000000000000f"])
    # xor(lo) = ff ^ f0f = f0f ^ ff = 0xff0; xor(hi) = f ^ f0 ^ f00 ^ f
    # = 0xff0  -> equal
    # A: same rows, different checksum -> "rows-only"; 2x speedup = eff 0.5
    _write_lineage(lo, "A", 8_000, [10], ["00000000000000aa"])
    _write_lineage(hi, "A", 4_000, [10], ["00000000000000ab"])
    # W: different row counts -> "NO"
    _write_lineage(lo, "W", 1_000, [5], ["0000000000000001"])
    _write_lineage(hi, "W", 1_000, [6], ["0000000000000001"])

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
    lo = str(tmp_path / "lo")
    _write_lineage(lo, "J", 1000, [1], ["0000000000000001"])
    out = subprocess.run(
        [sys.executable, SCRIPT, "--lo", lo, "--lo-cores", "2",
         "--hi", str(tmp_path / "nope"), "--hi-cores", "8"],
        capture_output=True, text=True,
    )
    assert out.returncode != 0
    assert "no lineage directory" in out.stderr


def test_stage_records_decide_same_work_when_both_runs_have_them(tmp_path):
    lo, hi = str(tmp_path / "lo"), str(tmp_path / "hi")
    # J: per-file footer digests differ across widths, stage checksums
    # agree -> "exact"
    _write_lineage(lo, "J", 4_000, [60, 40], ["00000000000000ff",
                                              "0000000000000f0f"])
    _write_lineage(hi, "J", 1_000, [50, 50], ["0000000000000001",
                                              "0000000000000002"])
    _write_stage_record(lo, "J", 100, "-1234567890123456789012")
    _write_stage_record(hi, "J", 100, "-1234567890123456789012")
    # W: the per-file XORs agree but the stage checksums do not (a
    # duplicated row pair cancels in an XOR, not in the sum) -> "rows-only"
    _write_lineage(lo, "W", 1_000, [5], ["0000000000000001"])
    _write_lineage(hi, "W", 1_000, [5], ["0000000000000001"])
    _write_stage_record(lo, "W", 5, "42")
    _write_stage_record(hi, "W", 5, "43")
    # A: only one run has a stage record -> the XOR comparison, "exact"
    _write_lineage(lo, "A", 2_000, [10], ["00000000000000aa"])
    _write_lineage(hi, "A", 500, [10], ["00000000000000aa"])
    _write_stage_record(hi, "A", 10, "7")

    _, rec = _run(lo, hi)
    assert rec["stages"]["J"]["same_work"] == "exact"
    assert rec["stages"]["W"]["same_work"] == "rows-only"
    assert rec["stages"]["A"]["same_work"] == "exact"
