"""Per-stage scaling-efficiency report from pipeline stage records.

Turns TWO completed jobs/pipeline.py runs (same input, different
parallelism) into the per-stage efficiency table BENCH.md §5h previously
assembled by hand. The stage record ``bufr2geojson_spark/plans/lineage.py``
commits for each checkpoint (``_lineage/<stage>/_stage.json``) already
carries everything needed: the stage's data-write ``wall_ms``, its rows
and an order/partitioning-insensitive stage checksum (the exact sum of
``xxhash64(row)``), so the report also PROVES the two runs did identical
work before comparing their speeds — a scaling ratio over non-identical
outputs is meaningless.

Usage (after e.g. scripts/bench_scaling.sh, which runs the pipeline at
2 and 8 cores into $WORK/n2 and $WORK/n8):

    python scripts/report_phase_scaling.py \
        --lo /dev/shm/b2g_scale/n2/scale2 --lo-cores 2 \
        --hi /dev/shm/b2g_scale/n8/scale8 --hi-cores 8

Reads the JSON records directly (no Spark session — the report must be
runnable while the box is otherwise busy benching).

Output: a markdown table (stage | rows | lo wall | hi wall | speedup |
efficiency | work-identical) plus one machine-readable JSON line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os


def read_lineage(run_dir: str) -> dict[str, dict]:
    """stage -> its stage record, for every
    ``_lineage/<stage>/_stage.json`` of ``run_dir`` that holds a wall."""
    lineage_root = os.path.join(run_dir, "_lineage")
    if not os.path.isdir(lineage_root):
        raise SystemExit(
            f"no lineage directory at {lineage_root} — is {run_dir} a "
            "completed jobs/pipeline.py run dir (work/run_id)?"
        )
    stages: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(lineage_root, "*",
                                              "_stage.json"))):
        with open(path) as f:
            record = json.load(f)
        if "wall_ms" in record:  # older records hold no data-write wall
            stages[os.path.basename(os.path.dirname(path))] = record
    return stages


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lo", required=True,
                    help="run dir (work/run_id) of the NARROW run")
    ap.add_argument("--hi", required=True,
                    help="run dir (work/run_id) of the WIDE run")
    ap.add_argument("--lo-cores", type=int, required=True)
    ap.add_argument("--hi-cores", type=int, required=True)
    args = ap.parse_args()

    lo = read_lineage(args.lo)
    hi = read_lineage(args.hi)
    ratio = args.hi_cores / args.lo_cores

    common = [s for s in lo if s in hi]
    if not common:
        raise SystemExit("the two runs share no lineage stages")
    lo_only = sorted(s for s in lo if s not in hi)
    hi_only = sorted(s for s in hi if s not in lo)
    if lo_only or hi_only:
        # a stage present in only one run (failed/skipped leg) would
        # otherwise silently vanish from the table AND from the stage-sum
        # efficiency, leaving an overall number computed on an asymmetric
        # stage set with no indication (round-4 advice)
        print(f"WARNING: stages present in only one run are EXCLUDED from "
              f"the table and the stage-sum efficiency — "
              f"lo-only: {lo_only or '[]'}, hi-only: {hi_only or '[]'}")

    print(f"Per-stage scaling: {args.lo_cores} -> {args.hi_cores} cores "
          f"(ideal speedup {ratio:g}x)\n")
    print("| stage | rows | wall lo (s) | wall hi (s) | speedup | "
          "efficiency | same work |")
    print("|---|---|---|---|---|---|---|")
    report = {}
    for stage in common:
        wl, wh = lo[stage]["wall_ms"] / 1000.0, hi[stage]["wall_ms"] / 1000.0
        rows_same = lo[stage]["rows"] == hi[stage]["rows"]
        # checksum covers the full row struct; stages with raw DOUBLE sums
        # (e.g. tile agg's sum_val) legitimately wobble their last ulp when
        # the partial-agg combine order changes with the partitioning, so
        # rows-equal + checksum-differ is "rows-only", not a failure (the
        # oracle-checked digests use e6 fix-point where exactness is the
        # contract)
        if rows_same and lo[stage]["checksum"] == hi[stage]["checksum"]:
            same = "exact"
        elif rows_same:
            same = "rows-only"
        else:
            same = "NO"
        speedup = wl / wh if wh > 0 else float("nan")
        eff = speedup / ratio
        report[stage] = {
            "rows": lo[stage]["rows"],
            "wall_lo_s": round(wl, 2),
            "wall_hi_s": round(wh, 2),
            "speedup": round(speedup, 3),
            "efficiency": round(eff, 3),
            "same_work": same,
        }
        print(f"| {stage} | {lo[stage]['rows']} | {wl:.2f} | {wh:.2f} | "
              f"{speedup:.2f}x | {eff:.3f} | {same} |")

    total_lo = sum(lo[s]["wall_ms"] for s in common) / 1000.0
    total_hi = sum(hi[s]["wall_ms"] for s in common) / 1000.0
    overall = (total_lo / total_hi / ratio) if total_hi > 0 else float("nan")
    print(f"\noverall (sum of stage walls): {total_lo:.2f} s -> "
          f"{total_hi:.2f} s, efficiency {overall:.3f}")
    mismatched = [s for s in common if report[s]["same_work"] == "NO"]
    if mismatched:
        print(f"WARNING: stages {mismatched} produced different ROW COUNTS "
              "across the two runs — the ratio above is not a scaling "
              "measurement for them.")
    print(json.dumps({
        "lo_cores": args.lo_cores, "hi_cores": args.hi_cores,
        "stages": report,
        "overall_efficiency": round(overall, 3),
        "stages_lo_only": lo_only,
        "stages_hi_only": hi_only,
    }))


if __name__ == "__main__":
    main()
