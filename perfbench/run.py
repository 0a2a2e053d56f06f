"""Benchmark of the engine's production path, one workload and seed per call.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

Drives ``sources.io.read_snapshot`` + ``plans.pipeline.run_pipeline`` with
``checkpoint_stages=("J", "A", "W")`` on parquet inputs generated from the
seed (``perfbench/gen.py``), as one closed loop: one process, one pipeline
run at a time, ``local[nproc]`` task threads. Every run's output is checked
(``perfbench/checks.py``); a run that raises or fails a check counts in
``failed``. The last stdout line is one JSON object: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` the per-layer ones
(``perfbench/layers.py``). Everything the run writes stays under
``.perfbench/`` in the current directory.
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import replace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the engine imports first: outside a checkout of the repository the
# benchmark fails here, before it starts anything or prints a result
from bufr2geojson_spark.plans.lineage import write_stage  # noqa: E402
from bufr2geojson_spark.plans.pipeline import PipelineConfig, run_pipeline  # noqa: E402
from bufr2geojson_spark.sources.io import read_snapshot  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from perfbench import checks, gen, layers, session  # noqa: E402

#: Set-ups per process; ``setup_s`` is their median. The first starts the
#: JVM, the next restart the SparkSession inside it. A traced run adds one
#: more, with the event log on.
SETUPS = 2
RUN_ID = "run"
WARM_ID = "warm"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload: str, seed: int, state_dir: str):
        self.workload = workload
        self.seed = seed
        self.state = state_dir
        self.work = os.path.join(state_dir, "work")
        self.conf = PipelineConfig(checkpoint_stages=("J", "A", "W"))
        self.spark = None
        self.manifest: dict | None = None
        self.tracer = None
        self.reference: tuple[int, str] | None = None
        self.recounts: dict[tuple[int, str], dict] = {}  # W digest -> tile recount
        self.setup_s: list[float] = []
        self.runs: list[dict] = []
        self.rss = session.PeakRss()

    # -- set-up ------------------------------------------------------------

    def set_up(self, event_log: bool = False) -> None:
        """(Re)start Spark, touch the Python workers and run the warm-up.
        Input generation, paid once, is excluded from the recorded time."""
        t0 = _PROCESS_START if self.spark is None else time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = session.start_session(
            self.state, os.path.join(self.state, "eventlog") if event_log else None)
        session.touch_python_workers(self.spark)
        excluded = 0.0
        if self.manifest is None:
            g0 = time.perf_counter()
            self.generate()
            excluded = time.perf_counter() - g0
            log(f"inputs generated in {excluded:.2f} s")
        self.prepare(WARM_ID)
        self.pipeline(self.manifest["paths"]["warm_docs"], WARM_ID)
        self.setup_s.append(time.perf_counter() - t0 - excluded)
        log(f"set-up {len(self.setup_s)}: {self.setup_s[-1]:.2f} s")

    def generate(self) -> None:
        self.manifest = gen.generate(
            self.spark, self.workload, self.seed, os.path.join(self.state, "inputs"))
        if self.workload == "retile":
            # the failure this workload resumes from: a complete J stage, and
            # the same for the warm-up slice
            j_only = replace(self.conf, stages=("D", "T", "J"), checkpoint_stages=("J",))
            self.pipeline(self.manifest["paths"]["docs"], f"base-{RUN_ID}",
                          conf=j_only, resume=False)
            j = self.spark.read.parquet(os.path.join(self.work, f"base-{RUN_ID}", "J"))
            write_stage(gen.warm_slice(j), self.spark, self.work, f"base-{WARM_ID}", "J",
                        snapshot_id=0, cell_col="cell_s2")

    # -- one pipeline run ---------------------------------------------------

    def prepare(self, run_id: str) -> None:
        """Untimed: give ``run_id`` the state a run of this workload starts
        from (empty, or only a complete J stage for ``retile``)."""
        run_dir = os.path.join(self.work, run_id)
        shutil.rmtree(run_dir, ignore_errors=True)
        if self.workload == "retile":
            base = os.path.join(self.work, f"base-{run_id}")
            for sub in ("J", os.path.join("_lineage", "J")):
                shutil.copytree(os.path.join(base, sub), os.path.join(run_dir, sub))

    def pipeline(self, docs_path: str, run_id: str, conf=None, resume: bool | None = None):
        if resume is None:
            resume = self.workload == "retile"
        paths = self.manifest["paths"]
        t0 = time.perf_counter()
        docs, snapshot_id = read_snapshot(self.spark, docs_path)
        res = run_pipeline(
            self.spark, docs,
            self.spark.read.parquet(paths["stations"]),
            self.spark.read.parquet(paths["polygons"]),
            self.work, run_id, snapshot_id=snapshot_id, resume=resume,
            conf=conf or self.conf,
        )
        return res, time.perf_counter() - t0

    def timed_run(self) -> None:
        self.prepare(RUN_ID)
        entry: dict = {"round": len(self.setup_s), "problems": []}
        try:
            with self.rss:
                if self.tracer is None:
                    res, wall = self.pipeline(self.manifest["paths"]["docs"], RUN_ID)
                else:
                    with self.tracer.span("pipeline"), layers.stage_spans(self.tracer):
                        res, wall = self.pipeline(self.manifest["paths"]["docs"], RUN_ID)
            entry["wall_s"] = wall
            entry.update(self.check(res))
        except Exception:  # a run that raises is a failed run, not the end
            entry["problems"].append(traceback.format_exc())
        self.runs.append(entry)
        log(f"run {len(self.runs)}: " + (
            f"{entry['wall_s']:.3f} s, {entry['features']} features + "
            f"{entry['tiles']} tiles" if "tiles" in entry else "raised")
            + "".join(f"\n  FAILED: {p}" for p in entry["problems"]))

    def loop(self, seconds: float) -> None:
        """Timed runs until their summed wall reaches ``seconds``."""
        spent, deadline = 0.0, time.perf_counter() + 4 * seconds
        while spent < seconds and time.perf_counter() < deadline:
            self.timed_run()
            spent += self.runs[-1].get("wall_s", 0.0)

    # -- output check -------------------------------------------------------

    def check(self, res) -> dict:
        spark, paths = self.spark, self.manifest["paths"]
        problems = []
        if self.workload == "retile" and res.skipped != ["J"]:
            problems.append(f"expected a resume from J, skipped {res.skipped}")
        if self.reference is None and self.workload == "retile":
            # a resume must reproduce the checkpoint it resumed from; its
            # decode ran at generation, so there is no quarantine to check
            self.reference = checks.contract_digest(spark.read.parquet(
                os.path.join(self.work, f"base-{RUN_ID}", "J")))
        elif self.reference is None:
            self.reference, quarantined = checks.reference(
                spark.read.parquet(paths["docs"]), spark.read.parquet(paths["stations"]),
                spark.read.parquet(paths["polygons"]), self.conf)
            problems += checks.check_quarantine(quarantined, self.manifest["corrupted"])
        digest, found = checks.check_features(res.features, self.reference)
        if digest not in self.recounts:
            self.recounts[digest] = checks.tile_recount(
                res.features, self.conf.s2_level, self.conf.rollup_levels)
        tiles, wrong = checks.check_tiles(self.recounts[digest], res.tiles)
        out = {
            "problems": problems + found + wrong,
            "features": digest[0],
            "tiles": tiles,
            "stored_bytes": session.dir_bytes(os.path.join(self.work, RUN_ID)),
        }
        if self.tracer is not None:
            out["lineage"] = [r.asDict() for r in res.lineage.groupBy("stage").agg(
                F.max("wall_ms").alias("wall_ms"), F.sum("row_count").alias("rows"),
                F.max("row_count").alias("max_rows"), F.count(F.lit(1)).alias("parts"),
            ).collect()]
            out["write_bytes"] = session.dir_bytes(os.path.join(self.work, RUN_ID, "W"))
            out["lineage_bytes"] = session.dir_bytes(
                os.path.join(self.work, RUN_ID, "_lineage"))
            out["executed"] = list(res.executed)
        return out

    # -- results --------------------------------------------------------------

    def ok_runs(self, round_: int | None = None) -> list[dict]:
        ran = [r for r in self.runs
               if "tiles" in r and (round_ is None or r["round"] == round_)]
        return [r for r in ran if not r["problems"]] or ran

    @staticmethod
    def rows_per_s(runs) -> float:
        return statistics.median((r["features"] + r["tiles"]) / r["wall_s"] for r in runs)

    def end_to_end(self) -> dict:
        runs = self.ok_runs()
        return {
            "rows_per_s": (self.rows_per_s(runs), "rows/s"),
            "setup_s": (statistics.median(self.setup_s), "s"),
            "peak_rss_mb": (self.rss.peak / 1e6, "MB"),
            "stored_bytes_per_feature": (statistics.median(
                r["stored_bytes"] / r["features"] for r in runs), "B"),
        }

    def per_layer(self, counts: dict, log_dir: str) -> dict:
        traced = self.ok_runs(len(self.setup_s))
        first = traced[0]
        lineage = {r["stage"]: r for r in first["lineage"]}
        w = lineage["W"]
        pipeline = {
            "wall_s": first["wall_s"],
            "tile_rows": lineage["A"]["rows"],
            "write_bytes": first["write_bytes"],
            "lineage_bytes": first["lineage_bytes"],
            "partition_skew": w["max_rows"] / (w["rows"] / w["parts"]),
            "stage_wall_ms": {s: r["wall_ms"] for s, r in lineage.items()},
            "trace_overhead": self.rows_per_s(self.ok_runs(len(self.setup_s) - 1))
            / self.rows_per_s(traced) - 1.0,
        }
        metrics = layers.layer_metrics(
            self.tracer, layers.EventLog(log_dir), counts, pipeline,
            python_layers="J" in first["executed"])
        log(f"summed layer self times {metrics['trace.layer_self_s']:.3f} s "
            f"vs fused run wall {metrics['trace.fused_wall_s']:.3f} s")
        return {k: (v, layers.UNITS[k]) for k, v in metrics.items()}

    # -- the whole benchmark ---------------------------------------------------

    def run(self, seconds: float, trace: bool) -> dict:
        """SETUPS set-ups, then timed runs for ``seconds``. With ``trace``,
        the runs are split: half after the last plain set-up, half after one
        more set-up that turns the event log and spans on (so the tracing
        overhead is read between two rounds in an about equally warm JVM);
        then each layer runs alone."""
        for i in range(SETUPS + trace):
            traced = trace and i == SETUPS
            self.set_up(event_log=traced)
            if traced:
                self.tracer = layers.Tracer(self.spark)
            if i >= SETUPS - 1:
                self.loop(seconds / (1 + trace))
        if not trace:
            metrics = self.end_to_end()
            session.shutdown(self.spark)
        else:
            paths = self.manifest["paths"]
            counts = layers.isolate_layers(
                self.spark, self.tracer, self.conf,
                docs_path=paths["docs"],
                j_path=os.path.join(self.work, RUN_ID, "J"),
                stations=self.spark.read.parquet(paths["stations"]),
                polygons=self.spark.read.parquet(paths["polygons"]),
                scratch=os.path.join(self.state, "layers"),
                python_layers="J" in self.ok_runs(len(self.setup_s))[0]["executed"],
            )
            session.shutdown(self.spark)
            self.tracer.write(os.path.join(
                ROOT, ".perfbench", f"trace-{self.workload}-{self.seed}.json"))
            metrics = self.per_layer(counts, os.path.join(self.state, "eventlog"))
        failed = sum(1 for r in self.runs if r["problems"] or "tiles" not in r)
        log(f"failed_share = {failed}/{len(self.runs)}")
        return {
            "correct": failed == 0,
            "attempted": len(self.runs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=tuple(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    state = os.path.join(ROOT, ".perfbench",
                         f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(state, "tmp")
    try:
        result = Bench(args.workload, args.seed, state).run(args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(state, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
