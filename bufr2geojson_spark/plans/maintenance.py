"""Incremental tile maintenance: fold a delta's stage-A tiles into one
manifest-committed standing table.

Both incremental drivers run the batch pipeline's own steps on the delta
only: ``run_maintenance`` here (``jobs/maintain.py``, a snapshot-diff of the
document table) and ``streaming.ingest.run_tile_maintenance_once``
(``jobs/stream.py --mode tiles``, one micro-batch at a time). The delta goes
through ``plans.pipeline.feature_pass`` (J's decode and cells) and
``fold_tiles`` (A, then ``tile_merge`` into the committed version), with
the pipeline's fixed parameters (``PipelineConfig``'s class constants), so
the standing table has ``run_pipeline``'s A schema and content: one row per
(level, cell) at the base level and every rollup level. J's PIP and kNN are
left out: PIP is a left join that keeps the first match and kNN is narrow,
so they keep every row, and A reads neither's columns.

Crash safety is write-ordering, not locks:

1. the committed state is ``manifest.json`` = {files, version}, beside
   the tiles on any scheme (it goes through ``sources.io.driver_fs``) and
   committed by ``DriverFS.commit_json``'s replacing move, HDFS included
   (only those two keys are read, so manifests that carry extra keys still
   load);
2. a fold merges the delta into the COMMITTED version and writes the
   result to ``tiles/v={version}`` BEFORE committing the new manifest;
3. a crash between (2) and the manifest commit leaves the old manifest in
   place — the rerun recomputes the SAME delta from the SAME predecessor
   version and overwrites the SAME ``v={version}`` directory, then
   commits. No replay can double-merge a delta, because the standing
   version a delta merges into is named by the committed manifest, never
   by directory listing.

Readers use ``standing_tiles`` (the committed version), not the newest
directory, so a half-finished run is invisible. Superseded ``v=``
directories stay on disk; nothing reads them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bufr2geojson_spark.operators.tiles import tile_merge
from bufr2geojson_spark.plans.pipeline import feature_pass, tile_stage
from bufr2geojson_spark.sources.io import driver_fs, incremental_read


def load_state(spark: SparkSession, work: str) -> dict | None:
    """The committed manifest (None before the first fold)."""
    return driver_fs(spark, work).read_json(f"{work}/manifest.json")


def standing_tiles(spark: SparkSession, work: str) -> DataFrame | None:
    """The COMMITTED standing tile table (None before the first fold)."""
    state = load_state(spark, work)
    if state is None:
        return None
    return spark.read.parquet(f"{work}/tiles/v={state['version']}")


def fold_tiles(
    spark: SparkSession,
    work: str,
    features: DataFrame,
    version: int,
    files: dict[str, int],
) -> int:
    """A on ``features``, merged into the committed standing table, written
    as ``tiles/v={version}`` and then committed with ``files``, the source
    files folded so far. Returns the standing table's rows, observed on
    its write."""
    prev = standing_tiles(spark, work)
    delta = tile_stage(features)
    merged = delta if prev is None else tile_merge(prev, delta)
    seen = Observation("fold")
    merged.observe(seen, F.count(F.lit(1)).alias("rows")) \
        .write.mode("overwrite").parquet(f"{work}/tiles/v={version}")
    driver_fs(spark, work).commit_json(f"{work}/manifest.json",
                                       {"files": files, "version": version})
    return seen.get["rows"]


def run_maintenance(spark: SparkSession, docs_path: str, work: str) -> dict:
    """One maintenance run; returns a summary dict (``no_op`` True when the
    source gained no files since the committed manifest)."""
    state = load_state(spark, work)
    prev_files = state["files"] if state else None
    delta_docs, new_files = incremental_read(spark, docs_path, prev_files)
    if delta_docs is None:
        return {"no_op": True,
                "version": state["version"] if state else None}
    v_new = state["version"] + 1 if state else 0
    n_tiles = fold_tiles(spark, work, feature_pass(delta_docs), v_new,
                         new_files)
    return {"no_op": False, "version": v_new, "n_tiles": n_tiles,
            "n_new_files": len(new_files) - (len(prev_files or {}))}
