"""Incremental maintenance plan: snapshot-diff consume → decode → tile_merge.

The batch-side counterpart of ``streaming.ingest.run_tile_maintenance_once``
for the spark-submit path (``jobs/maintain.py``): each run folds ONLY the
documents appended since the previous run into the standing tile table.

Crash safety is write-ordering, not locks:

1. the committed state is ``manifest.json`` = {files, version} (written
   atomically via tmp+rename; only those two keys are read, so manifests
   that carry extra keys still load);
2. a run computes the delta against the COMMITTED manifest and writes the
   merged table to ``tiles/v={version+1}`` BEFORE committing the new
   manifest;
3. a crash between (2) and the manifest commit leaves the old manifest in
   place — the rerun recomputes the SAME delta from the SAME predecessor
   version and overwrites the SAME ``v={version+1}`` directory, then
   commits. No replay can double-merge a delta, because the standing
   version a delta merges into is named by the committed manifest, never
   by directory listing.

Readers use ``standing_tiles`` (the committed version), not the newest
directory, so a half-finished run is invisible. Superseded ``v=``
directories stay on disk; nothing reads them.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_merge
from bufr2geojson_spark.sources.io import incremental_read


def _state_path(work: str) -> str:
    return os.path.join(work, "manifest.json")


def load_state(work: str) -> dict | None:
    p = _state_path(work)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def _commit_state(work: str, files: dict[str, int], version: int) -> None:
    """Atomic manifest commit of ``{files, version}``: the source-file state
    folded so far and the standing version it produced."""
    p = _state_path(work)
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"files": files, "version": version}, f)
    os.replace(tmp, p)  # atomic on POSIX — the commit point


def standing_tiles(spark: SparkSession, work: str) -> DataFrame | None:
    """The COMMITTED standing tile table (None before the first run)."""
    state = load_state(work)
    if state is None:
        return None
    return spark.read.parquet(f"{work}/tiles/v={state['version']}")


def run_maintenance(spark: SparkSession, docs_path: str, work: str) -> dict:
    """One maintenance run; returns a summary dict (``no_op`` True when the
    source gained no files since the committed manifest)."""
    os.makedirs(work, exist_ok=True)
    state = load_state(work)
    prev_files = state["files"] if state else None
    delta_docs, new_files = incremental_read(spark, docs_path, prev_files)
    if delta_docs is None:
        return {"no_op": True,
                "version": state["version"] if state else None}
    delta = tile_aggregate(
        with_cells(decode_documents(delta_docs).filter("error is null"))
    )
    if state is None:
        merged, v_new = delta, 0
    else:
        prev = spark.read.parquet(f"{work}/tiles/v={state['version']}")
        merged, v_new = tile_merge(prev, delta), state["version"] + 1
    merged.write.mode("overwrite").parquet(f"{work}/tiles/v={v_new}")
    n_tiles = spark.read.parquet(f"{work}/tiles/v={v_new}").count()
    _commit_state(work, new_files, v_new)
    return {"no_op": False, "version": v_new, "n_tiles": n_tiles,
            "n_new_files": len(new_files) - (len(prev_files or {}))}
