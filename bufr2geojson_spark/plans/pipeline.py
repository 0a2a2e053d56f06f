"""The full spatial-join + tiling pipeline with checkpoint-resume (§3.4).

Stage graph (each stage materializes with per-file lineage → resumable):

    D  decode          mapInPandas fold (R5-R24), error quarantine split
    T  tile-encode     H3/S2 cell UDFs + cell_prefix (narrow)
    J  spatial joins   broadcast PIP (N3) + kNN ring expansion (N4) (narrow)
    A  tile agg        salted two-phase agg (N5/N7) + multi-level rollup
    W  final write     repartitionByRange(cell_prefix, cell), AQE-sized (N8)

Launched via ``spark-submit --py-files`` (see jobs/pipeline.py) per the
north rule. A resumed run (same work_dir + run_id) reuses a complete stage
whose record holds this run's inputs — the documents' snapshot id, the
config and the checksum of the checkpoint it reads — or none (written
outside ``run_pipeline``); it recomputes any other stage, and so every
stage reading a recomputed checkpoint with a new checksum: the
checkpoint-resume contract (N10, records in ``plans/lineage.py``). The
``stations`` and ``polygons`` tables are not inputs: a resume after either
changed reuses J, A and W.
"""

from __future__ import annotations

import json
import warnings
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession

from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.operators.spatial import assign_region, knn_join
from bufr2geojson_spark.operators.tiles import (
    range_partition_by_cell,
    tile_aggregate,
    tile_rollup,
)
from bufr2geojson_spark.plans import lineage as L

#: The stage graph in execution order (see the module docstring).
STAGES = ("D", "T", "J", "A", "W")


@dataclass
class PipelineConfig:
    s2_level: int = 14
    hex_res: int = 7
    prefix_bits: int = 12
    knn_k: int = 1
    knn_grid_deg: float = 2.0
    salt_buckets: int = 16
    hot_threshold: int | None = 200
    rollup_levels: tuple = (10, 6)
    # W's range-partition count. None lets AQE size the range exchange from
    # the data (it coalesces adjacent ranges, so files stay disjoint); an int
    # forces that many partitions and files. Kept as a field because the
    # benchmark's isolated write layer reads it.
    output_partitions: int | None = None
    result_time: str = "2024-12-19 00:00:00"
    guess_wsi: bool = True
    stages: tuple = STAGES
    # Stages that materialize (parquet + lineage = resume points). Stages NOT
    # listed stay lazy and fuse into the next checkpointed stage — D/T/J are
    # all narrow, so the default runs decode+cells+joins as ONE pass over
    # the data with a single feature-table write instead of three (at
    # 100 TB each extra checkpoint is a full table write+read); STAGES
    # checkpoints every stage, for maximum resumability. Lineage rows exist
    # for every checkpointed stage.
    checkpoint_stages: tuple = ("J", "A", "W")


def decode_stage(docs: DataFrame, conf: PipelineConfig) -> DataFrame:
    """D: decoded feature rows plus quarantine rows (``error`` set)."""
    return decode_documents(
        docs, guess_wsi=conf.guess_wsi, result_time=conf.result_time
    )


def cell_stage(features: DataFrame, conf: PipelineConfig) -> DataFrame:
    """T: cell_s2 / cell_h3 / cell_prefix on the good feature rows."""
    return with_cells(
        features,
        s2_level_=conf.s2_level,
        hex_res_=conf.hex_res,
        prefix_bits=conf.prefix_bits,
    )


def tile_stage(features: DataFrame, conf: PipelineConfig) -> DataFrame:
    """A: salted per-cell tiles at ``s2_level`` plus every rollup level, one
    row per (level, cell). Reads only the T columns, so the incremental
    drivers (``plans/maintenance.py``) run it on T output directly."""
    base = tile_aggregate(
        features,
        cell_col="cell_s2",
        value_col="result_value",
        salt_buckets=conf.salt_buckets,
        hot_threshold=conf.hot_threshold,
    )
    return tile_rollup(
        base, conf.s2_level, list(conf.rollup_levels), cell_col="cell_s2"
    )


@dataclass
class PipelineResult:
    features: DataFrame | None = None
    tiles: DataFrame | None = None
    quarantine: DataFrame | None = None
    lineage: DataFrame | None = None
    skipped: list = field(default_factory=list)
    executed: list = field(default_factory=list)
    snapshot_id: int = 0


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    stations: DataFrame,
    polygons: DataFrame,
    work_dir: str,
    run_id: str,
    snapshot_id: int = 0,
    resume: bool = True,
    conf: PipelineConfig | None = None,
) -> PipelineResult:
    conf = conf or PipelineConfig()
    res = PipelineResult(snapshot_id=snapshot_id)

    if "W" in conf.stages and "W" not in conf.checkpoint_stages:
        # W *is* the final write: excluding it from checkpoint_stages would
        # silently produce no output table — a config typo, not a fusion
        # choice (there is no downstream stage for W to fuse into)
        warnings.warn(
            "'W' is in stages but not in checkpoint_stages: the final "
            "feature table will NOT be written. Add 'W' to "
            "checkpoint_stages (or drop it from stages to be explicit).",
            stacklevel=2,
        )

    materialized = True  # current `features` is backed by parquet/cache
    # a checkpoint's inputs: the documents' snapshot, every config field but
    # the stage choices, and the checksum of the checkpoint `features` was
    # read from
    fields = {k: v for k, v in asdict(conf).items()
              if k not in ("stages", "checkpoint_stages")}
    upstream = None
    records = {}  # stage -> the record this run wrote or reused

    def do(stage: str, compute, **wkw) -> DataFrame:
        nonlocal materialized, upstream
        if stage not in conf.checkpoint_stages:
            # lazy stage: fuses into the next checkpointed stage's pass
            res.executed.append(f"{stage}~fused")
            materialized = False
            return compute()
        inputs = json.loads(json.dumps({
            "snapshot_id": snapshot_id, "conf": fields, "upstream": upstream}))
        record = (L.stage_record(spark, work_dir, run_id, stage)
                  if resume else None)
        # reused on equal inputs, or on none (a stage built by write_stage
        # alone, as the benchmark's warm-up J is); a record without the
        # field predates inputs and is recomputed
        recorded = record.get("inputs", False) if record else False
        if recorded is None or recorded == inputs:
            res.skipped.append(stage)
            out = L.read_stage(spark, work_dir, run_id, stage, record)
        else:
            out, record = L.write_stage(compute(), spark, work_dir, run_id,
                                        stage, snapshot_id, inputs=inputs,
                                        **wkw)
            res.executed.append(stage)
        materialized = True  # parquet read-back needs no fused-chain cache
        records[stage] = record
        if stage != "A":  # A's tiles are no later stage's input
            upstream = record["checksum"]
        return out

    upto = conf.stages

    # D — decode + quarantine split
    if "D" in upto:
        d_all = do("D", lambda: decode_stage(docs, conf))
        features = d_all.filter("error is null")
        res.quarantine = d_all.filter("error is not null")
    else:
        return res

    # T — cell encoding
    if "T" in upto:
        features = do(
            "T",
            lambda: cell_stage(features, conf),
            cell_col="cell_s2",
        )
    else:
        res.features = features
        return res

    # J — PIP + kNN
    if "J" in upto:
        features = do(
            "J",
            lambda: knn_join(
                assign_region(features, polygons),
                stations, k=conf.knn_k, grid_deg=conf.knn_grid_deg,
            ),
            cell_col="cell_s2",
        )

    # When the feature chain up to here is FUSED (not checkpointed) and more
    # than one checkpointed consumer follows (A reads it for tiles, W for
    # the final write), cache it — otherwise the whole decode+join chain
    # re-executes once per consumer (e.g. checkpoint_stages=('A','W') ran
    # the full pass twice in round 1)
    _cached_features = None
    n_consumers = ("A" in upto and "A" in conf.checkpoint_stages) + (
        "W" in upto and "W" in conf.checkpoint_stages
    )
    if not materialized and n_consumers > 1:
        features = features.persist()
        _cached_features = features

    # A — salted tile aggregation + rollup
    if "A" in upto:
        res.tiles = do("A", lambda: tile_stage(features, conf), cell_col="cell")

    # W — range-partitioned final feature table
    if "W" in upto:
        features = do(
            "W",
            lambda: range_partition_by_cell(
                features, conf.output_partitions, "cell_s2", "cell_prefix"
            ),
            cell_col="cell_s2",
        )

    res.features = features
    # release the fused-chain cache once the final features are parquet-
    # backed (W checkpointed replaced `features` with the read-back table);
    # if W was fused, res.features still points at the cached chain — keep it
    if _cached_features is not None and features is not _cached_features:
        _cached_features.unpersist()
    res.lineage = L.lineage_table(spark, run_id, records)
    return res
