"""The full spatial-join + tiling pipeline with checkpoint-resume (§3.4).

Stage graph, in execution order:

    D  decode          mapInPandas fold (R5-R24); error rows dropped after it
    T  tile-encode     H3/S2 cell UDFs + cell_prefix (narrow)
    J  spatial joins   broadcast PIP (N3) + kNN ring expansion (N4) (narrow)
    A  tile agg        every tile level from one groupBy, salted on J's hot
                       cells (N5/N7): one shuffle when J has none
    W  final write     repartitionByRange(cell_prefix, cell), AQE-sized (N8)

A run executes a prefix of the graph. J, A and W are always checkpoints
(parquet + stage record); D and T are checkpoints only when asked, and
otherwise fuse into J's single pass. So A and W both read J's parquet, and
any other choice of stages is rejected before a Spark job starts. The
engine's parameters (cell levels, kNN grid, salting, rollup levels) are
``PipelineConfig`` class constants, not settings: batch, incremental and
streaming tiles all run with the same ones.

Launched via ``spark-submit --py-files`` (see jobs/pipeline.py) per the
north rule. A resumed run (same work_dir + run_id) reuses a complete stage
whose record holds this run's inputs — the documents' snapshot id, the
checksum of the checkpoint it reads and the feature row format
(``ROW_FORMAT``) — or none (written outside ``run_pipeline``); it
recomputes any other stage, and so every stage reading a recomputed
checkpoint with a new checksum: the checkpoint-resume contract (N10,
records in ``plans/lineage.py``). The ``stations`` and ``polygons`` tables
are not inputs: a resume after either changed reuses J, A and W.

The first checkpoint written after decode (J, unless T is a checkpoint)
also records the quarantine rows decode dropped (``quarantined``),
observed on the decode output and collected by that checkpoint's own data
write. J's record also holds ``hot_cells``, J's base cells above
``hot_threshold`` (``hot_set``, one job on the written J), which A salts:
a run that resumes from J runs no hot-cell job. A J whose record lacks the
field (written by ``write_stage`` alone, or before records held it) makes
A find the set itself, as the incremental drivers' A always does.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import ClassVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.operators.spatial import assign_region, knn_join
from bufr2geojson_spark.operators.tiles import (
    hot_cells,
    range_partition_by_cell,
    tile_pyramid,
)
from bufr2geojson_spark.plans import lineage as L
from bufr2geojson_spark.schemas import FEATURE_SCHEMA

#: The stage graph in execution order (see the module docstring).
STAGES = ("D", "T", "J", "A", "W")
#: The stages that are always checkpoints when they run.
_ALWAYS_CHECKPOINTED = ("J", "A", "W")
#: A fingerprint of the feature row, part of every stage's inputs: a
#: checkpoint written in another row format is recomputed, not reused.
ROW_FORMAT = hashlib.blake2b(FEATURE_SCHEMA.json().encode(),
                             digest_size=8).hexdigest()


@dataclass
class PipelineConfig:
    """Which stages run and which of them are checkpoints. The engine's
    parameters are fixed class constants, so every chain (batch,
    incremental, streaming) runs with the same ones; they stay on the
    class because the benchmark reads them from its config."""

    s2_level: ClassVar[int] = 14
    hex_res: ClassVar[int] = 7
    prefix_bits: ClassVar[int] = 12
    knn_k: ClassVar[int] = 1
    knn_grid_deg: ClassVar[float] = 2.0
    salt_buckets: ClassVar[int] = 16
    hot_threshold: ClassVar[int] = 200
    rollup_levels: ClassVar[tuple] = (10, 6)
    # W's range-partition count: None lets AQE size the range exchange from
    # the data (it coalesces adjacent ranges, so files stay disjoint)
    output_partitions: ClassVar[int | None] = None
    result_time: ClassVar[str] = "2024-12-19 00:00:00"
    guess_wsi: ClassVar[bool] = True

    # The stages to run: a prefix of STAGES.
    stages: tuple = STAGES
    # Stages that materialize (parquet + stage record = resume points). It
    # must hold every stage from J on that runs; D and T are the choice.
    # Left out, they fuse into J's pass — D/T/J are all narrow, so decode,
    # cells and joins run as ONE pass with a single feature-table write
    # instead of three (at 100 TB each extra checkpoint is a full table
    # write+read); STAGES makes D and T resume points too.
    checkpoint_stages: tuple = _ALWAYS_CHECKPOINTED


def decode_stage(docs: DataFrame) -> DataFrame:
    """D: decoded feature rows plus quarantine rows (``error`` set)."""
    return decode_documents(
        docs, guess_wsi=PipelineConfig.guess_wsi,
        result_time=PipelineConfig.result_time,
    )


def cell_stage(features: DataFrame) -> DataFrame:
    """T: cell_s2 / cell_h3 / cell_prefix on the good feature rows."""
    return with_cells(
        features,
        s2_level_=PipelineConfig.s2_level,
        hex_res_=PipelineConfig.hex_res,
        prefix_bits=PipelineConfig.prefix_bits,
    )


def hot_set(features: DataFrame) -> list[int]:
    """The base cells of ``features`` holding more than ``hot_threshold``
    rows, sorted (a null cell is never salted): one job."""
    hot = hot_cells(features, "cell_s2", PipelineConfig.hot_threshold)
    return sorted(r[0] for r in hot.select("cell_s2").collect()
                  if r[0] is not None)


def tile_stage(features: DataFrame, hot: list[int] | None = None) -> DataFrame:
    """A: per-cell tiles at ``s2_level`` plus every rollup level, one row per
    (level, cell), from one aggregation salted on ``hot``, the hot set of
    ``features`` (``hot_set``; found here when not given). Reads only the T
    columns, so the incremental drivers (``plans/maintenance.py``) run it
    on T output directly."""
    if hot is None:
        hot = hot_set(features)
    return tile_pyramid(
        features, PipelineConfig.s2_level, list(PipelineConfig.rollup_levels),
        hot, cell_col="cell_s2", value_col="result_value",
        salt_buckets=PipelineConfig.salt_buckets,
    )


@dataclass
class PipelineResult:
    features: DataFrame | None = None
    tiles: DataFrame | None = None
    lineage: DataFrame | None = None
    skipped: list = field(default_factory=list)
    executed: list = field(default_factory=list)
    snapshot_id: int = 0


def _check_stages(conf: PipelineConfig) -> None:
    """Raise ``ValueError`` unless ``conf.stages`` is a prefix of
    ``STAGES`` and ``conf.checkpoint_stages`` names only stages, among them
    every stage from J on that runs."""
    stages, ckpt = tuple(conf.stages), tuple(conf.checkpoint_stages)
    if stages != STAGES[:len(stages)]:
        raise ValueError(f"stages must be a prefix of {STAGES}, got {stages}")
    unknown = [s for s in ckpt if s not in STAGES]
    if unknown:
        raise ValueError(f"checkpoint_stages names no stage: {unknown}")
    fused = [s for s in stages if s in _ALWAYS_CHECKPOINTED and s not in ckpt]
    if fused:
        raise ValueError(
            f"stages {fused} run but are not in checkpoint_stages {ckpt}: "
            f"{_ALWAYS_CHECKPOINTED} are always checkpoints")


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
    _check_stages(conf)
    res = PipelineResult(snapshot_id=snapshot_id)
    # a checkpoint's inputs: the documents' snapshot and the checksum of the
    # checkpoint `features` was read from
    upstream = None
    # the quarantine count observed on decode's output, until a checkpoint
    # cuts the plan: the first checkpoint written after decode (J, unless T
    # is one) collects it and records it, with no job of its own
    pending = None
    records = {}  # stage -> the record this run wrote or reused

    def do(stage: str, compute, **wkw) -> DataFrame:
        nonlocal upstream, pending
        if stage not in conf.checkpoint_stages:
            # lazy D or T: fuses into J's pass (or is returned lazy)
            res.executed.append(f"{stage}~fused")
            return compute()
        inputs = {"snapshot_id": snapshot_id, "upstream": upstream,
                  "row_format": ROW_FORMAT}
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
                                        collects=pending, **wkw)
            res.executed.append(stage)
        pending = None
        records[stage] = record
        if stage != "A":  # A's tiles are no later stage's input
            upstream = record["checksum"]
        return out

    features = None
    if "D" in conf.stages:  # decode; quarantine rows (error set) drop here
        decoded = do("D", lambda: decode_stage(docs))
        pending = Observation("quarantine")
        features = decoded.observe(
            pending, F.count("error").alias("quarantined"),
        ).filter("error is null")
    if "T" in conf.stages:  # cell encoding
        features = do("T", lambda: cell_stage(features),
                      cell_col="cell_s2")
    if "J" in conf.stages:  # PIP + kNN, the first checkpoint A and W read
        features = do(
            "J",
            lambda: knn_join(
                assign_region(features, polygons),
                stations, k=PipelineConfig.knn_k,
                grid_deg=PipelineConfig.knn_grid_deg,
            ),
            cell_col="cell_s2",
            derive=lambda j: {"hot_cells": hot_set(j)},
        )
    if "A" in conf.stages:  # every tile level, salted on J's hot cells
        res.tiles = do("A", lambda: tile_stage(
            features, records["J"].get("hot_cells")), cell_col="cell")
    if "W" in conf.stages:  # range-partitioned final feature table
        features = do(
            "W",
            lambda: range_partition_by_cell(
                features, PipelineConfig.output_partitions, "cell_s2",
                "cell_prefix",
            ),
            cell_col="cell_s2",
        )
    res.features = features
    res.lineage = L.lineage_table(spark, run_id, records)
    return res
