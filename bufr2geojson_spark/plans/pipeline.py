"""The full spatial-join + tiling pipeline with checkpoint-resume (§3.4).

Stage graph, in execution order:

    J  features        one narrow pass: decode (mapInPandas fold, R5-R24),
                       quarantine rows dropped, H3/S2 cells + cell_prefix
                       (``feature_pass``), then broadcast PIP (N3) + kNN
                       ring expansion (N4)
    A  tile agg        every tile level from one groupBy, salted on J's hot
                       cells (N5/N7): one shuffle when J has none
    W  final write     repartitionByRange(cell_prefix, cell), AQE-sized (N8)

Every stage is a checkpoint (parquet + stage record), and a run executes
J, J-A or J-A-W; A and W both read J's parquet. ``STAGES`` names decode
(D) and cell encoding (T) ahead of J, and ``PipelineConfig`` takes
``checkpoint_stages``, only for callers that pass them: ``_check_stages``
accepts the three configurations above and rejects anything else before
a Spark job starts. The engine's parameters (cell levels, kNN grid, salting, rollup
levels) are ``PipelineConfig`` class constants, not settings: batch,
incremental and streaming features and tiles all run with the same ones,
through the same ``feature_pass``.

Launched via ``spark-submit --py-files`` (see jobs/pipeline.py) per the
north rule. A resumed run (same work_dir + run_id) reuses a complete stage
whose record holds this run's inputs — the documents' snapshot id, the
checksum of the checkpoint it reads (none for J) and the feature row
format (``ROW_FORMAT``) — or none (written outside ``run_pipeline``); it
recomputes any other stage, and so every stage reading a recomputed
checkpoint with a new checksum: the checkpoint-resume contract (N10,
records in ``plans/lineage.py``). The ``stations`` and ``polygons`` tables
are not inputs: a resume after either changed reuses J, A and W.

J's record also holds the quarantine rows decode dropped
(``quarantined``), observed in the feature pass and collected by J's own
data write, and ``hot_cells``, J's base cells above ``hot_threshold``
(``hot_set``, one job on the written J), which A salts: a run that resumes
from J runs no hot-cell job. A J whose record lacks the field (written by
``write_stage`` alone, or before records held it) makes A find the set
itself, as the incremental drivers' A always does.
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

#: The stage graph in execution order (see the module docstring). D and T
#: name J's decode and cell steps; neither is a checkpoint.
STAGES = ("D", "T", "J", "A", "W")
#: The stage configurations a run accepts: each stage prefix that reaches J,
#: with its checkpoints, the J/A/W stages it names.
_LEGAL_STAGES = {STAGES[:n]: STAGES[2:n] for n in (3, 4, 5)}
#: A fingerprint of the feature row, part of every stage's inputs: a
#: checkpoint written in another row format is recomputed, not reused.
ROW_FORMAT = hashlib.blake2b(FEATURE_SCHEMA.json().encode(),
                             digest_size=8).hexdigest()


@dataclass
class PipelineConfig:
    """Which stages run. The engine's parameters are fixed class constants,
    so every chain (batch, incremental, streaming) runs with the same ones;
    they stay on the class because the benchmark reads them from its
    config."""

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

    # The stages to run: STAGES up to J, A or W.
    stages: tuple = STAGES
    # The checkpoints: exactly the J/A/W stages that run (see _LEGAL_STAGES).
    checkpoint_stages: tuple = STAGES[2:]


def feature_pass(docs: DataFrame,
                 quarantine: Observation | None = None) -> DataFrame:
    """Decode ``docs``, drop the quarantine rows (``error`` set) and add
    cell_s2 / cell_h3 / cell_prefix: one narrow pass, J's input and the
    incremental drivers' features. ``quarantine``, when given, observes the
    dropped rows' count as ``quarantined`` on the write that runs the
    pass."""
    decoded = decode_documents(
        docs, guess_wsi=PipelineConfig.guess_wsi,
        result_time=PipelineConfig.result_time,
    )
    if quarantine is not None:
        decoded = decoded.observe(
            quarantine, F.count("error").alias("quarantined"))
    return with_cells(
        decoded.filter("error is null"),
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
    ``features`` (``hot_set``; found here when not given). Reads only the
    cell and value columns, so the incremental drivers
    (``plans/maintenance.py``) run it on ``feature_pass`` output directly."""
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
    """Raise ``ValueError`` unless ``conf`` is one of ``_LEGAL_STAGES``."""
    got = (tuple(conf.stages), tuple(conf.checkpoint_stages))
    if got not in _LEGAL_STAGES.items():
        raise ValueError(f"(stages, checkpoint_stages) must be one of "
                         f"{list(_LEGAL_STAGES.items())}, got {got}")


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
    # checkpoint `features` was read from (none for J)
    upstream = None
    records = {}  # stage -> the record this run wrote or reused

    def do(stage: str, compute, **wkw) -> DataFrame:
        nonlocal upstream
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
                                        **wkw)
            res.executed.append(stage)
        records[stage] = record
        if stage != "A":  # A's tiles are no later stage's input
            upstream = record["checksum"]
        return out

    # the feature pass, PIP and kNN, the checkpoint A and W read; its write
    # collects the quarantine count with no job of its own
    quarantine = Observation("quarantine")
    features = do(
        "J",
        lambda: knn_join(
            assign_region(feature_pass(docs, quarantine), polygons),
            stations, k=PipelineConfig.knn_k,
            grid_deg=PipelineConfig.knn_grid_deg,
        ),
        cell_col="cell_s2",
        collects=quarantine,
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
