"""Per-partition lineage records + checkpointed stage writes (N9/N10).

north_rule: "Every partition emits lineage records (input snapshot id, cell
range, row counts, checksums) to enable checkpoint-resume mid-job."

Design: each pipeline stage materializes to parquet; lineage is computed on
the *materialized* output (a re-read), so partition ids and checksums
describe exactly the bytes a resumed run will consume. The checksum is an
order-insensitive 64-bit content fingerprint: BIT_XOR of ``xxhash64`` over
the row struct, all JVM-side (one tiny shuffle of pre-aggregated partials;
the analogue at 100 TB costs one integer per input partition). XOR is
commutative and overflow-free under ANSI mode, but it is not multiset-safe:
a row present an even number of times cancels out, so duplicated row pairs
are invisible to the checksum (``row_count`` still sees them). A stage is
"complete" iff its parquet ``_SUCCESS`` marker AND its lineage table exist —
resume skips complete stages and re-reads their output.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bufr2geojson_spark.schemas import LINEAGE_SCHEMA
from bufr2geojson_spark.sources.io import fs_exists, list_subdirs


def lineage_of(
    df: DataFrame,
    run_id: str,
    stage: str,
    snapshot_id: int,
    cell_col: str | None = None,
    wall_ms: int = 0,
) -> DataFrame:
    """One lineage row per physical partition of ``df``."""
    hashable = [
        f.name for f in df.schema.fields
        if f.dataType.typeName() not in ("map",)
    ]
    cell_lo = (
        F.min(cell_col).cast("long") if cell_col and cell_col in df.columns
        else F.lit(None).cast("long")
    )
    cell_hi = (
        F.max(cell_col).cast("long") if cell_col and cell_col in df.columns
        else F.lit(None).cast("long")
    )
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("row_count"),
            F.format_string(
                "%016x", F.bit_xor(F.xxhash64(F.struct(*hashable)))
            ).alias("checksum"),
            cell_lo.alias("cell_lo"),
            cell_hi.alias("cell_hi"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            F.lit(snapshot_id).cast("long").alias("snapshot_id"),
            "partition_id",
            "cell_lo",
            "cell_hi",
            "row_count",
            "checksum",
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )


def stage_paths(work_dir: str, run_id: str, stage: str) -> tuple[str, str]:
    return (
        f"{work_dir}/{run_id}/{stage}",
        f"{work_dir}/{run_id}/_lineage/{stage}",
    )


def stage_complete(spark: SparkSession, work_dir: str, run_id: str,
                   stage: str) -> bool:
    out, lin = stage_paths(work_dir, run_id, stage)
    return fs_exists(spark, f"{out}/_SUCCESS") and fs_exists(
        spark, f"{lin}/_SUCCESS"
    )


def write_stage(
    df: DataFrame,
    spark: SparkSession,
    work_dir: str,
    run_id: str,
    stage: str,
    snapshot_id: int,
    cell_col: str | None = None,
) -> DataFrame:
    """Materialize a stage + its lineage; returns the re-read output (so the
    downstream plan cuts here — the checkpoint boundary). The re-read uses
    the schema just written instead of inferring it from a file footer."""
    out, lin = stage_paths(work_dir, run_id, stage)
    t0 = time.monotonic()
    df.write.mode("overwrite").parquet(out)
    wall_ms = int((time.monotonic() - t0) * 1000)
    materialized = spark.read.schema(df.schema).parquet(out)
    lineage_of(
        materialized, run_id, stage, snapshot_id, cell_col, wall_ms
    ).write.mode("overwrite").parquet(lin)
    return materialized


def read_stage(spark: SparkSession, work_dir: str, run_id: str,
               stage: str) -> DataFrame:
    out, _ = stage_paths(work_dir, run_id, stage)
    return spark.read.parquet(out)


def read_lineage(spark: SparkSession, work_dir: str, run_id: str) -> DataFrame:
    """Every lineage table of ``run_id`` (empty if it has none). The stage
    directories are listed rather than globbed: Spark probes a single glob
    path for streaming metadata and logs a FileNotFoundException for it."""
    stages = list_subdirs(spark, f"{work_dir}/{run_id}/_lineage")
    return spark.read.schema(LINEAGE_SCHEMA).parquet(*stages)
