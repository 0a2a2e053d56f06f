"""Structured Streaming ingest: micro-batch document decode + standing tiles.

The reference is purely batch (a generator over one file,
``bufr2geojson/__init__.py:1179-1310``); streaming is the engine-side
extension SURVEY.md §2.3 defers to: new document files land in a directory
(the stand-in for an Iceberg append snapshot), each micro-batch runs the SAME
feature pass as the batch pipeline's J (``plans.pipeline.feature_pass``:
decode → quarantine rows dropped → cell encode), and two ``foreachBatch`` +
``Trigger.AvailableNow`` sinks are offered:

* ``run_ingest_once`` — drain everything currently in the source, write
  decoded features parquet in W's layout (one cell range per file), then stop.
  Exactly-once per micro-batch via the checkpoint dir; re-running resumes
  from the last committed offset (the streaming analogue of the batch
  pipeline's lineage-resume).
* ``run_tile_maintenance_once`` — fold each micro-batch into the standing
  tile table with ``plans.maintenance.fold_tiles``, the same fold and
  manifest commit ``jobs/maintain.py`` uses (``standing_tiles`` reads it).

All transformations are the stateless batch steps (mapInPandas / pandas
UDFs work unchanged on streaming DataFrames).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bufr2geojson_spark.operators.tiles import range_partition_by_cell
from bufr2geojson_spark.plans.maintenance import fold_tiles, load_state
from bufr2geojson_spark.plans.pipeline import feature_pass
from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA


def read_document_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source document stream (each new parquet file = one append)."""
    reader = spark.readStream.schema(DOCUMENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _drain(feats: DataFrame, sink, checkpoint_path: str) -> int:
    """Run ``sink(batch_df, batch_id)`` on every micro-batch of ``feats``
    available now (``Trigger.AvailableNow``), then stop. Returns batches run
    (0 on a resume with nothing new)."""
    n = 0

    def counted(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n
        sink(batch_df, batch_id)
        n += 1

    q = (
        feats.writeStream.foreachBatch(counted)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n


def run_ingest_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
) -> int:
    """Drain the source with AvailableNow; per micro-batch, decode + tile-encode
    and write parquet range-partitioned by cell like W. Returns batches
    committed this run (0 on a resume with nothing new — the exactly-once
    contract)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent per-batch write: foreachBatch alone is only
        # at-least-once (a crash between the append and the offset commit
        # replays the batch); scoping each batch to its own overwritten
        # directory makes the replay rewrite the same files instead of
        # duplicating rows — that, plus the checkpointed offsets, is the
        # exactly-once contract
        range_partition_by_cell(
            batch_df, None, "cell_s2", "cell_prefix"
        ).write.mode("overwrite").parquet(f"{output_path}/batch_id={batch_id}")

    feats = feature_pass(read_document_stream(spark, input_path))
    return _drain(feats, sink, checkpoint_path)


def run_tile_maintenance_once(
    spark: SparkSession,
    input_path: str,
    work: str,
    checkpoint_path: str,
) -> int:
    """Continuous-aggregate maintenance: drain new documents (AvailableNow),
    and fold each micro-batch into the standing tile table under ``work``
    with ``fold_tiles`` as version ``batch_id`` — history is never
    rescanned. Returns batches run.

    foreachBatch is at-least-once: a crash between the sink and the offset
    commit replays the batch. A replay after the manifest commit finds its
    batch id already committed and is skipped; a replay before it finds the
    old manifest, so it recomputes from the SAME predecessor and overwrites
    the SAME version — the exactly-once contract of ``run_ingest_once``
    extended to cumulative state."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        state = load_state(spark, work)
        if state is None or batch_id > state["version"]:
            # the stream's source offsets live in the checkpoint, so the
            # manifest records no files
            fold_tiles(spark, work, batch_df, batch_id, {})

    feats = feature_pass(read_document_stream(spark, input_path))
    return _drain(feats, sink, checkpoint_path)
