"""Structured Streaming ingest: micro-batch document decode + standing tiles.

The reference is purely batch (a generator over one file,
``bufr2geojson/__init__.py:1179-1310``); streaming is the engine-side
extension SURVEY.md §2.3 defers to: new document files land in a directory
(the stand-in for an Iceberg append snapshot), each micro-batch runs the SAME
stage functions as the batch pipeline (``plans.maintenance.delta_features``:
decode → cell encode), and three ``foreachBatch`` + ``Trigger.AvailableNow``
sinks are offered:

* ``run_ingest_once`` — drain everything currently in the source, write
  decoded features parquet in W's layout (one cell range per file), then stop.
  Exactly-once per micro-batch via the checkpoint dir; re-running resumes
  from the last committed offset (the streaming analogue of the batch
  pipeline's lineage-resume).
* ``run_tile_maintenance_once`` — fold each micro-batch into the standing
  tile table with ``plans.maintenance.fold_tiles``, the same fold and
  manifest commit ``jobs/maintain.py`` uses (``standing_tiles`` reads it).
* ``run_dedup_ingest_once`` — ``run_ingest_once`` with retransmitted
  reports dropped by ``dedup_reports_stream``.

All transformations are the stateless batch stages (mapInPandas / pandas
UDFs work unchanged on streaming DataFrames); only the watermarked dedup
is stateful, and that state lives in Spark's HDFS-backed state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bufr2geojson_spark.operators.tiles import range_partition_by_cell
from bufr2geojson_spark.plans.maintenance import (
    delta_features,
    fold_tiles,
    load_state,
)
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


def event_time(features: DataFrame) -> DataFrame:
    """Parse phenomenon_time (instant or 'start/end' period → end) into a
    proper event-time column for watermarking."""
    pt = F.col("phenomenon_time")
    instant = F.when(
        pt.contains("/"), F.element_at(F.split(pt, "/"), 2)
    ).otherwise(pt)
    # try_to_timestamp: the decoder deliberately preserves the reference's
    # "Invalid date (...)" message string as phenomenon_time for docs with
    # missing date qualifiers (reference :543-549); under Spark 4's default
    # ANSI mode a plain to_timestamp would abort the whole stream on it
    # instead of yielding null.
    # The trailing Z is parsed as a ZONE ('X'), not a literal: a literal 'Z'
    # would interpret the instant in the session timezone, so any caller not
    # pinning spark.sql.session.timeZone=UTC would get shifted epochs and
    # window boundaries.
    return features.withColumn(
        "event_ts", F.try_to_timestamp(instant, F.lit("yyyy-MM-dd'T'HH:mm:ssX"))
    )


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

    feats = delta_features(read_document_stream(spark, input_path))
    return _drain(feats, sink, checkpoint_path)


def dedup_reports_stream(
    features: DataFrame,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact-dedup of retransmitted reports: keep the first
    arrival of each (report_id, feature index) within the event-time
    watermark. Uses ``dropDuplicatesWithinWatermark`` — state holds one
    key per feature seen in the watermark horizon and is dropped once the
    watermark passes it, so state is bounded by (arrival rate × horizon),
    never the stream's lifetime. The key is the decoder's md5 report identity
    (one per subset), so a bulletin retransmitted by an upstream broker
    deduplicates even when its document id differs.

    Features whose phenomenon_time cannot be parsed (the reference's
    'Invalid date (...)' quirk) have no event time to bound state with, so
    they BYPASS the watermark dedup and pass through unchanged (at-least-
    once for that sliver rather than silent data loss; the sink can still
    dedup them within each micro-batch — run_dedup_ingest_once does)."""
    with_ts = event_time(features)
    deduped = (
        with_ts.filter(F.col("event_ts").isNotNull())
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["report_id", "index"])
    )
    return deduped.unionByName(
        with_ts.filter(F.col("event_ts").isNull())
    )


def run_dedup_ingest_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    watermark: str = "2 hours",
) -> int:
    """AvailableNow drain: decode + streaming report-dedup + idempotent
    per-batch parquet append (same exactly-once shape as run_ingest_once)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch exact dedup mops up the pass-through sliver (invalid-
        # date reports bypass the watermarked state); idempotent on the
        # already-deduped rows
        (
            batch_df.dropDuplicates(["report_id", "index"])
            .write.mode("overwrite")
            .parquet(f"{output_path}/batch_id={batch_id}")
        )

    feats = dedup_reports_stream(
        delta_features(read_document_stream(spark, input_path)),
        watermark=watermark,
    )
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

    feats = delta_features(read_document_stream(spark, input_path))
    return _drain(feats, sink, checkpoint_path)
