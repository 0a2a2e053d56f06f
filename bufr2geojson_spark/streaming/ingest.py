"""Structured Streaming ingest: micro-batch document decode + standing tiles.

The reference is purely batch (a generator over one file,
``bufr2geojson/__init__.py:1179-1310``); streaming is the engine-side
extension SURVEY.md §2.3 defers to: new document files land in a directory
(the stand-in for an Iceberg append snapshot), each micro-batch runs the SAME
stage functions as the batch pipeline (decode → cell encode), and three
``foreachBatch`` + ``Trigger.AvailableNow`` sinks are offered:

* ``run_ingest_once`` — drain everything currently in the source, write
  decoded features parquet partitioned by ``cell_prefix``, then stop.
  Exactly-once per micro-batch via the checkpoint dir; re-running resumes
  from the last committed offset (the streaming analogue of the batch
  pipeline's lineage-resume).
* ``run_tile_maintenance_once`` — fold each micro-batch's tile aggregates
  into a standing tile table versioned by batch id (``read_standing_tiles``
  reads the latest version).
* ``run_dedup_ingest_once`` — ``run_ingest_once`` with retransmitted
  reports dropped by ``dedup_reports_stream``.

All transformations are the stateless batch stages (mapInPandas / pandas
UDFs work unchanged on streaming DataFrames); only the watermarked dedup
is stateful, and that state lives in Spark's HDFS-backed state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
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


def decode_stream(stream_docs: DataFrame, **decode_kw) -> DataFrame:
    """Stage D+T on a stream — identical functions as batch (stateless)."""
    feats = decode_documents(stream_docs, **decode_kw).filter("error is null")
    return with_cells(feats)


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


def run_ingest_once(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    **decode_kw,
) -> int:
    """Drain the source with AvailableNow; per micro-batch, decode + tile-encode
    and append parquet partitioned by cell_prefix. Returns batches committed
    this run (0 on a resume with nothing new — the exactly-once contract)."""
    stream = read_document_stream(spark, input_path)
    feats = decode_stream(stream, **decode_kw)
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent per-batch write: foreachBatch alone is only
        # at-least-once (a crash between the append and the offset commit
        # replays the batch); scoping each batch to its own overwritten
        # directory makes the replay rewrite the same files instead of
        # duplicating rows — that, plus the checkpointed offsets, is the
        # exactly-once contract
        (
            batch_df.write.mode("overwrite")
            .partitionBy("cell_prefix")
            .parquet(f"{output_path}/batch_id={batch_id}")
        )
        n_batches["n"] += 1

    q = (
        feats.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


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
    **decode_kw,
) -> int:
    """AvailableNow drain: decode + streaming report-dedup + idempotent
    per-batch parquet append (same exactly-once shape as run_ingest_once)."""
    stream = read_document_stream(spark, input_path)
    feats = dedup_reports_stream(decode_stream(stream, **decode_kw),
                                 watermark=watermark)
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # per-batch exact dedup mops up the pass-through sliver (invalid-
        # date reports bypass the watermarked state); idempotent on the
        # already-deduped rows
        (
            batch_df.dropDuplicates(["report_id", "index"])
            .write.mode("overwrite")
            .parquet(f"{output_path}/batch_id={batch_id}")
        )
        n_batches["n"] += 1

    q = (
        feats.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def run_tile_maintenance_once(
    spark: SparkSession,
    input_path: str,
    table_path: str,
    checkpoint_path: str,
    **decode_kw,
) -> int:
    """Continuous-aggregate maintenance: drain new documents (AvailableNow),
    and per micro-batch fold the batch's tile aggregates into the standing
    tile table with ``tile_merge`` — history is never rescanned.

    The standing table is versioned by batch id
    (``{table_path}/v=<batch_id>``): each batch writes
    ``merge(latest version < batch_id, agg(batch))``, so a replayed batch
    (foreachBatch is at-least-once between append and offset commit)
    recomputes from the SAME predecessor and overwrites the SAME version —
    idempotent, the exactly-once contract of ``run_ingest_once`` extended
    to cumulative state. Readers take the max version. Returns batches
    committed this run."""
    from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_merge

    stream = read_document_stream(spark, input_path)
    feats = decode_stream(stream, **decode_kw)
    n_batches = {"n": 0}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        delta = tile_aggregate(batch_df, cell_col="cell_s2",
                               value_col="result_value")
        prev = [v for v in _tile_versions(table_path) if v < batch_id]
        if prev:
            standing = spark.read.parquet(f"{table_path}/v={prev[-1]}")
            merged = tile_merge(standing, delta, cell_col="cell_s2")
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(f"{table_path}/v={batch_id}")
        n_batches["n"] += 1

    q = (
        feats.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]


def _tile_versions(table_path: str) -> list[int]:
    """Sorted batch-id versions of a maintained tile table (one listing
    routine shared by writer and reader so they can never disagree on the
    version layout)."""
    import os
    import re

    if not os.path.isdir(table_path):
        return []
    out = []
    for d in os.listdir(table_path):
        m = re.fullmatch(r"v=(\d+)", d)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_standing_tiles(spark: SparkSession, table_path: str) -> DataFrame:
    """Latest version of the maintained tile table."""
    vs = _tile_versions(table_path)
    if not vs:
        raise FileNotFoundError(f"no tile versions under {table_path}")
    return spark.read.parquet(f"{table_path}/v={vs[-1]}")
