"""Checkpointed stage writes and their lineage records (N9/N10).

north_rule: "Every partition emits lineage records (input snapshot id, cell
range, row counts, checksums) to enable checkpoint-resume mid-job."

Design: lineage comes from the checkpoint write itself, so it re-reads
nothing and adds no Spark job, and each stage has one lineage artifact, its
stage record. ``write_stage``

1. deletes the stage's old lineage, so no completion marker outlives a
   rewrite of its data;
2. writes the stage parquet, zstd-compressed, with one ``Observation``
   attached: the row count and the stage checksum;
3. reads the parquet footer of each written part file on the driver: the
   part index, the footer's row count and min/max of the cell column, and a
   64-bit digest of the footer's canonical form;
4. commits ``_lineage/<stage>/_stage.json`` last
   (``sources.io.DriverFS.commit_json``)
   with the rows, the stage checksum, the snapshot id, the written schema,
   the data-write wall, the per-file rows of step 3, the inputs the
   stage was computed from, the metrics of any upstream ``Observation``
   the data write collected (decode's ``quarantined`` count, on J) and any
   fields derived from the written output (J's ``hot_cells``).

Checkpoints are written with zstd, a fixed choice, not a setting: it
stores a feature checkpoint in about two thirds of snappy's bytes (J of
2,000 synth documents: 39 against 62 B per feature) and writes and reads
it no slower.

Every driver-side listing, read and write, the completion check included,
goes through ``sources.io.driver_fs``: the Hadoop filesystem Spark resolves
the path on, for every scheme.

The stage record is the completion marker: a stage is complete iff its
parquet ``_SUCCESS`` and its stage record exist. Resume reuses a complete
stage whose recorded inputs equal the run's, or are None, and reads it
back with the recorded schema, so no job infers the schema from a footer.
A stage without a record, with other inputs, or with a record from before
records held inputs, is recomputed. A run's per-file lineage table
(``lineage_table``) is built from the records that run wrote or reused.

What each checksum covers. The stage checksum is the exact sum of
``xxhash64`` over every row as DECIMAL(38,0). A sum does not depend on row
order or partitioning, and it is multiset-safe: a duplicated or dropped
row changes it. (The per-partition BIT_XOR it replaces cancelled on a
duplicated row pair.) The price is that content integrity is one number
per stage, not one per partition. The per-file footer digest hashes the
footer's metadata as pyarrow decodes it (``FileMetaData.to_dict``), with
each column chunk's ``encodings`` sorted, because parquet-mr writes that
list in an order that varies from JVM to JVM. It pins the file's row count,
byte sizes and offsets, compression and the min/max of every column, and so
is equal across runs on the same data; it sees a changed value only where
the value moves a size or a bound. Map columns are left out of the row
hash, because ``xxhash64`` takes no maps.
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bufr2geojson_spark.schemas import LINEAGE_SCHEMA
from bufr2geojson_spark.sources.io import DriverFS, driver_fs

#: The stage record, written last; its presence marks the stage complete.
STAGE_RECORD = "_stage.json"
#: The parquet codec of every checkpoint.
CODEC = "zstd"

_PART_INDEX = re.compile(r"part-(\d+)")


def content_checksum(df: DataFrame) -> Column:
    """The stage checksum: the sum of ``xxhash64`` over the non-map columns
    of every row of ``df``, exact as DECIMAL(38,0)."""
    cols = [f.name for f in df.schema.fields if f.dataType.typeName() != "map"]
    return F.sum(F.xxhash64(F.struct(*cols)).cast("decimal(38,0)"))


def stage_dir(work_dir: str, run_id: str, stage: str) -> str:
    """Where Spark writes and reads ``stage``'s output."""
    return f"{work_dir}/{run_id}/{stage}"


def stage_record(spark: SparkSession, work_dir: str, run_id: str,
                 stage: str) -> dict | None:
    """The stage record ``write_stage`` committed last for ``stage``, if the
    stage is complete; None otherwise."""
    run = f"{work_dir}/{run_id}"
    fs = driver_fs(spark, run)
    if not fs.is_file(f"{run}/{stage}/_SUCCESS"):
        return None
    return fs.read_json(f"{run}/_lineage/{stage}/{STAGE_RECORD}")


def _file_lineage(fs: DriverFS, path: str, size: int,
                  cell_col: str | None) -> dict:
    """Row count, cell range and footer digest of one parquet file of
    ``size`` bytes, from two reads of its tail: the footer length, then the
    footer with its length and the magic."""
    footer_len = int.from_bytes(fs.read(path, size - 8, 4), "little")
    meta = pq.read_metadata(pa.BufferReader(
        fs.read(path, size - 8 - footer_len, footer_len + 8)))
    cols = [meta.schema.column(i).path for i in range(meta.num_columns)]
    stats = []
    if cell_col in cols:
        i = cols.index(cell_col)
        stats = [meta.row_group(g).column(i).statistics
                 for g in range(meta.num_row_groups)]
        stats = [s for s in stats if s is not None and s.has_min_max]
    canonical = meta.to_dict()
    for group in canonical["row_groups"]:
        for chunk in group["columns"]:
            chunk["encodings"] = sorted(chunk["encodings"])
    return {
        "cell_lo": min(s.min for s in stats) if stats else None,
        "cell_hi": max(s.max for s in stats) if stats else None,
        "row_count": meta.num_rows,
        "checksum": hashlib.blake2b(
            json.dumps(canonical, sort_keys=True, default=str).encode(),
            digest_size=8).hexdigest(),
    }


def write_stage(
    df: DataFrame,
    spark: SparkSession,
    work_dir: str,
    run_id: str,
    stage: str,
    snapshot_id: int,
    cell_col: str | None = None,
    inputs: dict | None = None,
    collects: Observation | None = None,
    derive: Callable[[DataFrame], dict] | None = None,
) -> tuple[DataFrame, dict]:
    """Materialize a stage with its lineage (see the module docstring);
    returns the written output read back with the written schema, so the
    downstream plan cuts here — the checkpoint boundary — and the stage
    record it committed. ``inputs`` is stored in the record for resume to
    compare (``plans.pipeline``). ``collects`` is an ``Observation`` on
    ``df``'s input that this write collects; its metrics join the record.
    It must be on ``df``'s plan: ``Observation.get`` waits for a query
    that runs it, so one behind a checkpoint would wait forever.
    ``derive`` maps the written output to more fields of the record,
    computed before the record commits."""
    out = stage_dir(work_dir, run_id, stage)
    lin = f"{work_dir}/{run_id}/_lineage/{stage}"
    fs = driver_fs(spark, out)
    fs.delete(lin)
    seen = Observation()
    t0 = time.monotonic()
    df.observe(
        seen, F.count(F.lit(1)).alias("rows"),
        content_checksum(df).alias("checksum"),
    ).write.mode("overwrite").option("compression", CODEC).parquet(out)
    wall_ms = int((time.monotonic() - t0) * 1000)
    observed = seen.get

    files = [
        {"partition_id": int(_PART_INDEX.match(uri.rpartition("/")[2])[1]),
         **_file_lineage(fs, uri, size, cell_col)}
        for uri, size in fs.data_files(out)
    ]
    file_rows = sum(f["row_count"] for f in files)
    if file_rows != observed["rows"]:
        raise RuntimeError(
            f"stage {stage}: the written files hold {file_rows} rows, the "
            f"write saw {observed['rows']}"
        )
    written = spark.read.schema(df.schema).parquet(out)
    record = {
        "rows": observed["rows"],
        "checksum": str(observed["checksum"] or 0),
        "snapshot_id": snapshot_id,
        "schema": json.loads(df.schema.json()),
        "wall_ms": wall_ms,
        "files": files,
        "inputs": inputs,
        **(collects.get if collects is not None else {}),
        **(derive(written) if derive is not None else {}),
    }
    fs.commit_json(f"{lin}/{STAGE_RECORD}", record)
    return written, record


def read_stage(spark: SparkSession, work_dir: str, run_id: str, stage: str,
               record: dict) -> DataFrame:
    """A complete stage's output, read with the schema in ``record``, its
    stage record."""
    schema = StructType.fromJson(record["schema"])
    return spark.read.schema(schema).parquet(stage_dir(work_dir, run_id, stage))


def lineage_table(spark: SparkSession, run_id: str,
                  records: dict[str, dict]) -> DataFrame:
    """One ``LINEAGE_SCHEMA`` row per written file of each stage in
    ``records`` (stage → its stage record)."""
    return spark.createDataFrame(
        [(run_id, stage, record["snapshot_id"], f["partition_id"],
          f["cell_lo"], f["cell_hi"], f["row_count"], f["checksum"],
          record["wall_ms"])
         for stage, record in records.items() for f in record["files"]],
        LINEAGE_SCHEMA)
