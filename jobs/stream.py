"""spark-submit entry point for the Structured Streaming ingest.

Usage:
    spark-submit --py-files bufr2geojson_spark.zip jobs/stream.py \
        --input /path/to/doc_parquet_dir --output /path/to/output \
        --checkpoint /path/to/ckpt [--mode ingest|tiles]

--mode ingest (default): AvailableNow drain — decode + cell-encode every
new document file, append features parquet range-partitioned by cell (the
batch pipeline's W layout) under --output, exactly-once via the checkpoint
dir (re-running with nothing new is a no-op). --mode tiles: --output is a
work dir holding manifest.json and tiles/v=<batch>; each micro-batch's
stage-A tiles are folded into the committed version (streaming continuous
aggregate; see plans/maintenance.py). Prints one JSON summary line.
"""

from __future__ import annotations

import _launch  # noqa: F401  first: puts the package on the path

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--mode", choices=("ingest", "tiles"), default="ingest")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from bufr2geojson_spark.streaming.ingest import (
        run_ingest_once,
        run_tile_maintenance_once,
    )

    spark = (
        SparkSession.builder.appName(f"b2g-stream-{args.mode}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    try:
        if args.mode == "ingest":
            n = run_ingest_once(spark, args.input, args.output,
                                args.checkpoint)
        else:
            n = run_tile_maintenance_once(spark, args.input, args.output,
                                          args.checkpoint)
        print(json.dumps({"mode": args.mode, "batches": n}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
