"""spark-submit entry point for incremental tile maintenance.

Usage:
    spark-submit --py-files bufr2geojson_spark.zip jobs/maintain.py \
        --docs /path/to/documents_parquet --work /path/to/workdir

Each invocation folds only the documents appended to --docs since the last
committed run into the standing tile table under {work}/tiles (crash-safe:
see bufr2geojson_spark/plans/maintenance.py). Prints one JSON summary line.
"""

from __future__ import annotations

import _launch  # noqa: F401  first: puts the package on the path

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--work", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from bufr2geojson_spark.plans.maintenance import run_maintenance

    spark = (
        SparkSession.builder.appName("b2g-maintain")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    try:
        print(json.dumps(run_maintenance(spark, args.docs, args.work)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
