"""spark-submit entry point for the full pipeline (north_rule launch path).

Usage:
    spark-submit --py-files bufr2geojson_spark.zip jobs/pipeline.py \
        --docs /path/to/documents_parquet   (or --synth N) \
        --work /path/to/workdir --run-id run1 [--resume]

Build the engine zip from the repository root with:
zip -r bufr2geojson_spark.zip bufr2geojson_spark

Runs and checkpoints J, A and W (``PipelineConfig``'s default): decode,
cells, PIP and kNN run as one pass into J, so ``--resume`` restarts from J,
A or W.
"""

from __future__ import annotations

import _launch  # noqa: F401  first: puts the package on the path

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", default=None, help="documents parquet path")
    ap.add_argument("--synth", type=int, default=0,
                    help="synthesize N documents instead of reading --docs")
    ap.add_argument("--stations", type=int, default=None,
                    help="station count when synthesizing")
    ap.add_argument("--work", required=True)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()

    if not args.docs and not args.synth:
        raise SystemExit("one of --docs or --synth is required")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("bufr2geojson-spark-pipeline")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    from bufr2geojson_spark.plans.pipeline import run_pipeline
    from bufr2geojson_spark.sources.io import read_snapshot
    from bufr2geojson_spark.sources.synth import (
        default_n_stations,
        synth_documents,
        synth_region_polygons,
        synth_stations,
    )

    if args.synth:
        docs = synth_documents(spark, args.synth, partitions=args.partitions)
        n_st = args.stations or default_n_stations(args.synth)
        snapshot_id = args.synth
    else:
        docs, snapshot_id = read_snapshot(spark, args.docs)
        n_st = args.stations or 2000
    stations = synth_stations(spark, n_st)
    polygons = synth_region_polygons(spark)

    t0 = time.monotonic()
    res = run_pipeline(
        spark, docs, stations, polygons, args.work, args.run_id,
        snapshot_id=snapshot_id, resume=args.resume,
    )
    n_features = res.features.count() if res.features is not None else 0
    n_tiles = res.tiles.count() if res.tiles is not None else 0
    wall = time.monotonic() - t0
    print(json.dumps({
        "run_id": args.run_id,
        "snapshot_id": res.snapshot_id,
        "features": n_features,
        "tiles": n_tiles,
        "executed": res.executed,
        "skipped": res.skipped,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round((n_features + n_tiles) / wall, 1) if wall else 0,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
