"""spark-submit entry point for the iterative analytics operators
(dedup connected components, DBSCAN, PageRank, k-core).

These are the operators whose driver loops materialize per-round state
(operators/_iterate.py). On a real cluster with lossy executors that
materialization must be ``checkpoint()`` against a fault-tolerant dir, not
``localCheckpoint()`` — round-4 verdict #8: expose that switch on the
spark-submit surface so the cluster story is end-to-end without code edits.

Usage:
    spark-submit --py-files bufr2geojson_spark.zip jobs/analytics.py \
        --op dedup-cc --docs /path/documents_parquet --out /path/out \
        [--reliable-checkpoint --checkpoint-dir hdfs://.../ckpt]

    --op dedup-cc   needs --docs   (doc_id, text, ...)
    --op dbscan     needs --points (pid, lat, lon)  [--eps-km --min-pts]
    --op pagerank   needs --edges  (u, v)           [--iters]
    --op kcore      needs --edges  (u, v)           [--k]

Prints one JSON summary line; writes the result parquet to --out.
"""

from __future__ import annotations

import _launch  # noqa: F401  first: puts the package on the path

import argparse
import json
import time

OPS = ("dedup-cc", "dbscan", "pagerank", "kcore")


def build_result(spark, args):
    """Resolve --op to a result DataFrame (split out for tests)."""
    if args.op == "dedup-cc":
        from bufr2geojson_spark.operators.textops import (
            connected_components, lsh_candidate_pairs)
        if not args.docs:
            raise SystemExit("--op dedup-cc requires --docs")
        docs = spark.read.parquet(args.docs)
        pairs = lsh_candidate_pairs(
            docs, num_hashes=args.num_hashes, bands=args.bands,
            shingle_k=args.shingle_k)
        return connected_components(
            pairs, reliable_checkpoint=args.reliable_checkpoint)
    if args.op == "dbscan":
        from bufr2geojson_spark.operators.spatial import dbscan
        if not args.points:
            raise SystemExit("--op dbscan requires --points")
        pts = spark.read.parquet(args.points).select("pid", "lat", "lon")
        return dbscan(
            pts, eps_km=args.eps_km, min_pts=args.min_pts,
            grid_deg=args.grid_deg,
            reliable_checkpoint=args.reliable_checkpoint)
    from bufr2geojson_spark.operators.graph import kcore, pagerank
    if not args.edges:
        raise SystemExit(f"--op {args.op} requires --edges")
    edges = spark.read.parquet(args.edges)
    if args.op == "pagerank":
        return pagerank(edges, iters=args.iters,
                        reliable_checkpoint=args.reliable_checkpoint)
    return kcore(edges, k=args.k,
                 reliable_checkpoint=args.reliable_checkpoint)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", required=True, choices=OPS)
    ap.add_argument("--docs", default=None, help="documents parquet")
    ap.add_argument("--points", default=None, help="points parquet")
    ap.add_argument("--edges", default=None, help="edges parquet (u, v)")
    ap.add_argument("--out", required=True, help="result parquet dir")
    ap.add_argument("--reliable-checkpoint", action="store_true",
                    help="materialize iterative rounds via checkpoint() "
                         "against --checkpoint-dir (fault-tolerant; required "
                         "on lossy-executor clusters) instead of "
                         "localCheckpoint()")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="fault-tolerant dir (hdfs://, s3a://) for "
                         "--reliable-checkpoint")
    # dedup-cc knobs
    ap.add_argument("--num-hashes", type=int, default=4)
    ap.add_argument("--bands", type=int, default=2)
    ap.add_argument("--shingle-k", type=int, default=3)
    # dbscan knobs
    ap.add_argument("--eps-km", type=float, default=400.0)
    ap.add_argument("--min-pts", type=int, default=4)
    ap.add_argument("--grid-deg", type=float, default=10.0)
    # graph knobs
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--k", type=int, default=2)
    args = ap.parse_args()

    # validate before paying Spark startup: a flag combination that can
    # only fail rounds deep into the loop must fail here instead
    if args.reliable_checkpoint and not args.checkpoint_dir:
        raise SystemExit(
            "--reliable-checkpoint requires --checkpoint-dir "
            "(a fault-tolerant path: hdfs://... or s3a://...)")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"b2g-analytics-{args.op}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    try:
        if args.checkpoint_dir:
            spark.sparkContext.setCheckpointDir(args.checkpoint_dir)
        t0 = time.monotonic()
        res = build_result(spark, args)
        res.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(json.dumps({
            "op": args.op,
            "rows": n,
            "out": args.out,
            "reliable_checkpoint": args.reliable_checkpoint,
            "wall_sec": round(time.monotonic() - t0, 3),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
