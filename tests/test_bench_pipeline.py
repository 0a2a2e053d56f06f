"""bench.py's pipeline and scaling legs run ``plans.pipeline.run_pipeline``:
the counts they report are the production job's lineage counts, the plan is
the fused-J / A / W one jobs/pipeline.py and perfbench run, and every run's
work dir is wiped afterwards."""

import os

from pyspark.sql import functions as F

import bench
import bufr2geojson_spark.plans.pipeline as P


def test_bench_pipeline_reports_the_production_runs_lineage(
    spark, tmp_path, monkeypatch
):
    monkeypatch.setenv("BENCH_LOCAL_DIR", str(tmp_path))
    seen = []
    real = P.run_pipeline

    def spy(*args, **kwargs):
        res = real(*args, **kwargs)
        rows = dict(res.lineage.groupBy("stage").agg(
            F.sum("row_count")).collect())
        seen.append((rows, res.features.count(), res.tiles.count()))
        return res

    monkeypatch.setattr(P, "run_pipeline", spy)
    out = bench.bench_pipeline(spark, 40, partitions=4, min_walls=1,
                               max_walls=1)
    assert len(seen) == 2  # the untimed warm-up, then one timed wall
    rows, n_features, n_tiles = seen[-1]
    assert out["features"] == rows["W"] == n_features > 0
    assert out["tiles"] == rows["A"] == n_tiles > 0
    assert out["executed"] == ["J", "A", "W"]
    assert len(out["walls_sec"]) == 1
    assert out["features_tiles_per_sec"] > 0
    assert os.listdir(tmp_path) == []  # every run's work dir is wiped
