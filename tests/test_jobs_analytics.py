"""jobs/analytics.py — the spark-submit surface for the iterative
operators' ``reliable_checkpoint`` switch (round-4 verdict #8: the flag
existed on every operator but no job CLI plumbed it, so the cluster story
needed code edits).

One true end-to-end invocation (subprocess, fresh JVM, --reliable-checkpoint
on) plus in-process build_result coverage for each op and the fail-fast
validation paths.
"""

import argparse
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the job imports its launch bootstrap from its own directory, which a
# script launch puts first on sys.path
sys.path[:0] = [REPO, os.path.join(REPO, "jobs")]

from jobs.analytics import build_result  # noqa: E402


def _args(**kw):
    base = dict(
        op=None, docs=None, points=None, edges=None, out=None,
        reliable_checkpoint=False, checkpoint_dir=None,
        num_hashes=4, bands=2, shingle_k=3,
        eps_km=400.0, min_pts=4, grid_deg=10.0, iters=3, k=2,
    )
    base.update(kw)
    return argparse.Namespace(**base)


@pytest.fixture()
def ckpt_dir(spark, tmp_path):
    """Point the context at a fresh checkpoint dir for this test."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    return str(tmp_path / "ckpt")


def test_pagerank_reliable_matches_local(spark, tmp_path, ckpt_dir):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "u int, v int")
    p = str(tmp_path / "edges")
    edges.write.parquet(p)
    local = build_result(spark, _args(op="pagerank", edges=p))
    reliable = build_result(
        spark, _args(op="pagerank", edges=p, reliable_checkpoint=True))
    assert sorted(map(tuple, local.collect())) == \
        sorted(map(tuple, reliable.collect()))


def test_dedup_cc_reliable(spark, tmp_path, ckpt_dir):
    docs = spark.createDataFrame(
        [("a", "the quick brown fox jumps over the lazy dog"),
         ("b", "the quick brown fox jumps over the lazy dog"),
         ("c", "a completely different document about spark engines"),
         ("d", "a completely different document about spark engines")],
        "doc_id string, text string")
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    out = build_result(
        spark, _args(op="dedup-cc", docs=p, reliable_checkpoint=True))
    comp = {r["doc_id"]: r["component_id"] for r in out.collect()}
    assert comp["a"] == comp["b"]
    assert comp["c"] == comp["d"]
    assert comp["a"] != comp["c"]


def test_dbscan_reliable(spark, tmp_path, ckpt_dir):
    pts = spark.createDataFrame(
        [(i, 10.0 + 0.01 * i, 20.0) for i in range(6)]
        + [(99, -60.0, 120.0)],
        "pid int, lat double, lon double")
    p = str(tmp_path / "pts")
    pts.write.parquet(p)
    out = build_result(
        spark,
        _args(op="dbscan", points=p, eps_km=50.0, min_pts=3,
              reliable_checkpoint=True))
    rows = {r["pid"]: r["role"] for r in out.collect()}
    assert rows[99] == "noise"
    assert all(rows[i] in ("core", "border") for i in range(6))


def test_missing_input_fails_fast(spark):
    with pytest.raises(SystemExit, match="requires --edges"):
        build_result(spark, _args(op="kcore"))
    with pytest.raises(SystemExit, match="requires --docs"):
        build_result(spark, _args(op="dedup-cc"))
    with pytest.raises(SystemExit, match="requires --points"):
        build_result(spark, _args(op="dbscan"))


def test_cli_reliable_requires_dir(tmp_path):
    """--reliable-checkpoint without --checkpoint-dir must die BEFORE Spark
    startup (exit 2 via SystemExit from validation, no JVM spawned)."""
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "analytics.py"),
         "--op", "pagerank", "--edges", "x", "--out", str(tmp_path / "o"),
         "--reliable-checkpoint"],
        capture_output=True, text=True, timeout=60)
    assert r.returncode != 0
    assert "--checkpoint-dir" in r.stderr


def test_cli_end_to_end_reliable(spark, tmp_path):
    """Full subprocess invocation: fresh JVM, --reliable-checkpoint on,
    checkpoint dir wired through setCheckpointDir, JSON summary printed,
    result parquet written."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "u int, v int")
    p = str(tmp_path / "edges")
    edges.write.parquet(p)
    out = str(tmp_path / "out")
    env = dict(os.environ)
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--master local[2] --conf spark.ui.enabled=false pyspark-shell")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "analytics.py"),
         "--op", "kcore", "--k", "2", "--edges", p, "--out", out,
         "--reliable-checkpoint",
         "--checkpoint-dir", str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["op"] == "kcore"
    assert summary["reliable_checkpoint"] is True
    assert summary["rows"] == 3  # the 3-cycle is its own 2-core
    got = spark.read.parquet(out)
    assert sorted(r["node"] for r in got.collect()) == [1, 2, 3]
