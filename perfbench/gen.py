"""Seeded input generator for the benchmark workloads.

Builds on ``sources.synth.synth_documents`` and adds what the engine's own
generator does not do:

* ``ingest``: the latitude/longitude element spans of a share of documents
  are rewritten onto a few seed-chosen points, so some level-14 cells exceed
  the pipeline's ``hot_threshold`` and the salted fan-out runs (at sandbox
  sizes the synth corpus alone has no hot cell);
* every workload: about 1 % of the single-subset documents get an
  unparseable header span, so the decode quarantine has work, and the golden sherkin-island document is
  added so its feature can be checked after every run.

The program only ever sees the parquet tables written here (documents,
stations, region polygons, and a small warm-up slice of the documents). The
same seed gives the same rows.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import Observation
from pyspark.sql import functions as F

from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA
from bufr2geojson_spark.sources.synth import (
    default_n_stations,
    sherkin_island_document,
    synth_documents,
    synth_region_polygons,
    synth_stations,
)

#: Sizes and skew of each workload (BENCHMARK.json repeats them in ``why``).
WORKLOADS = {
    "ingest": {"docs": 2000, "hot_doc_share": 0.5, "snap_share": 0.1},
    "retile": {"docs": 2000, "hot_doc_share": 0.0, "snap_share": 0.0},
}
SNAP_POINTS = 4
CORRUPT_PER_MILLE = 10
MULTI_SUBSET_EVERY = 10
WARM_EVERY = 15  # the warm-up slice keeps one document in WARM_EVERY
FILES = 8
GOLDEN_DOC_ID = "golden-sherkin-island"
CORRUPT_HEADER = "{corrupt header"


def _hash_per_mille(seed: int, salt: str):
    return F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit(salt)), F.lit(1000))


def _rewrite_value(text, code: str, value):
    """Replace the value field of an element span whose descriptor is
    ``code`` (``fxxyyy|key|value|...``); other spans pass through."""
    head = F.regexp_extract(text, rf"^({code}\|[^|]*\|)", 1)
    tail = F.regexp_extract(text, rf"^{code}\|[^|]*\|[^|]*(.*)$", 1)
    return F.when(text.startswith(f"{code}|"), F.concat(head, value, tail))


def _span(s, text):
    return F.struct(
        s["kind"].alias("kind"), text.alias("text"),
        s["media_ref"].alias("media_ref"), s["offset"].alias("offset"),
    )


def snap_points(seed: int) -> list[tuple[float, float]]:
    rnd = random.Random(seed)
    return [
        (round(-50.0 + 100.0 * rnd.random(), 5), round(-170.0 + 340.0 * rnd.random(), 5))
        for _ in range(SNAP_POINTS)
    ]


def documents(spark, workload: str, seed: int):
    """The workload's document table (lazy)."""
    p = WORKLOADS[workload]
    docs = synth_documents(
        spark, p["docs"], seed=seed, partitions=FILES,
        hot_doc_share=p["hot_doc_share"], multi_subset_every=MULTI_SUBSET_EVERY,
    )
    not_golden = F.col("doc_id") != F.lit(GOLDEN_DOC_ID)
    if p["snap_share"] > 0:
        pts = snap_points(seed)
        pick = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed), F.lit("point")),
                      F.lit(len(pts))).cast("int") + 1
        lat = F.element_at(F.array(*[F.lit(repr(a)) for a, _ in pts]), pick)
        lon = F.element_at(F.array(*[F.lit(repr(b)) for _, b in pts]), pick)
        snapped = _hash_per_mille(seed, "snap") < int(1000 * p["snap_share"])
        docs = docs.withColumn("spans", F.when(snapped, F.transform(
            "spans", lambda s: _span(s, F.coalesce(
                _rewrite_value(s["text"], "005001", lat),
                _rewrite_value(s["text"], "006001", lon),
                s["text"],
            )),
        )).otherwise(F.col("spans")))
    golden = spark.createDataFrame([sherkin_island_document()], DOCUMENT_SCHEMA)
    docs = docs.unionByName(golden)
    corrupt = ((_hash_per_mille(seed, "corrupt") < CORRUPT_PER_MILLE) & not_golden
               & (F.size(F.filter("spans", lambda s: s["kind"] == "header")) == 1))
    docs = docs.withColumn("spans", F.when(corrupt, F.transform(
        "spans", lambda s: _span(s, F.when(
            s["kind"] == "header", F.lit(CORRUPT_HEADER)
        ).otherwise(s["text"])),
    )).otherwise(F.col("spans")))
    return docs


def warm_slice(df):
    """The rows of ``df`` (documents or features) whose document belongs to
    the warm-up slice."""
    return df.filter(F.pmod(F.xxhash64("doc_id"), F.lit(WARM_EVERY)) == 0)


def generate(spark, workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's parquet inputs under ``out_dir``; returns their
    paths and the number of corrupted documents the output check expects."""
    p = WORKLOADS[workload]
    docs = documents(spark, workload, seed)
    paths = {
        name: os.path.join(out_dir, name)
        for name in ("docs", "warm_docs", "stations", "polygons")
    }
    obs = Observation("corrupted")
    docs.observe(obs, F.sum(F.exists(
        "spans", lambda s: s["text"] == F.lit(CORRUPT_HEADER)).cast("int")).alias("n")
    ).write.mode("overwrite").parquet(paths["docs"])
    written = spark.read.parquet(paths["docs"])
    # same file layout as the corpus, so the warm-up runs as many concurrent
    # tasks (and forks as many Python workers) as a timed run
    warm_slice(written).write.mode("overwrite").parquet(paths["warm_docs"])
    n_stations = default_n_stations(p["docs"])
    synth_stations(spark, n_stations, seed=seed).write.mode("overwrite").parquet(
        paths["stations"])
    synth_region_polygons(spark).write.mode("overwrite").parquet(paths["polygons"])
    return {"corrupted": obs.get["n"], "paths": paths}
