"""Physical-plan shape assertions: the properties the 100 TB design relies
on must be visible in the plan, not just implied — filters pushed to the
parquet scan, columns pruned, small dims broadcast, narrow stages shuffle-free.
A regression that silently turns a broadcast join into a sort-merge join or
de-pushes a filter should fail here, before any benchmark notices."""

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

import __spark_entry__ as E
from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.operators.spatial import assign_region, knn_join
from bufr2geojson_spark.plans.pipeline import feature_pass
from bufr2geojson_spark.sources.synth import (
    synth_documents,
    synth_region_polygons,
    synth_stations,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().toString()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_to_parquet_scan(spark):
    df = E.q_pricing_summary(spark, SF_DIR)
    p = plan_of(df)
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:200]


def test_column_pruning_on_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    p = plan_of(df)
    # ReadSchema must carry only the two referenced columns
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_small_dims_are_broadcast(spark):
    df = E.q_region_revenue(spark, SF_DIR)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p


def test_partial_aggregation_before_shuffle(spark):
    df = E.q_pricing_summary(spark, SF_DIR)
    p = physical_plan(df)
    # HashAggregate appears twice (partial map-side + final) around the
    # exchange — the map-side combine the salting design builds on
    assert p.count("HashAggregate") >= 2


def test_decode_cells_joins_chain_is_narrow(spark):
    """J's pass must contain NO shuffle exchange — decode, cell encode,
    PIP, and kNN are all narrow (the premise of J being one pass) — and
    must run two Python nodes, so each task holds two Python workers: the
    decode fold, then one Arrow evaluation of the cell, PIP and kNN UDFs.
    An explode between them (one PIP row per match) would split the Arrow
    evaluation in two."""
    import re

    synth = synth_documents(spark, 50, partitions=2)
    # a local table, so the only MapInPandas left is the decode fold
    docs = spark.createDataFrame(synth.collect(), synth.schema)
    # the quarantine observed as run_pipeline counts it: no node splits
    feats = feature_pass(docs, Observation("quarantine"))
    feats = assign_region(feats, synth_region_polygons(spark))
    feats = knn_join(feats, synth_stations(spark, 20), k=1, grid_deg=5.0)
    p = physical_plan(feats)
    # broadcast exchange (region-name dim) is fine; shuffle exchange is not
    shuffles = re.findall(r"Exchange (?!SinglePartition)\S*hashpartitioning|Exchange rangepartitioning", p)
    assert not shuffles, f"unexpected shuffle in narrow chain: {shuffles}"
    assert re.findall(r"MapInPandas (\w+)\(", p) == ["fold"], p
    arrow = [line for line in p.splitlines() if "ArrowEvalPython" in line]
    assert len(arrow) == 1, p
    assert set(re.findall(r"(\w+)\(lat#", arrow[0])) == {"_enc", "_region", "_knn"}, p
    assert "Generate" not in p, p


def test_arrow_udfs_in_chain_not_batch_eval_python(spark):
    """Cell encode + spatial joins must run as Arrow-vectorized UDFs
    (ArrowEvalPython), never row-at-a-time BatchEvalPython."""
    docs = synth_documents(spark, 50, partitions=2)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    feats = assign_region(feats, synth_region_polygons(spark))
    p = physical_plan(feats)
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_hot_cell_set_is_broadcast_in_salted_agg(spark):
    from bufr2geojson_spark.operators.tiles import tile_aggregate

    docs = synth_documents(spark, 80, partitions=2)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    out = tile_aggregate(feats, hot_threshold=5, salt_buckets=4)
    p = plan_of(out)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p


def test_new_corpus_operators_stay_jvm_side(spark):
    """The wave-2/3 corpus/graph operators are pure-codegen programs: no
    Python evaluation node of any kind may appear in their plans (the
    hull/DTW/pack operators are deliberate Arrow grouped-map exceptions)."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    for name in ("event_markov", "event_ngrams", "bpe_merges", "pmi_pairs",
                 "graph_link_predict", "embedding_dim_stats",
                 "dedup_incremental", "dsir_select"):
        p = physical_plan(e.queries()[name](spark, sf))
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name
        assert "FlatMapGroupsInPandas" not in p, name
        assert "MapInPandas" not in p, name
