"""The traced run: spans recorded around calls into each layer, isolated
layer runs, and Spark's own event log.

Spark is lazy, so a span around a layer's public function only covers plan
construction. Each layer is therefore timed by forcing its public function
to the ``noop`` sink on a materialized parquet input, minus a scan-only run
of the same input: that difference is the layer's self time. Every Spark job
carries the id of the innermost open span as a local property, so the event
log (``spark.eventLog.enabled``, uncompressed) attributes Python-boundary
bytes, shuffle, spill and GC to spans without touching the program. Spans
stay in memory and are written once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.operators.spatial import assign_region, knn_join
from bufr2geojson_spark.operators.tiles import (
    hot_cells,
    range_partition_by_cell,
    tile_aggregate,
    tile_rollup,
)
from bufr2geojson_spark.plans import lineage as L

from perfbench.session import SPAN_PROPERTY

#: Layers isolated only when the workload's pipeline run executed stage J.
PYTHON_LAYERS = ("decode", "cells", "pip", "knn")

#: Every per-layer metric with its unit (BENCHMARK.json lists the same).
UNITS = {
    "io.scan_s": "s", "io.bytes_read": "B",
    "decode.self_s": "s", "decode.py_worker_s": "s", "decode.py_bytes_in": "B",
    "decode.py_bytes_out": "B", "decode.py_bytes_out_per_feature": "B",
    "decode.features": "count", "decode.quarantined": "count", "decode.rows": "count",
    "cells.self_s": "s", "cells.py_bytes_out": "B", "cells.rows": "count",
    "pip.self_s": "s", "pip.matched_share": "ratio", "pip.rows": "count",
    "knn.self_s": "s", "knn.py_bytes_out": "B", "knn.mean_ring": "rings",
    "knn.rows": "count",
    "tiles.agg_self_s": "s", "tiles.agg_shuffle_bytes": "B", "tiles.hot_cells": "count",
    "tiles.salted_rows": "count", "tiles.tile_rows": "count",
    "write.self_s": "s", "write.bytes": "B", "write.partition_skew": "ratio",
    "lineage.pass_s": "s", "lineage.checkpoint_bytes": "B",
    "run.spill_bytes": "B", "run.gc_s": "s", "run.shuffle_bytes": "B",
    "trace.overhead": "ratio", "trace.fused_wall_s": "s", "trace.layer_self_s": "s",
    "trace.self_share": "ratio",
}


class Tracer:
    """In-memory spans; each Spark job is tagged with the innermost span."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        sid = f"{name}#{len(self.spans) + len(self._open)}"
        parent = self._open[-1] if self._open else None
        self._open.append(sid)
        self._sc.setLocalProperty(SPAN_PROPERTY, sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._open.pop()
            self._sc.setLocalProperty(SPAN_PROPERTY, parent)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "start": start, "end": end}
            )

    def find(self, name: str) -> list[dict]:
        return sorted((s for s in self.spans if s["name"] == name),
                      key=lambda s: s["start"])

    def seconds(self, name: str) -> float:
        found = self.find(name)
        return found[0]["end"] - found[0]["start"] if found else 0.0

    def subtree(self, sid: str) -> set[str]:
        out, grew = {sid}, True
        while grew:
            new = {s["id"] for s in self.spans if s["parent"] in out} - out
            grew = bool(new)
            out |= new
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


@contextmanager
def stage_spans(tracer: Tracer):
    """Wrap ``plans.lineage.write_stage`` (the checkpoint write plus its
    lineage pass) in a span per stage while the block runs."""
    original = L.write_stage

    def traced(df, spark, work_dir, run_id, stage, *args, **kwargs):
        with tracer.span(f"stage:{stage}"):
            return original(df, spark, work_dir, run_id, stage, *args, **kwargs)

    L.write_stage = traced
    try:
        yield
    finally:
        L.write_stage = original


def _noop(tracer: Tracer, name: str, df) -> None:
    with tracer.span(name):
        df.write.format("noop").mode("overwrite").save()


def _materialize(tracer: Tracer, spark, name: str, df, path: str):
    with tracer.span(f"prep:{name}"):
        df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def isolate_layers(spark, tracer: Tracer, conf, *, docs_path: str, j_path: str,
                   stations, polygons, scratch: str, python_layers: bool) -> dict:
    """Run each layer alone on materialized input; returns the counters
    observed on those runs (self times come from the tracer's spans)."""
    counts: dict[str, float] = {}
    if python_layers:
        docs = spark.read.parquet(docs_path)
        _noop(tracer, "scan:docs", docs)
        decoded = decode_documents(docs, guess_wsi=conf.guess_wsi,
                                   result_time=conf.result_time)
        obs = Observation("decode")
        _noop(tracer, "layer:decode", decoded.observe(
            obs,
            F.count(F.when(F.col("error").isNull(), 1)).alias("features"),
            F.count(F.when(F.col("error").isNotNull(), 1)).alias("quarantined"),
        ))
        counts.update({f"decode.{k}": v for k, v in obs.get.items()})

        d = _materialize(tracer, spark, "D", decoded.filter("error is null"),
                         os.path.join(scratch, "D"))
        _noop(tracer, "scan:D", d)

        def cells(df):
            return with_cells(df, s2_level_=conf.s2_level, hex_res_=conf.hex_res,
                              prefix_bits=conf.prefix_bits)

        _noop(tracer, "layer:cells", cells(d))
        t = _materialize(tracer, spark, "T", cells(d), os.path.join(scratch, "T"))
        _noop(tracer, "scan:T", t)
        obs = Observation("pip")
        _noop(tracer, "layer:pip", assign_region(t, polygons).observe(
            obs, F.count(F.lit(1)).alias("rows"),
            F.count("region_id").alias("matched")))
        got = obs.get
        counts["pip.matched_share"] = got["matched"] / got["rows"] if got["rows"] else 0.0
        obs = Observation("knn")
        _noop(tracer, "layer:knn", knn_join(
            t, stations, k=conf.knn_k, grid_deg=conf.knn_grid_deg
        ).observe(obs, F.avg("knn_ring").alias("mean_ring")))
        counts["knn.mean_ring"] = obs.get["mean_ring"] or 0.0

    j = spark.read.parquet(j_path)
    _noop(tracer, "scan:J", j)
    _noop(tracer, "layer:tiles", tile_rollup(
        tile_aggregate(j, cell_col="cell_s2", value_col="result_value",
                       salt_buckets=conf.salt_buckets,
                       hot_threshold=conf.hot_threshold),
        conf.s2_level, list(conf.rollup_levels), cell_col="cell_s2",
    ))
    with tracer.span("count:hot"):
        hot = hot_cells(j, "cell_s2", conf.hot_threshold).agg(
            F.count(F.lit(1)).alias("cells"),
            F.coalesce(F.sum("cell_count"), F.lit(0)).alias("rows"),
        ).first()
    counts["tiles.hot_cells"] = hot["cells"]
    counts["tiles.salted_rows"] = hot["rows"]
    with tracer.span("layer:write"):
        range_partition_by_cell(
            j, conf.output_partitions, "cell_s2", "cell_prefix"
        ).write.mode("overwrite").parquet(os.path.join(scratch, "W"))
    return counts


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN = "time to run Python workers"
_ROWS = "number of output rows"


def _udf_names(simple: str) -> frozenset:
    """Function names a Python plan node evaluates, e.g. ``MapInPandas
    fold(doc_id#0, ...)`` -> {fold}; ``ArrowEvalPython [_enc(..), _knn(..)],
    [...]`` -> {_enc, _knn}."""
    head = re.split(r"\]?, \[", simple, maxsplit=1)[0]
    return frozenset(re.findall(r"(\w+)\(", head))


class EventLog:
    """Per-span totals parsed from an uncompressed Spark event log."""

    def __init__(self, log_dir: str):
        self.tasks: dict[str, Counter] = defaultdict(Counter)
        self.python_nodes: dict[str, list[dict]] = defaultdict(list)
        stage_span: dict[int, str] = {}
        exec_span: dict[int, str] = {}
        nodes: dict[int, dict] = {}  # first accumulator id -> node
        acc_node: dict[int, tuple[dict, str]] = {}
        for event in self._events(log_dir):
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                props = event.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                if span is None:
                    continue
                for sid in event["Stage IDs"]:
                    stage_span[sid] = span
                if "spark.sql.execution.id" in props:
                    exec_span.setdefault(int(props["spark.sql.execution.id"]), span)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                self._plan(event["executionId"], event["sparkPlanInfo"], nodes, acc_node)
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(event["Stage ID"])
                m = event.get("Task Metrics")
                if span is not None and m:
                    self.tasks[span].update({
                        "gc_ms": m["JVM GC Time"],
                        "spill_bytes": m["Disk Bytes Spilled"],
                        "shuffle_bytes": m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        "input_bytes": m["Input Metrics"]["Bytes Read"],
                    })
                for acc in event["Task Info"].get("Accumulables", ()):
                    self._add(acc_node, acc["ID"], acc.get("Update"))
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in event["accumUpdates"]:
                    self._add(acc_node, acc_id, value)
        for node in nodes.values():
            span = exec_span.get(node["exec"])
            if span is not None and _PY_SENT in node["metric_ids"]:
                self.python_nodes[span].append(node)

    @staticmethod
    def _events(log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                 if os.path.isfile(p) and not os.path.basename(p).startswith((".", "app"))]

        def order(path):
            m = re.match(r"events_(\d+)_", os.path.basename(path))
            return (path if m is None else os.path.dirname(path), int(m.group(1)) if m else 0)

        for path in sorted(files, key=order):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)

    @staticmethod
    def _plan(exec_id, info, nodes, acc_node) -> None:
        todo = [info]
        while todo:
            n = todo.pop()
            todo.extend(n.get("children", ()))
            metrics = n.get("metrics") or []
            if not metrics:
                continue
            key = metrics[0]["accumulatorId"]
            node = nodes.setdefault(key, {
                "exec": exec_id, "name": n["nodeName"],
                "udfs": _udf_names(n.get("simpleString", "")),
                "metric_ids": {}, "values": Counter(),
            })
            for m in metrics:
                node["metric_ids"][m["name"]] = m["accumulatorId"]
                acc_node[m["accumulatorId"]] = (node, m["name"])

    @staticmethod
    def _add(acc_node, acc_id, value) -> None:
        hit = acc_node.get(acc_id)
        if hit is None or value is None:
            return
        node, name = hit
        node["values"][name] += int(float(value))

    def task_total(self, spans, key: str) -> int:
        return sum(self.tasks[s][key] for s in spans)

    def nodes_in(self, spans) -> list[dict]:
        return [n for s in spans for n in self.python_nodes.get(s, ())]


def layer_metrics(tracer: Tracer, log: EventLog, counts: dict, pipeline: dict,
                  python_layers: bool) -> dict[str, float]:
    """Every per-layer metric of the traced run (see BENCHMARK.json)."""
    sec = tracer.seconds

    def spans(name):
        found = tracer.find(name)
        return tracer.subtree(found[0]["id"]) if found else set()

    def py(name, metric):
        return sum(n["values"][metric] for n in log.nodes_in(spans(name)))

    run = spans("pipeline")
    names = {layer: frozenset().union(*[n["udfs"] for n in log.nodes_in(spans(f"layer:{layer}"))])
             for layer in PYTHON_LAYERS}

    def rows(layer):
        hits = [n["values"][_ROWS] for n in log.nodes_in(run) if n["udfs"] & names[layer]]
        return max(hits, default=0)

    out: dict[str, float] = {
        "io.scan_s": sec("scan:docs") if python_layers else sec("scan:J"),
        "io.bytes_read": log.task_total(run, "input_bytes"),
    }
    self_s = {
        "decode": sec("layer:decode") - sec("scan:docs"),
        "cells": sec("layer:cells") - sec("scan:D"),
        "pip": sec("layer:pip") - sec("scan:T"),
        "knn": sec("layer:knn") - sec("scan:T"),
    }
    if not python_layers:
        self_s = dict.fromkeys(self_s, 0.0)
    features = counts.get("decode.features", 0)
    py_out = py("layer:decode", _PY_RETURNED)
    out.update({
        "decode.self_s": self_s["decode"],
        "decode.py_worker_s": py("layer:decode", _PY_RUN) / 1000.0,
        "decode.py_bytes_in": py("layer:decode", _PY_SENT),
        "decode.py_bytes_out": py_out,
        "decode.py_bytes_out_per_feature": py_out / features if features else 0.0,
        "decode.features": features,
        "decode.quarantined": counts.get("decode.quarantined", 0),
        "decode.rows": rows("decode"),
        "cells.self_s": self_s["cells"],
        "cells.py_bytes_out": py("layer:cells", _PY_RETURNED),
        "cells.rows": rows("cells"),
        "pip.self_s": self_s["pip"],
        "pip.matched_share": counts.get("pip.matched_share", 0.0),
        "pip.rows": rows("pip"),
        "knn.self_s": self_s["knn"],
        "knn.py_bytes_out": py("layer:knn", _PY_RETURNED),
        "knn.mean_ring": counts.get("knn.mean_ring", 0.0),
        "knn.rows": rows("knn"),
        "tiles.agg_self_s": sec("layer:tiles") - sec("scan:J"),
        "tiles.agg_shuffle_bytes": log.task_total(spans("layer:tiles"), "shuffle_bytes"),
        "tiles.hot_cells": counts["tiles.hot_cells"],
        "tiles.salted_rows": counts["tiles.salted_rows"],
        "tiles.tile_rows": pipeline["tile_rows"],
        "write.self_s": sec("layer:write") - sec("scan:J"),
        "write.bytes": pipeline["write_bytes"],
        "write.partition_skew": pipeline["partition_skew"],
        "lineage.pass_s": sum(
            s["end"] - s["start"] - pipeline["stage_wall_ms"][s["name"][6:]] / 1000.0
            for s in tracer.spans if s["id"] in run and s["name"].startswith("stage:")
        ),
        "lineage.checkpoint_bytes": pipeline["lineage_bytes"],
        "run.spill_bytes": log.task_total(run, "spill_bytes"),
        "run.gc_s": log.task_total(run, "gc_ms") / 1000.0,
        "run.shuffle_bytes": log.task_total(run, "shuffle_bytes"),
        "trace.overhead": pipeline["trace_overhead"],
        "trace.fused_wall_s": pipeline["wall_s"],
    })
    layer_self = (out["io.scan_s"] + sum(self_s.values()) + out["tiles.agg_self_s"]
                  + out["write.self_s"] + out["lineage.pass_s"])
    out["trace.layer_self_s"] = layer_self
    out["trace.self_share"] = layer_self / pipeline["wall_s"]
    return out
