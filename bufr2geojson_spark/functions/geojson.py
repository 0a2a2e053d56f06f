"""WCCDM-OBS GeoJSON serialization — the reference's actual output format.

The reference yields one GeoJSON Feature dict per observation
(``bufr2geojson/__init__.py:1123-1172``; schema
``resources/schemas/wccdm-obs.json``) and its CLI writes one JSON file per
feature (``cli.py:65-85``). Here the Feature is assembled from the decoded
columns by a single Arrow-batched pandas UDF over a NARROW struct projection
(the polymorphic ``result.value`` — number | code struct | flag struct —
rules out a pure ``F.to_json`` schema), producing one ``geojson`` string
column. A sink-only operator: at 100 TB you write the columnar feature
table and serialize to GeoJSON only at export boundaries, partitioned
by ``cell_prefix`` instead of the reference's file-per-feature.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from bufr2geojson_spark.operators.decode import (
    feature_metadata,
    feature_provenance,
)

CONFORMS_TO = ["https://wis.wmo.int/spec/wccdm-obs/1/conf/observation"]

_NEEDED = [
    "feature_id", "report_id", "index", "geometry", "host", "wsi",
    "observation_type", "observed_property", "observing_procedure",
    "phenomenon_time", "result_time", "result_value", "result_code",
    "result_flags", "result_units", "quality_flag", "report_type",
    "headers_json", "metadata_frag", "source_identifier", "message_number",
]


def _nn(v):
    """pandas nulls arrive as NaN in float columns — normalize to None."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    return v


def _feature_dict(r: dict) -> dict:
    """One WCCDM-OBS Feature from a decoded row (reference :1123-1172)."""
    geom = _nn(r.get("geometry"))
    geometry = (
        {"type": geom["type"], "coordinates": list(geom["coordinates"])}
        if geom is not None else None
    )
    value = _nn(r.get("result_value"))
    if value is None:
        code = _nn(r.get("result_code"))
        flags = _nn(r.get("result_flags"))
        if code is not None:
            value = {"codetable": code["codetable"], "entry": code["entry"],
                     "description": code["description"]}
        elif flags is not None:
            value = {"flagtable": flags["flagtable"], "entry": flags["entry"],
                     "description": list(flags["description"])
                     if flags["description"] is not None else None}
    qf = r.get("quality_flag") or {}
    # quarantine rows carry neither block
    metadata = (json.loads(feature_metadata(r["metadata_frag"],
                                            r["headers_json"]))
                if r.get("metadata_frag") else None)
    return {
        "id": r["feature_id"],
        "conformsTo": list(CONFORMS_TO),
        "type": "Feature",
        "geometry": geometry,
        "properties": {
            "host": r["host"],
            "observer": None,
            "observationType": r["observation_type"],
            "observedProperty": r["observed_property"],
            "observingProcedure": r["observing_procedure"],
            "phenomenonTime": r["phenomenon_time"],
            "resultTime": r["result_time"],
            "validTime": None,
            "result": {
                "value": value,
                "units": r["result_units"],
                "standardUncertainty": None,
            },
            "resultQuality": [
                {
                    "inScheme": qf.get("inScheme"),
                    "flag": qf.get("flag"),
                    "flagValue": qf.get("flagValue"),
                }
            ],
            "parameter": {
                "hasProvenance": feature_provenance(
                    r, metadata["BUFRheaders"]) if metadata else None,
                "status": None,
                "version": 0,
                "comment": None,
                "reportType": r["report_type"],
                "reportIdentifier": r["report_id"],
                "isMemberOf": None,
                "additionalProperties": metadata,
            },
            "featureOfInterest": [
                {"id": None, "label": None, "relation": None}
            ],
            "index": r["index"],
        },
    }


def geojson_col(packed: Column) -> Column:
    """``geojson`` string from the packed struct of decoded columns."""

    @pandas_udf(StringType())
    def _ser(s: pd.DataFrame) -> pd.Series:
        # a StructType argument arrives as a pandas DataFrame (one column
        # per field); nested structs inside arrive as dicts
        return pd.Series(
            [json.dumps(_feature_dict(r), separators=(",", ":"))
             for r in s.to_dict("records")]
        )

    return _ser(packed)


def to_geojson(features: DataFrame, keep_cols: tuple = ("feature_id",
               "cell_prefix")) -> DataFrame:
    """Append the WCCDM-OBS ``geojson`` column; keep only ``keep_cols`` that
    exist (sink projection). Narrow: one struct in, one string out."""
    packed = F.struct(*[F.col(c) for c in _NEEDED])
    kept = [c for c in keep_cols if c in features.columns]
    return features.select(*kept, geojson_col(packed).alias("geojson"))


def write_geojson(features: DataFrame, path: str,
                  partition_col: str = "cell_prefix") -> None:
    """GeoJSON export sink: text files of newline-delimited Features,
    partitioned by cell prefix (the scale-sane replacement for the
    reference CLI's file-per-feature, cli.py:74-80)."""
    out = to_geojson(features, keep_cols=(partition_col,))
    if partition_col in out.columns:
        # text sink: partition cols move into the directory layout, leaving
        # exactly the one string data column the format requires
        (out.select(partition_col, "geojson").write.mode("overwrite")
         .partitionBy(partition_col).text(path))
    else:
        out.select("geojson").write.mode("overwrite").text(path)
