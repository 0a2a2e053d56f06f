"""Canonical Spark schemas for the engine (SURVEY.md §1.3).

The input shape is fixed by BASELINE.json's ``input_hint``::

    doc_id: string
    spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>

The decoded-feature shape mirrors the reference's WCCDM-OBS GeoJSON Feature
(assembled at ``bufr2geojson/__init__.py:1123-1172``) flattened into typed
columns. Two blocks of the Feature are not stored whole, because a row
can rebuild them: ``additionalProperties``, whose keys are data-dependent,
is stored as its per-feature JSON fragment (``metadata_frag``: qualifiers,
``BUFR_element``, ``zCoordinate``) beside the report's ``headers_json``,
and the W3C PROV block as the template fields the row lacks
(``source_identifier``, ``message_number``). The GeoJSON sink renders both
(``operators.decode.feature_metadata`` and ``feature_provenance``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Input: interleaved text + media documents (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

SPAN_SCHEMA = StructType(
    [
        StructField("kind", StringType()),       # 'header' | 'element' | 'media'
        StructField("text", StringType()),
        StructField("media_ref", StringType()),  # null unless kind='media'
        StructField("offset", IntegerType()),    # strictly increasing; span order
    ]
)

DOCUMENT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), nullable=False),
        StructField("spans", ArrayType(SPAN_SCHEMA)),
    ]
)

# ---------------------------------------------------------------------------
# Decoded features (stage D output)
# ---------------------------------------------------------------------------

RESULT_CODE_SCHEMA = StructType(
    [
        StructField("codetable", StringType()),
        StructField("entry", StringType()),
        StructField("description", StringType()),
    ]
)

RESULT_FLAG_SCHEMA = StructType(
    [
        StructField("flagtable", StringType()),
        StructField("entry", StringType()),
        StructField("description", ArrayType(StringType())),
    ]
)

QUALITY_FLAG_SCHEMA = StructType(
    [
        StructField("inScheme", StringType()),
        StructField("flag", StringType()),
        StructField("flagValue", StringType()),
    ]
)

ZCOORD_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("value", DoubleType()),
        StructField("units", StringType()),
    ]
)

GEOMETRY_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("coordinates", ArrayType(DoubleType())),
    ]
)


def feature_schema(include_spans: bool = False) -> StructType:
    """Decoded-feature schema; optionally carries the input spans verbatim
    (``spans_out``) so tests can assert the span-sequence-equality invariant
    (BASELINE.json input_hint). At scale this duplicates the document per
    feature, so production decode leaves it off.
    """
    fields = [
        StructField("feature_id", StringType()),       # "{report_id}-{index}"
        StructField("report_id", StringType()),
        StructField("doc_id", StringType()),
        StructField("index", IntegerType()),
        StructField("geometry", GEOMETRY_SCHEMA),
        StructField("lon", DoubleType()),
        StructField("lat", DoubleType()),
        StructField("z", DoubleType()),
        StructField("wsi", StringType()),
        StructField("tsi", StringType()),
        StructField("host", StringType()),
        StructField("observed_property", StringType()),
        StructField("observation_type", StringType()),
        StructField("observing_procedure", StringType()),
        StructField("phenomenon_time", StringType()),
        StructField("result_time", StringType()),
        StructField("result_value", DoubleType()),
        StructField("result_code", RESULT_CODE_SCHEMA),
        StructField("result_flags", RESULT_FLAG_SCHEMA),
        StructField("result_units", StringType()),
        StructField("quality_flag", QUALITY_FLAG_SCHEMA),
        StructField("report_type", StringType()),
        StructField("bufr_element", StringType()),
        StructField("zcoord", ZCOORD_SCHEMA),
        StructField("headers_json", StringType()),
        # additionalProperties without its BUFRheaders tail
        StructField("metadata_frag", StringType()),
        # the report's source, null when none was set (PROV uses the host)
        StructField("source_identifier", StringType()),
        StructField("message_number", IntegerType()),
        StructField("error", StringType()),
        StructField("n_media_spans", IntegerType()),
    ]
    if include_spans:
        fields.append(StructField("spans_out", ArrayType(SPAN_SCHEMA)))
    return StructType(fields)


FEATURE_SCHEMA = feature_schema(include_spans=False)

# ---------------------------------------------------------------------------
# Dimension tables (FIXTURES.md §2-3)
# ---------------------------------------------------------------------------

STATION_SCHEMA = StructType(
    [
        StructField("station_id", StringType()),
        StructField("tsi", StringType()),
        StructField("lat", DoubleType()),
        StructField("lon", DoubleType()),
        StructField("elevation_m", DoubleType()),
        StructField("wmo_region", IntegerType()),
    ]
)

RING_POINT_SCHEMA = StructType(
    [StructField("lon", DoubleType()), StructField("lat", DoubleType())]
)

REGION_POLYGON_SCHEMA = StructType(
    [
        StructField("region_id", StringType()),
        StructField("region_name", StringType()),
        StructField("ring", ArrayType(RING_POINT_SCHEMA)),
        StructField(
            "bbox",
            StructType(
                [
                    StructField("minx", DoubleType()),
                    StructField("miny", DoubleType()),
                    StructField("maxx", DoubleType()),
                    StructField("maxy", DoubleType()),
                ]
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# Lineage (SURVEY.md §1.3; north_rule: per-partition lineage records)
# ---------------------------------------------------------------------------

#: One row per part file of a checkpointed stage:
#: ``plans.lineage.lineage_table`` builds it from the ``files`` list of each
#: stage record of a run, which ``write_stage`` takes from the parquet
#: footers, with the record's snapshot id and data-write ``wall_ms`` on
#: every row.
LINEAGE_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("stage", StringType()),
        StructField("snapshot_id", LongType()),
        StructField("partition_id", IntegerType()),
        StructField("cell_lo", LongType()),
        StructField("cell_hi", LongType()),
        StructField("row_count", LongType()),
        StructField("checksum", StringType()),
        StructField("wall_ms", LongType()),
    ]
)
