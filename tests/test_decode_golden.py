"""Golden-output tests ported from the reference test suite
(/root/reference/tests/test_bufr2geojson.py) to the engine's decoded-feature
DataFrame, plus the span-sequence-equality invariant from BASELINE.json.
"""

import json
import re

import pytest

from bufr2geojson_spark.functions.geojson import to_geojson
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.sources.synth import (
    GOLDEN_REPORT_ID,
    golden_documents,
    multi_message_documents,
    sherkin_island_document,
)


@pytest.fixture(scope="module")
def decoded(spark):
    docs = golden_documents(spark)
    feats = decode_documents(docs, include_spans=True).cache()
    feats.count()
    return feats


@pytest.fixture(scope="module")
def golden_row(decoded):
    rows = decoded.filter("doc_id = 'golden-sherkin-island'").collect()
    assert len(rows) == 1
    return rows[0]


def test_golden_feature_fields(golden_row):
    """Deep-equality on the reference golden fixture fields
    (tests/test_bufr2geojson.py:83-226)."""
    r = golden_row
    assert r.feature_id == f"{GOLDEN_REPORT_ID}-0"
    assert r.report_id == GOLDEN_REPORT_ID
    assert r.geometry.type == "Point"
    assert r.geometry.coordinates == [-9.42, 51.47, 21.0]
    assert (r.lon, r.lat, r.z) == (-9.42, 51.47, 21.0)
    assert r.wsi == "0-20000-0-03951"
    assert r.host == "0-20000-0-03951"
    assert r.tsi == "03951"
    assert r.observed_property == "non_coordinate_pressure"
    assert r.observation_type == (
        "http://www.opengis.net/def/observationType/OGC-OM/2.0/OM_Measurement"
    )
    assert r.observing_procedure == (
        "http://codes.wmo.int/wmdr/SourceOfObservation/unknown"
    )
    assert r.phenomenon_time == "2022-03-20T21:00:00Z"
    assert r.result_time == "2024-12-19 00:00:00"
    assert r.result_value == 1019.3
    assert r.result_units == "hPa"
    assert r.result_code is None and r.result_flags is None
    assert r.quality_flag.inScheme is None
    assert r.report_type == "000001"
    assert r.bufr_element == "010004"
    assert r.zcoord.name == "height_above_local_ground"
    assert r.zcoord.value == 1.0
    assert r.zcoord.units == "m"
    assert r["index"] == 0
    assert r.error is None


@pytest.fixture(scope="module")
def golden_parameter(decoded):
    """The golden feature's ``parameter`` block as the GeoJSON sink renders
    it: the row stores neither document whole."""
    rows = to_geojson(decoded.filter("doc_id = 'golden-sherkin-island'"),
                      keep_cols=()).collect()
    assert len(rows) == 1
    return json.loads(rows[0].geojson)["properties"]["parameter"]


def test_golden_metadata_block(golden_parameter):
    """additionalProperties deep-compare (fixture :154-215)."""
    md = golden_parameter["additionalProperties"]
    assert md["identification"] == {
        "station_or_site_name": {"value": "SHERKIN ISLAND"}
    }
    assert md["instrumentation"]["station_type"] == {
        "value": {
            "codetable": "http://codes.wmo.int/bufr4/codeflag/0-02-001",
            "entry": "0",
            "description": "AUTOMATIC STATION",
        }
    }
    assert md["instrumentation"][
        "height_of_station_ground_above_mean_sea_level"
    ] == {"value": 20.0, "units": "m", "description": None}
    assert md["instrumentation"]["height_of_barometer_above_mean_sea_level"] == {
        "value": 21.0,
        "units": "m",
        "description": None,
    }
    for empty in ("qualifiers", "processing", "monitoring", "quality",
                  "associated_field"):
        assert md[empty] == {}
    assert md["BUFR_element"] == "010004"
    assert md["zCoordinate"] == {
        "name": "height_above_local_ground",
        "value": 1.0,
        "units": "m",
    }
    hdr = md["BUFRheaders"]
    assert hdr["edition"] == 4
    assert hdr["bufrHeaderCentre"] == 233
    assert hdr["masterTablesVersionNumber"] == 14
    assert hdr["typicalDate"] == "20220320"
    assert hdr["typicalTime"] == "210000"
    assert hdr["sequence"] == "307080"
    # canonical header key order preserved (OrderedDict contract, :883-907)
    assert list(hdr.keys())[:3] == ["edition", "masterTableNumber",
                                    "bufrHeaderCentre"]


def test_golden_prov_block(golden_parameter):
    """PROV enrichment (fixture :117-147) with injected wall-clock."""
    prov = golden_parameter["hasProvenance"]
    assert prov["prefix"] == {
        "prov": "http://www.w3.org/ns/prov#",
        "schema": "https://schema.org/",
    }
    fid = f"{GOLDEN_REPORT_ID}-0"
    assert prov["entity"]["0-20000-0-03951"]["prov:type"] == "schema:DigitalDocument"
    assert prov["entity"][fid]["prov:label"] == (
        "Observation 0 from subset 0 of message 1"
    )
    assert prov["wasDerivedFrom"]["_:wdf"] == {
        "prov:generatedEntity": fid,
        "prov:usedEntity": "0-20000-0-03951",
        "prov:activity": "_:bufr2geojson",
    }
    act = prov["activity"]["_:bufr2geojson"]
    assert act["prov:label"] == (
        "Data transformation using version 0.7.dev0 of bufr2geojson"
    )
    assert act["prov:endTime"] == "2024-12-19 00:00:00"


def test_multi_message_count(decoded):
    """Cardinality fixture: 2 documents -> exactly 48 features
    (tests/test_bufr2geojson.py:229-238)."""
    n = decoded.filter("doc_id like 'multi-%' and error is null").count()
    assert n == 48
    for d in ("multi-0", "multi-1"):
        assert decoded.filter(f"doc_id = '{d}' and error is null").count() == 24


def test_time_period_phenomenon_times(decoded):
    """Displacement elements produce 'start/end' periods; single negative
    displacement means [v, 0] (reference :598-629)."""
    rows = decoded.filter(
        "doc_id like 'multi-%' and observed_property in "
        "('wind_direction', 'wind_speed') and bufr_element in ('011001','011002')"
    ).collect()
    periods = [r.phenomenon_time for r in rows if "/" in r.phenomenon_time]
    assert periods, "expected period phenomenon times for displaced wind obs"
    for p in periods:
        start, end = p.split("/")
        assert re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z", start)
        assert re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z", end)
        assert start < end
    # the time-period qualifier was cleared after the wind group: subsequent
    # elements must be instants again (null value deletes, :236-238)
    later = decoded.filter(
        "doc_id like 'multi-%' and bufr_element = '012111'"
    ).collect()
    assert later and all("/" not in r.phenomenon_time for r in later)


def test_statistic_qualified_rename(decoded):
    """class 08 first_order_statistics renames the property (:1117-1121)."""
    rows = decoded.filter("bufr_element = '012111'").collect()
    assert rows
    for r in rows:
        assert r.observed_property.endswith("(maximum value)")


def test_code_and_flag_table_results(decoded):
    code_rows = decoded.filter("bufr_element = '020003'").collect()
    assert code_rows
    for r in code_rows:
        assert r.result_value is None
        assert r.result_code.codetable == (
            "http://codes.wmo.int/bufr4/codeflag/0-20-003"
        )
        assert r.result_code.description != "Invalid"
        assert r.observation_type.endswith("OM_CategoryObservation")
    flag_rows = decoded.filter("bufr_element = '020021'").collect()
    assert flag_rows
    for r in flag_rows:
        assert r.result_flags.entry == "{0:0{1}b}".format(671088640, 30)
        assert list(r.result_flags.description) == ["RAIN", "SNOW"]


def test_associated_field_quality_flag(decoded):
    """Associated field 031021 decode (:941-972)."""
    rows = decoded.filter(
        "doc_id like 'multi-%' and bufr_element = '011002' "
        "and quality_flag.inScheme is not null"
    ).collect()
    assert len(rows) == 2  # one associated-field-tagged wind speed per doc
    for r in rows:
        assert r.quality_flag.inScheme == (
            "https://codes.wmo.int/bufr4/codeflag/0-31-021"
        )
        assert r.quality_flag.flag == "1-bit indicator of quality"
        assert r.quality_flag.flagValue == "Good"


def test_missing_value_suppressed(decoded):
    """Null-value data elements emit no feature (:1090)."""
    assert decoded.filter("bufr_element = '013003' and doc_id like 'multi-%'") \
        .count() == 0 or all(
        r.result_value is not None
        for r in decoded.filter("bufr_element = '013003'").collect()
    )


def test_span_sequence_equality(spark, decoded):
    """BASELINE.json input_hint invariant: output spans == input spans
    per document in (kind, text, media_ref, order)."""
    docs = {d["doc_id"]: d["spans"] for d in
            [sherkin_island_document()] + multi_message_documents()}
    out = decoded.filter("error is null").collect()
    assert out
    for r in out:
        expected = sorted(docs[r.doc_id], key=lambda s: s["offset"])
        got = [
            {"kind": s.kind, "text": s.text, "media_ref": s.media_ref,
             "offset": s.offset}
            for s in r.spans_out
        ]
        assert got == expected


def test_media_spans_counted_and_passed_through(decoded):
    rows = decoded.filter("doc_id like 'multi-%'").collect()
    for r in rows:
        assert r.n_media_spans == 1
        kinds = [s.kind for s in r.spans_out]
        assert "media" in kinds
        media = [s for s in r.spans_out if s.kind == "media"][0]
        assert media.media_ref.startswith("synthetic://img/")


def test_wsi_format(decoded):
    """WSI format rule from the reference schema checker
    (tests/test_bufr2geojson.py:32-45)."""
    for r in decoded.filter("error is null").collect():
        words = r.wsi.split("-")
        if r.wsi == "UNKNOWN":
            continue
        assert words[0] == "0"
        assert int(words[1]) <= 65534
        assert int(words[2]) <= 65534
        assert len(words[3]) <= 16 and words[3].isalnum()


def test_determinism(spark):
    """Decode twice -> identical rows (hash-derived, no wall clock)."""
    docs = golden_documents(spark)
    a = decode_documents(docs).orderBy("feature_id").collect()
    b = decode_documents(docs).orderBy("feature_id").collect()
    assert a == b


def test_strip2_unit():
    """Reference's only unit test (tests/test_bufr2geojson.py:270-276)."""
    from bufr2geojson_spark.operators.decode import _strip2

    for value in ["test", " test", "test ", " test ", "  test    "]:
        assert _strip2(value) == "test"
    for value in [b"test", b" test", b"test ", b" test ", b"  test    "]:
        assert _strip2(value) == b"test"
    assert _strip2(5) == "5"
    assert _strip2(None) is None


# ---------------------------------------------------------------------------
# multi-subset explosion (R3, reference __init__.py:1224-1239)
# ---------------------------------------------------------------------------


def test_multi_subset_explodes_to_per_subset_reports(spark):
    """A numberOfSubsets=N document must decode into N independent reports:
    N distinct report_ids, each with its own feature index sequence starting
    at 0, and more features than a single-subset doc."""
    from bufr2geojson_spark.sources.synth import synth_documents

    docs = synth_documents(spark, 6, n_stations=30, partitions=2,
                           multi_subset_every=1)
    rows = decode_documents(docs).filter("error is null").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 6
    for doc_id, feats in by_doc.items():
        rids = {f.report_id for f in feats}
        n_subsets = {json.loads(f.headers_json)["numberOfSubsets"]
                     for f in feats}
        assert len(n_subsets) == 1
        S = n_subsets.pop()
        assert S in (2, 3)
        # one report id per subset, each restarting its feature index at 0
        assert len(rids) == S, f"{doc_id}: {len(rids)} report ids for {S} subsets"
        subset_numbers = {json.loads(f.headers_json)["subsetNumber"]
                          for f in feats}
        assert subset_numbers == set(range(1, S + 1))
        for rid in rids:
            idxs = sorted(f["index"] for f in feats if f.report_id == rid)
            assert idxs == list(range(len(idxs)))
            assert any(f.feature_id == f"{rid}-0" for f in feats)


def test_multi_subset_span_invariant_is_document_level(spark):
    """spans_out must be the FULL document span list for every feature of a
    multi-subset doc (the per-row invariant is on the document, not the
    subset segment)."""
    from bufr2geojson_spark.sources.synth import synth_documents

    docs = synth_documents(spark, 3, n_stations=30, partitions=1,
                           multi_subset_every=1)
    src = {r.doc_id: [tuple(s) for s in r.spans] for r in docs.collect()}
    feats = decode_documents(docs, include_spans=True).filter(
        "error is null").collect()
    assert feats
    for f in feats:
        assert [tuple(s) for s in f.spans_out] == src[f.doc_id]


def test_multi_subset_bad_subset_quarantined_others_survive(spark):
    """A subset whose header is broken must quarantine ONLY itself: its
    siblings' features still decode (reference per-subset containment,
    __init__.py:1251-1254)."""
    from pyspark.sql import Row
    from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA
    from bufr2geojson_spark.sources.synth import synth_documents

    doc = synth_documents(spark, 1, n_stations=30, partitions=1,
                          multi_subset_every=1).collect()[0]
    spans = [s.asDict() for s in doc.spans]
    # break the SECOND subset's header (drop a required key)
    h_pos = [i for i, s in enumerate(spans) if s["kind"] == "header"]
    assert len(h_pos) >= 2
    bad = json.loads(spans[h_pos[1]]["text"])
    del bad["dataCategory"]
    spans[h_pos[1]]["text"] = json.dumps(bad)
    broken = spark.createDataFrame(
        [Row(doc_id=doc.doc_id, spans=spans)], DOCUMENT_SCHEMA)
    out = decode_documents(broken).collect()
    good = [r for r in out if r.error is None]
    errs = [r for r in out if r.error is not None]
    assert good, "intact subsets must still produce features"
    assert len(errs) == 1 and "subset 2" in errs[0].error
    # the broken subset contributed no report id
    assert len({r.report_id for r in good}) == len(h_pos) - 1


# ---------------------------------------------------------------------------
# pluggable code/flag tables (R12/R13) + miss path
# ---------------------------------------------------------------------------


def _one_code_element_doc(fxxyyy, entry, width=8):
    from bufr2geojson_spark.sources.synth import (
        _header_json, _qualifier_spans, _span, element_text)

    spans = [_span("header", _header_json(year=2022, month=3, day=20,
                                          hour=21), 0)]
    spans += _qualifier_spans(block=3, station=951, callsign=None,
                              year=2022, month=3, day=20, hour=21, minute=0,
                              lat=51.47, lon=-9.42, ground_m=21.0,
                              barometer_m=22.0, start_offset=1)
    off = spans[-1]["offset"] + 1
    spans.append(_span("element", element_text(
        fxxyyy, "#1#someUncoveredCodeThing", entry, "CODE TABLE", 0, 0,
        width), off))
    return {"doc_id": "tbl-miss", "spans": spans}


def test_uncovered_code_table_entry_decodes_invalid(spark):
    """An fxxyyy with no table entry must decode description='Invalid'
    exactly like the reference miss path (__init__.py:806-808)."""
    from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA

    docs = spark.createDataFrame([_one_code_element_doc("099999", 3)],
                                 DOCUMENT_SCHEMA)
    rows = decode_documents(docs).filter("error is null").collect()
    assert len(rows) == 1
    assert rows[0].result_code.description == "Invalid"
    assert rows[0].result_code.entry == "3"


def test_csv_table_provider_loads_and_misses(spark, tmp_path):
    """CsvTableProvider: lazily reads {root}/{version}/codetables/{id}.csv,
    labels resolve, uncovered entries still decode 'Invalid'."""
    from bufr2geojson_spark.functions.wmo_tables import CsvTableProvider
    from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA

    d = tmp_path / "14" / "codetables"
    d.mkdir(parents=True)
    (d / "099999.csv").write_text("3,MY CUSTOM LABEL, WITH COMMA\n7,OTHER\n")
    prov = CsvTableProvider(str(tmp_path), master_table_version=14)
    assert prov.code_entry("099999", 3) == "MY CUSTOM LABEL, WITH COMMA"
    assert prov.code_entry("099999", 99) == "Invalid"     # entry miss
    assert prov.code_entry("012345", 0) == "Invalid"      # table-file miss
    assert prov.flag_label("099999", 1) is None           # no flag table

    docs = spark.createDataFrame([_one_code_element_doc("099999", 3)],
                                 DOCUMENT_SCHEMA)
    rows = decode_documents(docs, table_provider=prov).filter(
        "error is null").collect()
    assert rows[0].result_code.description == "MY CUSTOM LABEL, WITH COMMA"


def test_multi_subset_raising_subset_quarantined_others_survive(spark):
    """A subset whose decode RAISES (corrupt header JSON) — not just returns
    an error — must still quarantine only itself."""
    from pyspark.sql import Row
    from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA
    from bufr2geojson_spark.sources.synth import synth_documents

    doc = synth_documents(spark, 1, n_stations=30, partitions=1,
                          multi_subset_every=1).collect()[0]
    spans = [s.asDict() for s in doc.spans]
    h_pos = [i for i, s in enumerate(spans) if s["kind"] == "header"]
    spans[h_pos[1]]["text"] = "{not json at all"
    broken = spark.createDataFrame(
        [Row(doc_id=doc.doc_id, spans=spans)], DOCUMENT_SCHEMA)
    out = decode_documents(broken).collect()
    good = [r for r in out if r.error is None]
    errs = [r for r in out if r.error is not None]
    assert good, "intact subsets must still produce features"
    assert len(errs) == 1 and errs[0].error.startswith("subset 2: decode error")
