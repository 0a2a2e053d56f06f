"""GeoJSON output parity: the engine's to_geojson must reproduce the
reference's golden Feature dict byte-for-byte in content (the reference test
fixture `geojson_output` at /root/reference/tests/test_bufr2geojson.py:82-226,
extracted at runtime via ast so no fixture is copied into this repo). The
reference test itself normalizes the two wall-clock fields before comparing
(:261-262); here they are injected deterministically instead and compared
exactly."""

import ast
import json

import pytest

from bufr2geojson_spark.functions.geojson import to_geojson, write_geojson
from bufr2geojson_spark.functions.cells import with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.sources.synth import golden_documents, synth_documents

REF_TEST = "/root/reference/tests/test_bufr2geojson.py"


def _reference_golden_feature() -> dict:
    """Extract the reference's expected-GeoJSON dict literal at runtime."""
    tree = ast.parse(open(REF_TEST).read())
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "geojson_output":
            ret = node.body[-1]
            assert isinstance(ret, ast.Return)
            return ast.literal_eval(ret.value)
    raise AssertionError("geojson_output fixture not found in reference")


@pytest.fixture(scope="module")
def golden_geojson(spark):
    docs = golden_documents(spark)
    feats = decode_documents(docs).filter("error is null")
    out = to_geojson(feats, keep_cols=("feature_id", "doc_id"))
    rows = out.filter("doc_id = 'golden-sherkin-island'").collect()
    assert len(rows) == 1
    return json.loads(rows[0].geojson)


def test_geojson_matches_reference_fixture(golden_geojson):
    expected = _reference_golden_feature()
    # the reference normalizes its two wall-clock fields before comparing
    # (test_bufr2geojson.py:261-262); our engine injects the same fixed
    # timestamp the fixture carries, so compare fully and exactly
    assert golden_geojson == expected


def test_geojson_schema_keys_complete(golden_geojson):
    props = golden_geojson["properties"]
    for k in ("host", "observer", "observationType", "observedProperty",
              "observingProcedure", "phenomenonTime", "resultTime",
              "validTime", "result", "resultQuality", "parameter",
              "featureOfInterest", "index"):
        assert k in props
    assert golden_geojson["type"] == "Feature"
    assert golden_geojson["conformsTo"] == [
        "https://wis.wmo.int/spec/wccdm-obs/1/conf/observation"
    ]


def test_geojson_code_table_value_shape(spark):
    """A CODE TABLE result must serialize as the codetable struct, not a
    number (reference :1015-1022)."""
    docs = golden_documents(spark)
    feats = decode_documents(docs).filter("error is null").filter(
        "result_code is not null"
    )
    out = to_geojson(feats, keep_cols=("feature_id",)).collect()
    assert out
    for r in out:
        v = json.loads(r.geojson)["properties"]["result"]["value"]
        assert isinstance(v, dict) and "codetable" in v


def test_write_geojson_partitioned(spark, tmp_path):
    docs = synth_documents(spark, 40, partitions=2)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    path = str(tmp_path / "geo_out")
    write_geojson(feats, path)
    back = spark.read.text(f"{path}/*/*.txt")
    n = back.count()
    assert n == feats.count()
    first = json.loads(back.limit(1).collect()[0].value)
    assert first["type"] == "Feature"


def _with_sources(docs, n):
    """The first ``n`` of ``docs`` again, each header given a
    ``sourceIdentifier`` (some needing JSON escapes) and/or a
    ``messageNumber``, the two PROV fields synth headers leave unset."""
    out = []
    for i, doc in enumerate(docs.limit(n).collect()):
        source = (f"src-{i}.bufr", f'we"ird\\src-{i}', f"ünï-{i}", None)[i % 4]
        spans = []
        for span in doc.spans:
            span = span.asDict()
            if span["kind"] == "header":
                header = json.loads(span["text"])
                if source is not None:
                    header["sourceIdentifier"] = source
                if i % 4:
                    header["messageNumber"] = i + 2
                span["text"] = json.dumps(header)
            spans.append(span)
        out.append({"doc_id": f"src-{doc.doc_id}", "spans": spans})
    return out


def test_sink_renders_the_stored_documents_byte_identically(spark):
    """The row stores the metadata fragment and the PROV template fields;
    the sink must render exactly the strings the row used to store. PROV:
    ``json.dumps(_prov_block(...))`` with the source, subset and message
    read from the document's own header span. Metadata: the fragment closed
    by the report's headers."""
    from bufr2geojson_spark.operators.decode import _prov_block
    from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA

    synth = synth_documents(spark, 400, partitions=2, multi_subset_every=7)
    docs = golden_documents(spark).unionByName(synth).unionByName(
        spark.createDataFrame(_with_sources(synth, 30), DOCUMENT_SCHEMA))
    headers = {}
    for doc in docs.collect():
        for span in doc.spans:
            if span.kind == "header":
                h = json.loads(span.text)
                headers[(doc.doc_id, h.get("subsetNumber", 1))] = h
    feats = decode_documents(docs).filter("error is null")
    rows = to_geojson(feats, keep_cols=(
        "feature_id", "doc_id", "index", "host", "result_time",
        "headers_json", "metadata_frag")).collect()
    assert len(rows) > 400
    sourced = 0
    for r in rows:
        param = json.loads(r.geojson)["properties"]["parameter"]
        subset = json.loads(r.headers_json).get("subsetNumber", 1)
        h = headers[(r.doc_id, subset)]
        source = h.get("sourceIdentifier") or r.host
        sourced += "sourceIdentifier" in h
        want = json.dumps(_prov_block(
            source, r.feature_id, r["index"], subset - 1,
            h.get("messageNumber", 1), r.result_time))
        assert json.dumps(param["hasProvenance"]) == want, r.feature_id
        metadata = r.metadata_frag + ',"BUFRheaders":' + r.headers_json + "}"
        compact = {"separators": (",", ":")}
        assert (json.dumps(param["additionalProperties"], **compact)
                == json.dumps(json.loads(metadata), **compact)), r.feature_id
    assert sourced


# ---------------------------------------------------------------------------
# JSON-Schema validation (reference test_bufr2geojson.py:32-45,241-252)
# ---------------------------------------------------------------------------

SCHEMA_PATH = ("bufr2geojson_spark/resources/schemas/wccdm-obs.json")


def _wsi_format_checker():
    """WSI format checker re-expressing the reference's is_wsi
    (test_bufr2geojson.py:32-45): 0-{<=65534}-{<=65534}-{alnum<=16}.
    (The schema itself declares no 'wsi' format — the checker is registered
    for parity with how the reference invokes validate().)

    date-time/date format enforcement is deliberately OFF: the reference
    emits resultTime as '%Y-%m-%d %H:%M' (__init__.py:1114), which violates
    RFC3339 — its own schema validation passes only because jsonschema's
    date-time check is a no-op without rfc3339-validator installed. This
    environment has that library, so we pin the observable reference
    behavior (structural validation, formats inert) explicitly."""
    from jsonschema import FormatChecker

    fc = FormatChecker(formats=[])

    @fc.checks("wsi", (ValueError, AssertionError))
    def is_wsi(instance):  # noqa: F811
        assert isinstance(instance, str)
        words = instance.split("-")
        assert words[0] == "0"
        assert int(words[1]) <= 65534
        assert int(words[2]) <= 65534
        local_id = words[3]
        assert len(local_id) <= 16
        assert local_id.isalnum()
        return True

    return fc


def _is_wsi(s: str) -> bool:
    words = s.split("-")
    try:
        return (words[0] == "0" and int(words[1]) <= 65534
                and int(words[2]) <= 65534 and len(words[3]) <= 16
                and words[3].isalnum())
    except (ValueError, IndexError):
        return False


def test_every_feature_validates_against_wccdm_schema(spark):
    """Every GeoJSON feature the engine emits must validate against the
    WCCDM-OBS JSON Schema (vendored verbatim from the reference's
    resources/schemas/wccdm-obs.json — a published WMO data resource), the
    same check the reference test suite applies to every transformed
    message (test_bufr2geojson.py:251-252)."""
    from jsonschema import validate

    schema = json.load(open(SCHEMA_PATH))
    fc = _wsi_format_checker()
    docs = golden_documents(spark).unionByName(
        synth_documents(spark, 80, n_stations=30, partitions=2,
                        multi_subset_every=7))
    feats = decode_documents(docs).filter("error is null")
    rows = to_geojson(feats, keep_cols=("feature_id",)).collect()
    assert len(rows) > 80
    for r in rows:
        gj = json.loads(r.geojson)
        validate(gj, schema, format_checker=fc)
        # WSI format on the host field (guessed-WSI path always sets one;
        # stricter than the schema, which never declares format 'wsi')
        host = gj["properties"]["host"]
        if host and host.startswith("0-"):
            assert _is_wsi(host), f"bad WSI {host!r}"
