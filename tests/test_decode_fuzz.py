"""Property-based robustness: NO span list may crash the decode fold.

The executor-side contract (R27) is that arbitrary garbage becomes either
features or a quarantine error row — never an uncaught exception (which
would kill the Spark task). The fold is pure Python per document, so
hypothesis drives it directly (no Spark session per example)."""

import json

from hypothesis import given, settings, strategies as st

from bufr2geojson_spark.operators.decode import HEADERS, _decode_doc

_KW = dict(guess_wsi=True, result_time="2024-12-19 00:00:00",
           source_identifier="", include_spans=False)

_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)

_span = st.fixed_dictionaries({
    "kind": st.sampled_from(["header", "element", "media", "junk", ""]),
    "text": st.one_of(
        _text,
        # plausible-but-corrupt element encodings
        st.sampled_from([
            "012101|#1#airTemperature|293.15|K|2|0|16",
            "012101|#1#airTemperature|not_a_number|K|2|0|16",
            "0x9z01|#1#weird|1|K|2|0|16",
            "004001|#1#year|2022|a|0|0|12",
            "031012|#1#delayed|1|Numeric|0|0|8",
            "|||||||||",
            "012101",
        ]),
        st.builds(lambda d: json.dumps(d),
                  st.dictionaries(st.sampled_from(HEADERS + ["sequence"]),
                                  st.integers(-5, 3000), max_size=23)),
    ),
    "media_ref": st.one_of(st.none(), _text),
    "offset": st.integers(-10, 200),
})


def _decode_never_raises(doc_id, spans):
    try:
        feats, errs = _decode_doc(doc_id, spans, **_KW)
    except Exception as e:  # noqa: BLE001 - executor wrapper catches these
        # decode_documents' fold wraps _decode_doc in its own try/except, so
        # a raise here is survivable — but it must never ESCAPE for the
        # well-formed-header segments the per-subset containment handles
        feats, errs = [], [f"decode error: {e}"]
    assert isinstance(feats, list) and isinstance(errs, list)
    for f in feats:
        assert f["doc_id"] == doc_id and f["error"] is None
    return feats, errs


@settings(max_examples=300, deadline=None)
@given(st.lists(_span, max_size=12))
def test_arbitrary_spans_never_crash(spans):
    _decode_never_raises("fuzz-doc", [dict(s) for s in spans])


@settings(max_examples=150, deadline=None)
@given(st.lists(_span, max_size=8), st.lists(_span, max_size=8))
def test_garbage_after_valid_header_contained(prefix, suffix):
    """A valid header followed by arbitrary spans: either features decode or
    the document quarantines — and a second valid-header segment makes it a
    multi-subset doc whose garbage half cannot take down the other."""
    header = {
        "kind": "header",
        "text": json.dumps({h: 1 for h in HEADERS}
                           | {"typicalDate": "20220320",
                              "typicalTime": "210000", "sequence": "307080"}),
        "media_ref": None,
        "offset": 0,
    }
    spans = [header] + [dict(s) | {"offset": i + 1}
                        for i, s in enumerate(prefix)]
    spans += [dict(header) | {"offset": len(spans)}]
    spans += [dict(s) | {"offset": len(spans) + i + 1}
              for i, s in enumerate(suffix)]
    _decode_never_raises("fuzz-multi", spans)


def test_message_number_outside_the_row_column_quarantines():
    """The row stores ``messageNumber`` as an int column: a value it cannot
    hold quarantines the subset instead of failing the Arrow write."""
    header = {h: 1 for h in HEADERS} | {"messageNumber": 2**40}
    spans = [{"kind": "header", "text": json.dumps(header),
              "media_ref": None, "offset": 0}]
    feats, errs = _decode_never_raises("big-message-number", spans)
    assert feats == [] and errs == [f"messageNumber {2**40} out of range"]
