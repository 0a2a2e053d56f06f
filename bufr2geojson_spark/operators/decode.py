"""Stage D — vectorized decode of interleaved documents into WCCDM-OBS features.

This is the Spark re-expression of the reference's whole per-subset parse
(``bufr2geojson/__init__.py``: ``BUFRParser.as_geojson`` :843-1176 plus the
``transform`` enrichment loop :1256-1295), fused into ONE ``mapInPandas``
stage. The qualifier state machine (classes 01-35 "in force",
``set_qualifier`` :216-254, routing :1054-1088) is an *ordered fold over one
document's span list*: state never crosses documents, so the work is
embarrassingly parallel across documents and Spark may partition the input
arbitrarily. Arrow batches amortize the Python boundary; within a batch the
span-text parsing is vectorized with pandas/numpy and only the per-document
state fold is a Python loop over the (small, ~10-40 element) span list —
there is no per-row Python at the DataFrame level (BASELINE.json input_hint).

Reference behaviors reproduced exactly (file:line cites into
``/root/reference/bufr2geojson/__init__.py``):

* header projection of the 22 ``HEADERS`` keys + ``sequence`` (:96-103,
  :883-907), missing ``subsetNumber`` tolerated (:888-889);
* element typing: missing→null (:981-982), CODE TABLE→struct (:1015-1022),
  FLAG TABLE→bit-decoded struct (:1023-1031, bit loop :831-841),
  CCITT IA5 strings → description with null value (:1032-1035);
* preferred-unit conversion K→Celsius / Pa→hPa rounded to 6 dp (:74-77,
  :1037-1044);
* key normalization ``#n#`` strip + camelCase→snake (:1049-1052);
* qualifier routing: class<9 except 004053 (:1056), coordinate-class repeat
  append (:1057-1058), DAYCLI 004023/307075 double-set (:1060-1064), class 31
  delayed replication 031012/031031 → hard error (:1070-1074), classes
  25/33/35 as qualifiers (:1075-1079);
* null-value suppression — only non-null data values emit features (:1090),
  and ``last_key``/``index`` update only on emission (:1174-1175);
* geometry via lat/lon + displacement rounded to BUFR scale (:362-426),
  z from the 8-way vertical precedence (:428-523);
* phenomenon time incl. hour==24 rollover (:551-556), single-negative
  time-period convention [v,0] (:598-605), period formatting "start/end"
  (:620-629); a failed time computation skips the feature (:1107-1112), an
  *invalid date* (missing components) returns the error message as the
  phenomenonTime string (:543-549) — both quirks preserved;
* WSI/TSI precedence chain with guessed issuers 20000/20002/20004
  (:651-780); statistic-qualified property rename (:1117-1121);
* id prefixing ``{report_md5}-{index}`` (:1234-1239, :1261) and the W3C PROV
  block with an injectable wall-clock field (:1262-1294; the reference test
  itself normalizes it, tests/test_bufr2geojson.py:261-262). The row keeps
  the PROV template's fields, not the block: ``feature_provenance`` renders
  it at the sink, as ``feature_metadata`` closes the row's metadata
  fragment with the report's headers;
* per-document error containment → quarantine ``error`` column instead of
  executor-killing exceptions (R27; reference logs & yields {} at
  :1213-1218, :1299-1300). NOTE the span-text contract: element fields are
  pipe-separated and text fields must not contain ``|`` (the synth never
  emits one); a malformed span mis-parses and the document lands in
  quarantine rather than crashing the executor.

Known-dead reference branches intentionally NOT resurrected (SURVEY.md §7):
the fxxyyy==tuple comparison (:1081-1088) and the fxxyyy-keyed increment
checks (:409-413, :571-575) test membership of "005011"/"004011"-style codes
against dicts keyed by *snake-case names*, so they can never fire; we match
observable behavior, not dead code.
"""

from __future__ import annotations

import hashlib
import json
import re
from datetime import datetime, timedelta
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

from bufr2geojson_spark.functions.wmo_tables import (
    ASSOCIATED_FIELDS,
    DEFAULT_TABLE_PROVIDER,
    PREFERRED_UNITS,
)
from bufr2geojson_spark.schemas import feature_schema

ENGINE_VERSION_LABEL = "0.7.dev0"  # matches the reference prov label contract

OM = "http://www.opengis.net/def/observationType/OGC-OM/2.0/OM_Measurement"
# (the reference emits these two with a missing colon — "http//" — at
#  __init__.py:1017,1024,1035; kept verbatim for golden equality)
OM_CATEGORY = "http//www.opengis.net/def/observationType/OGC-OM/2.0/OM_CategoryObservation"
OM_OBSERVATION = "http//www.opengis.net/def/observationType/OGC-OM/2.0/OM_Observation"
OBSERVING_PROCEDURE = "http://codes.wmo.int/wmdr/SourceOfObservation/unknown"
AF_SCHEME = "https://codes.wmo.int/bufr4/codeflag/0-31-021"

HEADERS = [
    "edition", "masterTableNumber", "bufrHeaderCentre", "bufrHeaderSubCentre",
    "updateSequenceNumber", "dataCategory", "internationalDataSubCategory",
    "dataSubCategory", "masterTablesVersionNumber", "localTablesVersionNumber",
    "typicalYear", "typicalMonth", "typicalDay", "typicalHour",
    "typicalMinute", "typicalSecond", "typicalDate", "typicalTime",
    "numberOfSubsets", "observedData", "compressedData", "subsetNumber",
]

LOCATION_DESCRIPTORS = [
    "latitude", "latitude_increment", "latitude_displacement",
    "longitude", "longitude_increment", "longitude_displacement",
]
ZLOCATION_DESCRIPTORS = ["height", "flight_level", "grid_point_altitude"]
RELATIVE_OBS_HEIGHT = [
    "height_above_station",
    "height_of_sensor_above_local_ground_or_deck_of_marine_platform",
    "height_of_sensor_above_water_surface",
    "depth_below_land_surface",
    "depth_below_water_surface",
]
OTHER_Z_DESCRIPTORS = ["geopotential", "pressure", "geopotential_height",
                       "water_pressure"]
TIME_DESCRIPTORS = ["year", "month", "day", "hour", "minute", "second",
                    "time_increment", "time_period"]
ID_DESCRIPTORS = [
    "block_number", "station_number",
    "ship_or_mobile_land_station_identifier",
    "wmo_region_sub_area", "region_number", "buoy_or_platform_identifier",
    "stationary_buoy_platform_identifier_e_g_c_man_buoys",
    "marine_observing_platform_identifier",
    "wigos_identifier_series", "wigos_issuer_of_identifier",
    "wigos_issue_number", "wigos_local_identifier_character",
]

QUALIFIER_CLASSES = ["01", "02", "03", "04", "05", "06", "07", "08", "09",
                     "22", "25", "31", "33", "35"]

TIME_UNITS = {"a": "years", "mon": "months", "d": "days", "h": "hours",
              "min": "minutes", "s": "seconds"}

_RANK_RE = re.compile(r"#[0-9]+#")
_CAMEL_RE = re.compile(r"([a-z])([A-Z])")


def _strip2(value):
    """Reference strip2 (:1313-1332): strip str/bytes, stringify others."""
    if value is None:
        return None
    if not isinstance(value, (str, bytes)):
        value = f"{value}"
    return value.strip()


_SNAKE_CACHE: dict = {}


def _snake(key: str) -> str:
    # memoized: descriptor keys repeat constantly within and across docs,
    # and the two regex passes were ~13% of decode CPU
    v = _SNAKE_CACHE.get(key)
    if v is None:
        v = _CAMEL_RE.sub(r"\1_\2", _RANK_RE.sub("", key)).lower()
        if len(_SNAKE_CACHE) < 65536:
            _SNAKE_CACHE[key] = v
    return v


class _DocState:
    """Per-document qualifier state (reference BUFRParser :192-214).

    ``v`` is a state version counter bumped on every qualifier mutation;
    the derived views (qualifier grouping, time, location, z, identity) are
    memoized against it — consecutive data elements between qualifier
    updates share the same in-force state, so the expensive derivations run
    once per state change instead of once per feature."""

    __slots__ = ("q", "v", "_memo")

    def __init__(self):
        self.q = {c: {} for c in QUALIFIER_CLASSES}
        self.v = 0
        self._memo: dict = {}

    def _cached(self, key, fn):
        hit = self._memo.get(key)
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = fn()
        self._memo[key] = (self.v, r)
        return r

    # NOTE on the hand-inlined accessors below: profiling the fold
    # (BENCH.md §5s) showed ~8 `_cached` calls per feature, and each
    # call-site lambda is allocated even on a memo HIT — ~400k closure
    # builds per 48k features that exist only to be discarded. The hot
    # per-feature accessors therefore open-code the version-checked memo
    # (identical semantics: same keys, same (version, value) entries, so
    # `_cached` users and tests observe the same dict).

    def set_qualifier(self, fxxyyy, key, value, description, attributes,
                      append=False):
        self.v += 1
        # reference :216-254
        xx = fxxyyy[1:3]
        if value is None and description is None:
            if key in self.q[xx]:
                del self.q[xx][key]
        else:
            if key in self.q[xx] and append:
                prev = self.q[xx][key]["value"]
                self.q[xx][key]["value"] = [prev, value]
            else:
                self.q[xx][key] = {
                    "code": fxxyyy,
                    "key": key,
                    "value": value,
                    "attributes": attributes,
                    "description": description,
                }

    def get_qualifier(self, xx, key, default=None):
        # reference :256-276: CCITT IA5 qualifiers resolve to the description
        if key in self.q[xx]:
            entry = self.q[xx][key]
            if entry["attributes"].get("units") == "CCITT IA5":
                return entry["description"]
            return entry["value"]
        return default

    def get_qualifiers(self) -> dict:
        # memoized per state version; shallow-copied because the caller adds
        # outer keys (BUFR_element, zCoordinate)
        memo = self._memo
        hit = memo.get("qual")
        if hit is not None and hit[0] == self.v:
            return dict(hit[1])
        r = self._get_qualifiers()
        memo["qual"] = (self.v, r)
        return dict(r)

    def qualifiers_json(self) -> str:
        """json.dumps of get_qualifiers(), memoized per state version —
        profiling showed the per-feature dumps of the (unchanged-between-
        qualifier-updates) metadata block was ~15% of decode CPU."""
        memo = self._memo
        hit = memo.get("qual_json")
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = json.dumps(self._cached("qual", self._get_qualifiers))
        memo["qual_json"] = (self.v, r)
        return r

    def qualifiers_json_open(self) -> str:
        """``qualifiers_json()`` without its closing brace, memoized — the
        per-feature ``[:-1]`` slice copied the whole (KB-sized) metadata
        block once per feature."""
        memo = self._memo
        hit = memo.get("qual_json_open")
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = self.qualifiers_json()[:-1]
        memo["qual_json_open"] = (self.v, r)
        return r

    def zcoord_json(self, bufr_class) -> str:
        """json.dumps of the zCoordinate fragment, memoized per
        (state version, bufr_class)."""
        memo = self._memo
        key = ("zjson", bufr_class)
        hit = memo.get(key)
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = json.dumps(self.get_zcoordinate(bufr_class).get("z"))
        memo[key] = (self.v, r)
        return r

    def _get_qualifiers(self) -> dict:
        # reference :278-360 — grouping of in-force qualifiers by class
        identification, wigos_md, qualifiers = {}, {}, {}
        processing, monitoring, quality, associated_field = {}, {}, {}, {}
        for c in QUALIFIER_CLASSES:
            for k, entry in self.q[c].items():
                if k in LOCATION_DESCRIPTORS or k in TIME_DESCRIPTORS \
                        or k in ID_DESCRIPTORS:
                    continue
                value = entry["value"]
                units = entry["attributes"].get("units")
                description = entry["description"]
                if isinstance(description, (str, bytes)):
                    description = _strip2(description)
                if units in ("CODE TABLE", "FLAG TABLE"):
                    q = {"value": dict(value) if isinstance(value, dict) else value}
                elif units == "CCITT IA5":
                    q = {"value": description}
                else:
                    q = {"value": value, "units": units,
                         "description": description}
                if c == "01":
                    identification[k] = dict(q)
                if c in ("02", "03", "07", "22"):
                    wigos_md[k] = dict(q)
                if c in ("08", "09"):
                    qualifiers[k] = dict(q)
                if c == "25":
                    processing[k] = dict(q)
                if c == "31":
                    associated_field[k] = dict(q)
                if c == "33":
                    quality[k] = dict(q)
                if c == "35":
                    monitoring[k] = dict(q)
        return {
            "identification": identification,
            "instrumentation": wigos_md,
            "qualifiers": qualifiers,
            "processing": processing,
            "monitoring": monitoring,
            "quality": quality,
            "associated_field": associated_field,
        }

    # ----- geometry / vertical (reference :362-523) -----

    def get_zcoordinate(self, bufr_class=None) -> dict:
        memo = self._memo
        key = ("z", bufr_class)
        hit = memo.get(key)
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = self._get_zcoordinate(bufr_class)
        memo[key] = (self.v, r)
        return r

    def _get_zcoordinate(self, bufr_class=None) -> dict:
        result = {}
        q7 = self.q["07"]
        station_ground = q7.get("height_of_station_ground_above_mean_sea_level")

        abs_height = []
        if bufr_class == 10:
            if "height_of_barometer_above_mean_sea_level" in q7:
                abs_height.append("height_of_barometer_above_mean_sea_level")
        else:
            for k in ZLOCATION_DESCRIPTORS:
                if k in q7:
                    abs_height.append(k)
        rel_height = [k for k in RELATIVE_OBS_HEIGHT if k in q7]
        other_height = [k for k in OTHER_Z_DESCRIPTORS if k in q7]

        if len(other_height) == 1:
            abs_height = []
            rel_height = []
        if len(abs_height) > 1:
            abs_height = []
        if len(rel_height) > 1:
            rel_height = []
        if len(other_height) > 1:
            other_height = []

        z_amsl = None
        z_alg = None
        z_other = None
        if len(rel_height) == 1 and station_ground is not None:
            z_amsl = station_ground["value"] + q7[rel_height[0]]["value"]
            z_alg = q7[rel_height[0]]["value"]
            if "depth" in rel_height[0]:
                z_alg = -1 * z_alg
        elif len(abs_height) == 1 and station_ground is not None:
            z_amsl = q7[abs_height[0]]["value"]
            z_alg = z_amsl - station_ground["value"]
        else:
            if len(abs_height) == 1:
                z_amsl = q7[abs_height[0]]["value"]
            if len(rel_height) == 1:
                z_alg = q7[rel_height[0]]["value"]
        if len(other_height) == 1:
            z_other = q7[other_height[0]]

        if z_amsl is not None:
            result["z_amsl"] = {"name": "height_above_mean_sea_level",
                                "value": z_amsl, "units": "m"}
        if z_other is not None:
            result["z"] = {
                "name": z_other.get("key"),
                "value": z_other.get("value"),
                "units": z_other.get("attributes", {}).get("units"),
            }
        elif z_alg is not None:
            result["z"] = {"name": "height_above_local_ground",
                           "value": z_alg, "units": "m"}
        return result

    def get_location(self, bufr_class=None):
        memo = self._memo
        key = ("loc", bufr_class)
        hit = memo.get(key)
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = self._get_location(bufr_class)
        memo[key] = (self.v, r)
        return r

    def location_out(self, bufr_class=None):
        """Materialized ``(geometry_dict, lon, lat, z)`` output tuple,
        memoized per state version — rebuilding the geometry dict + float()
        coordinate list per feature for an unchanged location was pure
        allocator churn. Rows only read the shared dict."""
        memo = self._memo
        key = ("locout", bufr_class)
        hit = memo.get(key)
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = self._location_out(bufr_class)
        memo[key] = (self.v, r)
        return r

    def _location_out(self, bufr_class=None):
        g = self.get_location(bufr_class)
        if g is None:
            return (None, None, None, None)
        coords = [float(c) for c in g["coordinates"]]
        return (
            {"type": g["type"], "coordinates": coords},
            coords[0],
            coords[1],
            coords[2] if len(coords) > 2 else None,
        )

    def _get_location(self, bufr_class=None):
        q5, q6 = self.q["05"], self.q["06"]
        latitude = None
        if "latitude" in q5:
            ent = q5["latitude"]
            lat_value = ent["value"]
            if "latitude_displacement" in q5:
                lat_value = lat_value + q5["latitude_displacement"]["value"]
            latitude = round(lat_value, ent["attributes"]["scale"])
        longitude = None
        if "longitude" in q6:
            ent = q6["longitude"]
            lon_value = ent["value"]
            if "longitude_displacement" in q6:
                lon_value = lon_value + q6["longitude_displacement"]["value"]
            longitude = round(lon_value, ent["attributes"]["scale"])

        z = self.get_zcoordinate(bufr_class)
        height = z.get("z_amsl", {}).get("value")

        location = [longitude, latitude]
        if height is not None:
            location.append(height)
        if None in location:
            return None
        return {"type": "Point", "coordinates": location}

    # ----- time (reference :525-631) -----

    def get_time(self) -> str:
        memo = self._memo
        hit = memo.get("time")
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = self._get_time()
        memo["time"] = (self.v, r)
        return r

    def _get_time(self) -> str:
        xx = "04"
        year = self.get_qualifier(xx, "year")
        month = self.get_qualifier(xx, "month")
        day = self.get_qualifier(xx, "day", 1)
        hour = self.get_qualifier(xx, "hour", 0)
        minute = self.get_qualifier(xx, "minute", 0)
        second = self.get_qualifier(xx, "second", 0)
        if None in [year, month, day, hour, minute, second]:
            # quirk preserved: message string returned, not raised (:543-549)
            return (f"Invalid date ({year}-{month}-{day} "
                    f"{hour}:{minute}:{second}) in BUFR data")
        if hour == 24:
            hour = 0
            offset = 1
        else:
            offset = 0
        time_ = datetime(int(year), int(month), int(day), int(hour),
                         int(minute), int(second)) + timedelta(days=offset)

        time_list = None
        if "time_period" in self.q["04"]:
            displacement = self.q["04"]["time_period"]
            value = displacement["value"]
            units = TIME_UNITS[displacement["attributes"]["units"]]
            if not isinstance(value, int):
                if len(value) > 2:
                    raise NotImplementedError("more than two time displacements")
            else:
                # single negative displacement → period up to now (:598-605)
                value = [value, 0] if value < 0 else [0, value]
            time_list = [None] * len(value)
            for tidx in range(len(value)):
                if units in ("years", "months"):
                    # the reference mutates datetime attributes here, which
                    # raises AttributeError → caller skips the feature
                    # (:615-618 caught at :1107-1112); preserve that contract
                    raise AttributeError(
                        "years/months displacement unsupported (reference parity)")
                time_list[tidx] = time_ + timedelta(**{units: value[tidx]})

        if time_list:
            if len(time_list) > 2:
                raise NotImplementedError("more than two times")
            return (time_list[0].strftime("%Y-%m-%dT%H:%M:%SZ") + "/" +
                    time_list[1].strftime("%Y-%m-%dT%H:%M:%SZ"))
        return time_.strftime("%Y-%m-%dT%H:%M:%SZ")

    # ----- identification (reference :633-780) -----

    def get_identification(self, guess_wsi=False) -> dict:
        memo = self._memo
        key = ("ident", guess_wsi)
        hit = memo.get(key)
        if hit is not None and hit[0] == self.v:
            return hit[1]
        r = self._get_identification(guess_wsi)
        memo[key] = (self.v, r)
        return r

    def _get_identification(self, guess_wsi=False) -> dict:
        q1 = self.q["01"]
        wsi = None
        wigos_keys = ("wigos_identifier_series", "wigos_issuer_of_identifier",
                      "wigos_issue_number", "wigos_local_identifier_character")
        if all(x in q1 for x in wigos_keys):
            series = self.get_qualifier("01", "wigos_identifier_series")
            issuer = self.get_qualifier("01", "wigos_issuer_of_identifier")
            number = self.get_qualifier("01", "wigos_issue_number")
            local = _strip2(self.get_qualifier("01", "wigos_local_identifier_character"))
            return {"wsi": f"{series}-{issuer}-{number}-{local}", "tsi": local,
                    "type": "wigos_station_identifier"}

        if all(x in q1 for x in ("block_number", "station_number")):
            block = self.get_qualifier("01", "block_number")
            station = self.get_qualifier("01", "station_number")
            tsi = _strip2(f"{block:02d}{station:03d}")
            if guess_wsi:
                wsi = f"0-20000-0-{tsi}"
            return {"wsi": wsi, "tsi": tsi,
                    "type": "block_number_and_station_number"}

        if "ship_or_mobile_land_station_identifier" in q1:
            callsign = self.get_qualifier(
                "01", "ship_or_mobile_land_station_identifier")
            tsi = _strip2(callsign)
            if guess_wsi:
                wsi = f"0-20004-0-{tsi}"
            return {"wsi": wsi, "tsi": tsi,
                    "type": "ship_or_mobile_land_station_identifier"}

        buoy5 = ("region_number", "wmo_region_sub_area",
                 "buoy_or_platform_identifier")
        if all(x in q1 for x in buoy5):
            # (the reference's own calls here lack the class argument and
            #  would TypeError — latent bug at :723-725; implemented working)
            region = self.get_qualifier("01", "region_number")
            sub = self.get_qualifier("01", "wmo_region_sub_area")
            num = self.get_qualifier("01", "buoy_or_platform_identifier")
            tsi = _strip2(f"{region:01d}{sub:01d}{num:05d}")
            if guess_wsi:
                wsi = f"0-20002-0-{tsi}"
            return {"wsi": wsi, "tsi": tsi,
                    "type": "5_digit_marine_observing_platform_identifier"}

        for _type, issuer in (
            ("stationary_buoy_platform_identifier_e_g_c_man_buoys", 20002),
            ("7_digit_marine_observing_platform_identifier", 20002),
        ):
            if _type in q1:
                tsi = _strip2(self.get_qualifier("01", _type))
                if guess_wsi:
                    wsi = f"0-{issuer}-0-{tsi}"
                return {"wsi": wsi, "tsi": tsi, "type": _type}

        return {"wsi": None, "tsi": None, "type": None}


# ---------------------------------------------------------------------------
# element decode helpers (reference :974-1044 typing + tables)
# ---------------------------------------------------------------------------


def _code_value(fxxyyy: str, code, provider=None) -> str:
    provider = provider or DEFAULT_TABLE_PROVIDER
    return provider.code_entry(fxxyyy, code)  # "Invalid" on miss (:806-808)


def _flag_values(fxxyyy: str, bitstring: str, provider=None) -> list:
    provider = provider or DEFAULT_TABLE_PROVIDER
    out = []
    for idx, bit in enumerate(bitstring):
        if bit == "1":
            label = provider.flag_label(fxxyyy, idx + 1)
            if label is not None:
                out.append(label)
    return out


# shared no-flag value: the common case (no associated field) allocated a
# fresh 3-key dict per span; rows only read it, so one shared object is safe
_QF_NONE = {"inScheme": None, "flag": None, "flagValue": None}


def _quality_flag(af_sig, af_value) -> dict:
    if af_sig is None:
        return _QF_NONE
    field = ASSOCIATED_FIELDS.get(str(int(af_sig)))
    if field is None:
        return _QF_NONE
    if field.get("type") == "int":
        fv = field.get("values", {}).get(str(int(af_value)), "")
    else:
        fv = f"{af_value} {field.get('units', '')}"
    return {"inScheme": AF_SCHEME, "flag": field.get("label", ""),
            "flagValue": fv}


def _prov_block(source_identifier, feature_id, inner_id, subset_idx, msg_idx,
                prov_end_time) -> dict:
    # reference :1262-1294, wall clock injected
    return {
        "prefix": {"prov": "http://www.w3.org/ns/prov#",
                   "schema": "https://schema.org/"},
        "entity": {
            f"{source_identifier}": {
                "prov:type": "schema:DigitalDocument",
                "prov:label": "Input data file",
                "schema:encodingFormat": "application/bufr",
            },
            f"{feature_id}": {
                "prov:type": "observation",
                "prov:label": f"Observation {inner_id} from subset "
                              f"{subset_idx} of message {msg_idx}",
            },
        },
        "wasDerivedFrom": {
            "_:wdf": {
                "prov:generatedEntity": f"{feature_id}",
                "prov:usedEntity": f"{source_identifier}",
                "prov:activity": "_:bufr2geojson",
            }
        },
        "activity": {
            "_:bufr2geojson": {
                "prov:type": "prov:Activity",
                "prov:label": f"Data transformation using version "
                              f"{ENGINE_VERSION_LABEL} of bufr2geojson",
                "prov:endTime": prov_end_time,
            }
        },
    }


def _subset_idx(headers: dict) -> int:
    return int(headers.get("subsetNumber", 1)) - 1


# The row stores neither rendered document: the sink (functions/geojson.py)
# rebuilds both from the row with the two renderers below, which fix their
# format in one place.


def feature_metadata(metadata_frag: str, headers_json: str) -> str:
    """A feature's ``additionalProperties`` document: its per-feature
    fragment closed by the report's ``BUFRheaders`` block (reference key
    order, headers last)."""
    return metadata_frag + ',"BUFRheaders":' + headers_json + "}"


def feature_provenance(row, headers: dict) -> dict:
    """A feature's W3C PROV block from its decoded row (a mapping with the
    ``feature_schema`` fields) and its decoded ``BUFRheaders``. The source
    is the row's ``source_identifier`` or, when none was set, its host;
    ``prov:endTime`` is its ``result_time``."""
    source = row["source_identifier"]
    return _prov_block(
        row["host"] if source is None else source, row["feature_id"],
        int(row["index"]), _subset_idx(headers), int(row["message_number"]),
        f"{row['result_time']}",
    )


def _report_id(spans) -> str:
    """Deterministic report id when the ingest did not carry the original
    BUFR md5 (reference md5s the re-encoded subset bytes, :1234-1239; our
    canonical bytes are the span serialization)."""
    # one join + one encode + one update — byte-identical to the per-span
    # update loop it replaces, ~2× faster on the md5 path
    return hashlib.md5(
        "".join(
            f"{s['kind']}\x1f{s['text']}\x1f{s['media_ref']}\x1f{s['offset']}\x1e"
            for s in spans
        ).encode()
    ).hexdigest()


# json.dumps of the (small, repeating) BUFR element codes, cached — one
# C-encoder call per distinct code instead of one per feature. Bounded so a
# corrupt corpus with unbounded distinct codes can't grow executor memory.
_FXX_JSON: dict = {}
# fxxyyy -> (xx, yyy): the descriptor vocabulary is tiny (bounded like
# _FXX_JSON) and every element span pays two slices + two int() without it
_FXX_PARSE: dict = {}


def _fxx_json(fxxyyy: str) -> str:
    j = _FXX_JSON.get(fxxyyy)
    if j is None:
        j = json.dumps(fxxyyy)
        if len(_FXX_JSON) < 4096:
            _FXX_JSON[fxxyyy] = j
    return j


def _parse_value(tok: str):
    if tok == "" or tok is None:
        return None
    # branch instead of exception-driven dispatch: floats are the common
    # case and a raised ValueError per float was ~7% of decode CPU
    if "." in tok or "e" in tok or "E" in tok:
        return float(tok)
    try:
        return int(tok)
    except ValueError:
        return float(tok)


# ---------------------------------------------------------------------------
# the per-document fold
# ---------------------------------------------------------------------------


def _decode_doc(doc_id, spans, *, guess_wsi, result_time, source_identifier,
                include_spans, table_provider=None):
    """Decode one document, exploding multi-subset documents (R3).

    The reference clones the message and extracts subset i as an independent
    single-subset report with its own md5 report id
    (bufr2geojson/__init__.py:1224-1239). Our span encoding carries one
    ``header`` span per subset (``subsetNumber`` = i+1, ``numberOfSubsets``
    = N); each subset's spans run from its header span up to the next one.
    Returns (features, errors): one error entry per failed subset — a bad
    subset quarantines itself without suppressing its siblings' features,
    matching the reference's per-subset containment (:1251-1254)."""
    spans = sorted(spans, key=lambda s: s["offset"])
    header_positions = [
        i for i, s in enumerate(spans) if s["kind"] == "header"
    ]
    if not header_positions:
        return [], ["missing header span"]
    if len(header_positions) == 1:
        feats, err = _decode_subset(
            doc_id, spans, spans,
            guess_wsi=guess_wsi, result_time=result_time,
            source_identifier=source_identifier,
            include_spans=include_spans,
            table_provider=table_provider,
        )
        return feats, ([] if err is None else [err])
    features, errors = [], []
    for j, hp in enumerate(header_positions):
        end = (header_positions[j + 1]
               if j + 1 < len(header_positions) else len(spans))
        seg = spans[hp:end]
        try:
            feats, err = _decode_subset(
                doc_id, seg, spans,
                guess_wsi=guess_wsi, result_time=result_time,
                source_identifier=source_identifier,
                include_spans=include_spans,
                table_provider=table_provider,
            )
        except Exception as e:
            # a subset that RAISES (corrupt header JSON, malformed element)
            # must also quarantine only itself — returned errors alone don't
            # cover exceptions, which would otherwise discard siblings
            feats, err = [], f"decode error: {e}"
        features.extend(feats)
        if err is not None:
            errors.append(f"subset {j + 1}: {err}")
    return features, errors


def _decode_subset(doc_id, spans, full_spans, *, guess_wsi, result_time,
                   source_identifier, include_spans, table_provider=None):
    features = []
    # media count and the span-sequence invariant are DOCUMENT-level
    # properties: count/preserve the full document's spans, not the segment
    n_media = sum(1 for s in full_spans if s["kind"] == "media")

    header_spans = [s for s in spans if s["kind"] == "header"]
    if not header_spans:
        return [], "missing header span"
    raw_headers = json.loads(header_spans[0]["text"])
    headers = {}
    for h in HEADERS:
        if h in raw_headers:
            headers[h] = raw_headers[h]
        elif h != "subsetNumber":  # tolerated missing (:888-889)
            return [], f"missing header key {h}"
    sequence = str(raw_headers.get("sequence", ""))
    headers["sequence"] = sequence
    report_id = raw_headers.get("reportIdentifier") or _report_id(spans)
    src_id = raw_headers.get("sourceIdentifier") or source_identifier
    # the provenance template fields the row lacks; the sink falls back to
    # the feature's host when no source is set
    src_id = f"{src_id}" if src_id not in ("", None) else None
    # the sink renders both numbers: a value it could not render
    # quarantines the subset here instead
    _subset_idx(headers)
    msg_idx = int(raw_headers.get("messageNumber", 1))
    if not -2**31 <= msg_idx < 2**31:
        return [], f"messageNumber {msg_idx} out of range"
    report_type = (f"{headers['dataCategory']:03}"
                   f"{headers['internationalDataSubCategory']:03}")
    # serialized once per subset and shared by its features; the sink
    # closes each feature's metadata fragment with it
    headers_json = json.dumps(headers)

    state = _DocState()
    last_key = None
    index = 0
    error = None

    for span in spans:
        if span["kind"] != "element":
            continue
        parts = span["text"].split("|")
        if len(parts) < 10:
            parts += [""] * (10 - len(parts))
        (fxxyyy, rawkey, vtok, units, stok, rtok, wtok, desc,
         af_sig_tok, af_val_tok) = parts[:10]
        xxyyy = _FXX_PARSE.get(fxxyyy)
        if xxyyy is None:
            xxyyy = (int(fxxyyy[1:3]), int(fxxyyy[3:6]))
            if len(_FXX_PARSE) < 4096:
                _FXX_PARSE[fxxyyy] = xxyyy
        xx, yyy = xxyyy
        value = _parse_value(vtok) if vtok else None
        desc = desc if desc != "" else None
        af_sig = _parse_value(af_sig_tok) if af_sig_tok else None
        af_value = _parse_value(af_val_tok) if af_val_tok else None

        # scale/reference/width and the attributes dict are only STORED by
        # the qualifier routes (set_qualifier); the feature-emitting data
        # path reads nothing but the (post-conversion) units, so their
        # parse + dict build is deferred to the routing branches below —
        # ~40% of spans skip all three parses (profiled: _parse_value was
        # 853k calls / 7% of fold CPU at 6k docs)

        quality_flag = _quality_flag(af_sig, af_value)

        # typing (:1012-1035)
        description = None
        observation_type = OM
        _value = None
        if units == "CODE TABLE" and value is not None:
            description = _code_value(fxxyyy, value, table_provider)
            observation_type = OM_CATEGORY
            f0 = int(fxxyyy[0])
            _value = {
                "codetable": f"http://codes.wmo.int/bufr4/codeflag/"
                             f"{f0:1}-{xx:02}-{yyy:03}",
                "entry": f"{value}",
                "description": description,
            }
        elif units == "FLAG TABLE" and value is not None:
            observation_type = OM_CATEGORY
            width = _parse_value(wtok) if wtok else None
            bitstring = "{0:0{1}b}".format(int(value), int(width or 0))
            description = _flag_values(fxxyyy, bitstring, table_provider)
            f0 = int(fxxyyy[0])
            _value = {
                "flagtable": f"http://codes.wmo.int/bufr4/codeflag/"
                             f"{f0:1}-{xx:02}-{yyy:03}",
                "entry": bitstring,
                "description": description,
            }
        elif units == "CCITT IA5":
            description = desc if desc is not None else (
                None if value is None else str(value))
            value = None
            observation_type = OM_OBSERVATION

        # preferred-unit conversion (:1037-1044). `units` now carries the
        # post-conversion name; the deferred attributes builds below and the
        # feature row's result_units read it, matching the eager build that
        # mutated attributes["units"] in place
        if units in PREFERRED_UNITS and value is not None:
            target, m, o = PREFERRED_UNITS[units]
            value = round(value * m + o, 6)
            units = target

        if _value is not None:
            value = dict(_value)

        key = _snake(rawkey)

        # routing (:1054-1088)
        if xx < 9 and fxxyyy != "004053":
            attributes = {"code": fxxyyy, "units": units,
                          "scale": _parse_value(stok) if stok else None,
                          "reference": _parse_value(rtok) if rtok else None,
                          "width": _parse_value(wtok) if wtok else None}
            append = (4 <= xx < 8) and key == last_key
            if fxxyyy == "004023" and sequence == "307075":
                # DAYCLI patch (:1060-1064)
                state.set_qualifier(fxxyyy, key, value, description,
                                    attributes, append)
                state.set_qualifier(fxxyyy, key, value + 1, description,
                                    attributes, append)
            else:
                state.set_qualifier(fxxyyy, key, value, description,
                                    attributes, append)
            last_key = key
            continue
        elif xx == 31:
            if yyy in (12, 31):
                # delayed replication: reference raises NotImplementedError
                # (:1070-1072); we quarantine the document (R27)
                error = "delayed replication (031012/031031) not supported"
                break
            last_key = key
            continue
        elif xx in (25, 33, 35):
            attributes = {"code": fxxyyy, "units": units,
                          "scale": _parse_value(stok) if stok else None,
                          "reference": _parse_value(rtok) if rtok else None,
                          "width": _parse_value(wtok) if wtok else None}
            state.set_qualifier(fxxyyy, key, value, description, attributes,
                                False)
            last_key = key
            continue

        # data element (:1090-1175)
        if value is None:
            continue

        # the metadata document without its BUFRheaders tail, assembled
        # from memoized pre-serialized fragments (byte-identical to dumps of
        # the mutated get_qualifiers() dict once feature_metadata closes it
        # — pinned by the golden metadata test and the geojson-length
        # oracle). Cut before the tail, it repeats across features and
        # reports, so parquet dictionary-encodes it.
        z = state.get_zcoordinate(xx)
        zcoord = z.get("z") if z else None
        metadata_frag = (state.qualifiers_json_open()
                         + ', "BUFR_element": ' + _fxx_json(fxxyyy))
        if z is not None:
            metadata_frag += ', "zCoordinate": ' + state.zcoord_json(xx)

        ident = state.get_identification(guess_wsi)
        wsi = ident["wsi"]
        host_id = wsi
        if wsi is None:
            wsi = "UNKNOWN"
            host_id = ident["tsi"]

        try:
            phenomenon_time = state.get_time()
        except Exception:
            # failed time derivation skips the feature (:1107-1112)
            continue

        fos = state.get_qualifier("08", "first_order_statistics", None)
        observed_property = f"{key}"
        if fos is not None:
            fos_desc = fos.get("description", "") if isinstance(fos, dict) else ""
            observed_property = f"{key} ({fos_desc.lower()})"

        geometry, geo_lon, geo_lat, geo_z = state.location_out(xx)
        feature_id = f"{report_id}-{index}"

        is_num = isinstance(value, (int, float))
        row = {
            "feature_id": feature_id,
            "report_id": report_id,
            "doc_id": doc_id,
            "index": index,
            "geometry": geometry,
            "lon": geo_lon,
            "lat": geo_lat,
            "z": geo_z,
            "wsi": wsi,
            "tsi": ident["tsi"],
            "host": host_id,
            "observed_property": observed_property,
            "observation_type": observation_type,
            "observing_procedure": OBSERVING_PROCEDURE,
            "phenomenon_time": phenomenon_time,
            "result_time": result_time,
            "result_value": float(value) if is_num else None,
            "result_code": (value if (not is_num) and "codetable" in value
                            else None),
            "result_flags": (value if (not is_num) and "flagtable" in value
                             else None),
            "result_units": units,
            "quality_flag": quality_flag,
            "report_type": report_type,
            "bufr_element": fxxyyy,
            "zcoord": zcoord,
            "headers_json": headers_json,
            "metadata_frag": metadata_frag,
            "source_identifier": src_id,
            "message_number": msg_idx,
            "error": None,
            "n_media_spans": n_media,
        }
        if include_spans:
            row["spans_out"] = list(full_spans)
        features.append(row)
        last_key = key
        index += 1

    return features, error


def _error_row(doc_id, error, include_spans, spans=None):
    row = {f.name: None for f in feature_schema(include_spans).fields}
    row["doc_id"] = doc_id
    row["error"] = error
    if include_spans:
        row["spans_out"] = spans
    return row


def decode_documents(
    docs: DataFrame,
    *,
    guess_wsi: bool = True,
    result_time: str = "2024-12-19 00:00:00",
    source_identifier: str = "",
    include_spans: bool = False,
    table_provider=None,
) -> DataFrame:
    """Decode the interleaved-document table into WCCDM-OBS feature rows.

    One fused ``mapInPandas`` stage (SURVEY.md §3.1): Arrow-batched, no
    shuffle, no driver collection; scales linearly with input partitions.

    ``result_time`` is the reference's wall-clock result time (:1114) made
    injectable for determinism; the sink renders it as the provenance
    ``prov:endTime`` (:1290) too — the reference test suite itself
    overwrites both before comparing (tests/test_bufr2geojson.py:261-262).
    """
    schema = feature_schema(include_spans)

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                # Arrow already materializes list<struct> as fresh Python
                # dicts and nothing downstream mutates a span, so the rows
                # share them; re-wrapping each in dict() was pure churn
                spans = list(spans)
                try:
                    feats, errs = _decode_doc(
                        doc_id, spans,
                        guess_wsi=guess_wsi,
                        result_time=result_time,
                        source_identifier=source_identifier,
                        include_spans=include_spans,
                        table_provider=table_provider,
                    )
                except Exception as e:  # quarantine, never kill the executor
                    feats, errs = [], [f"decode error: {e}"]
                rows.extend(feats)
                for err in errs:  # one quarantine row per failed subset
                    rows.append(_error_row(doc_id, err, include_spans, spans))
            if rows:
                out = pd.DataFrame(rows)
            else:
                out = pd.DataFrame({c: pd.Series(dtype=object) for c in cols})
            yield out[cols]

    return docs.mapInPandas(fold, schema=schema)
