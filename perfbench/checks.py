"""Output checks run after every timed pipeline run.

* W: an order-free digest of the contract projection must equal the digest
  of a reference chain (the layer functions composed directly, with no
  checkpoint, range partitioning or lineage in between);
* A: every tile ``(level, cell, n_obs, min_val, max_val)`` must equal a
  recount from the W features, and ``sum_val`` must agree to ``SUM_RTOL``
  (the A sums are not order-exact). The recount depends only on contract
  columns, so runs whose W digests are equal share one recount;
* quarantine: as many rows as documents the generator corrupted;
* the golden sherkin-island feature, field by field.

Each check returns a list of problems (with the row count it saw, where it
has one); an empty list means it passed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from bufr2geojson_spark.functions.cells import MAX_LEVEL, with_cells
from bufr2geojson_spark.operators.decode import decode_documents
from bufr2geojson_spark.operators.spatial import assign_region, knn_join

CONTRACT_COLUMNS = (
    "feature_id", "wsi", "phenomenon_time", "result_value", "lon", "lat",
    "cell_s2", "region_id", "nearest_station_id",
)
GOLDEN = {
    "feature_id": "1ec58338aab209c8ab22f05309315b71-0",
    "wsi": "0-20000-0-03951",
    "phenomenon_time": "2022-03-20T21:00:00Z",
    "result_value": 1019.3,
    "lon": -9.42,
    "lat": 51.47,
    "region_id": "T1",
}
SUM_RTOL = 1e-9


def _digest_columns():
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*CONTRACT_COLUMNS).cast("decimal(38,0)")).alias("h"),
    )


def contract_digest(features: DataFrame) -> tuple[int, str]:
    """(rows, multiset digest) of the contract projection."""
    row = features.select(*_digest_columns()).first()
    return int(row["n"]), str(row["h"])


def reference(docs, stations, polygons, conf) -> tuple[tuple[int, str], int]:
    """Digest of the reference chain and the quarantine rows its decode
    produced (the pipeline drops those rows, so W shows the split too)."""
    decoded = decode_documents(docs, guess_wsi=conf.guess_wsi, result_time=conf.result_time)
    obs = Observation("quarantine")
    feats = decoded.observe(
        obs, F.count(F.when(F.col("error").isNotNull(), 1)).alias("rows")
    ).filter("error is null")
    feats = with_cells(feats, s2_level_=conf.s2_level, hex_res_=conf.hex_res,
                       prefix_bits=conf.prefix_bits)
    feats = assign_region(feats, polygons)
    feats = knn_join(feats, stations, k=conf.knn_k, grid_deg=conf.knn_grid_deg)
    return contract_digest(feats), obs.get["rows"]


def check_features(features: DataFrame, reference: tuple[int, str]
                   ) -> tuple[tuple[int, str], list[str]]:
    """W digest and problems: contract digest and golden feature, one pass."""
    golden = F.when(F.col("feature_id") == GOLDEN["feature_id"], F.struct(*GOLDEN))
    row = features.select(*_digest_columns(), F.collect_list(golden).alias("g")).first()
    digest = (int(row["n"]), str(row["h"]))
    problems = []
    if digest != reference:
        problems.append(f"W contract digest {digest} != reference {reference}")
    if len(row["g"]) != 1:
        problems.append(f"golden feature found {len(row['g'])} times")
    else:
        got = row["g"][0].asDict()
        problems += [f"golden {k}: {got[k]!r} != {v!r}"
                     for k, v in GOLDEN.items() if got[k] != v]
    return digest, problems


def _s2_parent(cell, level: int):
    lsb = 1 << (2 * (MAX_LEVEL - level))
    return cell.bitwiseAND(F.lit(~(2 * lsb - 1) & ((1 << 63) - 1))).bitwiseOR(F.lit(lsb))


def tile_recount(features: DataFrame, base_level: int, levels) -> dict:
    """(level, cell) -> (n_obs, sum_val, min_val, max_val), recounted from
    the features as the A stage should have aggregated them."""
    v = F.col("result_value")
    per_level = [
        features.groupBy(_s2_parent(F.col("cell_s2"), lvl).alias("cell")).agg(
            F.count(v).alias("n"), F.sum(v).alias("s"), F.min(v).alias("lo"),
            F.max(v).alias("hi"),
        ).withColumn("level", F.lit(lvl))
        for lvl in (base_level, *levels)
    ]
    union = per_level[0]
    for t in per_level[1:]:
        union = union.unionByName(t)
    return {(r["level"], r["cell"]): (r["n"], r["s"], r["lo"], r["hi"])
            for r in union.collect()}


def _sum_close(got, want) -> bool:
    if got is None or want is None:
        return got is want
    return abs(got - want) <= SUM_RTOL * max(1.0, abs(want))


def check_tiles(recount: dict, tiles: DataFrame) -> tuple[int, list[str]]:
    """A rows and problems, against a recount of the W features."""
    got = {(r["level"], r["cell"]): (r["n_obs"], r["sum_val"], r["min_val"], r["max_val"])
           for r in tiles.select("level", "cell", "n_obs", "sum_val", "min_val",
                                 "max_val").collect()}
    if not got and not recount:
        return 0, ["A and the W recount are both empty"]
    bad = sum(
        1 for key in got.keys() | recount.keys()
        if key not in got or key not in recount
        or got[key][0] != recount[key][0] or got[key][2:] != recount[key][2:]
        or not _sum_close(got[key][1], recount[key][1])
    )
    if bad:
        return len(got), [f"{bad} tiles differ from the W recount"]
    return len(got), []


def check_quarantine(quarantined: int, corrupted: int) -> list[str]:
    """Every corrupted document, and nothing else, quarantined (each has
    one subset, so one quarantine row)."""
    if quarantined != corrupted:
        return [f"quarantined {quarantined} rows, generator corrupted {corrupted} documents"]
    return []
