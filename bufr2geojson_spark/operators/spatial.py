"""Spatial join operators (N3/N4): broadcast point-in-polygon + kNN stations.

Both dimensions (region polygons, station list) are small relative to the
feature stream — the reference's analogues (code/flag tables) are broadcast
caches (``bufr2geojson/__init__.py:782-841``), and the north_star mandates
"ray-casting PIP tests against broadcast polygon R-trees" and "kNN station
matching via cell-ring expansion". Architecture:

* the dimension is captured once on the driver and shipped in the UDF closure
  (Spark serializes it per executor — the broadcast-join pattern without a
  shuffle on the big side; the feature stream stays a NARROW pipeline);
* both joins are *scalar* pandas UDFs over (lat, lon) ONLY — the wide feature
  row (span structs, ~kB JSON provenance strings) never crosses the
  Arrow/Python boundary. Measured on this box, the earlier mapInPandas
  formulation that round-tripped whole rows got SLOWER from 8 to 32 threads
  (memory-bandwidth saturation); the two-float-columns-in, one-struct-out
  shape restores near-linear scaling;
* ``assign_region`` (one most-specific region per feature) returns one
  scalar region id, or null, per row — no explode — so Spark evaluates it
  in the same Arrow node as the cell-encode and kNN UDFs around it: one
  Python worker per task for all three, ``lat``/``lon`` crossing once.
  ``pip_join`` (every containing region) returns the match list and
  explodes it;
* per Arrow batch everything is vectorized numpy: bbox interval prefilter
  (a flat "R-tree-lite": sorted bbox arrays checked in one vector op — the
  polygon count is small enough that a deeper tree buys nothing), then an
  exact crossing-number ray cast over points×edges;
* antimeridian-crossing polygons are stored with unwrapped lon (maxx > 180)
  and candidate points are re-wrapped into the polygon's frame;
* kNN: stations are bucketed into a lat/lon grid; per unique feature cell the
  search expands rings 0,1,2,… until ≥k candidates are found AND the ring
  boundary is provably farther than the current k-th best haversine distance
  (strict termination, not the +1-ring heuristic), then exact top-k.

At 100 TB the feature side never shuffles for either join; only the tile
aggregation downstream does.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

EARTH_RADIUS_KM = 6371.0


# ---------------------------------------------------------------------------
# point-in-polygon (N3)
# ---------------------------------------------------------------------------


def _collect_polygons(polygons: DataFrame) -> list[dict]:
    rows = polygons.select("region_id", "region_name", "ring", "bbox").collect()
    out = []
    for r in rows:
        xs = np.array([p.lon for p in r.ring], dtype=np.float64)
        ys = np.array([p.lat for p in r.ring], dtype=np.float64)
        out.append(
            {
                "region_id": r.region_id,
                "region_name": r.region_name,
                "x": xs,
                "y": ys,
                "minx": r.bbox.minx,
                "miny": r.bbox.miny,
                "maxx": r.bbox.maxx,
                "maxy": r.bbox.maxy,
                "area": (r.bbox.maxx - r.bbox.minx) * (r.bbox.maxy - r.bbox.miny),
            }
        )
    # smallest bbox first → first match is the most specific region
    out.sort(key=lambda p: (p["area"], p["region_id"]))
    return out


def points_in_ring(px: np.ndarray, py: np.ndarray, rx: np.ndarray,
                   ry: np.ndarray) -> np.ndarray:
    """Vectorized crossing-number test: points (px,py) vs closed ring
    (rx,ry). Half-open edge rule keeps boundary handling consistent."""
    x1, y1 = rx[:-1], ry[:-1]
    x2, y2 = rx[1:], ry[1:]
    # broadcasting: points on axis 0, edges on axis 1
    py_ = py[:, None]
    px_ = px[:, None]
    cond = (y1 > py_) != (y2 > py_)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py_ - y1) / (y2 - y1) + x1
    crossing = cond & (px_ < xint)
    return (crossing.sum(axis=1) % 2).astype(bool)


def _pip_matches(lat: np.ndarray, lon: np.ndarray, polys: list[dict],
                 first_only: bool) -> tuple[np.ndarray, list]:
    """Returns (point_idx, region_id) match arrays; ``first_only`` keeps
    each point's first match in ``polys`` order."""
    n = len(lat)
    idx_out: list[np.ndarray] = []
    rid_out: list[str] = []
    taken = np.zeros(n, dtype=bool) if first_only else None
    for p in polys:
        plon = lon
        if p["maxx"] > 180.0:  # antimeridian frame: unwrap candidate lons
            plon = np.where(lon < 0, lon + 360.0, lon)
        cand = (
            (plon >= p["minx"]) & (plon <= p["maxx"])
            & (lat >= p["miny"]) & (lat <= p["maxy"])
        )
        if first_only:
            cand &= ~taken
        ci = np.nonzero(cand)[0]
        if ci.size == 0:
            continue
        inside = points_in_ring(plon[ci], lat[ci], p["x"], p["y"])
        hit = ci[inside]
        if hit.size == 0:
            continue
        if first_only:
            taken[hit] = True
        idx_out.append(hit)
        rid_out.extend([p["region_id"]] * hit.size)
    if idx_out:
        return np.concatenate(idx_out), rid_out
    return np.array([], dtype=np.int64), []


def _valid_points(lat: pd.Series, lon: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) as float arrays, a NaN coordinate moved far outside every
    polygon so it matches none."""
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    valid = ~(np.isnan(la) | np.isnan(lo))
    return np.where(valid, la, 1000.0), np.where(valid, lo, 1000.0)


def region_match_udf(polys: list[dict]):
    """Scalar pandas UDF: (lat, lon) -> array of every matching region_id
    (polygon-precedence order). Only two float columns enter Python; the
    match list leaves — the wide feature row stays JVM-side."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(ArrayType(StringType()))
    def _match(lat: pd.Series, lon: pd.Series) -> pd.Series:
        n = len(lat)
        idx, rid = _pip_matches(*_valid_points(lat, lon), polys, False)
        out: list[list[str]] = [[] for _ in range(n)]
        for i, r in zip(idx, rid):
            out[i].append(r)
        return pd.Series(out)

    return _match


def region_first_udf(polys: list[dict]):
    """Scalar pandas UDF: (lat, lon) -> the first (smallest-bbox) matching
    region_id, or null. One string per row, so no explode follows it."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StringType())
    def _region(lat: pd.Series, lon: pd.Series) -> pd.Series:
        idx, rid = _pip_matches(*_valid_points(lat, lon), polys, True)
        out = np.full(len(lat), None, dtype=object)
        out[idx] = rid
        return pd.Series(out)

    return _region


def _region_name_map(polys: list[dict]):
    """Literal region_id -> region_name map (the dim is already collected
    for the UDF closure) — zero exchanges, vs. a broadcast join whose build
    side would still shuffle for the dedup. Names are deduped first: a
    multipolygon region legitimately has one row per ring, and duplicate
    keys would make create_map throw under the default
    spark.sql.mapKeyDedupPolicy=EXCEPTION."""
    names: dict[str, str] = {}
    for p in polys:
        names.setdefault(p["region_id"], p["region_name"])
    return F.create_map(
        *[lit for rid, rname in names.items()
          for lit in (F.lit(rid), F.lit(rname))]
    )


def pip_join(
    features: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    how: str = "inner",
) -> DataFrame:
    """Broadcast PIP join: one output row per (feature, containing polygon).

    ``how='left'`` keeps non-matching features with null region columns.

    Plan shape: narrow scalar UDF (lat, lon → region_id array) → explode →
    region_name from a literal map. No shuffle on the feature side; heavy
    columns never cross the Python boundary.
    """
    polys = _collect_polygons(polygons)
    matched = features.withColumn(
        "_rids", region_match_udf(polys)(F.col(lat_col), F.col(lon_col))
    )
    explode = F.explode_outer if how == "left" else F.explode
    exploded = matched.withColumn("region_id", explode(F.col("_rids"))).drop(
        "_rids"
    )
    return exploded.select(
        *features.columns,
        "region_id",
        F.element_at(_region_name_map(polys), F.col("region_id")).alias("region_name"),
    )


def assign_region(
    features: DataFrame,
    polygons: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Single most-specific (smallest-bbox) region per feature, left
    semantics: every feature is kept, with null region columns when no
    polygon contains it.

    Plan shape: narrow scalar UDF (lat, lon → one region_id string or null)
    and region_name from a literal map — no explode, so the UDF joins any
    neighbouring Arrow UDFs (cells, kNN) in one Python evaluation.
    """
    polys = _collect_polygons(polygons)
    rid = region_first_udf(polys)(F.col(lat_col), F.col(lon_col))
    return features.withColumn("region_id", rid).select(
        *features.columns,
        "region_id",
        F.element_at(_region_name_map(polys), F.col("region_id")).alias("region_name"),
    )


# ---------------------------------------------------------------------------
# kNN station matching (N4)
# ---------------------------------------------------------------------------


def haversine_km(lat1, lon1, lat2, lon2) -> np.ndarray:
    p1 = np.radians(lat1)
    p2 = np.radians(lat2)
    dphi = p2 - p1
    dlmb = np.radians(lon2 - lon1)
    a = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


class _StationGrid:
    """Broadcast-side station index: lat/lon grid buckets for ring expansion."""

    def __init__(self, ids, lats, lons, grid_deg: float):
        self.ids = np.asarray(ids, dtype=object)
        self.lats = np.asarray(lats, dtype=np.float64)
        self.lons = np.asarray(lons, dtype=np.float64)
        self.g = float(grid_deg)
        self.nlon = int(round(360.0 / self.g))
        self.buckets: dict[tuple[int, int], np.ndarray] = {}
        bi = np.floor((self.lats + 90.0) / self.g).astype(np.int64)
        bj = np.floor((self.lons + 180.0) / self.g).astype(np.int64) % self.nlon
        order = np.lexsort((bj, bi))
        keys = np.stack([bi[order], bj[order]], axis=1)
        # group contiguous runs
        change = np.nonzero(np.any(np.diff(keys, axis=0) != 0, axis=1))[0] + 1
        starts = np.concatenate([[0], change])
        ends = np.concatenate([change, [len(order)]])
        for s, e in zip(starts, ends):
            self.buckets[(int(keys[s, 0]), int(keys[s, 1]))] = order[s:e]

    def ring_candidates(self, ci: int, cj: int, ring: int,
                        seen: set | None = None) -> np.ndarray:
        """Station indices whose bucket is at Chebyshev distance == ring.

        ``seen`` tracks visited bucket keys across the expansion: longitude
        wrap (``% nlon``) can map several (di, dj) offsets — within one ring
        or across rings — onto the same bucket, and a duplicated bucket
        would duplicate its stations in the candidate list (wrong top-k for
        k > 1)."""
        out = []
        if ring == 0:
            key = (ci, cj % self.nlon)
            if seen is not None:
                seen.add(key)
            b = self.buckets.get(key)
            return b if b is not None else np.array([], dtype=np.int64)
        # perimeter enumeration: O(8·ring) keys. The previous full-square
        # sweep with a Chebyshev filter was O((2r+1)²) per ring — O(R³)
        # cumulative per expansion — and dominated the whole kNN stage for
        # isolated cells (profiled: 70% of kernel time in the di/dj loop).
        # Emission order (top row, side columns, bottom row) is irrelevant
        # to results: ranking sorts on (distance, station_id), both unique.
        keys = [(ci - ring, (cj + dj) % self.nlon)
                for dj in range(-ring, ring + 1)]
        for di in range(-ring + 1, ring):
            keys.append((ci + di, (cj - ring) % self.nlon))
            keys.append((ci + di, (cj + ring) % self.nlon))
        keys.extend((ci + ring, (cj + dj) % self.nlon)
                    for dj in range(-ring, ring + 1))
        for key in keys:
            if seen is not None:
                if key in seen:
                    continue
                seen.add(key)
            b = self.buckets.get(key)
            if b is not None:
                out.append(b)
        if out:
            return np.concatenate(out)
        return np.array([], dtype=np.int64)


KNN_FIELDS = [
    StructField("nearest_station_id", StringType()),
    StructField("nearest_station_km", DoubleType()),
    StructField("knn_ring", IntegerType()),
    StructField(
        "knn",
        ArrayType(
            StructType(
                [
                    StructField("station_id", StringType()),
                    StructField("dist_km", DoubleType()),
                    StructField("rank", IntegerType()),
                ]
            )
        ),
    ),
]


def knn_join(
    features: DataFrame,
    stations: DataFrame,
    k: int = 1,
    grid_deg: float = 2.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    max_ring: int | None = None,
) -> DataFrame:
    """kNN station match via cell-ring expansion (north_star N4).

    Termination is exact: rings expand until ≥k candidates are held AND the
    nearest possible point of the next unexplored ring (great-circle lower
    bound) exceeds the current k-th best distance. ``knn_ring`` reports the
    last ring searched — the skew diagnostic the lineage records pick up.

    Narrow operator: the station grid rides in the closure; no shuffle, and
    (like ``pip_join``) only (lat, lon) enters Python — the result comes back
    as one struct column that is splatted JVM-side.
    """
    st = stations.select("station_id", "lat", "lon").collect()
    grid = _StationGrid(
        [r.station_id for r in st],
        [r.lat for r in st],
        [r.lon for r in st],
        grid_deg,
    )
    if max_ring is None:
        max_ring = int(180.0 / grid_deg) + 1
    kk = int(k)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(StructType(KNN_FIELDS))
    def _knn(lat_s: pd.Series, lon_s: pd.Series) -> pd.DataFrame:
        lat = lat_s.to_numpy(dtype=np.float64)
        lon = lon_s.to_numpy(dtype=np.float64)
        n = len(lat)
        if n == 0:
            return pd.DataFrame(
                {"nearest_station_id": pd.Series(dtype=object),
                 "nearest_station_km": pd.Series(dtype="float64"),
                 "knn_ring": pd.Series(dtype="int32"),
                 "knn": pd.Series(dtype=object)}
            )
        nid = np.full(n, None, dtype=object)
        nkm = np.full(n, np.nan)
        nring = np.full(n, -1, dtype=np.int64)
        topk = np.full(n, None, dtype=object)
        ci = np.floor((lat + 90.0) / grid.g).astype(np.int64)
        cj = np.floor((lon + 180.0) / grid.g).astype(np.int64) % grid.nlon
        valid = ~(np.isnan(lat) | np.isnan(lon))
        # group features by their grid cell: one ring expansion per cell
        cellkey = ci * 1000000 + cj
        cellkey[~valid] = -1
        order = np.argsort(cellkey, kind="stable")
        sorted_keys = cellkey[order]
        bounds = np.nonzero(np.diff(sorted_keys))[0] + 1
        starts = np.concatenate([[0], bounds])
        ends = np.concatenate([bounds, [n]])
        for s, e in zip(starts, ends):
            gidx = order[s:e]
            if cellkey[gidx[0]] < 0:
                continue
            fci, fcj = int(ci[gidx[0]]), int(cj[gidx[0]])
            cand = []
            seen_buckets: set = set()
            ring = 0
            glat = lat[gidx]
            glon = lon[gidx]
            # worst-case |lat| of this cell's band, for the cos-shrink of
            # longitude separation in the termination bound
            band_lo = fci * grid.g - 90.0
            band_hi = band_lo + grid.g
            phi_band = max(abs(band_lo), abs(band_hi))
            # distance matrix + kth cache: recomputed only when a ring
            # actually contributes candidates; rings that add nothing (and
            # the final ranking below) reuse it — the matrix is the same
            # rows × same candidate list either way
            all_c = None
            d = None
            best_kth = np.inf
            while ring <= max_ring:
                c = grid.ring_candidates(fci, fcj, ring, seen_buckets)
                if c.size:
                    cand.append(c)
                    all_c = None
                total = sum(x.size for x in cand)
                if total >= kk:
                    if all_c is None:
                        all_c = np.concatenate(cand)
                        d = haversine_km(
                            glat[:, None], glon[:, None],
                            grid.lats[all_c][None, :],
                            grid.lons[all_c][None, :],
                        )
                        kth = np.sort(d, axis=1)[:, kk - 1]
                        best_kth = float(kth.max())
                    # lower bound on distance to any UNEXPLORED bucket
                    # (Chebyshev > ring). Two disjoint cases:
                    # |di| > ring  → pure-lat gap ≥ ring·g degrees;
                    # |di| ≤ ring, |dj| > ring → lon gap ≥ ring·g degrees,
                    #   but the station may sit up to ring·g degrees of
                    #   latitude away, where meridians converge — so the
                    #   cos shrink must use the WORST latitude reachable
                    #   within ±ring rows (φ_band + ring·g), not just the
                    #   feature's own band (haversine ≥
                    #   2R·asin(cos φmax·sin(Δλ/2)) since
                    #   cosφ1·cosφ2 ≥ cos²φmax)
                    sep = np.radians(min(ring * grid.g, 180.0))
                    lat_bound = sep * EARTH_RADIUS_KM
                    phi_reach = min(90.0, phi_band + ring * grid.g)
                    cos_phi = max(np.cos(np.radians(phi_reach)), 0.0)
                    lon_bound = 2.0 * EARTH_RADIUS_KM * np.arcsin(
                        np.clip(cos_phi * np.sin(sep / 2.0), 0.0, 1.0)
                    )
                    if (2 * ring + 1) >= grid.nlon:
                        bound_km = lat_bound  # lon fully wrapped
                    else:
                        bound_km = min(lat_bound, lon_bound)
                    if bound_km > best_kth:
                        break
                ring += 1
            if not cand:
                continue
            if all_c is None:  # exited with < k candidates (tiny corpus)
                all_c = np.concatenate(cand)
                d = haversine_km(
                    glat[:, None], glon[:, None],
                    grid.lats[all_c][None, :], grid.lons[all_c][None, :],
                )
            kuse = min(kk, all_c.size)
            # deterministic ranking: distance ASC, station_id ASC on ties
            # (np.argsort alone breaks ties by candidate order, which
            # depends on bucket traversal); distances stay unrounded so a
            # consumer's single rounding step matches an oracle's
            sid_keys = grid.ids[all_c].astype(str)
            for row_i, fi in enumerate(gidx):
                # NB: fresh name — the outer `order` array drives the
                # group slicing and must not be shadowed
                sel = np.lexsort((sid_keys, d[row_i]))[:kuse]
                dists = d[row_i, sel]
                sids = grid.ids[all_c[sel]]
                nid[fi] = sids[0]
                nkm[fi] = float(dists[0])
                nring[fi] = min(ring, max_ring)
                topk[fi] = [
                    {"station_id": str(sids[j]),
                     "dist_km": float(dists[j]),
                     "rank": j + 1}
                    for j in range(kuse)
                ]
        return pd.DataFrame(
            {
                "nearest_station_id": nid,
                "nearest_station_km": nkm,
                "knn_ring": pd.array(nring, dtype="int32"),
                "knn": topk,
            }
        )

    return features.withColumn(
        "_knn", _knn(F.col(lat_col), F.col(lon_col))
    ).select(*features.columns, "_knn.*")


# ---------------------------------------------------------------------------
# distance-threshold join (range join) — the big-big spatial join shape
# ---------------------------------------------------------------------------

#: km per degree of latitude (2·π·R / 360)
KM_PER_DEG = 111.19492664455873


def _grid_nlon(grid_deg: float) -> int:
    """Longitude cell count for an evenly-dividing grid (shared guard)."""
    nlon = int(round(360.0 / grid_deg))
    if abs(nlon * grid_deg - 360.0) > 1e-9:
        raise ValueError(f"grid_deg={grid_deg} must divide 360 evenly")
    return nlon


def _point_cell_cols(lat, lon, grid_deg: float, nlon: int):
    """(ci, cj) grid cell of a point — cj wrapped modulo the lon count."""
    g = float(grid_deg)
    return (
        F.floor(lat / g).cast("int"),
        F.pmod(F.floor((lon + 180.0) / g).cast("int"), nlon),
    )


def _disc_cell_cover(lat_lo, lat_hi, lon_lo, lon_hi,
                     radius_km: float, grid_deg: float, nlon: int):
    """(ci_lo, ci_hi, cj_lo, cj_hi) of every grid cell a ``radius_km``-
    padded lat/lon box can touch — THE cover rule shared by
    ``distance_join`` (station point), ``boundary_distance`` (edge bbox)
    and ``tiles.idw_grid`` (observation disc), kept in one place so the
    pole clamp / worst-latitude lon widening / full-circle cap can't
    drift apart. The lon span widens by the worst (highest-|lat|) corner
    reachable within the radius; cj_hi is capped at one full circle so
    the modulo wrap never duplicates a cell."""
    g = float(grid_deg)
    dl = F.lit(radius_km / KM_PER_DEG)
    ci_lo = F.floor((lat_lo - dl) / g).cast("int")
    ci_hi = F.floor((lat_hi + dl) / g).cast("int")
    worst = F.least(
        F.greatest(F.abs(lat_lo), F.abs(lat_hi)) + dl, F.lit(89.999)
    )
    dlon = dl / F.cos(F.radians(worst))
    cj_lo = F.floor((lon_lo + 180.0 - dlon) / g).cast("int")
    cj_hi = F.least(
        F.floor((lon_hi + 180.0 + dlon) / g).cast("int"),
        cj_lo + F.lit(nlon - 1),
    )
    return ci_lo, ci_hi, cj_lo, cj_hi


def haversine_col(lat1, lon1, lat2, lon2):
    """Haversine distance as a Column expression (km). Term order and
    association mirror the SQL-oracle formula exactly so both engines
    evaluate the identical IEEE expression."""
    return (
        F.lit(2.0) * F.lit(EARTH_RADIUS_KM)
        * F.asin(F.sqrt(
            F.pow(F.sin(F.radians(lat2 - lat1) / 2), 2)
            + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
            * F.pow(F.sin(F.radians(lon2 - lon1) / 2), 2)
        ))
    )


def distance_join(
    points: DataFrame,
    stations: DataFrame,
    radius_km: float,
    grid_deg: float = 5.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    st_cols: tuple[str, str, str] = ("station_id", "lat", "lon"),
    dist_col: str = "dist_km",
    dist_dp: int | None = 2,
) -> DataFrame:
    """All (point, station) pairs within ``radius_km`` — a distance-threshold
    range join for when BOTH sides are large (the broadcast/closure pattern
    of ``pip_join``/``knn_join`` assumes a small dimension; at 100 TB a
    station/sensor side can itself be billions of rows).

    Plan shape: pure Column ops, no UDF. Each point lands in exactly one
    ``grid_deg`` lat/lon cell; each station is exploded (``F.sequence`` +
    ``posexplode``) to every cell its radius disc can touch — the lon span
    widens with the worst (poleward) latitude of the disc, and cells wrap
    modulo the lon cell count, so the antimeridian needs no special casing.
    The pair candidates then meet in a plain equi-join on (ci, cj): one
    shuffle keyed on the cell, work proportional to candidates (disc area /
    cell area per station), never |points| × |stations|. Exact haversine
    filters the candidates. Skewed cells fall to AQE skew-join handling, or
    pre-salt the hot cells exactly as ``tiles.tile_aggregate`` does.

    With ``dist_dp`` set, the threshold compares the ROUNDED distance on
    both engine and oracle sides, so a cross-engine last-ulp difference can
    only matter on an exact rounding boundary (same exposure as the hashed
    rounded outputs of the other geo queries). ``dist_dp=None`` filters raw.
    """
    st_id, st_lat, st_lon = st_cols
    nlon = _grid_nlon(grid_deg)

    ci, cj = _point_cell_cols(F.col(lat_col), F.col(lon_col), grid_deg, nlon)
    p = points.withColumn("_ci", ci).withColumn("_cj", cj)

    s = stations.select(
        F.col(st_id).alias("_sid"),
        F.col(st_lat).alias("_slat"),
        F.col(st_lon).alias("_slon"),
    )
    ci_lo, ci_hi, cj_lo, cj_hi = _disc_cell_cover(
        F.col("_slat"), F.col("_slat"), F.col("_slon"), F.col("_slon"),
        radius_km, grid_deg, nlon,
    )
    s = (
        s.withColumn("_ci", F.explode(F.sequence(ci_lo, ci_hi)))
        .withColumn("_cj_raw", F.explode(F.sequence(cj_lo, cj_hi)))
        .withColumn("_cj", F.pmod(F.col("_cj_raw"), F.lit(nlon)))
        .drop("_cj_raw")
    )

    d = haversine_col(
        F.col(lat_col), F.col(lon_col), F.col("_slat"), F.col("_slon")
    )
    if dist_dp is not None:
        d = F.round(d, dist_dp)
    return (
        p.join(s, on=["_ci", "_cj"])
        .withColumn(dist_col, d)
        .filter(F.col(dist_col) <= radius_km)
        .select(*[c for c in points.columns],
                F.col("_sid").alias(st_id if st_id not in points.columns
                                    else f"st_{st_id}"),
                F.col(dist_col))
    )


def _ring_edges_expr():
    """ring array -> exploded (x1,y1,x2,y2) edge structs, JVM-side (shared
    by the distributed PIP join and the geodesic measures so the closed-ring
    convention lives in one place)."""
    return F.explode(F.expr(
        "transform(slice(ring, 1, size(ring) - 1), (s, i) -> "
        "struct(s.lon AS x1, s.lat AS y1, "
        "ring[i + 1].lon AS x2, ring[i + 1].lat AS y2))"
    )).alias("_e")


def pip_join_distributed(
    points: DataFrame,
    polygons: DataFrame,
    grid_deg: float = 5.0,
    id_cols: tuple[str, ...] | None = None,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Point-in-polygon as a distributed equi-join — for when the polygon
    set itself is too large to broadcast (``pip_join`` ships the whole set
    in the UDF closure; fine for WMO regions, not for, say, a parcel or
    watershed layer with 10^8 rings).

    Shape: every polygon edge is replicated to each ``grid_deg`` cell of the
    polygon's bbox cover (lon cells wrap modulo the circle, so antimeridian-
    unwrapped rings — maxx > 180, the ``_collect_polygons`` convention —
    need no special case); points land in exactly one cell; candidates meet
    in an equi-join on the cell key. The crossing-number test is then a
    groupBy parity count over the joined (point, edge) rows — identical
    term-for-term to the DuckDB edge oracle (``_sql_geo_pip``), entirely
    whole-stage codegen, no UDF, no driver collect.

    A point left/right/outside the cover meets zero or an even number of
    crossing edges, so no bbox prefilter is needed for correctness; the
    cell join IS the prefilter. Edge replication is per polygon-bbox cell —
    the right trade for region-scale rings (a few hundred cells × few edges);
    for continent-sized multi-thousand-vertex rings, split the ring into
    sub-polygons first (parity is additive over a partition of the ring).

    Returns ``id_cols + (region_id, region_name)``, one row per (point,
    containing polygon) — the ``how='inner'`` contract of ``pip_join``.
    """
    g = float(grid_deg)
    nlon = int(round(360.0 / g))
    if abs(nlon * g - 360.0) > 1e-9:
        raise ValueError(f"grid_deg={g} must divide 360 evenly")
    ids = list(id_cols) if id_cols else [points.columns[0]]

    p = points.select(
        *ids, lat_col, lon_col
    ).withColumn(
        "_ci", F.floor(F.col(lat_col) / g).cast("int")
    ).withColumn(
        "_cj",
        F.pmod(F.floor((F.col(lon_col) + 180.0) / g).cast("int"), nlon),
    )

    # ring -> edge structs (x1,y1,x2,y2), JVM-side transform
    edges = polygons.select(
        "region_id", "region_name",
        (F.col("bbox.maxx") > 180.0).alias("_anti"),
        F.col("bbox.minx").alias("_minx"), F.col("bbox.maxx").alias("_maxx"),
        F.col("bbox.miny").alias("_miny"), F.col("bbox.maxy").alias("_maxy"),
        _ring_edges_expr(),
    ).select(
        "region_id", "region_name", "_anti",
        "_minx", "_maxx", "_miny", "_maxy",
        F.col("_e.x1").alias("x1"), F.col("_e.y1").alias("y1"),
        F.col("_e.x2").alias("x2"), F.col("_e.y2").alias("y2"),
    )

    ci_lo = F.floor(F.col("_miny") / g).cast("int")
    ci_hi = F.floor(F.col("_maxy") / g).cast("int")
    cj_lo = F.floor((F.col("_minx") + 180.0) / g).cast("int")
    cj_hi = F.least(
        F.floor((F.col("_maxx") + 180.0) / g).cast("int"),
        cj_lo + F.lit(nlon - 1),
    )
    edges = (
        edges.withColumn("_ci", F.explode(F.sequence(ci_lo, ci_hi)))
        .withColumn("_cj_raw", F.explode(F.sequence(cj_lo, cj_hi)))
        .withColumn("_cj", F.pmod(F.col("_cj_raw"), F.lit(nlon)))
        .drop("_cj_raw", "_minx", "_maxx", "_miny", "_maxy")
    )

    px = F.when(
        F.col("_anti") & (F.col(lon_col) < 0), F.col(lon_col) + 360.0
    ).otherwise(F.col(lon_col))
    py = F.col(lat_col)
    crossing = (
        ((F.col("y1") > py) != (F.col("y2") > py))
        & (px < (F.col("x2") - F.col("x1")) * (py - F.col("y1"))
           / (F.col("y2") - F.col("y1")) + F.col("x1"))
    )
    return (
        p.join(edges, on=["_ci", "_cj"])
        .filter(crossing)
        .groupBy(*ids, "region_id", "region_name")
        .agg(F.count(F.lit(1)).alias("_n_cross"))
        .filter(F.col("_n_cross") % 2 == 1)
        .select(*ids, "region_id", "region_name")
    )


def polygon_measures(polygons: DataFrame) -> DataFrame:
    """Spherical area (km²) and perimeter (km) per polygon — pure Column
    expressions over the exploded edge list (one narrow pass + a groupBy on
    region_id; no UDF, no collect).

    Area uses the published spherical shoelace approximation
    ``R²/2 · |Σ (λ₂−λ₁)(2 + sin φ₁ + sin φ₂)|`` (λ, φ in radians) — exact
    for the infinitesimal limit and standard for region-scale rings;
    antimeridian-unwrapped rings (lon beyond 180, the repo convention) work
    unchanged since only longitude *differences* enter. Perimeter is the
    haversine sum over edges (same expression as ``haversine_col``)."""
    edges = polygons.select(
        "region_id", "region_name",
        _ring_edges_expr(),
    ).select(
        "region_id", "region_name",
        F.col("_e.x1").alias("x1"), F.col("_e.y1").alias("y1"),
        F.col("_e.x2").alias("x2"), F.col("_e.y2").alias("y2"),
    )
    term = (F.radians(F.col("x2")) - F.radians(F.col("x1"))) * (
        F.lit(2.0) + F.sin(F.radians(F.col("y1")))
        + F.sin(F.radians(F.col("y2")))
    )
    seg = haversine_col(
        F.col("y1"), F.col("x1"), F.col("y2"), F.col("x2")
    )
    return (
        edges.groupBy("region_id", "region_name")
        .agg(
            (F.abs(F.sum(term)) * (EARTH_RADIUS_KM ** 2) / 2.0)
            .alias("area_km2"),
            F.sum(seg).alias("perimeter_km"),
        )
    )


# ---------------------------------------------------------------------------
# density clustering (DBSCAN) over the eps-neighborhood graph
# ---------------------------------------------------------------------------


def dbscan(
    points: DataFrame,
    eps_km: float,
    min_pts: int,
    id_col: str = "pid",
    lat_col: str = "lat",
    lon_col: str = "lon",
    grid_deg: float = 5.0,
    dist_dp: int | None = 2,
    max_iter: int = 25,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Distributed DBSCAN over geographic points — the station-cluster /
    observation-hotspot discovery step (the reference's corpus is dominated
    by exactly such synop/temp clusters; this names them).

    Decomposition into existing scale-safe pieces, no new kernels:

    1. eps-neighborhood graph = ``distance_join(points, points, eps_km)`` —
       the cell-explode equi-join, so building the graph shuffles on grid
       cells and costs O(candidate pairs), never |P|^2.
    2. core points = one map-side-combined ``groupBy`` degree count
       (``|N_eps(p)| >= min_pts`` counting the point itself, the textbook
       definition).
    3. clusters = ``connected_components`` over CORE-CORE edges only
       (alternating large-star/small-star contraction, O(log^2 n) rounds
       on any graph — eps-graphs are exactly the random-id geometric
       graphs where min-label propagation degenerates to O(diameter)).
    4. border points attach to ``min`` neighboring core's cluster —
       deterministic under any partitioning (plain DBSCAN is order-dependent
       for shared borders; min-label makes the output a pure function of
       the input).

    Returns one row per input point: (id, cluster_id, role) with
    ``role in ('core','border','noise')`` and ``cluster_id`` = min core
    point id in the cluster (null for noise). The result is materialized
    before returning so the candidate-pair cache can be released — callers
    get a settled table, not a live plan over it
    (``reliable_checkpoint=True`` routes this and the CC rounds through
    HDFS-backed ``checkpoint()`` on a real cluster —
    operators/_iterate.py).
    """
    from bufr2geojson_spark.operators._iterate import materialize_round
    from bufr2geojson_spark.operators.textops import connected_components

    pts = points.select(
        F.col(id_col).alias("_id"),
        F.col(lat_col).alias("_lat"),
        F.col(lon_col).alias("_lon"),
    )
    pairs = (
        distance_join(
            pts, pts, radius_km=eps_km, grid_deg=grid_deg,
            lat_col="_lat", lon_col="_lon",
            st_cols=("_id", "_lat", "_lon"),
            dist_col="_d", dist_dp=dist_dp,
        )
        .filter(F.col("_id") != F.col("st__id"))
        .select(F.col("_id").alias("a"), F.col("st__id").alias("b"))
        .persist()
    )
    if min_pts <= 1:
        # textbook rule counts the point itself, so EVERY point is core —
        # including isolated ones that never appear in the pairs graph
        # (each becomes its own singleton cluster)
        core = pts.select(F.col("_id").alias("a"))
    else:
        core = (
            pairs.groupBy("a").agg(F.count(F.lit(1)).alias("n_nb"))
            .filter(F.col("n_nb") + 1 >= min_pts)
            .select("a")
        )
    core_edges = (
        pairs.join(core, "a", "left_semi")
        .join(core.withColumnRenamed("a", "b"), "b", "left_semi")
    )
    comp = connected_components(
        core_edges.select(F.col("a").alias("id_a"), F.col("b").alias("id_b")),
        max_iter=max_iter,
        reliable_checkpoint=reliable_checkpoint,
    )
    core_lab = (
        core.join(comp, core["a"] == comp["doc_id"], "left")
        .select(
            core["a"].alias("id"),
            F.coalesce(comp["component_id"], core["a"]).alias("cluster_id"),
        )
    )
    border_lab = (
        pairs.join(core, "a", "left_anti")
        .join(
            core_lab.select(
                F.col("id").alias("b"), F.col("cluster_id").alias("_bc")
            ),
            "b",
        )
        .groupBy("a")
        .agg(F.min("_bc").alias("cluster_id"))
        .select(F.col("a").alias("id"), "cluster_id")
    )
    lab = core_lab.withColumn("role", F.lit("core")).unionByName(
        border_lab.withColumn("role", F.lit("border"))
    )
    out = (
        pts.join(lab, pts["_id"] == lab["id"], "left")
        .select(
            pts["_id"].alias(id_col),
            lab["cluster_id"],
            F.coalesce(lab["role"], F.lit("noise")).alias("role"),
        )
    )
    # settle the result so the pair cache can go
    out = materialize_round(out, reliable_checkpoint)
    pairs.unpersist()
    return out


# ---------------------------------------------------------------------------
# distance to nearest polygon boundary
# ---------------------------------------------------------------------------


def boundary_distance(
    points: DataFrame,
    edges: DataFrame,
    max_km: float,
    grid_deg: float = 5.0,
    id_col: str = "pid",
    lat_col: str = "lat",
    lon_col: str = "lon",
    edge_cols: tuple[str, str, str, str] = ("x1", "y1", "x2", "y2"),
    dist_col: str = "boundary_km",
    dist_dp: int | None = 2,
) -> DataFrame:
    """Distance from each point to the nearest polygon BOUNDARY segment
    within ``max_km`` — the coastline/region-edge proximity feature
    (pip_join answers "which region"; this answers "how far from its
    edge"). Points farther than ``max_km`` from every segment are dropped
    (document: absence == "not near any boundary").

    Plan shape mirrors ``distance_join`` — both sides can be huge: points
    hash to one grid cell; every edge is exploded to the cells its
    ``max_km``-expanded bounding box can touch (longitudes normalized so an
    edge crossing the antimeridian still covers a contiguous cell range,
    cells wrap modulo the lon cell count); candidates meet in a plain
    equi-join keyed on the cell and are scored exactly. One shuffle, cost
    proportional to candidates, pure codegen Column arithmetic — no UDF.

    The segment metric is point-to-segment distance in the local
    equirectangular frame centered on the point (exact enough for
    ``max_km`` windows up to a few hundred km; the same frame both engines
    can evaluate as identical IEEE arithmetic, so the DuckDB oracle is
    bit-exact). The first endpoint's longitude is wrapped into the point's
    frame and the second is anchored RELATIVE TO THE FIRST (never wrapped
    independently — independent wrapping tears a segment apart whenever
    point + segment together span more than 180 degrees, interpolating it
    through the wrong side of the globe), so the frame is valid for any
    edge that itself spans < 180 degrees.

    ``id_col`` must be unique per point (the result is keyed on it);
    returns (id_col, dist_col).
    """
    x1c, y1c, x2c, y2c = edge_cols
    nlon = _grid_nlon(grid_deg)

    # internal aliases: the point frame contributes nothing by name to the
    # join, so edge tables may carry any column names (incl. 'lat'/'pid')
    ci, cj = _point_cell_cols(F.col("_plat"), F.col("_plon"),
                              grid_deg, nlon)
    p = points.select(
        F.col(id_col).alias("_pid"),
        F.col(lat_col).alias("_plat"),
        F.col(lon_col).alias("_plon"),
    ).withColumn("_ci", ci).withColumn("_cj", cj)

    x1, y1, x2, y2 = (F.col(c) for c in (x1c, y1c, x2c, y2c))
    # normalize x2 into x1's frame so the bbox of an antimeridian-crossing
    # edge stays contiguous
    x2n = x1 + F.pmod(x2 - x1 + 540.0, F.lit(360.0)) - 180.0
    ci_lo, ci_hi, cj_lo, cj_hi = _disc_cell_cover(
        F.least(y1, y2), F.greatest(y1, y2),
        F.least(x1, x2n), F.greatest(x1, x2n),
        max_km, grid_deg, nlon,
    )
    e = (
        edges.withColumn("_ci", F.explode(F.sequence(ci_lo, ci_hi)))
        .withColumn("_cj_raw", F.explode(F.sequence(cj_lo, cj_hi)))
        .withColumn("_cj", F.pmod(F.col("_cj_raw"), F.lit(nlon)))
        .drop("_cj_raw")
    )

    plat, plon = F.col("_plat"), F.col("_plon")
    cosr = F.cos(F.radians(plat))
    km = F.lit(KM_PER_DEG)
    dlon1 = F.pmod(F.col(x1c) - plon + 540.0, F.lit(360.0)) - 180.0
    dlon2 = dlon1 + (
        F.pmod(F.col(x2c) - F.col(x1c) + 540.0, F.lit(360.0)) - 180.0
    )
    ax = dlon1 * cosr * km
    ay = (F.col(y1c) - plat) * km
    bx = dlon2 * cosr * km
    by = (F.col(y2c) - plat) * km
    vx, vy = bx - ax, by - ay
    l2 = vx * vx + vy * vy
    t = F.when(
        l2 > 0,
        F.least(F.greatest(-(ax * vx + ay * vy) / l2, F.lit(0.0)), F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    dx, dy = ax + t * vx, ay + t * vy
    d = F.sqrt(dx * dx + dy * dy)
    if dist_dp is not None:
        m = F.lit(float(10 ** dist_dp))
        d = F.floor(d * m + F.lit(0.5)) / m  # engine-agnostic floor-form
    return (
        p.join(e, on=["_ci", "_cj"])
        .withColumn("_bd", d)
        .filter(F.col("_bd") <= max_km)
        .groupBy(F.col("_pid").alias(id_col))
        .agg(F.min("_bd").alias(dist_col))
    )


def bearing_col(lat1, lon1, lat2, lon2):
    """Initial great-circle bearing from point 1 to point 2, degrees in
    [0, 360). Pure Column trig (sin/cos/atan2/degrees are identical IEEE
    builtins in Spark and DuckDB; degrees(atan2) is in (-180, 180], so
    +360 makes the modulo operand positive and `%` == pmod on both
    engines)."""
    dlon = F.radians(lon2 - lon1)
    p1, p2 = F.radians(lat1), F.radians(lat2)
    theta = F.atan2(
        F.sin(dlon) * F.cos(p2),
        F.cos(p1) * F.sin(p2) - F.sin(p1) * F.cos(p2) * F.cos(dlon),
    )
    return F.pmod(F.degrees(theta) + 360.0, F.lit(360.0))


def zonal_stats(
    nodes: DataFrame,
    polygons: DataFrame,
    value_col: str,
    lat_col: str = "glat",
    lon_col: str = "glon",
    val_dp: int = 4,
    out_dp: int = 6,
) -> DataFrame:
    """Zonal statistics: aggregate a raster surface (any grid of
    (lat, lon, value) nodes — an ``idw_grid`` or ``kde_heatmap`` output)
    by polygon zone. The classic raster×vector summary ("mean density per
    region").

    Plan: the node set rides the broadcast PIP join (only two floats
    enter Python), then ONE groupBy on the zone id. Values are summed as
    fixed-point integers at ``val_dp`` (both surface builders emit
    exactly ``val_dp`` decimals), so sums are order-independent and
    oracle-exact; min/max/count are order-independent already. A node
    inside k overlapping zones contributes to all k (same semantics as
    ``pip_join``). At 100 TB the node side is the raster (already
    aggregated — orders of magnitude smaller than the observations), so
    the broadcast PIP shape is the right one; for a huge zone layer use
    ``pip_join_distributed`` upstream and the same groupBy.
    """
    from bufr2geojson_spark.operators.textops import round_dp

    m = float(10 ** val_dp)
    z = pip_join(
        nodes.select(
            F.col(lat_col).alias("lat"),
            F.col(lon_col).alias("lon"),
            F.col(value_col).alias("_v"),
        ),
        polygons,
        how="inner",
    )
    ve = F.floor(F.col("_v") * F.lit(m) + F.lit(0.5)).cast("long")
    total = F.sum(ve).cast("double") / F.lit(m)
    return z.groupBy("region_id").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        round_dp(total, out_dp).alias("sum_val"),
        round_dp(total / F.count(F.lit(1)), out_dp).alias("mean_val"),
        round_dp(F.max("_v"), out_dp).alias("max_val"),
        round_dp(F.min("_v"), out_dp).alias("min_val"),
    )


def polyline_segments(
    route_points: DataFrame,
    route_col: str = "route_id",
    order_col: str = "seq",
    lat_col: str = "lat",
    lon_col: str = "lon",
    len_dp: int = 2,
) -> DataFrame:
    """Vertex stream → segment table for a route network: per route, each
    consecutive vertex pair becomes (route_id, seg_idx, x1, y1, x2, y2,
    seg_km, cum_km) where ``cum_km`` is the along-route distance at the
    segment start. One lead-window shuffle on the route id.

    Segment lengths are haversine floor-quantized to ``len_dp`` decimals,
    so the cumulative sum is an exact integer sum — ``cum_km`` is
    bit-identical on any engine/partitioning (the trajectory SEG_DP
    convention).
    """
    w = Window.partitionBy(route_col).orderBy(order_col)
    m = float(10 ** len_dp)
    seg = (
        route_points.select(
            F.col(route_col).alias("route_id"),
            F.col(lon_col).alias("x1"), F.col(lat_col).alias("y1"),
            F.lead(lon_col).over(w).alias("x2"),
            F.lead(lat_col).over(w).alias("y2"),
            (F.row_number().over(w) - F.lit(1)).alias("seg_idx"),
        )
        .filter(F.col("x2").isNotNull())
    )
    len_e = F.floor(
        haversine_col(F.col("y1"), F.col("x1"), F.col("y2"), F.col("x2"))
        * F.lit(m) + F.lit(0.5)
    ).cast("long")
    wcum = (
        Window.partitionBy("route_id").orderBy("seg_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        seg.withColumn("_le", len_e)
        .withColumn("seg_km", F.col("_le").cast("double") / F.lit(m))
        .withColumn(
            "cum_km",
            F.coalesce(F.sum("_le").over(wcum), F.lit(0))
            .cast("double") / F.lit(m),
        )
        .drop("_le")
    )


def map_match(
    points: DataFrame,
    segments: DataFrame,
    max_km: float,
    grid_deg: float = 5.0,
    id_col: str = "pid",
    lat_col: str = "lat",
    lon_col: str = "lon",
    dist_dp: int = 2,
    along_dp: int = 3,
) -> DataFrame:
    """Map matching: snap each ping to the nearest segment of a reference
    route network within ``max_km`` and report the along-route offset —
    (pid, route_id, seg_idx, snap_km, along_km). Pings near no route are
    dropped. ``segments`` is ``polyline_segments`` output (or any table
    with route_id, seg_idx, x1, y1, x2, y2, cum_km).

    Plan shape is ``boundary_distance``'s candidate generation verbatim
    (both sides huge: pings hash to one grid cell, segments explode to
    the cells their ``max_km``-padded bbox touches, candidates meet in an
    equi-join) followed by a per-ping argmin expressed as a map-side-
    combinable ``min(struct(...))`` aggregate — two shuffles total
    (candidates, then pings), no window over the candidate table, no UDF.

    Determinism: the snap distance is the boundary_distance local-frame
    point-to-segment metric (floor-quantized to ``dist_dp``), ties
    between equidistant segments break on (route_id, seg_idx) via the
    lexicographic struct min; the along-offset adds the clamped
    projection parameter times the quantized segment length onto the
    exact-integer cumulative, floor-rounded to ``along_dp`` — every term
    is the identical IEEE expression in the DuckDB oracle.
    """
    nlon = _grid_nlon(grid_deg)
    ci, cj = _point_cell_cols(F.col("_plat"), F.col("_plon"),
                              grid_deg, nlon)
    p = points.select(
        F.col(id_col).alias("_pid"),
        F.col(lat_col).alias("_plat"),
        F.col(lon_col).alias("_plon"),
    ).withColumn("_ci", ci).withColumn("_cj", cj)

    x1, y1, x2, y2 = (F.col(c) for c in ("x1", "y1", "x2", "y2"))
    x2n = x1 + F.pmod(x2 - x1 + 540.0, F.lit(360.0)) - 180.0
    ci_lo, ci_hi, cj_lo, cj_hi = _disc_cell_cover(
        F.least(y1, y2), F.greatest(y1, y2),
        F.least(x1, x2n), F.greatest(x1, x2n),
        max_km, grid_deg, nlon,
    )
    e = (
        segments.withColumn("_ci", F.explode(F.sequence(ci_lo, ci_hi)))
        .withColumn("_cj_raw", F.explode(F.sequence(cj_lo, cj_hi)))
        .withColumn("_cj", F.pmod(F.col("_cj_raw"), F.lit(nlon)))
        .drop("_cj_raw")
    )

    plat, plon = F.col("_plat"), F.col("_plon")
    cosr = F.cos(F.radians(plat))
    km = F.lit(KM_PER_DEG)
    dlon1 = F.pmod(x1 - plon + 540.0, F.lit(360.0)) - 180.0
    dlon2 = dlon1 + (F.pmod(x2 - x1 + 540.0, F.lit(360.0)) - 180.0)
    ax = dlon1 * cosr * km
    ay = (y1 - plat) * km
    bx = dlon2 * cosr * km
    by = (y2 - plat) * km
    vx, vy = bx - ax, by - ay
    l2 = vx * vx + vy * vy
    t = F.when(
        l2 > 0,
        F.least(F.greatest(-(ax * vx + ay * vy) / l2, F.lit(0.0)),
                F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    dx, dy = ax + t * vx, ay + t * vy
    md = F.lit(float(10 ** dist_dp))
    d = F.floor(F.sqrt(dx * dx + dy * dy) * md + F.lit(0.5)) / md
    ma = F.lit(float(10 ** along_dp))
    along = (
        F.floor((F.col("cum_km") + t * F.col("seg_km")) * ma + F.lit(0.5))
        / ma
    )
    best = F.min(F.struct(
        F.col("_d").alias("d"), F.col("route_id").alias("r"),
        F.col("seg_idx").alias("s"), F.col("_along").alias("a"),
    )).alias("_b")
    return (
        p.join(e, on=["_ci", "_cj"])
        .withColumn("_d", d)
        .filter(F.col("_d") <= max_km)
        .withColumn("_along", along)
        .groupBy(F.col("_pid").alias(id_col))
        .agg(best)
        .select(
            id_col,
            F.col("_b.r").alias("route_id"),
            F.col("_b.s").alias("seg_idx"),
            F.col("_b.d").alias("snap_km"),
            F.col("_b.a").alias("along_km"),
        )
    )
