"""PIP + kNN correctness vs brute-force oracles (FIXTURES.md §5)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bufr2geojson_spark.operators.spatial import (
    assign_region,
    haversine_km,
    knn_join,
    pip_join,
)
from bufr2geojson_spark.sources.synth import synth_region_polygons, synth_stations


def _scalar_pip(px, py, ring):
    """Independent scalar crossing-number oracle."""
    inside = False
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > py) != (y2 > py):
            xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xint:
                inside = not inside
    return inside


@pytest.fixture(scope="module")
def polys(spark):
    return synth_region_polygons(spark)


def _random_points(spark):
    """400 random points and the polygon rings the brute-force PIP checks
    test them against."""
    rng = np.random.RandomState(5)
    lat = rng.uniform(-75, 85, 400)
    lon = rng.uniform(-180, 180, 400)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(400), "lat": lat, "lon": lon})
    )
    return pts, lat, lon


def _contains(ring, anti, lat, lon):
    px = lon + 360 if (anti and lon < 0) else lon
    return _scalar_pip(px, lat, ring)


def test_pip_matches_bruteforce(spark, polys):
    pts, lat, lon = _random_points(spark)
    got = {
        (r.pid, r.region_id)
        for r in pip_join(pts, polys, how="inner").collect()
    }
    rings = {
        r.region_id: ([(p.lon, p.lat) for p in r.ring], r.bbox.maxx > 180)
        for r in polys.collect()
    }
    expected = set()
    for i in range(400):
        for rid, (ring, anti) in rings.items():
            if _contains(ring, anti, lat[i], lon[i]):
                expected.add((int(i), rid))
    assert got == expected


def test_pip_antimeridian(spark, polys):
    # points on both sides of the antimeridian inside R5 (lon 110..240, lat -60..0)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"pid": [0, 1, 2, 3],
             "lat": [-30.0, -30.0, -30.0, -30.0],
             "lon": [179.5, -179.5, -130.0, -110.0]}
        )
    )
    got = {(r.pid, r.region_id) for r in pip_join(pts, polys).collect()}
    assert (0, "R5") in got and (1, "R5") in got and (2, "R5") in got
    assert not any(p == 3 for p, _ in got)  # -110 is outside (wraps to 250)


def test_pip_concave(spark, polys):
    # R2 has a notch over lon 100..120 below lat 25
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0, 1], "lat": [10.0, 10.0], "lon": [110.0, 90.0]})
    )
    got = {(r.pid, r.region_id) for r in pip_join(pts, polys).collect() if r.region_id == "R2"}
    assert got == {(1, "R2")}


def test_assign_region_most_specific(spark, polys):
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0, 1, 2], "lat": [51.47, -50.0, np.nan],
                      "lon": [-9.42, -20.0, -9.42]})
    )
    rows = {r.pid: r for r in assign_region(pts, polys).collect()}
    # golden point is in both R6 (europe) and tiny T1; T1 (smaller) wins
    assert rows[0].region_id == "T1"
    # open-ocean point matches nothing; left semantics keep it with nulls
    assert rows[1].region_id is None and rows[1].region_name is None
    # a NaN coordinate is kept too, with null region columns
    assert rows[2].region_id is None and rows[2].region_name is None
    assert len(rows) == 3

    # brute force: every random point kept exactly once, its region the
    # first containing ring in (bbox area, region_id) order
    pts, lat, lon = _random_points(spark)
    out = assign_region(pts, polys).collect()
    assert sorted(r.pid for r in out) == list(range(400))
    ordered = sorted(
        polys.collect(),
        key=lambda r: ((r.bbox.maxx - r.bbox.minx) * (r.bbox.maxy - r.bbox.miny),
                       r.region_id),
    )
    for r in out:
        hits = [p for p in ordered
                if _contains([(v.lon, v.lat) for v in p.ring], p.bbox.maxx > 180,
                             lat[r.pid], lon[r.pid])]
        assert r.region_id == (hits[0].region_id if hits else None), r.pid
        assert r.region_name == (hits[0].region_name if hits else None), r.pid


def test_knn_matches_bruteforce(spark):
    stations = synth_stations(spark, 500)
    st = stations.toPandas()
    rng = np.random.RandomState(9)
    n = 300
    lat = rng.uniform(-80, 80, n)
    lon = rng.uniform(-180, 180, n)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(n), "lat": lat, "lon": lon})
    )
    out = knn_join(pts, stations, k=3, grid_deg=5.0).orderBy("pid").collect()
    slat = st["lat"].to_numpy()
    slon = st["lon"].to_numpy()
    sid = st["station_id"].to_numpy()
    for r in out:
        d = haversine_km(r.lat, r.lon, slat, slon)
        order = np.argsort(d)
        assert r.nearest_station_id == sid[order[0]]
        assert abs(r.nearest_station_km - d[order[0]]) < 1e-6
        got_ids = [e.station_id for e in r.knn]
        exp_ids = [sid[order[j]] for j in range(3)]
        # ties broken arbitrarily — compare by distance
        got_d = [e.dist_km for e in r.knn]
        exp_d = sorted(d)[:3]
        assert np.allclose(got_d, exp_d, atol=1e-6)
        assert got_ids[0] == exp_ids[0]
        assert r.knn_ring >= 0


def test_knn_high_latitude_correct(spark):
    """cos-shrunk longitude separation must not terminate rings early."""
    st = pd.DataFrame(
        {
            "station_id": ["near-pole-a", "near-pole-b", "equator"],
            "tsi": ["a", "b", "c"],
            "lat": [84.0, 84.0, 0.0],
            "lon": [0.0, 170.0, 0.0],
            "elevation_m": [0.0, 0.0, 0.0],
            "wmo_region": [6, 6, 1],
        }
    )
    stations = spark.createDataFrame(st)
    pts = spark.createDataFrame(pd.DataFrame({"pid": [0], "lat": [84.0], "lon": [60.0]}))
    r = knn_join(pts, stations, k=1, grid_deg=2.0).collect()[0]
    d = haversine_km(84.0, 60.0, st["lat"].to_numpy(), st["lon"].to_numpy())
    assert r.nearest_station_id == st["station_id"][int(np.argmin(d))]
    assert abs(r.nearest_station_km - d.min()) < 1e-6


def test_knn_topk_no_duplicate_stations_under_lon_wrap(spark):
    """Longitude wrap can map several ring offsets onto one bucket; a
    duplicated bucket once yielded the same station twice in the top-k
    (caught by the geo_knn3 DuckDB oracle). Coarse 30-degree grid + k=3
    forces rings wide enough to wrap."""
    import pandas as pd

    from bufr2geojson_spark.operators.spatial import knn_join

    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0, 1], "lat": [-66.1, 10.0],
                      "lon": [-32.7, 179.5]})
    )
    st = pd.DataFrame({
        "station_id": [f"s{i}" for i in range(6)],
        "lat": [-59.7, -18.4, -35.2, 40.0, 10.5, -66.0],
        "lon": [142.2, -73.9, 73.2, -179.8, 178.9, -33.0],
    })
    stations = spark.createDataFrame(st)
    out = knn_join(pts, stations, k=3, grid_deg=30.0).collect()
    for r in out:
        sids = [nn.station_id for nn in r.knn]
        assert len(sids) == len(set(sids)), f"duplicate station in top-k: {sids}"
        dists = [nn.dist_km for nn in r.knn]
        assert dists == sorted(dists)


def test_knn_termination_bound_is_true_lower_bound(spark):
    """Adversarial case for ring termination: the true nearest sits in an
    unexplored bucket at higher latitude (meridians converge there, so its
    real distance is SMALLER than a same-band bound would claim), while a
    decoy at the feature's own latitude almost matches. The cos shrink must
    use the worst latitude reachable within the ring, else the decoy wins."""
    import pandas as pd

    from bufr2geojson_spark.operators.spatial import haversine_km, knn_join

    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [0], "lat": [29.999], "lon": [29.999]})
    )
    st = pd.DataFrame({
        "station_id": ["true-nearest", "decoy"],
        "lat": [60.0001, 29.999],
        "lon": [90.0001, -28.9],
    })
    d_true = haversine_km(29.999, 29.999, 60.0001, 90.0001)
    d_decoy = haversine_km(29.999, 29.999, 29.999, -28.9)
    assert d_true < d_decoy  # the trap is real
    out = knn_join(
        pts, spark.createDataFrame(st), k=1, grid_deg=30.0
    ).collect()[0]
    assert out.nearest_station_id == "true-nearest"
    assert abs(out.nearest_station_km - d_true) < 1e-6


# ---------------------------------------------------------------------------
# distance_join (range join)
# ---------------------------------------------------------------------------


class TestDistanceJoin:
    def _points(self, spark, n=400):
        # deterministic global scatter incl. near-pole and near-antimeridian
        rows = [
            (i,
             float((i * 37) % 178 - 89 + ((i * 91) % 10) / 10.0),
             float((i * 53) % 360 - 180 + ((i * 17) % 10) / 10.0))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "pid int, lat double, lon double")

    def _stations(self, spark):
        rows = [
            ("S_EQ", 0.0, 0.0),
            ("S_AM_E", 10.0, 179.5),    # antimeridian east side
            ("S_AM_W", 12.0, -179.5),   # antimeridian west side
            ("S_POLE", 88.5, 45.0),     # polar: lon span -> full circle
            ("S_MID", -45.0, 100.0),
            ("S_EDGE", 52.5, -0.1),     # sits near a cell boundary
        ]
        return spark.createDataFrame(
            rows, "station_id string, lat double, lon double"
        )

    def _brute(self, spark, pts, sts, radius):
        from bufr2geojson_spark.operators.spatial import haversine_col

        d = F.round(
            haversine_col(F.col("lat"), F.col("lon"),
                          F.col("s_lat"), F.col("s_lon")), 2)
        return (
            pts.crossJoin(
                sts.select(F.col("station_id"), F.col("lat").alias("s_lat"),
                           F.col("lon").alias("s_lon")))
            .withColumn("dist_km", d)
            .filter(F.col("dist_km") <= radius)
            .select("pid", "station_id", "dist_km")
        )

    @pytest.mark.parametrize("radius,grid", [(500.0, 5.0), (1500.0, 10.0),
                                             (3000.0, 6.0)])
    def test_matches_brute_force(self, spark, radius, grid):
        from bufr2geojson_spark.operators.spatial import distance_join

        pts = self._points(spark)
        sts = self._stations(spark)
        got = sorted(
            map(tuple,
                distance_join(pts, sts, radius, grid_deg=grid)
                .select("pid", "station_id", "dist_km").collect())
        )
        want = sorted(map(tuple, self._brute(spark, pts, sts, radius).collect()))
        assert got == want
        assert len(got) > 0

    def test_no_duplicate_pairs_under_wrap(self, spark):
        from bufr2geojson_spark.operators.spatial import distance_join

        pts = self._points(spark)
        sts = self._stations(spark)
        out = distance_join(pts, sts, 4000.0, grid_deg=5.0)
        n = out.count()
        nd = out.select("pid", "station_id").distinct().count()
        assert n == nd

    def test_grid_must_divide_circle(self, spark):
        from bufr2geojson_spark.operators.spatial import distance_join

        with pytest.raises(ValueError):
            distance_join(self._points(spark, 4), self._stations(spark),
                          100.0, grid_deg=7.0)

    def test_plan_has_no_python_udf(self, spark):
        from bufr2geojson_spark.operators.spatial import distance_join

        plan = (
            distance_join(self._points(spark, 8), self._stations(spark), 500.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestPipJoinDistributed:
    def _points(self, spark, n=600):
        rows = [
            (i,
             float((i * 37) % 178 - 89 + ((i * 91) % 10) / 10.0),
             float((i * 53) % 360 - 180 + ((i * 17) % 10) / 10.0))
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "pid int, lat double, lon double")

    @pytest.mark.parametrize("grid", [5.0, 12.0])
    def test_matches_broadcast_pip(self, spark, grid):
        from bufr2geojson_spark.operators.spatial import (
            pip_join, pip_join_distributed)

        polys = synth_region_polygons(spark)   # includes antimeridian R5
        pts = self._points(spark)
        got = sorted(map(tuple,
                         pip_join_distributed(pts, polys, grid_deg=grid)
                         .select("pid", "region_id").collect()))
        want = sorted(map(tuple,
                          pip_join(pts, polys, how="inner")
                          .select("pid", "region_id").collect()))
        assert got == want
        assert len(got) > 0

    def test_plan_is_pure_jvm(self, spark):
        from bufr2geojson_spark.operators.spatial import pip_join_distributed

        polys = synth_region_polygons(spark)
        plan = (pip_join_distributed(self._points(spark, 8), polys)
                ._jdf.queryExecution().executedPlan().toString())
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestPolygonMeasures:
    def test_known_areas(self, spark):
        import math

        from bufr2geojson_spark.operators.spatial import polygon_measures

        # a full lat band from the equator to the pole: area = 2πR² (a
        # hemisphere), via an unwrapped 0..360 ring at φ=0
        ring = [(0.0, 0.0), (360.0, 0.0), (360.0, 90.0), (0.0, 90.0),
                (0.0, 0.0)]
        import pandas as pd

        from bufr2geojson_spark.schemas import REGION_POLYGON_SCHEMA
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        polys = spark.createDataFrame(pd.DataFrame([{
            "region_id": "HEMI", "region_name": "HEMI",
            "ring": [{"lon": x, "lat": y} for x, y in ring],
            "bbox": {"minx": min(xs), "miny": min(ys),
                     "maxx": max(xs), "maxy": max(ys)},
        }]), REGION_POLYGON_SCHEMA)
        out = polygon_measures(polys).collect()[0]
        hemi = 2 * math.pi * 6371.0 ** 2
        assert abs(out["area_km2"] - hemi) / hemi < 1e-9
        # perimeter: equator (2πR·cosφ at φ=0 → full circle) + two meridian
        # quarters; haversine of the 360° span is 0 (same point), so the
        # measured perimeter is equator-segment-free: 2 × quarter meridian
        quarter = math.pi * 6371.0 / 2
        assert abs(out["perimeter_km"] - 2 * quarter) / quarter < 0.01

    def test_antimeridian_band_consistent(self, spark):
        import pandas as pd

        from bufr2geojson_spark.operators.spatial import polygon_measures
        from bufr2geojson_spark.schemas import REGION_POLYGON_SCHEMA

        def mk(rid, ring):
            xs = [p[0] for p in ring]
            ys = [p[1] for p in ring]
            return {
                "region_id": rid, "region_name": rid,
                "ring": [{"lon": float(x), "lat": float(y)} for x, y in ring],
                "bbox": {"minx": float(min(xs)), "miny": float(min(ys)),
                         "maxx": float(max(xs)), "maxy": float(max(ys))},
            }

        # same 20°×20° box at the prime meridian and across the antimeridian
        a = mk("A", [(-10, 10), (10, 10), (10, 30), (-10, 30), (-10, 10)])
        b = mk("B", [(170, 10), (190, 10), (190, 30), (170, 30), (170, 10)])
        polys = spark.createDataFrame(pd.DataFrame([a, b]),
                                      REGION_POLYGON_SCHEMA)
        out = {r["region_id"]: r for r in polygon_measures(polys).collect()}
        assert abs(out["A"]["area_km2"] - out["B"]["area_km2"]) < 1e-6
        assert abs(out["A"]["perimeter_km"] - out["B"]["perimeter_km"]) < 1e-6


class TestDbscan:
    def _points(self, spark):
        # global scatter + two injected dense blobs so real clusters exist
        rows = [
            (i,
             float((i * 37) % 140 - 70 + ((i * 91) % 10) / 10.0),
             float((i * 53) % 360 - 180 + ((i * 17) % 10) / 10.0))
            for i in range(200)
        ]
        for j in range(12):  # blob A: ~50.x N, 10.x E
            rows.append((1000 + j, 50.0 + (j % 4) * 0.3, 10.0 + (j // 4) * 0.4))
        for j in range(8):   # blob B: straddles the antimeridian
            rows.append((2000 + j, -20.0 + (j % 2) * 0.5,
                         179.6 + j * 0.2 - (360.0 if 179.6 + j * 0.2 > 180 else 0.0)))
        # satellites: within eps of a blob edge but with too few neighbors
        # of their own -> border points
        rows.append((1100, 53.35, 10.4))
        rows.append((2100, -22.6, 179.7))
        return spark.createDataFrame(rows, "pid long, lat double, lon double")

    def _brute(self, rows, eps, min_pts):
        import math

        def hav(a, b):
            d = 2 * 6371.0 * math.asin(math.sqrt(
                math.sin(math.radians(b[1] - a[1]) / 2) ** 2
                + math.cos(math.radians(a[1])) * math.cos(math.radians(b[1]))
                * math.sin(math.radians(b[2] - a[2]) / 2) ** 2))
            return round(d, 2)

        nb = {r[0]: set() for r in rows}
        for i, a in enumerate(rows):
            for b in rows[i + 1:]:
                if hav(a, b) <= eps:
                    nb[a[0]].add(b[0])
                    nb[b[0]].add(a[0])
        core = {i for i, s in nb.items() if len(s) + 1 >= min_pts}
        # components over core-core edges (BFS), label = min core id
        label = {}
        for c in sorted(core):
            if c in label:
                continue
            comp, stack = [], [c]
            seen = {c}
            while stack:
                u = stack.pop()
                comp.append(u)
                for v in nb[u]:
                    if v in core and v not in seen:
                        seen.add(v)
                        stack.append(v)
            m = min(comp)
            for u in comp:
                label[u] = m
        out = {}
        for i in nb:
            if i in core:
                out[i] = (label[i], "core")
            else:
                cl = [label[v] for v in nb[i] if v in core]
                out[i] = (min(cl), "border") if cl else (None, "noise")
        return out

    def test_matches_bruteforce(self, spark):
        from bufr2geojson_spark.operators.spatial import dbscan

        pts = self._points(spark)
        rows = [(r.pid, r.lat, r.lon) for r in pts.collect()]
        want = self._brute(rows, eps=300.0, min_pts=5)
        got = {
            r.pid: (r.cluster_id, r.role)
            for r in dbscan(pts, eps_km=300.0, min_pts=5).collect()
        }
        assert got == want
        roles = {v[1] for v in want.values()}
        assert roles == {"core", "border", "noise"}  # all three exercised
        assert len({v[0] for v in want.values() if v[0] is not None}) >= 2

    def test_antimeridian_blob_is_one_cluster(self, spark):
        from bufr2geojson_spark.operators.spatial import dbscan

        pts = self._points(spark)
        out = dbscan(pts, eps_km=300.0, min_pts=5)
        blob = out.filter((F.col("pid") >= 2000) & (F.col("pid") < 2008))
        labs = {r.cluster_id for r in blob.collect()}
        assert len(labs) == 1 and None not in labs

    def test_deterministic_across_partitioning(self, spark):
        from bufr2geojson_spark.operators.spatial import dbscan

        pts = self._points(spark)
        a = {(r.pid, r.cluster_id, r.role)
             for r in dbscan(pts, 300.0, 5).collect()}
        b = {(r.pid, r.cluster_id, r.role)
             for r in dbscan(pts.repartition(13), 300.0, 5).collect()}
        assert a == b


class TestBoundaryDistance:
    def _edges(self, spark):
        from bufr2geojson_spark.sources.synth import synth_region_polygons

        rows = []
        for r in synth_region_polygons(spark).collect():
            ring = [(p.lon, p.lat) for p in r.ring]
            for i in range(len(ring) - 1):
                rows.append((r.region_id, ring[i][0], ring[i][1],
                             ring[i + 1][0], ring[i + 1][1]))
        return rows, spark.createDataFrame(
            rows, "region_id string, x1 double, y1 double, "
                  "x2 double, y2 double")

    def _points(self, spark, n=300):
        rows = [
            (i,
             float((i * 37) % 178 - 89 + ((i * 91) % 10) / 10.0),
             float((i * 53) % 360 - 180 + ((i * 17) % 10) / 10.0))
            for i in range(n)
        ]
        return rows, spark.createDataFrame(
            rows, "pid int, lat double, lon double")

    def _brute(self, pts, edges, max_km):
        import math

        KM = 111.19492664455873
        best = {}
        for pid, plat, plon in pts:
            cosr = math.cos(math.radians(plat))
            for _, x1, y1, x2, y2 in edges:
                dlon1 = (x1 - plon + 540.0) % 360.0 - 180.0
                dlon2 = dlon1 + ((x2 - x1 + 540.0) % 360.0 - 180.0)
                ax = dlon1 * cosr * KM
                ay = (y1 - plat) * KM
                bx = dlon2 * cosr * KM
                by = (y2 - plat) * KM
                vx, vy = bx - ax, by - ay
                l2 = vx * vx + vy * vy
                t = min(max(-(ax * vx + ay * vy) / l2, 0.0), 1.0) if l2 > 0 else 0.0
                dx, dy = ax + t * vx, ay + t * vy
                d = math.floor(math.sqrt(dx * dx + dy * dy) * 100.0 + 0.5) / 100.0
                if d <= max_km and (pid not in best or d < best[pid]):
                    best[pid] = d
        return best

    def test_matches_bruteforce(self, spark):
        from bufr2geojson_spark.operators.spatial import boundary_distance

        prows, pts = self._points(spark)
        erows, edges = self._edges(spark)
        want = self._brute(prows, erows, 500.0)
        got = {
            r.pid: r.boundary_km
            for r in boundary_distance(pts, edges, max_km=500.0).collect()
        }
        assert got == want and len(got) > 10

    def test_point_on_edge_is_zero(self, spark):
        from bufr2geojson_spark.operators.spatial import boundary_distance

        edges = spark.createDataFrame(
            [("R", 0.0, 10.0, 0.0, 20.0)],
            "region_id string, x1 double, y1 double, x2 double, y2 double")
        pts = spark.createDataFrame(
            [(1, 15.0, 0.0)], "pid int, lat double, lon double")
        out = boundary_distance(pts, edges, max_km=100.0).collect()
        assert out[0].boundary_km == 0.0

    def test_plan_is_pure_jvm(self, spark):
        from bufr2geojson_spark.operators.spatial import boundary_distance

        _, pts = self._points(spark, 8)
        _, edges = self._edges(spark)
        plan = (
            boundary_distance(pts, edges, 300.0)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestDbscanEdgeCases:
    def test_min_pts_one_isolated_points_are_singleton_cores(self, spark):
        from bufr2geojson_spark.operators.spatial import dbscan

        pts = spark.createDataFrame(
            [(1, 10.0, 10.0), (2, 10.1, 10.1), (3, -60.0, 120.0)],
            "pid long, lat double, lon double")
        out = {r.pid: (r.cluster_id, r.role)
               for r in dbscan(pts, eps_km=50.0, min_pts=1).collect()}
        # 1 and 2 are mutual neighbors -> one cluster labeled 1;
        # 3 is isolated but still a singleton core cluster
        assert out[1] == (1, "core") and out[2] == (1, "core")
        assert out[3] == (3, "core")


class TestBoundaryDistanceNameCollision:
    def test_edge_frame_may_share_point_column_names(self, spark):
        from bufr2geojson_spark.operators.spatial import boundary_distance

        pts = spark.createDataFrame(
            [(1, 15.0, 0.5)], "pid int, lat double, lon double")
        # edges carrying 'pid' and 'lat' columns must not collide
        edges = spark.createDataFrame(
            [(9, 99.0, 0.0, 10.0, 0.0, 20.0)],
            "pid int, lat double, x1 double, y1 double, x2 double, y2 double")
        out = boundary_distance(pts, edges, max_km=200.0).collect()
        assert len(out) == 1 and out[0].pid == 1
        assert out[0].boundary_km > 0


class TestBearing:
    def test_cardinal_bearings(self, spark):
        from bufr2geojson_spark.operators.spatial import bearing_col

        rows = [
            (1, 0.0, 0.0, 10.0, 0.0),    # due north
            (2, 0.0, 0.0, 0.0, 10.0),    # due east (on the equator)
            (3, 0.0, 0.0, -10.0, 0.0),   # due south
            (4, 0.0, 0.0, 0.0, -10.0),   # due west
            (5, 10.0, 179.0, 10.0, -179.0),  # eastward across antimeridian
        ]
        df = spark.createDataFrame(
            rows, "pid int, lat1 double, lon1 double, lat2 double, lon2 double"
        )
        out = {
            r.pid: r.b
            for r in df.select(
                "pid",
                bearing_col(F.col("lat1"), F.col("lon1"),
                            F.col("lat2"), F.col("lon2")).alias("b"),
            ).collect()
        }
        assert abs(out[1] - 0.0) < 1e-9
        assert abs(out[2] - 90.0) < 1e-9
        assert abs(out[3] - 180.0) < 1e-9
        assert abs(out[4] - 270.0) < 1e-9
        assert 80.0 < out[5] < 100.0  # roughly east, crossing the wrap


class TestZonalStats:
    def test_matches_bruteforce(self, spark):
        import math

        import pandas as pd

        from bufr2geojson_spark.operators.spatial import zonal_stats
        from bufr2geojson_spark.schemas import REGION_POLYGON_SCHEMA

        ring = [(-10.0, -10.0), (10.0, -10.0), (10.0, 10.0),
                (-10.0, 10.0), (-10.0, -10.0)]
        polys = spark.createDataFrame(pd.DataFrame([{
            "region_id": "Z1", "region_name": "zone one",
            "ring": [{"lon": x, "lat": y} for x, y in ring],
            "bbox": {"minx": -10.0, "miny": -10.0, "maxx": 10.0,
                     "maxy": 10.0},
        }]), REGION_POLYGON_SCHEMA)
        nodes = [(-5.0, -5.0, 1.25), (5.0, 5.0, 2.5), (0.0, 0.0, 0.0001),
                 (15.0, 0.0, 9.0),      # outside
                 (9.0, -9.0, 3.1234)]
        df = spark.createDataFrame(
            nodes, "glat double, glon double, density double")
        out = zonal_stats(df, polys, value_col="density").collect()
        assert len(out) == 1
        r = out[0]
        vals = [v for la, lo, v in nodes if abs(la) < 10 and abs(lo) < 10]
        total = sum(math.floor(v * 1e4 + 0.5) for v in vals) / 1e4
        assert r["region_id"] == "Z1" and r["n_nodes"] == len(vals)
        assert r["sum_val"] == math.floor(total * 1e6 + 0.5) / 1e6
        assert r["mean_val"] == math.floor(total / len(vals) * 1e6 + 0.5) / 1e6
        assert r["max_val"] == 3.1234 and r["min_val"] == 0.0001


class TestMapMatch:
    def _segs(self, spark):
        from bufr2geojson_spark.operators.spatial import polyline_segments

        # two routes: the equator (3 vertices) and a short meridian
        pts = spark.createDataFrame(
            [(0, 0, 0.0, 0.0), (0, 1, 0.0, 1.0), (0, 2, 0.0, 2.0),
             (1, 0, 10.0, 5.0), (1, 1, 11.0, 5.0)],
            "route_id long, seq long, lat double, lon double",
        )
        return polyline_segments(pts)

    def test_segments_cumulative(self, spark):
        segs = {(r["route_id"], r["seg_idx"]): r
                for r in self._segs(spark).collect()}
        assert set(segs) == {(0, 0), (0, 1), (1, 0)}
        assert segs[(0, 0)]["cum_km"] == 0.0
        # cum at segment 1 = quantized length of segment 0
        assert segs[(0, 1)]["cum_km"] == segs[(0, 0)]["seg_km"]
        # 1 deg of longitude at the equator ~ 111.19 km, quantized 2dp
        assert abs(segs[(0, 0)]["seg_km"] - 111.19) < 0.01

    def test_snap_and_along(self, spark):
        from bufr2geojson_spark.operators.spatial import map_match

        pings = spark.createDataFrame(
            [(1, 0.1, 0.5),    # near equator route, mid segment 0
             (2, 0.0, 1.5),    # on equator, mid segment 1
             (3, 10.5, 5.2),   # near meridian route
             (4, 50.0, 50.0)], # far from everything
            "pid long, lat double, lon double",
        )
        out = {r["pid"]: r for r in
               map_match(pings, self._segs(spark), max_km=100.0).collect()}
        assert set(out) == {1, 2, 3}          # ping 4 dropped
        assert out[1]["route_id"] == 0 and out[1]["seg_idx"] == 0
        assert abs(out[1]["snap_km"] - 11.12) < 0.02   # 0.1 deg lat
        assert abs(out[1]["along_km"] - 55.6) < 0.1    # half a segment
        assert out[2]["seg_idx"] == 1
        # along passes the first segment's full quantized length
        assert out[2]["along_km"] > 111.0
        assert out[3]["route_id"] == 1

    def test_endpoint_clamp_and_tiebreak(self, spark):
        from bufr2geojson_spark.operators.spatial import map_match

        # ping beyond the end of the equator route: clamps to t=1
        pings = spark.createDataFrame(
            [(1, 0.0, 2.5), (2, 0.0, 1.0)],
            "pid long, lat double, lon double",
        )
        out = {r["pid"]: r for r in
               map_match(pings, self._segs(spark), max_km=100.0).collect()}
        assert out[1]["seg_idx"] == 1
        assert abs(out[1]["along_km"]
                   - 2 * 111.19) < 0.5          # full route length
        # ping exactly on the shared vertex: equidistant (0.0) from both
        # segments -> deterministic tie to the smaller seg_idx
        assert out[2]["seg_idx"] == 0 and out[2]["snap_km"] == 0.0

    def test_matches_brute_force(self, spark):
        import math

        from bufr2geojson_spark.operators.spatial import map_match

        segs = self._segs(spark).collect()
        rows = [(i, -20.0 + 1.7 * i, -3.0 + 0.9 * i) for i in range(40)]
        pings = spark.createDataFrame(
            rows, "pid long, lat double, lon double")
        got = {r["pid"]: (r["route_id"], r["seg_idx"], r["snap_km"])
               for r in map_match(pings, self._segs(spark),
                                  max_km=400.0).collect()}
        KM = 111.19492664455873
        for pid, plat, plon in rows:
            best = None
            for s in segs:
                cosr = math.cos(math.radians(plat))
                dlon1 = ((s["x1"] - plon + 540.0) % 360.0) - 180.0
                ddlon = ((s["x2"] - s["x1"] + 540.0) % 360.0) - 180.0
                ax, ay = dlon1 * cosr * KM, (s["y1"] - plat) * KM
                bx, by = (dlon1 + ddlon) * cosr * KM, (s["y2"] - plat) * KM
                vx, vy = bx - ax, by - ay
                l2 = vx * vx + vy * vy
                t = min(max(-(ax * vx + ay * vy) / l2, 0.0), 1.0) if l2 > 0 else 0.0
                d = math.floor(math.hypot(ax + t * vx, ay + t * vy) * 100 + 0.5) / 100
                if d <= 400.0:
                    k = (d, s["route_id"], s["seg_idx"])
                    if best is None or k < best:
                        best = k
            if best is None:
                assert pid not in got
            else:
                assert got[pid] == (best[1], best[2], best[0])
