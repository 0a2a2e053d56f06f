"""Tile aggregation / rollup / raster round-trip / salting tests (N5-N8)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bufr2geojson_spark.functions import cells as C
from bufr2geojson_spark.operators.tiles import (
    hot_cells,
    range_partition_by_cell,
    raster_to_vector,
    rasterize,
    tile_aggregate,
    tile_pyramid,
    tile_rollup,
)


@pytest.fixture(scope="module")
def feat(spark):
    rng = np.random.RandomState(17)
    n = 5000
    # skew: half the points in one tight cluster
    hotmask = rng.rand(n) < 0.5
    lat = np.where(hotmask, 48.1 + rng.rand(n) * 0.01, rng.uniform(-60, 60, n))
    lon = np.where(hotmask, 11.5 + rng.rand(n) * 0.01, rng.uniform(-170, 170, n))
    val = rng.uniform(900, 1100, n)
    pdf = pd.DataFrame(
        {
            "feature_id": [f"f{i}" for i in range(n)],
            "lat": lat,
            "lon": lon,
            "result_value": val,
            "cell_s2": C.s2_encode(lat, lon, 14),
        }
    )
    df = spark.createDataFrame(pdf)
    return df.cache(), pdf


def test_salted_agg_equals_plain_agg(spark, feat):
    df, pdf = feat
    plain = tile_aggregate(df).orderBy("cell_s2").toPandas()
    salted = tile_aggregate(df, hot_threshold=100, salt_buckets=8) \
        .orderBy("cell_s2").toPandas()
    assert len(plain) == len(salted)
    assert (plain["cell_s2"].to_numpy() == salted["cell_s2"].to_numpy()).all()
    for c in ("n_obs", "sum_val", "min_val", "max_val", "avg_val"):
        assert np.allclose(plain[c].to_numpy(), salted[c].to_numpy())
    # oracle via pandas
    exp = pdf.groupby("cell_s2")["result_value"].agg(["count", "sum", "min", "max"])
    got = plain.set_index("cell_s2")
    assert (got["n_obs"] == exp["count"]).all()
    assert np.allclose(got["sum_val"], exp["sum"])


def test_hot_cells_detected(spark, feat):
    df, pdf = feat
    hc = hot_cells(df, threshold=500).toPandas()
    exp = pdf.groupby("cell_s2").size()
    assert set(hc["cell_s2"]) == set(exp[exp > 500].index)
    assert len(hc) >= 1  # the synthetic cluster is hot


@pytest.mark.parametrize("salted", [False, True], ids=["plain", "salted"])
def test_pyramid_equals_aggregate_then_rollup(spark, feat, salted):
    """``tile_pyramid`` gives ``tile_rollup(tile_aggregate(...))``'s rows
    and schema in one aggregation, salted or not; a null value counts in
    no tile but keeps its cell."""
    df, _ = feat
    df = df.withColumn("result_value", F.when(
        F.col("feature_id").endswith("7"), F.lit(None)
    ).otherwise(F.col("result_value")))
    hot = sorted(r.cell_s2 for r in hot_cells(df, threshold=100).collect())
    assert hot
    got = tile_pyramid(df, 14, [10, 6], hot if salted else (), salt_buckets=8)
    want = tile_rollup(tile_aggregate(df), 14, [10, 6])
    assert got.schema == want.schema
    g = {(r["level"], r["cell"]): r for r in got.collect()}
    w = {(r["level"], r["cell"]): r for r in want.collect()}
    assert g.keys() == w.keys()
    for key, r in w.items():
        assert (g[key]["n_obs"], g[key]["min_val"], g[key]["max_val"]) == \
            (r["n_obs"], r["min_val"], r["max_val"]), key
        assert g[key]["sum_val"] == pytest.approx(r["sum_val"], rel=1e-9)
        assert g[key]["avg_val"] == pytest.approx(r["avg_val"], rel=1e-9)


def test_rollup_consistency(spark, feat):
    df, pdf = feat
    base = tile_aggregate(df)
    rolled = tile_rollup(base, 14, [10, 6]).toPandas()
    lv = set(rolled["level"])
    assert lv == {14, 10, 6}
    # total counts conserved at every level
    for level in (14, 10, 6):
        assert rolled[rolled.level == level]["n_obs"].sum() == len(pdf)
    # parent relationship: each level-10 cell is the bit-math parent
    l14 = rolled[rolled.level == 14]
    l10 = set(rolled[rolled.level == 10]["cell"])
    parents = set(C.s2_parent(l14["cell"].to_numpy(), 10))
    assert parents == l10


def test_raster_roundtrip(spark, feat):
    df, pdf = feat
    ras = rasterize(df, tile_level=8, pixel_level=10).cache()
    r = ras.toPandas()
    assert (r["npix"] == 16).all()
    assert (r["nnz"] >= 1).all()
    # vector->raster->vector recovers per-pixel means
    vec = raster_to_vector(ras, 8, 10).toPandas()
    exp = (
        pd.DataFrame(
            {
                "cell10": C.s2_parent(pdf["cell_s2"].to_numpy(), 10),
                "v": pdf["result_value"].to_numpy(),
            }
        )
        .groupby("cell10")["v"]
        .mean()
    )
    got = vec.set_index("cell")["value"]
    assert set(got.index) == set(exp.index)
    assert np.allclose(got.sort_index().to_numpy(), exp.sort_index().to_numpy())
    # pixel count conservation
    assert int(r["nnz"].sum()) == len(exp)


def test_range_partitioning_clusters_cells(spark, feat):
    df, _ = feat
    with_prefix = df.withColumn("cell_prefix", F.shiftright("cell_s2", 48))
    parted = range_partition_by_cell(with_prefix, 8)
    pdf = parted.select(
        F.spark_partition_id().alias("pid"), "cell_s2"
    ).toPandas()
    # ranges must be disjoint across partitions
    stats = pdf.groupby("pid")["cell_s2"].agg(["min", "max"]).sort_values("min")
    prev_max = None
    for _, row in stats.iterrows():
        if prev_max is not None:
            assert row["min"] >= prev_max
        prev_max = row["max"]


def test_hex_rollup_conserves_counts_and_contains_children(spark):
    from bufr2geojson_spark.functions.cells import hex_parent, with_cells
    from bufr2geojson_spark.operators.decode import decode_documents
    from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_rollup
    from bufr2geojson_spark.sources.synth import synth_documents

    import numpy as np

    docs = synth_documents(spark, 300, partitions=4)
    feats = with_cells(decode_documents(docs).filter("error is null"),
                       hex_res_=7)
    base = tile_aggregate(feats, cell_col="cell_h3")
    rolled = tile_rollup(base, 7, [5, 3], cell_col="cell_h3",
                         cell_kind="hex")
    per_level = {
        r.level: r.total
        for r in rolled.groupBy("level").agg(
            __import__("pyspark.sql.functions", fromlist=["sum"])
            .sum("n_obs").alias("total")).collect()
    }
    # observation counts conserved across every level
    assert per_level[7] == per_level[5] == per_level[3]
    # every level-7 cell's hex_parent at res 5 appears among the level-5 cells
    l7 = [r.cell for r in rolled.filter("level = 7").collect()]
    l5 = {r.cell for r in rolled.filter("level = 5").collect()}
    parents = hex_parent(np.array(l7, dtype=np.int64), 5)
    assert set(parents.tolist()) <= l5


def test_hex_rollup_levels_derived_direct_not_chained(spark):
    """Hex ancestry is not transitive (aperture-4 hexes don't nest), so each
    coarser level must come straight from the from_level tiles: rolling
    7→[5,3] must give the same level-3 tiles as rolling 7→[3] directly."""
    from bufr2geojson_spark.functions.cells import with_cells
    from bufr2geojson_spark.operators.decode import decode_documents
    from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_rollup
    from bufr2geojson_spark.sources.synth import synth_documents

    docs = synth_documents(spark, 300, partitions=4)
    feats = with_cells(decode_documents(docs).filter("error is null"),
                       hex_res_=7)
    base = tile_aggregate(feats, cell_col="cell_h3").persist()
    chained3 = {
        (r.cell, r.n_obs)
        for r in tile_rollup(base, 7, [5, 3], cell_col="cell_h3",
                             cell_kind="hex").filter("level = 3").collect()
    }
    direct3 = {
        (r.cell, r.n_obs)
        for r in tile_rollup(base, 7, [3], cell_col="cell_h3",
                             cell_kind="hex").filter("level = 3").collect()
    }
    base.unpersist()
    assert chained3 == direct3


def _direct_per_level(base, cell_col, levels, parent):
    """(level, cell) -> stats, each level grouped straight from the base
    tiles with its own groupBy (the yardstick for the one-shuffle rollup)."""
    out = {}
    for lvl in levels:
        rows = base.groupBy(parent(F.col(cell_col), lvl).alias("cell")).agg(
            F.sum("n_obs").alias("n_obs"), F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"), F.max("max_val").alias("max_val"),
        ).collect()
        out.update({(lvl, r["cell"]): r for r in rows})
    return out


@pytest.mark.parametrize("kind", ["s2", "hex"])
def test_rollup_matches_direct_per_level_groupby(spark, kind):
    """tile_rollup fans every base tile out to all target levels and groups
    once: its rows must equal a separate groupBy per level, and its plan
    (over an already-materialized base) must hold exactly one Exchange."""
    import re

    from bufr2geojson_spark.functions.cells import with_cells
    from bufr2geojson_spark.operators.decode import decode_documents
    from bufr2geojson_spark.sources.synth import synth_documents

    if kind == "s2":
        cell_col, base_level, levels = "cell_s2", 14, [10, 6]
        parent = C.s2_parent_col
    else:
        cell_col, base_level, levels = "cell_h3", 7, [5, 3]

        def parent(col, lvl):
            return C.hex_parent_udf(lvl)(col)

    docs = synth_documents(spark, 300, partitions=4)
    feats = with_cells(decode_documents(docs).filter("error is null"),
                       hex_res_=7)
    agg = tile_aggregate(feats, cell_col=cell_col)
    base = spark.createDataFrame(agg.collect(), agg.schema)
    rolled = tile_rollup(base, base_level, levels, cell_col=cell_col,
                         cell_kind=kind)
    # read before execution: the executed plan then prints only once
    plan = rolled._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    got = {(r["level"], r["cell"]): r for r in rolled.collect()}
    want = _direct_per_level(base, cell_col, levels, parent)
    want.update({(base_level, r[cell_col]): r for r in base.collect()})
    assert got.keys() == want.keys()
    for key, w in want.items():
        g = got[key]
        assert (g["n_obs"], g["min_val"], g["max_val"]) == \
            (w["n_obs"], w["min_val"], w["max_val"]), key
        assert g["sum_val"] == pytest.approx(w["sum_val"], rel=1e-9), key


class TestTilePercentiles:
    def test_exact_matches_numpy(self, spark):
        import numpy as np
        from bufr2geojson_spark.operators.tiles import tile_percentiles

        rows = [(i % 7, float((i * 37) % 101) - 50.0) for i in range(700)]
        df = spark.createDataFrame(rows, "cell int, v double")
        out = tile_percentiles(df, cell_col="cell", value_col="v",
                               percentiles=(0.5, 0.9), exact=True).collect()
        by_cell = {}
        for c, v in rows:
            by_cell.setdefault(c, []).append(v)
        for r in out:
            want50 = np.percentile(by_cell[r["cell"]], 50)
            want90 = np.percentile(by_cell[r["cell"]], 90)
            assert abs(r["p50"] - want50) < 1e-9
            assert abs(r["p90"] - want90) < 1e-9

    def test_sketch_rank_error_bounded(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_percentiles

        # one group, 10k values; accuracy=100 -> rank error <= 1% of n
        df = spark.range(10000).selectExpr(
            "0 AS cell", "CAST(pmod(id * 7919, 10000) AS DOUBLE) AS v")
        approx = tile_percentiles(df, cell_col="cell", value_col="v",
                                  percentiles=(0.5,), accuracy=100).collect()[0]
        # values are a permutation of 0..9999: true p50 rank = 5000
        assert abs(approx["p50"] - 5000.0) <= 100 + 1

    def test_sketch_is_partition_count_invariant_in_bounds(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_percentiles

        df = spark.range(5000).selectExpr(
            "pmod(id, 3) AS cell", "CAST(pmod(id * 31, 997) AS DOUBLE) AS v")
        a = tile_percentiles(df.repartition(2), cell_col="cell",
                             value_col="v", accuracy=2000)
        b = tile_percentiles(df.repartition(16), cell_col="cell",
                             value_col="v", accuracy=2000)
        fa = {r["cell"]: r for r in a.collect()}
        fb = {r["cell"]: r for r in b.collect()}
        for c in fa:
            # merged sketches keep the rank-error bound regardless of layout
            assert abs(fa[c]["p50"] - fb[c]["p50"]) <= 997 / 2000 * 2 + 1
            assert fa[c]["n_obs"] == fb[c]["n_obs"]


class TestTileMerge:
    def test_merge_equals_full_recompute(self, spark):
        """Both tile shapes: ``tile_aggregate`` output merges on the cell,
        ``tile_rollup`` output on (level, cell)."""
        from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_merge

        # 13 level-14 S2 cells 0.3° apart: distinct at levels 14 and 10,
        # several sharing a level-6 parent
        ks = np.arange(13)
        cells = C.s2_encode(48.0 + 0.3 * ks, 11.0 + 0.2 * ks, 14)
        rows = [(f"f{i}", (i * 7) % 13, int(cells[(i * 7) % 13]),
                 float((i * 31) % 97) - 40.0) for i in range(400)]
        df = spark.createDataFrame(
            rows, "feature_id string, k int, cell long, v double")
        a = df.filter("k < 7")           # standing history
        b = df.filter("k >= 7")          # fully new cells
        c = df.filter("v > 0")           # overlapping-cell delta
        base = df.exceptAll(c)

        def agg(d):
            return tile_aggregate(d, cell_col="cell", value_col="v")

        def rollup(d):
            return tile_rollup(agg(d), 14, [10, 6], cell_col="cell")

        stats = ("n_obs", "sum_val", "min_val", "max_val", "avg_val")
        for tiles in (agg, rollup):
            full = tiles(df)
            key = [col for col in full.columns if col not in stats]
            f = {tuple(r[k] for k in key): r for r in full.collect()}
            for hist, delta in [(a, b), (base, c)]:
                merged = tile_merge(tiles(hist), tiles(delta))
                m = {tuple(r[k] for k in key): r for r in merged.collect()}
                assert set(m) == set(f)
                for cell in f:
                    assert m[cell]["n_obs"] == f[cell]["n_obs"]
                    assert abs(m[cell]["sum_val"] - f[cell]["sum_val"]) < 1e-9
                    assert m[cell]["min_val"] == f[cell]["min_val"]
                    assert m[cell]["max_val"] == f[cell]["max_val"]
                    assert abs(m[cell]["avg_val"] - f[cell]["avg_val"]) < 1e-9
        assert {r["level"] for r in rollup(df).collect()} == {14, 10, 6}

    def test_merge_idempotent_on_empty_delta(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_merge

        df = spark.createDataFrame(
            [("f1", 1, 2.0), ("f2", 1, 4.0)],
            "feature_id string, cell int, v double")
        tiles = tile_aggregate(df, cell_col="cell", value_col="v")
        empty = tiles.filter("1 = 0")
        out = tile_merge(tiles, empty).collect()
        assert len(out) == 1 and out[0]["n_obs"] == 2 \
            and out[0]["avg_val"] == 3.0


class TestTileMergeAssociativity:
    def test_merge_is_associative_and_order_free(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_merge

        rows = [(f"f{i}", (i * 11) % 19, float((i * 29) % 83) - 40.0)
                for i in range(600)]
        df = spark.createDataFrame(rows, "feature_id string, cell int, v double")
        parts = [df.filter(f"pmod(crc32(feature_id), 3) = {i}")
                 for i in range(3)]
        aggs = [tile_aggregate(p, cell_col="cell", value_col="v")
                for p in parts]

        def canon(t):
            return sorted(
                (r["cell"], r["n_obs"],
                 round(r["sum_val"], 6), r["min_val"], r["max_val"])
                for r in t.collect())

        left = tile_merge(tile_merge(aggs[0], aggs[1]), aggs[2])
        right = tile_merge(aggs[0], tile_merge(aggs[1], aggs[2]))
        full = tile_aggregate(df, cell_col="cell", value_col="v")
        assert canon(left) == canon(right) == canon(full)


class TestIdwGrid:
    def _points(self, spark, n=250):
        rows = [
            (i,
             float((i * 37) % 140 - 70 + ((i * 91) % 10) / 10.0),
             float((i * 53) % 360 - 180 + ((i * 17) % 10) / 10.0),
             float((i * 7) % 1000 + ((i * 13) % 100) / 100.0))
            for i in range(n)
        ]
        return rows, spark.createDataFrame(
            rows, "pid int, lat double, lon double, val double")

    def _brute(self, rows, g, radius, power):
        import math

        KM = 111.19492664455873
        nlon = int(round(360.0 / g))
        acc = {}
        dl = radius / KM
        for _, lat, lon, val in rows:
            ci_lo = math.floor((lat - dl) / g)
            ci_hi = math.floor((lat + dl) / g)
            worst = min(abs(lat) + dl, 89.999)
            dlon = dl / math.cos(math.radians(worst))
            cj_lo = math.floor((lon + 180.0 - dlon) / g)
            cj_hi = min(math.floor((lon + 180.0 + dlon) / g),
                        cj_lo + nlon - 1)
            for gi in range(ci_lo, ci_hi + 1):
                glat = (gi + 0.5) * g
                if abs(glat) > 90.0:
                    continue
                for gj_raw in range(cj_lo, cj_hi + 1):
                    gj = gj_raw % nlon
                    glon = (gj + 0.5) * g - 180.0
                    d = 2 * 6371.0 * math.asin(math.sqrt(
                        math.sin(math.radians(glat - lat) / 2) ** 2
                        + math.cos(math.radians(lat))
                        * math.cos(math.radians(glat))
                        * math.sin(math.radians(glon - lon) / 2) ** 2))
                    d = math.floor(d * 100.0 + 0.5) / 100.0
                    if d > radius:
                        continue
                    w = max(math.floor(1e6 / max(d, 1.0) ** power + 0.5), 1)
                    v = math.floor(val * 100.0 + 0.5)
                    n, sw, swv = acc.get((gi, gj), (0, 0, 0))
                    acc[(gi, gj)] = (n + 1, sw + w, swv + w * v)
        return {
            k: (n, math.floor((swv / sw) / 100.0 * 1e4 + 0.5) / 1e4)
            for k, (n, sw, swv) in acc.items()
        }

    def test_matches_bruteforce(self, spark):
        from bufr2geojson_spark.operators.tiles import idw_grid

        rows, pts = self._points(spark)
        want = self._brute(rows, 2.0, 300.0, 2)
        got = {
            (r.gi, r.gj): (r.n_src, r.idw_value)
            for r in idw_grid(pts, grid_deg=2.0, radius_km=300.0).collect()
        }
        assert got == want and len(got) > 100

    def test_node_on_point_gets_plateau_weight(self, spark):
        from bufr2geojson_spark.operators.tiles import idw_grid

        # one point exactly on a node center (grid 2.0: node centers at
        # odd lats / odd lons): value dominates but stays finite
        pts = spark.createDataFrame(
            [(1, 1.0, 1.0, 500.0), (2, 1.4, 1.4, 100.0)],
            "pid int, lat double, lon double, val double")
        out = {(r.gi, r.gj): r.idw_value
               for r in idw_grid(pts, grid_deg=2.0, radius_km=100.0).collect()}
        v = out[(0, 90)]  # node (1.0, 1.0)
        assert 100.0 < v < 500.0 and abs(v - 300.0) > 1.0  # weighted, finite

    def test_deterministic_across_partitioning(self, spark):
        from bufr2geojson_spark.operators.tiles import idw_grid

        _, pts = self._points(spark)
        a = {(r.gi, r.gj, r.n_src, r.idw_value)
             for r in idw_grid(pts).collect()}
        b = {(r.gi, r.gj, r.n_src, r.idw_value)
             for r in idw_grid(pts.repartition(17)).collect()}
        assert a == b

    def test_high_power_never_nan(self, spark):
        """power=3 underflows floor(1e6/d^3) to 0 beyond ~126 km; the
        weight floor of 1 must keep far-source-only nodes finite (a zero
        weight sum produced NaN before the fix)."""
        import math

        from bufr2geojson_spark.operators.tiles import idw_grid

        rows, pts = self._points(spark)
        out = idw_grid(pts, grid_deg=2.0, radius_km=300.0, power=3).collect()
        assert len(out) > 100
        assert all(not math.isnan(r.idw_value) for r in out)
        want = self._brute(rows, 2.0, 300.0, 3)
        got = {(r.gi, r.gj): (r.n_src, r.idw_value) for r in out}
        assert got == want

    def test_plan_is_pure_jvm(self, spark):
        from bufr2geojson_spark.operators.tiles import idw_grid

        _, pts = self._points(spark, 8)
        plan = (idw_grid(pts)._jdf.queryExecution().executedPlan().toString())
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestTileTrend:
    def test_exact_linear_signal_recovers_slope(self, spark):
        from datetime import datetime, timedelta

        from bufr2geojson_spark.operators.tiles import tile_trend

        base = datetime(2024, 1, 1)
        rows = []
        for d in range(10):
            rows.append(("A", base + timedelta(days=d), 10.0 + 2.5 * d))
            rows.append(("B", base + timedelta(days=d), 50.0 - 1.25 * d))
        rows.append(("C", base, 7.0))  # degenerate: single day
        df = spark.createDataFrame(rows, "cell string, ts timestamp, value double")
        got = {r.cell: (r.n_obs, r.slope_per_day, r.intercept)
               for r in tile_trend(df, "cell").collect()}
        assert got["A"][1] == 2.5 and got["B"][1] == -1.25
        assert got["C"][1] is None and got["C"][2] is None
        # intercept is the value at ref_day 19700; day index of 2024-01-01
        # is 19723, so intercept_A = 10 - 2.5*19723... relative to ref:
        # x = day - 19700 = 23..32 -> intercept at x=0 is 10 - 2.5*23
        assert got["A"][2] == 10.0 - 2.5 * 23

    def test_matches_bruteforce_on_events(self, spark):
        import math

        from bufr2geojson_spark.operators.tiles import tile_trend

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        df = ev.select((F.col("user_id") % 10).alias("cell"), "ts", "value")
        rows = df.collect()
        acc = {}
        for r in rows:
            x = math.floor(r.ts.timestamp() / 86400) - 19700
            y = math.floor(r.value * 100.0 + 0.5)
            n, sx, sy, sxy, sxx = acc.get(r.cell, (0, 0, 0, 0, 0))
            acc[r.cell] = (n + 1, sx + x, sy + y, sxy + x * y, sxx + x * x)
        want = {}
        for c, (n, sx, sy, sxy, sxx) in acc.items():
            den = float(n) * float(sxx) - float(sx) * float(sx)
            if den == 0.0:
                want[c] = (n, None, None)
                continue
            slope = (float(n) * float(sxy) - float(sx) * float(sy)) / den
            inter = (float(sy) - slope * float(sx)) / float(n)
            want[c] = (n,
                       math.floor(slope / 100.0 * 1e6 + 0.5) / 1e6,
                       math.floor(inter / 100.0 * 1e6 + 0.5) / 1e6)
        got = {r.cell: (r.n_obs, r.slope_per_day, r.intercept)
               for r in tile_trend(df, "cell").collect()}
        assert got == want and len(got) == 10


class TestRasterSmooth:
    def test_matches_bruteforce_with_wrap(self, spark):
        import math

        from bufr2geojson_spark.operators.tiles import raster_smooth

        nlon = 8
        # sparse grid incl. wrap column 0 and 7
        cells = [(0, 0, 1.0), (0, 7, 2.0), (1, 0, 3.0), (2, 3, 10.0),
                 (0, 1, 4.0), (-1, 7, 6.0)]
        df = spark.createDataFrame(cells, "gi int, gj int, idw_value double")
        got = {(r.gi, r.gj): (r.n_nb, r.smoothed)
               for r in raster_smooth(df, nlon=nlon).collect()}
        vals = {(i, j): v for i, j, v in cells}
        want = {}
        for (i, j) in vals:
            acc = []
            for di in (-1, 0, 1):
                for dj in (-1, 0, 1):
                    nb = (i - di, (j - dj) % nlon)  # who scatters INTO (i,j)
                    if nb in vals:
                        acc.append(math.floor(vals[nb] * 1e4 + 0.5))
            want[(i, j)] = (len(acc),
                            math.floor(sum(acc) / len(acc) / 1e4 * 1e4 + 0.5)
                            / 1e4)
        assert got == want
        # wrap actually exercised: (0,0) must see (0,7) and (-1,7)
        assert want[(0, 0)][0] >= 4

    def test_uniform_field_is_fixed_point(self, spark):
        from bufr2geojson_spark.operators.tiles import raster_smooth

        df = spark.createDataFrame(
            [(i, j, 5.0) for i in range(3) for j in range(3)],
            "gi int, gj int, idw_value double")
        out = raster_smooth(df, nlon=360).collect()
        assert all(r.smoothed == 5.0 for r in out) and len(out) == 9


class TestTileHistogram:
    def test_matches_bruteforce_and_clamps(self, spark):
        import math

        from bufr2geojson_spark.operators.tiles import tile_histogram

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        df = ev.select("event_type", "value")
        rows = df.collect()
        want = {}
        for r in rows:
            b = min(max(math.floor((r.value - 0.0) / 10.0), 0), 9)
            want[(r.event_type, b)] = want.get((r.event_type, b), 0) + 1
        got = {
            (r.cell, r.bin): r.n
            for r in tile_histogram(df, "event_type", "value",
                                    lo=0.0, hi=100.0, n_bins=10).collect()
        }
        assert got == want
        # totals preserved (clamping drops nothing)
        assert sum(got.values()) == len(rows)

    def test_bin_edges(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_histogram

        d = spark.createDataFrame(
            [("A", -5.0), ("A", 0.0), ("A", 9.99), ("A", 10.0),
             ("A", 99.99), ("A", 100.0), ("A", 1e9)],
            "cell string, value double")
        out = {r.bin: (r.bin_lo, r.bin_hi, r.n)
               for r in tile_histogram(d, "cell", "value",
                                       lo=0.0, hi=100.0, n_bins=10).collect()}
        assert out[0] == (0.0, 10.0, 3)   # -5, 0, 9.99
        assert out[1] == (10.0, 20.0, 1)  # 10.0
        assert out[9] == (90.0, 100.0, 3)  # 99.99, 100, 1e9 clamped


class TestTileTrendOutliers:
    def test_injected_outlier_flagged(self, spark):
        from datetime import datetime, timedelta

        from bufr2geojson_spark.operators.tiles import tile_trend_outliers

        base = datetime(2024, 1, 1)
        rows = []
        for d in range(30):  # clean trend + small alternating wobble
            rows.append(("A", base + timedelta(days=d),
                         10.0 + 2.0 * d + (0.5 if d % 2 else -0.5)))
        rows.append(("A", base + timedelta(days=15), 500.0))  # outlier
        df = spark.createDataFrame(rows, "cell string, ts timestamp, value double")
        out = tile_trend_outliers(df, "cell", k_sigma=3.0).collect()
        assert len(out) == 1
        assert out[0].value == 500.0 and out[0].residual > 0

    def test_on_trend_extremes_not_flagged(self, spark):
        """A steep but clean trend's endpoints are extreme VALUES but on
        trend — a plain z-score flags them, the residual test must not."""
        from datetime import datetime, timedelta

        from bufr2geojson_spark.operators.tiles import tile_trend_outliers

        base = datetime(2024, 1, 1)
        rows = [("A", base + timedelta(days=d),
                 1000.0 * d + (1.0 if d % 2 else -1.0)) for d in range(20)]
        df = spark.createDataFrame(rows, "cell string, ts timestamp, value double")
        assert tile_trend_outliers(df, "cell", k_sigma=3.0).count() == 0

    def test_matches_bruteforce_on_events(self, spark):
        import math

        from bufr2geojson_spark.operators.tiles import tile_trend_outliers

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        df = ev.select((F.col("user_id") % 10).alias("cell"), "ts", "value")
        rows = [(r.cell, math.floor(r.ts.timestamp() / 86400) - 19700,
                 r.value, math.floor(r.value * 100.0 + 0.5)) for r in df.collect()]
        from collections import defaultdict
        acc = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
        for c, x, _, y in rows:
            a = acc[c]
            a[0] += 1; a[1] += x; a[2] += y; a[3] += x * y
            a[4] += x * x; a[5] += y * y
        want = set()
        k = 2.0
        for c, x, v, y in rows:
            n, sx, sy, sxy, sxx, syy = (float(t) for t in acc[c])
            den = n * sxx - sx * sx
            if den == 0.0:
                continue
            slope = (n * sxy - sx * sy) / den
            inter = (sy - slope * sx) / n
            sse = (syy - sy * sy / n) - slope * (sxy - sx * sy / n)
            sigma = math.sqrt(max(sse, 0.0) / n)
            if sigma > 0.0 and abs(y - (inter + slope * x)) > k * sigma:
                r = y - (inter + slope * x)
                want.add((c, x, v,
                          math.floor(r / 100.0 * 1e4 + 0.5) / 1e4,
                          math.floor(sigma / 100.0 * 1e4 + 0.5) / 1e4))
        got = {
            (r.cell, r.x_day, r.value, r.residual, r.sigma)
            for r in tile_trend_outliers(df, "cell", k_sigma=k).collect()
        }
        assert got == want and len(got) > 0


class TestCompactCells:
    def _brute(self, ids, from_level, min_level):
        from bufr2geojson_spark.functions.cells import MAX_LEVEL

        def parent(c, l):
            lsb = 1 << (2 * (MAX_LEVEL - l))
            return (c & (~(2 * lsb - 1) & ((1 << 63) - 1))) | lsb

        cur = set(ids)
        kept = {}
        for lvl in range(from_level, min_level, -1):
            from collections import Counter
            cnt = Counter(parent(c, lvl - 1) for c in cur)
            full = {p for p, n in cnt.items() if n == 4}
            for c in cur:
                if parent(c, lvl - 1) not in full:
                    kept[c] = lvl
            cur = full
        for c in cur:
            kept[c] = min_level
        return kept

    def _cells(self, from_level, n=400):
        from bufr2geojson_spark.functions.cells import MAX_LEVEL

        lsb = 1 << (2 * (MAX_LEVEL - from_level))
        # deterministic ints with repeats -> some complete sibling groups
        ks = {(i * 37 + i * i * 11) % 512 for i in range(n)}
        # force two fully-complete groups and one group of 3
        ks |= {600, 601, 602, 603, 604, 605, 606, 607, 700, 701, 702}
        return sorted((k * 2 * lsb) | lsb for k in ks)

    def test_matches_bruteforce(self, spark):
        from bufr2geojson_spark.operators.tiles import compact_cells

        ids = self._cells(12)
        want = self._brute(ids, 12, 9)
        df = spark.createDataFrame([(c,) for c in ids], "cell long")
        got = {r.cell: r.level
               for r in compact_cells(df, 12, 9).collect()}
        assert got == want
        assert 11 in set(want.values())  # some promotion happened
        # the group of 3 stayed at level 12
        from bufr2geojson_spark.functions.cells import MAX_LEVEL
        lsb = 1 << (2 * (MAX_LEVEL - 12))
        assert want[(700 * 2 * lsb) | lsb] == 12

    def test_coverage_preserved(self, spark):
        """Compacting never changes the covered leaf set: expanding every
        output cell back to from_level reproduces the input exactly."""
        from bufr2geojson_spark.functions.cells import MAX_LEVEL
        from bufr2geojson_spark.operators.tiles import compact_cells

        ids = self._cells(12)
        df = spark.createDataFrame([(c,) for c in ids], "cell long")
        out = compact_cells(df, 12, 9).collect()

        def children(c, lvl, to_lvl):
            if lvl == to_lvl:
                return [c]
            lsb = 1 << (2 * (MAX_LEVEL - lvl))
            clsb = lsb >> 2
            base = c - lsb  # strip the level marker
            return [x for i in range(4)
                    for x in children(base + (2 * i + 1) * clsb,
                                      lvl + 1, to_lvl)]

        leaves = sorted(x for r in out
                        for x in children(r.cell, r.level, 12))
        assert leaves == ids


class TestUncompactCells:
    def test_roundtrip_with_compact(self, spark):
        """uncompact(compact(S)) == S for any leaf set S."""
        from bufr2geojson_spark.operators.tiles import (
            compact_cells,
            uncompact_cells,
        )

        ids = TestCompactCells._cells(self, 12)
        df = spark.createDataFrame([(c,) for c in ids], "cell long")
        cover = compact_cells(df, 12, 9)
        leaves = sorted(
            r.cell for r in uncompact_cells(cover, 12).collect()
        )
        assert leaves == ids

    def test_identity_at_same_level(self, spark):
        from bufr2geojson_spark.operators.tiles import uncompact_cells

        ids = TestCompactCells._cells(self, 12)[:20]
        df = spark.createDataFrame([(c, 12) for c in ids],
                                   "cell long, level int")
        out = sorted(r.cell for r in uncompact_cells(df, 12).collect())
        assert out == sorted(ids)


    def test_finer_than_target_raises(self, spark):
        from bufr2geojson_spark.operators.tiles import uncompact_cells

        ids = TestCompactCells._cells(self, 12)[:4]
        df = spark.createDataFrame([(c, 13) for c in ids],
                                   "cell long, level int")
        import pytest as _pytest
        with _pytest.raises(Exception, match="finer than"):
            uncompact_cells(df, 12).collect()


class TestIdwMergeAndGradient:
    def test_merge_equals_full_recompute(self, spark):
        """idw(A) ++ idw(B) must be BIT-identical to idw(A ∪ B) for any
        split — the integer state makes the surface a continuous
        aggregate."""
        from bufr2geojson_spark.operators.tiles import idw_grid, idw_merge

        rows, pts = TestIdwGrid._points(self, spark)
        a = pts.filter(F.col("pid") % 2 == 0)
        b = pts.filter(F.col("pid") % 2 == 1)
        ga = idw_grid(a, keep_state=True)
        gb = idw_grid(b, keep_state=True)
        merged = {
            (r.gi, r.gj): (r.n_src, r.idw_value, r.sw_e6, r.swv_e8)
            for r in idw_merge(ga, gb).collect()
        }
        full = {
            (r.gi, r.gj): (r.n_src, r.idw_value, r.sw_e6, r.swv_e8)
            for r in idw_grid(pts, keep_state=True).collect()
        }
        assert merged == full and len(full) > 100

    def test_gradient_linear_field_recovered(self, spark):
        """A field linear in the node indices has a constant analytic
        gradient; the stencil must recover it (interior nodes only)."""
        import math

        from bufr2geojson_spark.operators.tiles import raster_gradient

        g = 2.0
        KM = 111.19492664455873
        # v = 3*gi + 7*gj (value units)
        cells = [(i, j, float(3 * i + 7 * j))
                 for i in range(10, 16) for j in range(40, 46)]
        df = spark.createDataFrame(cells, "gi int, gj int, idw_value double")
        out = raster_gradient(df, nlon=180, grid_deg=g).collect()
        # interior = 4x4 block
        assert len(out) == 16
        for r in out:
            glat = (r.gi + 0.5) * g
            want_dy = (2 * 3.0) / (2 * g * KM)
            want_dx = (2 * 7.0) / (2 * g * KM * math.cos(math.radians(glat)))
            assert abs(r.dzdy_per_km - math.floor(want_dy * 1e6 + 0.5) / 1e6) < 1e-9
            assert abs(r.dzdx_per_km - math.floor(want_dx * 1e6 + 0.5) / 1e6) < 1e-9
            assert r.grad_per_km > 0

    def test_gradient_incomplete_stencil_emits_nothing(self, spark):
        from bufr2geojson_spark.operators.tiles import raster_gradient

        # a plus-shape: only the center has all 4 neighbors
        cells = [(5, 50, 1.0), (4, 50, 2.0), (6, 50, 3.0),
                 (5, 49, 4.0), (5, 51, 5.0)]
        df = spark.createDataFrame(cells, "gi int, gj int, idw_value double")
        out = raster_gradient(df, nlon=180, grid_deg=2.0).collect()
        assert len(out) == 1 and (out[0].gi, out[0].gj) == (5, 50)

    def test_gradient_wraps_longitude(self, spark):
        from bufr2geojson_spark.operators.tiles import raster_gradient

        # stencil around gj=0 with neighbors at gj=179 (wrap) and gj=1
        cells = [(5, 0, 1.0), (4, 0, 2.0), (6, 0, 3.0),
                 (5, 179, 4.0), (5, 1, 5.0)]
        df = spark.createDataFrame(cells, "gi int, gj int, idw_value double")
        out = raster_gradient(df, nlon=180, grid_deg=2.0).collect()
        assert len(out) == 1 and (out[0].gi, out[0].gj) == (5, 0)


class TestTilePercentilesSalted:
    """Round-2 verdict #8: the percentile family must match the salted agg
    family at skew — two-phase sketch merge vs the plain path, bit-equal."""

    def test_salted_equals_plain_exact_on_hot_corpus(self, spark, feat):
        from pyspark.sql import functions as F

        from bufr2geojson_spark.operators.tiles import (
            tile_percentiles,
            tile_percentiles_salted,
        )

        df, _ = feat  # half the 5000 points in one tight (hot) cluster
        dp = 2
        scale = float(10 ** dp)
        quantized = df.withColumn(
            "result_value",
            F.floor(F.col("result_value") * scale + F.lit(0.5)) / scale,
        )
        plain = {
            r["cell_s2"]: r for r in tile_percentiles(
                quantized, percentiles=(0.5, 0.9), exact=True
            ).collect()
        }
        salted = {
            r["cell_s2"]: r for r in tile_percentiles_salted(
                df, percentiles=(0.5, 0.9), val_dp=dp
            ).collect()
        }
        assert set(plain) == set(salted) and len(plain) > 100
        for cell, p in plain.items():
            s = salted[cell]
            assert s["n_obs"] == p["n_obs"]
            # bit-equality: the sketch's only approximation is the shared
            # up-front quantization
            assert s["p50"] == p["p50"], cell
            assert s["p90"] == p["p90"], cell

    def test_partitioning_invariant(self, spark, feat):
        from bufr2geojson_spark.operators.tiles import tile_percentiles_salted

        df, _ = feat
        a = {r["cell_s2"]: (r["p50"], r["p90"]) for r in
             tile_percentiles_salted(df.repartition(2)).collect()}
        b = {r["cell_s2"]: (r["p50"], r["p90"]) for r in
             tile_percentiles_salted(df.repartition(16)).collect()}
        assert a == b

    def test_quantization_bounds_error(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_percentiles_salted

        # values 0.000..4.999 in 0.001 steps; val_dp=2 rounds to 0.01 bins:
        # percentile error is bounded by the quantization step alone
        df = spark.range(5000).selectExpr(
            "0 AS cell", "CAST(id AS DOUBLE) / 1000.0 AS v")
        r = tile_percentiles_salted(
            df, cell_col="cell", value_col="v",
            percentiles=(0.5,), val_dp=2,
        ).collect()[0]
        assert abs(r["p50"] - 2.4995) <= 0.005 + 1e-9


class TestTileExactMedian:
    """The median is the counting quantile at q=0.5 (ranks ⌈n/2⌉ and
    ⌊n/2⌋+1), checked against a brute-force numpy sort."""

    def test_matches_numpy_median(self, spark, feat):
        from bufr2geojson_spark.operators.tiles import tile_exact_quantile

        df, pdf = feat
        got = {r["cell_s2"]: (r["n_obs"], r["q50"]) for r in
               tile_exact_quantile(df, 0.5).collect()}
        exp = pdf.groupby("cell_s2")["result_value"].agg(["count", "median"])
        assert set(got) == set(exp.index)
        for cell, (n, med) in got.items():
            assert n == exp.loc[cell, "count"]
            assert med == pytest.approx(exp.loc[cell, "median"], abs=1e-9)

    def test_odd_even_ties_and_nulls(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_exact_quantile

        rows = [
            # odd n -> exact middle value
            ("a", 1.0), ("a", 5.0), ("a", 100.0),
            # even n -> mean of the two middle values
            ("b", 1.0), ("b", 2.0), ("b", 10.0), ("b", 11.0),
            # duplicates straddling the middle (histogram row covers both
            # ranks) and a null that must be ignored
            ("c", 3.0), ("c", 3.0), ("c", 3.0), ("c", 9.0), ("c", None),
            # single value
            ("d", -7.5),
        ]
        df = spark.createDataFrame(rows, "cell_s2 string, result_value double")
        got = {r["cell_s2"]: (r["n_obs"], r["q50"]) for r in
               tile_exact_quantile(df, 0.5).collect()}
        assert got == {"a": (3, 5.0), "b": (4, 6.0),
                       "c": (4, 3.0), "d": (1, -7.5)}

    def test_partitioning_invariant(self, spark, feat):
        from bufr2geojson_spark.operators.tiles import tile_exact_quantile

        df, _ = feat
        a = {r["cell_s2"]: r["q50"] for r in
             tile_exact_quantile(df.repartition(2), 0.5).collect()}
        b = {r["cell_s2"]: r["q50"] for r in
             tile_exact_quantile(df.repartition(16), 0.5).collect()}
        assert a == b


class TestTileExactQuantile:
    """Counting-formulation continuous quantile vs numpy's type-7."""

    def test_matches_numpy_quantile(self, spark, feat):
        from bufr2geojson_spark.operators.tiles import tile_exact_quantile

        df, pdf = feat
        for q, name in [(0.25, "q25"), (0.9, "q90")]:
            got = {r["cell_s2"]: (r["n_obs"], r[name]) for r in
                   tile_exact_quantile(df, q).collect()}
            exp = pdf.groupby("cell_s2")["result_value"].agg(
                ["count", lambda s, q=q: s.quantile(q)])
            exp.columns = ["count", "q"]
            assert set(got) == set(exp.index)
            for cell, (n, v) in got.items():
                assert n == exp.loc[cell, "count"]
                assert v == pytest.approx(exp.loc[cell, "q"], abs=1e-9)

    def test_extremes_and_duplicates(self, spark):
        from bufr2geojson_spark.operators.tiles import tile_exact_quantile

        rows = [("a", v) for v in [1.0, 2.0, 2.0, 2.0, 10.0]] + \
               [("b", 5.0)]
        df = spark.createDataFrame(rows, "cell_s2 string, result_value double")
        q0 = {r["cell_s2"]: r["q00"] for r in
              tile_exact_quantile(df, 0.0).collect()}
        q100 = {r["cell_s2"]: r["q100"] for r in
                tile_exact_quantile(df, 1.0).collect()}
        q50 = {r["cell_s2"]: r["q50"] for r in
               tile_exact_quantile(df, 0.5).collect()}
        assert q0 == {"a": 1.0, "b": 5.0}
        assert q100 == {"a": 10.0, "b": 5.0}
        assert q50 == {"a": 2.0, "b": 5.0}

    def test_partitioning_invariant(self, spark, feat):
        from bufr2geojson_spark.operators.tiles import tile_exact_quantile

        df, _ = feat
        a = {r["cell_s2"]: r["q75"] for r in
             tile_exact_quantile(df.repartition(2), 0.75).collect()}
        b = {r["cell_s2"]: r["q75"] for r in
             tile_exact_quantile(df.repartition(16), 0.75).collect()}
        assert a == b


class TestTileHll:
    """Mergeable distinct-count sketches: rollup invariance and accuracy."""

    def test_sparse_mode_exact_and_path_invariant(self, spark, feat):
        from bufr2geojson_spark.functions.cells import s2_parent_col
        from bufr2geojson_spark.operators.tiles import (
            hll_estimate, tile_hll_rollup, tile_hll_sketch,
        )
        from pyspark.sql import functions as F

        df, pdf = feat
        # few distinct keys per cell -> sketches stay sparse/exact
        df = df.withColumn("key", (F.crc32("feature_id") % 50).cast("long"))
        rolled = {
            r["cell_s2"]: r["n_distinct_est"]
            for r in hll_estimate(
                tile_hll_rollup(tile_hll_sketch(df, key_col="key"), 6)
            ).collect()
        }
        direct = {
            r["cell_s2"]: r["n_distinct_est"]
            for r in hll_estimate(
                tile_hll_sketch(
                    df.select(
                        s2_parent_col(F.col("cell_s2"), 6).alias("cell_s2"),
                        "key",
                    ),
                    key_col="key",
                )
            ).collect()
        }
        exact = {
            r["cell_s2"]: r["n"]
            for r in df.select(
                s2_parent_col(F.col("cell_s2"), 6).alias("cell_s2"), "key"
            ).groupBy("cell_s2").agg(
                F.countDistinct("key").alias("n")).collect()
        }
        assert rolled == direct
        assert {c: int(v) for c, v in rolled.items()} == exact

    def test_estimation_mode_bounded_error(self, spark, feat):
        from bufr2geojson_spark.functions.cells import s2_parent_col
        from bufr2geojson_spark.operators.tiles import (
            hll_estimate, tile_hll_rollup, tile_hll_sketch,
        )
        from pyspark.sql import functions as F

        df, _ = feat
        # lgk=4 (16 registers) with thousands of distinct feature ids per
        # coarse cell -> estimation mode; HIP order-dependence means rollup
        # and direct may differ slightly, but both must stay within the
        # (generous) 16-register error envelope of the exact count
        lvl = 2
        rolled = {
            r["cell_s2"]: r["n_distinct_est"]
            for r in hll_estimate(
                tile_hll_rollup(
                    tile_hll_sketch(df, key_col="feature_id", lgk=4), lvl
                )
            ).collect()
        }
        exact = {
            r["cell_s2"]: r["n"]
            for r in df.select(
                s2_parent_col(F.col("cell_s2"), lvl).alias("cell_s2"),
                "feature_id",
            ).groupBy("cell_s2").agg(
                F.countDistinct("feature_id").alias("n")).collect()
        }
        assert set(rolled) == set(exact)
        for c, n in exact.items():
            if n >= 100:
                assert abs(rolled[c] - n) / n < 0.6
        assert any(
            rolled[c] != exact[c] for c in exact if exact[c] >= 100
        )  # actually in estimation mode, not secretly exact

    def test_partitioning_invariant_in_sparse_mode(self, spark, feat):
        from bufr2geojson_spark.operators.tiles import (
            hll_estimate, tile_hll_rollup, tile_hll_sketch,
        )
        from pyspark.sql import functions as F

        df, _ = feat
        df = df.withColumn("key", (F.crc32("feature_id") % 50).cast("long"))
        outs = []
        for p in (2, 16):
            outs.append({
                r["cell_s2"]: r["n_distinct_est"]
                for r in hll_estimate(
                    tile_hll_rollup(
                        tile_hll_sketch(df.repartition(p), key_col="key"), 6
                    )
                ).collect()
            })
        assert outs[0] == outs[1]


class TestKdeHeatmap:
    def test_matches_bruteforce(self, spark):
        import math

        from bufr2geojson_spark.operators.tiles import kde_heatmap

        pts = [(50.3, 10.2), (50.9, 10.8), (52.1, 9.7), (-33.5, 151.2)]
        df = spark.createDataFrame(pts, "lat double, lon double")
        g, sigma, cut = 2.0, 150.0, 3.0
        got = {(r["gi"], r["gj"]): (r["n_src"], r["density"])
               for r in kde_heatmap(df, grid_deg=g, sigma_km=sigma,
                                    cutoff_sigmas=cut).collect()}

        def hav(lat1, lon1, lat2, lon2):
            p1, p2 = math.radians(lat1), math.radians(lat2)
            a = (math.sin(math.radians(lat2 - lat1) / 2) ** 2
                 + math.cos(p1) * math.cos(p2)
                 * math.sin(math.radians(lon2 - lon1) / 2) ** 2)
            return 2 * 6371.0 * math.asin(math.sqrt(a))

        want = {}
        nlon = int(round(360 / g))
        for la, lo in pts:
            for gi in range(int((la - cut * sigma / 111.2) // g) - 2,
                            int((la + cut * sigma / 111.2) // g) + 3):
                for gj in range(nlon):
                    glat, glon = (gi + 0.5) * g, (gj + 0.5) * g - 180.0
                    if abs(glat) > 90:
                        continue
                    d = math.floor(hav(la, lo, glat, glon) * 100 + 0.5) / 100
                    if d > cut * sigma:
                        continue
                    w = math.floor(1e6 * math.exp(-d * d / (2 * sigma * sigma))
                                   + 0.5)
                    if w <= 0:
                        continue
                    n, s = want.get((gi, gj), (0, 0))
                    want[(gi, gj)] = (n + 1, s + w)
        want = {k: (n, math.floor(s / 1e6 * 1e4 + 0.5) / 1e4)
                for k, (n, s) in want.items()}
        assert got == want

    def test_mass_concentrates_at_point(self, spark):
        from bufr2geojson_spark.operators.tiles import kde_heatmap

        df = spark.createDataFrame([(45.0, 45.0)], "lat double, lon double")
        rows = kde_heatmap(df, grid_deg=2.0, sigma_km=100.0).collect()
        best = max(rows, key=lambda r: r["density"])
        # the nearest node to (45,45) is gi=22,gj=112 (center 45,45)
        assert (best["gi"], best["gj"]) == (22, 112)

    def test_determinism_and_jvm_plan(self, spark):
        from bufr2geojson_spark.operators.tiles import kde_heatmap

        df = spark.range(200).selectExpr(
            "CAST((id * 37) % 140 - 70 AS DOUBLE) AS lat",
            "CAST((id * 53) % 360 - 180 AS DOUBLE) AS lon")
        a = sorted(map(tuple, kde_heatmap(df.repartition(1)).collect()))
        b = sorted(map(tuple, kde_heatmap(df.repartition(16)).collect()))
        assert a == b and len(a) > 0
        plan = (kde_heatmap(df)._jdf.queryExecution()
                .executedPlan().toString())
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestKdeMerge:
    def test_merge_equals_full_recompute(self, spark):
        from bufr2geojson_spark.operators.tiles import kde_heatmap, kde_merge

        pts = spark.range(300).selectExpr(
            "id AS pid",
            "CAST((id * 37) % 140 - 70 + ((id * 91) % 10) / 10.0 AS DOUBLE) AS lat",
            "CAST((id * 53) % 360 - 180 + ((id * 17) % 10) / 10.0 AS DOUBLE) AS lon")
        a = pts.filter("pid % 3 = 0")
        b = pts.filter("pid % 3 <> 0")
        merged = kde_merge(
            kde_heatmap(a, keep_state=True), kde_heatmap(b, keep_state=True))
        full = kde_heatmap(pts, keep_state=True)
        cols = ["gi", "gj", "glat", "glon", "n_src", "density"]
        got = sorted(map(tuple, merged.select(*cols).collect()))
        want = sorted(map(tuple, full.select(*cols).collect()))
        assert got == want    # bit-identical, incl. carried coordinates

    def test_merge_is_associative(self, spark):
        from bufr2geojson_spark.operators.tiles import kde_heatmap, kde_merge

        pts = spark.range(120).selectExpr(
            "id AS pid",
            "CAST((id * 41) % 120 - 60 AS DOUBLE) AS lat",
            "CAST((id * 59) % 360 - 180 AS DOUBLE) AS lon")
        parts = [kde_heatmap(pts.filter(f"pid % 3 = {m}"), keep_state=True)
                 for m in range(3)]
        left = kde_merge(kde_merge(parts[0], parts[1]), parts[2])
        right = kde_merge(parts[0], kde_merge(parts[1], parts[2]))
        cols = ["gi", "gj", "n_src", "density", "sw_e6"]
        assert sorted(map(tuple, left.select(*cols).collect())) == \
            sorted(map(tuple, right.select(*cols).collect()))


class TestContourSegments:
    @staticmethod
    def _brute(nodes, thr, g=2.0, dp=6):
        import math

        def rd(x):
            return math.floor(x * 10**dp + 0.5) / 10**dp

        from bufr2geojson_spark.operators.tiles import MS_SEGMENTS
        table = {}
        for c, s, e1, e2 in MS_SEGMENTS:
            table.setdefault(c, []).append((s, e1, e2))
        vals = {(gi, gj): v for gi, gj, v in nodes}
        out = []
        for (gi, gj), v_sw in vals.items():
            try:
                v_se = vals[(gi, gj + 1)]
                v_nw = vals[(gi + 1, gj)]
                v_ne = vals[(gi + 1, gj + 1)]
            except KeyError:
                continue
            case = ((v_sw >= thr) + 2 * (v_se >= thr) + 4 * (v_ne >= thr)
                    + 8 * (v_nw >= thr))
            if case in (0, 15):
                continue
            la_i, la_i1 = (gi + 0.5) * g, (gi + 1.5) * g
            lo_j, lo_j1 = (gj + 0.5) * g - 180, (gj + 1.5) * g - 180
            def pt(e):
                if e == 0:
                    return (lo_j + (thr - v_sw) / (v_se - v_sw) * g, la_i)
                if e == 1:
                    return (lo_j1, la_i + (thr - v_se) / (v_ne - v_se) * g)
                if e == 2:
                    return (lo_j + (thr - v_nw) / (v_ne - v_nw) * g, la_i1)
                return (lo_j, la_i + (thr - v_sw) / (v_nw - v_sw) * g)
            for s, e1, e2 in table[case]:
                (x1, y1), (x2, y2) = pt(e1), pt(e2)
                out.append((gi, gj, case, s, rd(x1), rd(y1), rd(x2), rd(y2)))
        return sorted(out)

    def _bump_grid(self):
        # radial bump: value = 8 / (1 + chebyshev distance from center)
        nodes = []
        for gi in range(20, 31):
            for gj in range(100, 111):
                d = max(abs(gi - 25), abs(gj - 105))
                nodes.append((gi, gj, 8.0 / (1 + d)))
        # punch a hole so missing-corner squares are exercised
        return [(a, b, v) for a, b, v in nodes if (a, b) != (23, 103)]

    def test_matches_bruteforce(self, spark):
        from bufr2geojson_spark.operators.tiles import contour_segments

        nodes = self._bump_grid()
        df = spark.createDataFrame(nodes, "gi int, gj int, density double")
        got = sorted(map(tuple, contour_segments(df, 2.5).collect()))
        want = self._brute(nodes, 2.5)
        assert got == want and len(want) > 4

    def test_saddle_emits_two_segments(self, spark):
        from bufr2geojson_spark.operators.tiles import contour_segments

        # SW and NE high, SE and NW low -> case 5, two segments
        df = spark.createDataFrame(
            [(0, 0, 9.0), (0, 1, 1.0), (1, 0, 1.0), (1, 1, 9.0)],
            "gi int, gj int, density double")
        rows = contour_segments(df, 5.0).collect()
        assert len(rows) == 2
        assert {r["ms_case"] for r in rows} == {5}
        assert {r["seg_idx"] for r in rows} == {0, 1}

    def test_closed_loop_and_no_python_plan(self, spark):
        from bufr2geojson_spark.operators.tiles import contour_segments

        nodes = self._bump_grid()
        df = spark.createDataFrame(nodes, "gi int, gj int, density double")
        q = contour_segments(df, 2.5)
        rows = q.collect()
        # a contour of a bump is a closed loop: every endpoint appears an
        # even number of times across segments
        from collections import Counter
        c = Counter()
        for r in rows:
            c[(r["x1"], r["y1"])] += 1
            c[(r["x2"], r["y2"])] += 1
        odd = [k for k, v in c.items() if v % 2 == 1]
        # endpoints adjacent to the punched hole may dangle; all others close
        assert len(odd) <= 4
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


class TestSaltedPercentilesNulls:
    def test_null_values_excluded_from_n_obs(self, spark):
        from bufr2geojson_spark.operators.tiles import (
            tile_percentiles,
            tile_percentiles_salted,
        )

        df = spark.range(100).selectExpr(
            "0 AS cell",
            "CASE WHEN id % 10 = 0 THEN NULL "
            "ELSE CAST(id AS DOUBLE) END AS v")
        s = tile_percentiles_salted(
            df, cell_col="cell", value_col="v").collect()[0]
        e = tile_percentiles(
            df, cell_col="cell", value_col="v", exact=True).collect()[0]
        assert s["n_obs"] == 90 == e["n_obs"]
