"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (§2.1 decode stages, §2.2 engine operators, §2.3 relational
surface, plus the training-data ops). ``oracle_sql()`` carries the DuckDB
equivalent for every SQL-expressible query; engine-native operators whose
semantics DuckDB cannot express (span decode, S2/H3 cell encode) are
rows-only checks by design.

Oracle-parity rules used throughout:
* all hashes are md5-derived (identical in Spark and DuckDB);
* synthetic geo coordinates are derived from integer keys with exact
  integer/IEEE arithmetic (no trig) so PIP comparisons are bit-exact;
* trig-based results (haversine) and floating aggregates are rounded
  (2-6 dp) on BOTH sides before hashing;
* every computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bufr2geojson_spark.functions.cells import with_cells  # noqa: E402
from bufr2geojson_spark.operators import ann as A  # noqa: E402
from bufr2geojson_spark.operators import textops as T  # noqa: E402
from bufr2geojson_spark.operators.decode import decode_documents  # noqa: E402
from bufr2geojson_spark.operators.media import (  # noqa: E402
    decode_media,
    frame_sample,
    media_table,
)
from bufr2geojson_spark.operators.spatial import (  # noqa: E402
    KM_PER_DEG,
    assign_region,
    boundary_distance,
    dbscan,
    knn_join,
    pip_join,
)
from bufr2geojson_spark.operators.tiles import (  # noqa: E402
    rasterize,
    tile_aggregate,
    tile_rollup,
)
from bufr2geojson_spark.sources.synth import (  # noqa: E402
    golden_documents,
    synth_documents,
    synth_region_polygons,
    synth_stations,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# deterministic synthetic geo-points from customer keys — EXACT integer +
# IEEE arithmetic, reproduced verbatim in the oracle SQL
def _geo_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lat = ((k * 37) % 140 - 70 + ((k * 91) % 10) / 10.0).cast("double")
    lon = ((k * 53) % 360 - 180 + ((k * 17) % 10) / 10.0).cast("double")
    return c.select(
        k.alias("pid"), lat.alias("lat"), lon.alias("lon"),
        F.col("c_acctbal").alias("val"),
    )


_GEO_PTS_SQL = """
    SELECT c_custkey AS pid,
           ((c_custkey * 37) % 140 - 70 + ((c_custkey * 91) % 10) / 10.0) AS lat,
           ((c_custkey * 53) % 360 - 180 + ((c_custkey * 17) % 10) / 10.0) AS lon,
           c_acctbal AS val
    FROM customer
"""

# station dimension shared between Spark literals and oracle VALUES
_N_GEO_STATIONS = 24


def _geo_station_rows() -> list[tuple[str, float, float]]:
    from bufr2geojson_spark.sources.synth import _station_arrays

    a = _station_arrays(_N_GEO_STATIONS, seed=7)
    return [
        (str(a["station_id"][i]), float(a["lat"][i]), float(a["lon"][i]))
        for i in range(_N_GEO_STATIONS)
    ]


def _stations_values_sql() -> str:
    rows = ", ".join(
        f"('{sid}', {lat!r}, {lon!r})" for sid, lat, lon in _geo_station_rows()
    )
    return f"(VALUES {rows}) AS st(station_id, s_lat, s_lon)"


def _polygon_edges() -> list[tuple[str, float, float, float, float, int]]:
    """Region polygon edges (region_id, x1, y1, x2, y2, anti) from the synth
    shapes — module-level, no Spark needed."""
    edges = []
    shapes = _polygon_shapes()
    for rid, ring, anti in shapes:
        for i in range(len(ring) - 1):
            (x1, y1), (x2, y2) = ring[i], ring[i + 1]
            edges.append((rid, float(x1), float(y1), float(x2), float(y2), anti))
    return edges


def _polygon_shapes() -> list[tuple[str, list, int]]:
    return [
        ("R1", [(-25, -40), (60, -40), (60, 35), (-25, 35), (-25, -40)], 0),
        ("R2", [(60, 0), (100, 0), (100, 25), (120, 25), (120, 0), (178, 0),
                (178, 80), (60, 80), (60, 0)], 0),
        ("R3", [(-90, -60), (-30, -60), (-30, 12), (-90, 12), (-90, -60)], 0),
        ("R4", [(-170, 12), (-50, 12), (-50, 85), (-170, 85), (-170, 12)], 0),
        ("R5", [(110, -60), (240, -60), (240, 0), (110, 0), (110, -60)], 1),
        ("R6", [(-25, 35), (60, 35), (60, 85), (-25, 85), (-25, 35)], 0),
    ]


def _edges_values_sql() -> str:
    rows = ", ".join(
        f"('{rid}', {x1!r}, {y1!r}, {x2!r}, {y2!r}, {anti})"
        for rid, x1, y1, x2, y2, anti in _polygon_edges()
    )
    return f"(VALUES {rows}) AS e(region_id, x1, y1, x2, y2, is_anti)"


_SYNTH_CACHE: dict = {}


def _synth_engine_inputs(spark: SparkSession, n_docs: int = 240):
    # persist + memoize: several engine queries branch over the same corpus
    # (hot-cell detection + salted agg + rollup) and the driver collects
    # each query separately — one cached corpus per size is shared across
    # all of them instead of each call pinning its own copy for the session.
    # Keyed on applicationId, not id(spark): a stopped session's id() can be
    # reused by a new session, which would hand out DataFrames bound to a
    # dead SparkContext.
    key = (spark.sparkContext.applicationId, n_docs)
    if key in _SYNTH_CACHE:
        return _SYNTH_CACHE[key]
    # every 10th doc is a multi-subset bulletin (R3): decode explodes it
    # into one report per subset, so the feature count exceeds n_docs
    docs = golden_documents(spark).unionByName(
        synth_documents(spark, n_docs, n_stations=48, partitions=4,
                        multi_subset_every=10)
    ).persist()
    stations = synth_stations(spark, 48)
    polygons = synth_region_polygons(spark)
    _SYNTH_CACHE[key] = (docs, stations, polygons)
    return _SYNTH_CACHE[key]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full engine chain — decode the interleaved corpus,
    tile-encode, PIP + kNN join, roll tiles up — at smoke scale, anchored by
    the sf0.001 customer-derived geo points joined against the tile layer."""
    sf_dir = "/root/testdata/sf0.001"
    docs, stations, polygons = _synth_engine_inputs(spark, 120)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    feats = assign_region(feats, polygons)
    # persisted: the summary agg, hot-cell detection, salted agg, and rollup
    # all branch from the joined feature table
    feats = knn_join(feats, stations, k=1, grid_deg=5.0).persist()
    tiles = tile_rollup(
        tile_aggregate(feats, hot_threshold=50), 14, [10, 6]
    )
    pts = _geo_points(spark, sf_dir)
    summary = (
        feats.groupBy("region_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.countDistinct("nearest_station_id").alias("n_stations"),
            F.round(F.avg("result_value"), 4).alias("avg_value"),
        )
    )
    anchor = pts.agg(F.count(F.lit(1)).alias("n_points")).crossJoin(
        tiles.agg(F.count(F.lit(1)).alias("n_tiles"))
    )
    return summary.crossJoin(F.broadcast(anchor)).orderBy("region_id")


# ---------------------------------------------------------------------------
# §2.3 relational surface (oracle-checked)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_PRICING = """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_SQL_TOP_REVENUE = """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
"""


def q_region_revenue(spark, sf_dir):
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name")
    )


_SQL_REGION_REVENUE = """
    SELECT r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name ORDER BY r_name
"""


def q_latest_event_per_user(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id", "event_type",
                F.round("value", 4).alias("value"))
        .orderBy("user_id")
    )


_SQL_LATEST_EVENT = """
    SELECT user_id, event_id, event_type, round(value, 4) AS value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
"""


def q_signup_without_error(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    signed = e.filter("event_type = 'signup'").select("user_id").distinct()
    errored = e.filter("event_type = 'error'").select("user_id").distinct()
    return signed.exceptAll(errored).orderBy("user_id")


_SQL_SIGNUP_WO_ERROR = """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    ORDER BY user_id
"""


def q_customers_with_orders_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    has = c.join(o.select("o_custkey").distinct(),
                 c.c_custkey == F.col("o_custkey"), "left_semi")
    return (
        has.join(F.broadcast(n), has.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.avg("c_acctbal"), 4).alias("avg_bal"))
        .orderBy("n_name")
    )


_SQL_CUST_WITH_ORDERS = """
    SELECT n_name, count(*) AS n_customers, round(avg(c_acctbal), 4) AS avg_bal
    FROM customer
    SEMI JOIN orders ON c_custkey = o_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
"""


def q_parts_never_ordered(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.join(li.select("l_partkey").distinct(),
               p.p_partkey == F.col("l_partkey"), "left_anti")
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    )


_SQL_PARTS_NEVER = """
    SELECT p_partkey, p_brand FROM part
    ANTI JOIN lineitem ON p_partkey = l_partkey
    ORDER BY p_partkey
"""


def q_scalar_function_gallery(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    t = F.col("p_type")
    return p.select(
        "p_partkey",
        F.md5(F.col("p_name")).alias("name_md5"),
        F.lower(F.regexp_replace(F.trim(t), " ", "_")).alias("type_snake"),
        F.concat_ws("-", F.col("p_brand"), F.col("p_size").cast("string"))
        .alias("brand_size"),
        F.round(F.col("p_retailprice") / 100.0, 4).alias("price_h"),
    ).orderBy("p_partkey")


_SQL_SCALAR_GALLERY = """
    SELECT p_partkey,
           md5(p_name) AS name_md5,
           lower(replace(trim(p_type), ' ', '_')) AS type_snake,
           concat(p_brand, '-', CAST(p_size AS VARCHAR)) AS brand_size,
           round(p_retailprice / 100.0, 4) AS price_h
    FROM part ORDER BY p_partkey
"""


def q_orders_rollup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate"))
        .rollup("order_year", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total"))
        .orderBy("order_year", "o_orderpriority")
    )


_SQL_ORDERS_ROLLUP = """
    SELECT year(o_orderdate) AS order_year, o_orderpriority,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (order_year, o_orderpriority)
    ORDER BY order_year, o_orderpriority
"""


def q_orders_cube(spark, sf_dir):
    """CUBE over (year, priority): all four grouping-set combinations in one
    pass (partial aggregates expand map-side; no re-scan per set)."""
    from bufr2geojson_spark.operators.textops import round_dp

    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate"))
        .cube("order_year", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             round_dp(F.avg("o_totalprice"), 4).alias("avg_price"))
        .orderBy("order_year", "o_orderpriority")
    )


_SQL_ORDERS_CUBE = """
    SELECT year(o_orderdate) AS order_year, o_orderpriority,
           count(*) AS n_orders,
           floor(avg(o_totalprice) * 1e4 + 0.5) / 1e4 AS avg_price
    FROM orders
    GROUP BY CUBE (order_year, o_orderpriority)
    ORDER BY order_year, o_orderpriority
"""


def q_event_type_pivot(spark, sf_dir):
    """Pivot: per-user event counts spread across event-type columns (the
    wide-feature matrix a training pipeline feeds to a model)."""
    e = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    cols = [F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    return out.select("user_id", *cols).orderBy("user_id")


_SQL_EVENT_PIVOT = """
    SELECT user_id,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'error') AS n_error,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup') AS n_signup,
           count(*) FILTER (event_type = 'view') AS n_view
    FROM events GROUP BY user_id ORDER BY user_id
"""


def q_customer_balance_deciles(spark, sf_dir):
    """Rank-window gallery: ntile deciles + percent_rank + cumulative
    distribution of customer balances within each market segment."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.asc("c_acctbal"), F.asc("c_custkey")
    )
    from bufr2geojson_spark.operators.textops import round_dp

    return c.select(
        "c_custkey", "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.ntile(10).over(w).alias("decile"),
        round_dp(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_dp(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("c_custkey")


_SQL_BALANCE_DECILES = """
    SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal,
           ntile(10) OVER w AS decile,
           floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pct_rank,
           floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal ASC, c_custkey ASC)
    ORDER BY c_custkey
"""


def q_events_profile(spark, sf_dir):
    """One-pass data-quality profile of the events table (every column's
    null/distinct/min/max/mean from a single aggregation)."""
    from bufr2geojson_spark.operators.profile import profile_table
    from bufr2geojson_spark.operators.textops import round_dp

    e = _t(spark, sf_dir, "events")
    out = profile_table(e)
    return out.select(
        "col_name", "n_rows", "n_null", "n_distinct", "min_str", "max_str",
        round_dp(F.col("mean"), 6).alias("mean"),
    ).orderBy("col_name")


def _sql_events_profile():
    cols = {
        "event_id": ("num", None), "ts": ("str", None),
        "user_id": ("num", None), "event_type": ("str", None),
        "value": ("num", None), "props": ("str", None),
    }
    legs = []
    for c, (kind, _) in cols.items():
        mean = (f"floor(avg({c}) * 1e6 + 0.5) / 1e6" if kind == "num"
                else "NULL::DOUBLE")
        legs.append(f"""
        SELECT '{c}' AS col_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_null,
               count(DISTINCT {c}) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_str,
               CAST(max({c}) AS VARCHAR) AS max_str,
               {mean} AS mean
        FROM events""")
    return " UNION ALL ".join(legs) + " ORDER BY col_name"


def q_geo_tile_outliers(spark, sf_dir):
    """Per-tile z-score outliers over the derived geo points (explicit
    moment arithmetic — sum/sumsq — written identically on both sides so
    the filter boundary and outputs agree bit-for-bit)."""
    from bufr2geojson_spark.operators.textops import round_dp

    pts = _geo_points(spark, sf_dir).select(
        "pid",
        (F.floor((F.col("lat") + 90.0) / 20.0) * 100
         + F.floor((F.col("lon") + 180.0) / 20.0)).alias("tile"),
        F.col("val"),
    )
    stats = (
        pts.groupBy("tile")
        .agg(F.count("val").alias("n"),
             round_dp(F.sum("val"), 6).alias("s"),
             round_dp(F.sum(F.col("val") * F.col("val")), 6).alias("ss"))
        .filter(F.col("n") >= 5)
    )
    mu = F.col("s") / F.col("n")
    # greatest(.., 0): the independently-rounded s/ss can make the moment
    # residual slightly negative on near-constant tiles; Spark's sqrt would
    # quietly yield NaN while DuckDB ABORTS on sqrt(<0) — clamp both sides
    var = F.greatest(
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1),
        F.lit(0.0),
    )
    enriched = stats.select(
        "tile", "n", mu.alias("mu"), F.sqrt(var).alias("sd")
    ).filter(F.col("sd") > 0)
    z = (F.col("val") - F.col("mu")) / F.col("sd")
    return (
        pts.join(F.broadcast(enriched), "tile")
        .withColumn("z", round_dp(z, 4))
        .filter(F.abs(F.col("z")) >= 2.0)
        .select("pid", "tile", F.round("val", 2).alias("val"), "z")
        .orderBy("pid", "tile")
    )


_SQL_GEO_TILE_OUTLIERS = f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    t AS (SELECT pid,
                 CAST(floor((lat + 90.0) / 20.0) * 100
                 + floor((lon + 180.0) / 20.0) AS BIGINT) AS tile, val
          FROM pts),
    stats AS (
        SELECT tile, count(val) AS n,
               floor(sum(val) * 1e6 + 0.5) / 1e6 AS s,
               floor(sum(val * val) * 1e6 + 0.5) / 1e6 AS ss
        FROM t GROUP BY tile HAVING count(val) >= 5
    ),
    enriched AS (
        SELECT tile, n, s / n AS mu,
               sqrt(greatest((ss - s * s / n) / (n - 1), 0)) AS sd
        FROM stats WHERE greatest((ss - s * s / n) / (n - 1), 0) > 0
    )
    SELECT pid, t.tile, round(val, 2) AS val,
           floor((val - mu) / sd * 1e4 + 0.5) / 1e4 AS z
    FROM t JOIN enriched ON t.tile = enriched.tile
    WHERE abs(floor((val - mu) / sd * 1e4 + 0.5) / 1e4) >= 2.0
    ORDER BY pid, t.tile
"""


def q_event_hourly_windows(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .orderBy("hour", "event_type")
    )


_SQL_EVENT_HOURLY = """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


def q_distinct_customers_per_segment(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_mktsegment")
        .agg(F.countDistinct("c_nationkey").alias("n_nations"),
             F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_SQL_DISTINCT_SEGMENT = """
    SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
           count(*) AS n_customers
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# geo operators over derived points (oracle-checked: N3/N4/N5/N7 semantics)
# ---------------------------------------------------------------------------


def _region_polys(spark: SparkSession):
    """The test region polygons as a DataFrame (shared by every polygon
    query so the ring/bbox convention lives in one place)."""
    import pandas as pd

    from bufr2geojson_spark.schemas import REGION_POLYGON_SCHEMA

    shapes = []
    for rid, ring, anti in _polygon_shapes():
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        shapes.append(
            {
                "region_id": rid,
                "region_name": rid,
                "ring": [{"lon": float(x), "lat": float(y)} for x, y in ring],
                "bbox": {
                    "minx": float(min(xs)), "miny": float(min(ys)),
                    "maxx": float(max(xs)), "maxy": float(max(ys)),
                },
            }
        )
    return spark.createDataFrame(pd.DataFrame(shapes), REGION_POLYGON_SCHEMA)


def q_geo_knn(spark, sf_dir):
    import pandas as pd

    pts = _geo_points(spark, sf_dir)
    st = pd.DataFrame(
        _geo_station_rows(), columns=["station_id", "lat", "lon"]
    )
    st["tsi"] = st["station_id"]
    st["elevation_m"] = 0.0
    st["wmo_region"] = 0
    stations = spark.createDataFrame(st)
    out = knn_join(pts, stations, k=1, grid_deg=30.0)
    return out.select(
        "pid",
        F.col("nearest_station_id").alias("station_id"),
        F.round("nearest_station_km", 2).alias("dist_km"),
    ).orderBy("pid")


def _sql_geo_knn():
    return f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    scored AS (
        SELECT p.pid, st.station_id,
               2 * 6371.0 * asin(sqrt(
                   pow(sin(radians(st.s_lat - p.lat) / 2), 2)
                   + cos(radians(p.lat)) * cos(radians(st.s_lat))
                     * pow(sin(radians(st.s_lon - p.lon) / 2), 2)
               )) AS d,
               row_number() OVER (
                   PARTITION BY p.pid ORDER BY
                   2 * 6371.0 * asin(sqrt(
                       pow(sin(radians(st.s_lat - p.lat) / 2), 2)
                       + cos(radians(p.lat)) * cos(radians(st.s_lat))
                         * pow(sin(radians(st.s_lon - p.lon) / 2), 2)
                   )) ASC, st.station_id ASC) AS rn
        FROM pts p CROSS JOIN {_stations_values_sql()}
    )
    SELECT pid, station_id, round(d, 2) AS dist_km
    FROM scored WHERE rn = 1 ORDER BY pid
    """


def q_geo_knn3(spark, sf_dir):
    """k=3 ring-expansion kNN — exercises the full top-k array output."""
    import pandas as pd

    pts = _geo_points(spark, sf_dir)
    st = pd.DataFrame(
        _geo_station_rows(), columns=["station_id", "lat", "lon"]
    )
    st["tsi"] = st["station_id"]
    st["elevation_m"] = 0.0
    st["wmo_region"] = 0
    stations = spark.createDataFrame(st)
    out = knn_join(pts, stations, k=3, grid_deg=30.0)
    return out.select(
        "pid", F.explode("knn").alias("nn")
    ).select(
        "pid",
        F.col("nn.station_id").alias("station_id"),
        F.round("nn.dist_km", 2).alias("dist_km"),
        F.col("nn.rank").alias("rank"),
    ).orderBy("pid", "rank")


def _sql_geo_knn3():
    return f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    scored AS (
        SELECT p.pid, st.station_id,
               2 * 6371.0 * asin(sqrt(
                   pow(sin(radians(st.s_lat - p.lat) / 2), 2)
                   + cos(radians(p.lat)) * cos(radians(st.s_lat))
                     * pow(sin(radians(st.s_lon - p.lon) / 2), 2)
               )) AS d,
               row_number() OVER (
                   PARTITION BY p.pid ORDER BY
                   2 * 6371.0 * asin(sqrt(
                       pow(sin(radians(st.s_lat - p.lat) / 2), 2)
                       + cos(radians(p.lat)) * cos(radians(st.s_lat))
                         * pow(sin(radians(st.s_lon - p.lon) / 2), 2)
                   )) ASC, st.station_id ASC) AS rn
        FROM pts p CROSS JOIN {_stations_values_sql()}
    )
    SELECT pid, station_id, round(d, 2) AS dist_km, rn AS rank
    FROM scored WHERE rn <= 3 ORDER BY pid, rank
    """


def q_geo_pip(spark, sf_dir):
    pts = _geo_points(spark, sf_dir)
    polys = _region_polys(spark)
    return (
        pip_join(pts, polys, how="inner")
        .select("pid", "region_id")
        .orderBy("pid", "region_id")
    )


def _sql_geo_pip():
    return f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    crossings AS (
        SELECT p.pid, e.region_id, count(*) AS n_cross
        FROM pts p
        JOIN {_edges_values_sql()}
          ON ((e.y1 > p.lat) <> (e.y2 > p.lat))
         AND ((CASE WHEN e.is_anti = 1 AND p.lon < 0 THEN p.lon + 360
                    ELSE p.lon END)
              < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1)
        GROUP BY p.pid, e.region_id
    )
    SELECT pid, region_id FROM crossings
    WHERE n_cross % 2 = 1
    ORDER BY pid, region_id
    """


def q_geo_pip_distributed(spark, sf_dir):
    """PIP as a distributed equi-join (no broadcast, no UDF) — same rows as
    geo_pip, same DuckDB edge oracle; the polygon-side-too-big-to-broadcast
    plan shape."""
    from bufr2geojson_spark.operators.spatial import pip_join_distributed

    pts = _geo_points(spark, sf_dir).select("pid", "lat", "lon")
    polys = _region_polys(spark)
    return (
        pip_join_distributed(pts, polys, grid_deg=10.0)
        .select("pid", "region_id")
        .orderBy("pid", "region_id")
    )


def q_geo_bearing(spark, sf_dir):
    """Initial great-circle bearing from each point to every station within
    800 km — the navigation scalar over the range-join pairs (same
    cell-explode join as geo_range_join + pure-Column trig)."""
    import pandas as pd

    from bufr2geojson_spark.operators.spatial import (
        bearing_col,
        distance_join,
    )

    pts = _geo_points(spark, sf_dir).select("pid", "lat", "lon")
    st = pd.DataFrame(
        _geo_station_rows(), columns=["station_id", "s_lat", "s_lon"]
    )
    stations = spark.createDataFrame(st)
    out = distance_join(
        pts, stations, radius_km=800.0, grid_deg=10.0,
        st_cols=("station_id", "s_lat", "s_lon"),
    )
    # distance_join keeps only the id of the station side — join the
    # station coords back (broadcast dim) for the bearing
    out = out.join(F.broadcast(stations), "station_id")
    b = bearing_col(F.col("lat"), F.col("lon"), F.col("s_lat"),
                    F.col("s_lon"))
    return out.select(
        "pid", "station_id", "dist_km",
        (F.floor(b * 100.0 + F.lit(0.5)) / 100.0).alias("bearing_deg"),
    ).orderBy("pid", "station_id")


def _sql_geo_bearing():
    hav = """round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(st.s_lat - p.lat) / 2), 2)
               + cos(radians(p.lat)) * cos(radians(st.s_lat))
                 * pow(sin(radians(st.s_lon - p.lon) / 2), 2)
           )), 2)"""
    return f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    pairs AS (
        SELECT p.pid, st.station_id, {hav} AS dist_km,
               p.lat, p.lon, st.s_lat, st.s_lon
        FROM pts p CROSS JOIN {_stations_values_sql()}
        WHERE {hav} <= 800.0
    )
    SELECT pid, station_id, dist_km,
           floor(((degrees(atan2(
               sin(radians(s_lon - lon)) * cos(radians(s_lat)),
               cos(radians(lat)) * sin(radians(s_lat))
               - sin(radians(lat)) * cos(radians(s_lat))
                 * cos(radians(s_lon - lon))
           )) + 360.0) % 360.0) * 100.0 + 0.5) / 100.0 AS bearing_deg
    FROM pairs ORDER BY pid, station_id
    """


def q_geo_dbscan(spark, sf_dir):
    """Distributed DBSCAN over the deterministic geo points: eps-graph via
    the cell-explode distance join, cores by degree count, clusters by
    connected components (large-star/small-star contraction), borders
    attached to the min neighboring core's cluster."""
    pts = _geo_points(spark, sf_dir).select("pid", "lat", "lon")
    return dbscan(
        pts, eps_km=400.0, min_pts=4, grid_deg=10.0
    ).orderBy("pid")


_SQL_GEO_DBSCAN = f"""
    WITH RECURSIVE pts AS ({_GEO_PTS_SQL}),
    pairs AS (
        SELECT a.pid AS a, b.pid AS b
        FROM pts a JOIN pts b ON a.pid <> b.pid
        AND round(2 * 6371.0 * asin(sqrt(
                pow(sin(radians(b.lat - a.lat) / 2), 2)
                + cos(radians(a.lat)) * cos(radians(b.lat))
                  * pow(sin(radians(b.lon - a.lon) / 2), 2)
            )), 2) <= 400.0
    ),
    deg AS (SELECT a, count(*) AS n FROM pairs GROUP BY a),
    core AS (SELECT a FROM deg WHERE n + 1 >= 4),
    ce AS (
        SELECT p.a, p.b FROM pairs p
        JOIN core c1 ON p.a = c1.a JOIN core c2 ON p.b = c2.a
    ),
    reach(id, r) AS (
        SELECT a, a FROM ce
        UNION
        SELECT e.b, reach.r FROM reach JOIN ce e ON e.a = reach.id
    ),
    comp AS (SELECT id, min(r) AS cid FROM reach GROUP BY id),
    core_lab AS (
        SELECT c.a AS id, coalesce(m.cid, c.a) AS cluster_id
        FROM core c LEFT JOIN comp m ON m.id = c.a
    ),
    border_lab AS (
        SELECT p.a AS id, min(cl.cluster_id) AS cluster_id
        FROM pairs p
        JOIN core_lab cl ON p.b = cl.id
        LEFT JOIN core co ON co.a = p.a
        WHERE co.a IS NULL
        GROUP BY p.a
    ),
    lab AS (
        SELECT id, cluster_id, 'core' AS role FROM core_lab
        UNION ALL
        SELECT id, cluster_id, 'border' AS role FROM border_lab
    )
    SELECT p.pid, l.cluster_id, coalesce(l.role, 'noise') AS role
    FROM pts p LEFT JOIN lab l ON l.id = p.pid
    ORDER BY p.pid
"""


def q_geo_boundary_distance(spark, sf_dir):
    """Distance to the nearest region-boundary segment within 500 km —
    big-big shape (edges exploded to grid cells, equi-join, pure-codegen
    local-frame segment distance, min per point)."""
    pts = _geo_points(spark, sf_dir).select("pid", "lat", "lon")
    edges = spark.createDataFrame(
        [(r, x1, y1, x2, y2) for r, x1, y1, x2, y2, _ in _polygon_edges()],
        "region_id string, x1 double, y1 double, x2 double, y2 double",
    )
    return (
        boundary_distance(pts, edges, max_km=500.0, grid_deg=10.0)
        .select("pid", "boundary_km")
        .orderBy("pid")
    )


def _sql_geo_boundary_distance():
    rows = ", ".join(
        f"({x1!r}, {y1!r}, {x2!r}, {y2!r})"
        for _, x1, y1, x2, y2, _ in _polygon_edges()
    )
    return f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    edges(x1, y1, x2, y2) AS (VALUES {rows}),
    fr AS (
        SELECT p.pid, p.lat, e.y1, e.y2,
               cos(radians(p.lat)) AS cosr,
               ((e.x1 - p.lon + 540.0) % 360.0) - 180.0 AS dlon1,
               ((e.x2 - e.x1 + 540.0) % 360.0) - 180.0 AS ddlon
        FROM pts p CROSS JOIN edges e
    ),
    ab AS (
        SELECT pid,
               dlon1 * cosr * {KM_PER_DEG!r} AS ax,
               (y1 - lat) * {KM_PER_DEG!r} AS ay,
               (dlon1 + ddlon) * cosr * {KM_PER_DEG!r} AS bx,
               (y2 - lat) * {KM_PER_DEG!r} AS by
        FROM fr
    ),
    v AS (SELECT pid, ax, ay, bx - ax AS vx, by - ay AS vy FROM ab),
    l AS (SELECT pid, ax, ay, vx, vy, vx * vx + vy * vy AS l2 FROM v),
    tt AS (
        SELECT pid, ax, ay, vx, vy,
               CASE WHEN l2 > 0
                    THEN least(greatest((-(ax * vx + ay * vy)) / l2, 0.0),
                               1.0)
                    ELSE 0.0 END AS t
        FROM l
    ),
    dd AS (SELECT pid, ax + t * vx AS dx, ay + t * vy AS dy FROM tt),
    d3 AS (
        SELECT pid,
               floor(sqrt(dx * dx + dy * dy) * 100.0 + 0.5) / 100.0 AS bd
        FROM dd
    )
    SELECT pid, min(bd) AS boundary_km
    FROM d3 WHERE bd <= 500.0
    GROUP BY pid ORDER BY pid
    """


def q_geo_compact_cells(spark, sf_dir):
    """Cell-cover compaction: complete sibling groups promoted to parents
    recursively (level 12 -> 9) over a deterministic cell set derived from
    customer keys — pure JVM bit math."""
    from bufr2geojson_spark.functions.cells import MAX_LEVEL
    from bufr2geojson_spark.operators.tiles import compact_cells

    lsb = 1 << (2 * (MAX_LEVEL - 12))
    c = _t(spark, sf_dir, "customer")
    cells = c.select(
        (((F.col("c_custkey") * 37) % 2048) * (2 * lsb) + lsb).alias("cell")
    ).distinct()
    return compact_cells(cells, 12, 9).orderBy("level", "cell")


def _sql_geo_compact_cells():
    from bufr2geojson_spark.functions.cells import MAX_LEVEL

    lsb12 = 1 << (2 * (MAX_LEVEL - 12))

    def consts(lvl):
        lsb = 1 << (2 * (MAX_LEVEL - lvl))
        mask = ~(2 * lsb - 1) & ((1 << 63) - 1)
        return lsb, mask

    lsb11, mask11 = consts(11)
    lsb10, mask10 = consts(10)
    lsb9, mask9 = consts(9)
    return f"""
    WITH c12 AS (
        SELECT DISTINCT ((c_custkey * 37) % 2048) * {2 * lsb12} + {lsb12}
            AS cell
        FROM customer
    ),
    g11 AS (
        SELECT (cell & {mask11}) | {lsb11} AS parent, count(*) AS nc
        FROM c12 GROUP BY 1
    ),
    f11 AS (SELECT parent FROM g11 WHERE nc = 4),
    k12 AS (
        SELECT cell, 12 AS level FROM c12
        WHERE (cell & {mask11}) | {lsb11} NOT IN (SELECT parent FROM f11)
    ),
    c11 AS (SELECT parent AS cell FROM f11),
    g10 AS (
        SELECT (cell & {mask10}) | {lsb10} AS parent, count(*) AS nc
        FROM c11 GROUP BY 1
    ),
    f10 AS (SELECT parent FROM g10 WHERE nc = 4),
    k11 AS (
        SELECT cell, 11 AS level FROM c11
        WHERE (cell & {mask10}) | {lsb10} NOT IN (SELECT parent FROM f10)
    ),
    c10 AS (SELECT parent AS cell FROM f10),
    g9 AS (
        SELECT (cell & {mask9}) | {lsb9} AS parent, count(*) AS nc
        FROM c10 GROUP BY 1
    ),
    f9 AS (SELECT parent FROM g9 WHERE nc = 4),
    k10 AS (
        SELECT cell, 10 AS level FROM c10
        WHERE (cell & {mask9}) | {lsb9} NOT IN (SELECT parent FROM f9)
    ),
    k9 AS (SELECT parent AS cell, 9 AS level FROM f9)
    SELECT cell, level FROM k9
    UNION ALL SELECT cell, level FROM k10
    UNION ALL SELECT cell, level FROM k11
    UNION ALL SELECT cell, level FROM k12
    ORDER BY level, cell
    """


def q_geo_uncompact_cells(spark, sf_dir):
    """Round trip: uncompact(compact(S)) must reproduce the original leaf
    set S exactly — the oracle is simply the identity query over S."""
    from bufr2geojson_spark.functions.cells import MAX_LEVEL
    from bufr2geojson_spark.operators.tiles import (
        compact_cells,
        uncompact_cells,
    )

    lsb = 1 << (2 * (MAX_LEVEL - 12))
    c = _t(spark, sf_dir, "customer")
    cells = c.select(
        (((F.col("c_custkey") * 37) % 2048) * (2 * lsb) + lsb).alias("cell")
    ).distinct()
    return uncompact_cells(compact_cells(cells, 12, 9), 12).orderBy("cell")


def _sql_geo_uncompact_cells():
    from bufr2geojson_spark.functions.cells import MAX_LEVEL

    lsb12 = 1 << (2 * (MAX_LEVEL - 12))
    return f"""
    SELECT DISTINCT ((c_custkey * 37) % 2048) * {2 * lsb12} + {lsb12} AS cell
    FROM customer ORDER BY cell
    """


def q_weighted_sample(spark, sf_dir):
    """Quality-weighted resampling: keep each document with probability
    equal to its quality score (deterministic hash threshold, no rand)."""
    d = _t(spark, sf_dir, "documents")
    scored = T.quality_score(d).select("doc_id", "quality")
    return (
        T.weighted_sample(scored, "quality")
        .orderBy("doc_id")
    )


def _sql_weighted_sample():
    h = "('0x' || substr(md5('wsample:' || doc_id), 1, 8))::BIGINT"
    return f"""
    WITH q AS ({_SQL_QUALITY})
    SELECT doc_id, quality FROM q
    WHERE {h} % 1000000
          < floor(least(greatest(quality, 0.0), 1.0) * 1e6 + 0.5)
    ORDER BY doc_id
    """


def q_geo_idw_grid(spark, sf_dir):
    """IDW surface analysis: scattered point values interpolated onto a
    2-degree grid (explode-to-reachable-nodes + fixed-point weighted agg,
    pure codegen)."""
    from bufr2geojson_spark.operators.tiles import idw_grid

    pts = _geo_points(spark, sf_dir)
    return (
        idw_grid(pts, value_col="val", grid_deg=2.0, radius_km=300.0)
        .orderBy("gi", "gj")
    )


_SQL_GEO_IDW = f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    cov AS (
        SELECT pid, lat, lon, val,
               floor((lat - {300.0 / KM_PER_DEG!r}) / 2.0)::INT AS ci_lo,
               floor((lat + {300.0 / KM_PER_DEG!r}) / 2.0)::INT AS ci_hi,
               floor((lon + 180.0
                      - {300.0 / KM_PER_DEG!r}
                        / cos(radians(least(abs(lat)
                                            + {300.0 / KM_PER_DEG!r},
                                            89.999)))) / 2.0)::INT AS cj_lo,
               least(
                   floor((lon + 180.0
                          + {300.0 / KM_PER_DEG!r}
                            / cos(radians(least(abs(lat)
                                                + {300.0 / KM_PER_DEG!r},
                                                89.999)))) / 2.0)::INT,
                   floor((lon + 180.0
                          - {300.0 / KM_PER_DEG!r}
                            / cos(radians(least(abs(lat)
                                                + {300.0 / KM_PER_DEG!r},
                                                89.999)))) / 2.0)::INT + 179
               ) AS cj_hi
        FROM pts
    ),
    exi AS (
        SELECT pid, lat, lon, val, cj_lo, cj_hi,
               unnest(generate_series(ci_lo, ci_hi)) AS gi
        FROM cov
    ),
    exj AS (
        SELECT pid, lat, lon, val, gi,
               ((unnest(generate_series(cj_lo, cj_hi)) % 180) + 180) % 180
                   AS gj
        FROM exi
    ),
    scored AS (
        SELECT gi, gj,
               floor(2 * 6371.0 * asin(sqrt(
                   pow(sin(radians((gi + 0.5) * 2.0 - lat) / 2), 2)
                   + cos(radians(lat)) * cos(radians((gi + 0.5) * 2.0))
                     * pow(sin(radians((gj + 0.5) * 2.0 - 180.0 - lon) / 2),
                           2)
               )) * 100.0 + 0.5) / 100.0 AS d,
               val
        FROM exj
        WHERE abs((gi + 0.5) * 2.0) <= 90.0
    ),
    wts AS (
        SELECT gi, gj,
               greatest(floor(1e6 / pow(greatest(d, 1.0), 2.0) + 0.5),
                        1)::BIGINT AS w,
               floor(val * 100.0 + 0.5)::BIGINT AS v
        FROM scored WHERE d <= 300.0
    )
    SELECT gi, gj,
           (gi + 0.5) * 2.0 AS glat,
           (gj + 0.5) * 2.0 - 180.0 AS glon,
           count(*) AS n_src,
           floor((sum(w * v) * 1.0 / sum(w)) / 100.0 * 1e4 + 0.5) / 1e4
               AS idw_value
    FROM wts GROUP BY gi, gj ORDER BY gi, gj
"""


def q_event_tile_trend(spark, sf_dir):
    """Per-cell least-squares trend of event values over time (exact
    integer moments, closed-form slope)."""
    from bufr2geojson_spark.operators.tiles import tile_trend

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 25).alias("cell"), "ts", "value"
    )
    return tile_trend(ev, "cell").orderBy("cell")


_SQL_EVENT_TILE_TREND = """
    WITH m AS (
        SELECT user_id % 25 AS cell,
               (floor(epoch(ts) / 86400) - 19700)::BIGINT AS x,
               floor(value * 100.0 + 0.5)::BIGINT AS y
        FROM events
    ),
    agg AS (
        SELECT cell, count(*) AS n_obs,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
        FROM m GROUP BY cell
    ),
    s AS (
        SELECT cell, n_obs,
               CAST(n_obs AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
               (CAST(n_obs AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS num,
               CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
        FROM agg
    )
    SELECT cell, n_obs,
           CASE WHEN den <> 0.0
                THEN floor((num / den) / 100.0 * 1e6 + 0.5) / 1e6
                END AS slope_per_day,
           CASE WHEN den <> 0.0
                THEN floor(((syd - (num / den) * sxd) / CAST(n_obs AS DOUBLE))
                           / 100.0 * 1e6 + 0.5) / 1e6
                END AS intercept
    FROM s ORDER BY cell
"""


def q_event_trend_outliers(spark, sf_dir):
    """Off-trend anomalies per cell: observations deviating more than
    2 residual sigmas from their cell's least-squares line (exact integer
    moments; a plain z-score would flag on-trend extremes)."""
    from bufr2geojson_spark.operators.tiles import tile_trend_outliers

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 25).alias("cell"), "ts", "value"
    )
    return tile_trend_outliers(ev, "cell", k_sigma=2.0).orderBy(
        "cell", "x_day", "value"
    )


_SQL_EVENT_TREND_OUTLIERS = """
    WITH m AS (
        SELECT user_id % 25 AS cell, value,
               (floor(epoch(ts) / 86400) - 19700)::BIGINT AS x,
               floor(value * 100.0 + 0.5)::BIGINT AS y
        FROM events
    ),
    agg AS (
        SELECT cell, count(*) AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
               sum(y * y)::BIGINT AS syy
        FROM m GROUP BY cell
    ),
    s1 AS (
        SELECT cell,
               CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
               CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
               CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        FROM agg
    ),
    s2 AS (
        SELECT cell, nd, sxd, syd, sxyd, syyd,
               nd * sxxd - sxd * sxd AS den,
               (nd * sxyd - sxd * syd) AS num
        FROM s1
    ),
    s3 AS (
        SELECT cell, nd, sxd, syd, sxyd, syyd, den,
               num / den AS slope
        FROM s2 WHERE den <> 0.0
    ),
    stats AS (
        SELECT cell, slope,
               (syd - slope * sxd) / nd AS inter,
               sqrt(greatest((syyd - syd * syd / nd)
                             - slope * (sxyd - sxd * syd / nd),
                             0.0) / nd) AS sigma
        FROM s3
    )
    SELECT m.cell, m.x AS x_day, m.value,
           floor((CAST(m.y AS DOUBLE) - (st.inter + st.slope
                  * CAST(m.x AS DOUBLE))) / 100.0 * 1e4 + 0.5) / 1e4
               AS residual,
           floor(st.sigma / 100.0 * 1e4 + 0.5) / 1e4 AS sigma
    FROM m JOIN stats st ON st.cell = m.cell
    WHERE st.sigma > 0.0
      AND abs(CAST(m.y AS DOUBLE)
              - (st.inter + st.slope * CAST(m.x AS DOUBLE)))
          > 2.0 * st.sigma
    ORDER BY m.cell, x_day, m.value
"""


def q_geo_idw_merge(spark, sf_dir):
    """Continuous-aggregate property of the IDW surface: the corpus split
    in two by pid parity, each half gridded with mergeable state, then
    folded with idw_merge — the oracle is the ONE-SHOT full-corpus SQL,
    so the check proves merge == full recompute bit-for-bit."""
    from bufr2geojson_spark.operators.tiles import idw_grid, idw_merge

    pts = _geo_points(spark, sf_dir)
    a = pts.filter(F.col("pid") % 2 == 0)
    b = pts.filter(F.col("pid") % 2 == 1)
    ga = idw_grid(a, value_col="val", grid_deg=2.0, radius_km=300.0,
                  keep_state=True)
    gb = idw_grid(b, value_col="val", grid_deg=2.0, radius_km=300.0,
                  keep_state=True)
    return (
        idw_merge(ga, gb)
        .select("gi", "gj", "glat", "glon", "n_src", "idw_value")
        .orderBy("gi", "gj")
    )


def q_geo_raster_gradient(spark, sf_dir):
    """Central-difference gradient field of the IDW surface (value/km,
    complete 4-neighbor stencils only)."""
    from bufr2geojson_spark.operators.tiles import idw_grid, raster_gradient

    pts = _geo_points(spark, sf_dir)
    grid = idw_grid(pts, value_col="val", grid_deg=2.0, radius_km=300.0)
    return raster_gradient(grid, nlon=180, grid_deg=2.0).orderBy("gi", "gj")


def _sql_geo_raster_gradient():
    span = 2.0 * 2.0 * KM_PER_DEG
    return f"""
    WITH idw AS ({_SQL_GEO_IDW}),
    q AS (
        SELECT gi, gj, floor(idw_value * 1e4 + 0.5)::BIGINT AS v FROM idw
    ),
    raw AS (
        SELECT c.gi, c.gj,
               (CAST(e.v - w.v AS DOUBLE) / 1e4)
                   / ({span!r} * cos(radians((c.gi + 0.5) * 2.0))) AS dzdx,
               (CAST(n.v - s.v AS DOUBLE) / 1e4) / {span!r} AS dzdy
        FROM q c
        JOIN q n ON n.gi = c.gi + 1 AND n.gj = c.gj
        JOIN q s ON s.gi = c.gi - 1 AND s.gj = c.gj
        JOIN q e ON e.gi = c.gi AND e.gj = (c.gj + 1) % 180
        JOIN q w ON w.gi = c.gi AND w.gj = ((c.gj - 1) % 180 + 180) % 180
    )
    SELECT gi, gj,
           floor(dzdx * 1e6 + 0.5) / 1e6 AS dzdx_per_km,
           floor(dzdy * 1e6 + 0.5) / 1e6 AS dzdy_per_km,
           floor(sqrt(dzdx * dzdx + dzdy * dzdy) * 1e6 + 0.5) / 1e6
               AS grad_per_km
    FROM raw ORDER BY gi, gj
    """


def q_geo_idw_smooth(spark, sf_dir):
    """3x3 box smoothing over the IDW raster (fixed-point neighborhood
    mean with longitude wrap, output restricted to existing nodes)."""
    from bufr2geojson_spark.operators.tiles import idw_grid, raster_smooth

    pts = _geo_points(spark, sf_dir)
    grid = idw_grid(pts, value_col="val", grid_deg=2.0, radius_km=300.0)
    return raster_smooth(grid, nlon=180).orderBy("gi", "gj")


def _sql_geo_idw_smooth():
    return f"""
    WITH idw AS ({_SQL_GEO_IDW}),
    ex AS (
        SELECT i.gi + d1.di AS gi,
               (((i.gj + d2.dj) % 180) + 180) % 180 AS gj,
               floor(i.idw_value * 1e4 + 0.5)::BIGINT AS v
        FROM idw i
        CROSS JOIN (VALUES (-1), (0), (1)) AS d1(di)
        CROSS JOIN (VALUES (-1), (0), (1)) AS d2(dj)
    ),
    sm AS (
        SELECT gi, gj, count(*) AS n_nb, sum(v)::BIGINT AS sv
        FROM ex GROUP BY gi, gj
    )
    SELECT s.gi, s.gj, s.n_nb,
           floor((s.sv * 1.0 / s.n_nb) / 1e4 * 1e4 + 0.5) / 1e4 AS smoothed
    FROM sm s
    WHERE EXISTS (SELECT 1 FROM idw i WHERE i.gi = s.gi AND i.gj = s.gj)
    ORDER BY s.gi, s.gj
    """


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 7 != 0) scanned
    for 8-gram overlap with the benchmark slice (doc_id % 7 == 0)."""
    d = _t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 7 != 0)
    bench = d.filter(F.col("doc_id") % 7 == 0)
    return T.decontaminate(train, bench, k=8).orderBy("doc_id")


_SQL_DECONTAM = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 7),
                   i -> array_to_string(ws[i:i+7], ' '))) AS gram
        FROM w
    ),
    bench AS (
        SELECT DISTINCT gram FROM grams WHERE doc_id % 7 = 0
    ),
    hits AS (
        SELECT g.doc_id, count(*) AS n_contaminated
        FROM grams g JOIN bench USING (gram)
        WHERE g.doc_id % 7 <> 0
        GROUP BY g.doc_id
    ),
    base AS (
        SELECT doc_id,
               greatest(len(string_split(text, ' ')) - 7, 0)::BIGINT
                   AS n_grams
        FROM documents WHERE doc_id % 7 <> 0
    )
    SELECT b.doc_id, b.n_grams,
           coalesce(h.n_contaminated, 0)::BIGINT AS n_contaminated,
           CASE WHEN b.n_grams > 0
                THEN floor(coalesce(h.n_contaminated, 0) * 1.0 / b.n_grams
                           * 1e4 + 0.5) / 1e4
                ELSE 0.0 END AS contamination_ratio
    FROM base b LEFT JOIN hits h USING (doc_id)
    ORDER BY b.doc_id
"""


def q_redact_pii(spark, sf_dir):
    """PII scrubbing with deterministic injected identifiers (the synth
    corpus is word salad, so the query plants emails/IPs/phones itself —
    identically on the oracle side — and verifies counts + the redacted
    text's md5)."""
    d = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    injected = d.select(
        "doc_id",
        F.when(
            k % 5 == 0,
            F.concat(F.col("text"), F.lit(" contact: user"), k,
                     F.lit("@example.com soon")),
        )
        .when(
            k % 7 == 0,
            F.concat(F.col("text"), F.lit(" from 10.2."), (k % 250),
                     F.lit(".17 dial +1 (555) 010-4242 now")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return (
        T.redact_pii(injected)
        .select("doc_id", "n_emails", "n_ips", "n_phones",
                F.md5("text_redacted").alias("redacted_md5"))
        .orderBy("doc_id")
    )


def _sql_redact_pii():
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    ipv4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
    phone = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
    return f"""
    WITH injected AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact: user' || doc_id
                         || '@example.com soon'
                    WHEN doc_id % 7 = 0
                    THEN text || ' from 10.2.' || (doc_id % 250)
                         || '.17 dial +1 (555) 010-4242 now'
                    ELSE text END AS text
        FROM documents
    ),
    stages AS (
        SELECT doc_id, text,
               regexp_replace(text, '{email}', '<EMAIL>', 'g') AS t1
        FROM injected
    ),
    stages2 AS (
        SELECT doc_id, text, t1,
               regexp_replace(t1, '{ipv4}', '<IP>', 'g') AS t2
        FROM stages
    )
    SELECT doc_id,
           len(regexp_extract_all(text, '{email}'))::BIGINT AS n_emails,
           len(regexp_extract_all(t1, '{ipv4}'))::BIGINT AS n_ips,
           len(regexp_extract_all(t2, '{phone}'))::BIGINT AS n_phones,
           md5(regexp_replace(t2, '{phone}', '<PHONE>', 'g'))
               AS redacted_md5
    FROM stages2 ORDER BY doc_id
    """


def q_event_value_histogram(spark, sf_dir):
    """Per-event-type fixed-bin value histogram (algebraic: partial counts
    add, so it map-side-combines and merges like tile_merge)."""
    from bufr2geojson_spark.operators.tiles import tile_histogram

    ev = _t(spark, sf_dir, "events")
    return tile_histogram(
        ev, "event_type", "value", lo=0.0, hi=100.0, n_bins=10
    ).orderBy("cell", "bin")


_SQL_EVENT_VALUE_HIST = """
    WITH b AS (
        SELECT event_type AS cell,
               least(greatest(floor((value - 0.0) / 10.0), 0), 9)::INTEGER
                   AS bin
        FROM events
    )
    SELECT cell, bin,
           0.0 + bin * 10.0 AS bin_lo,
           0.0 + (bin + 1) * 10.0 AS bin_hi,
           count(*) AS n
    FROM b GROUP BY cell, bin ORDER BY cell, bin
"""


def q_geo_range_join(spark, sf_dir):
    """Distance-threshold (range) join: every (point, station) pair within
    800 km — the big-big spatial join (cell-explode equi-join, no UDF, no
    broadcast of either side)."""
    import pandas as pd

    from bufr2geojson_spark.operators.spatial import distance_join

    pts = _geo_points(spark, sf_dir).select("pid", "lat", "lon")
    st = pd.DataFrame(
        _geo_station_rows(), columns=["station_id", "lat", "lon"]
    )
    stations = spark.createDataFrame(st)
    out = distance_join(pts, stations, radius_km=800.0, grid_deg=10.0)
    return out.select("pid", "station_id", "dist_km").orderBy(
        "pid", "station_id"
    )


def _sql_geo_range_join():
    return f"""
    WITH pts AS ({_GEO_PTS_SQL})
    SELECT p.pid, st.station_id,
           round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(st.s_lat - p.lat) / 2), 2)
               + cos(radians(p.lat)) * cos(radians(st.s_lat))
                 * pow(sin(radians(st.s_lon - p.lon) / 2), 2)
           )), 2) AS dist_km
    FROM pts p CROSS JOIN {_stations_values_sql()}
    WHERE round(2 * 6371.0 * asin(sqrt(
               pow(sin(radians(st.s_lat - p.lat) / 2), 2)
               + cos(radians(p.lat)) * cos(radians(st.s_lat))
                 * pow(sin(radians(st.s_lon - p.lon) / 2), 2)
           )), 2) <= 800.0
    ORDER BY pid, station_id
    """


def q_geo_tile_agg_salted(spark, sf_dir):
    pts = _geo_points(spark, sf_dir).select(
        F.col("pid").cast("string").alias("feature_id"),
        (F.floor((F.col("lat") + 90.0) / 5.0) * 100
         + F.floor((F.col("lon") + 180.0) / 5.0)).alias("tile"),
        F.col("val").alias("result_value"),
    )
    out = tile_aggregate(
        pts, cell_col="tile", value_col="result_value",
        salt_buckets=8, hot_threshold=5,
    )
    # engine-agnostic floor-form rounding (pure IEEE arithmetic, identical
    # in Spark and DuckDB even on .5 ties) — shared with every round6 user
    from bufr2geojson_spark.operators.textops import round_dp

    return out.select(
        "tile", "n_obs",
        round_dp(F.col("sum_val"), 2).alias("sum_val"),
        round_dp(F.col("min_val"), 2).alias("min_val"),
        round_dp(F.col("max_val"), 2).alias("max_val"),
        round_dp(F.col("avg_val"), 4).alias("avg_val"),
    ).orderBy("tile")


# tile must be CAST to BIGINT: Spark's floor(long)*100+floor(long) is BIGINT
# while DuckDB's floor() returns DOUBLE — the round-1 hash mismatch was
# canonical "400" vs "400.0" with every value equal.
_SQL_GEO_TILE = f"""
    WITH pts AS ({_GEO_PTS_SQL})
    SELECT CAST(floor((lat + 90.0) / 5.0) * 100
           + floor((lon + 180.0) / 5.0) AS BIGINT) AS tile,
           count(val) AS n_obs,
           floor(sum(val) * 100 + 0.5) / 100 AS sum_val,
           floor(min(val) * 100 + 0.5) / 100 AS min_val,
           floor(max(val) * 100 + 0.5) / 100 AS max_val,
           floor(sum(val) / count(val) * 10000 + 0.5) / 10000 AS avg_val
    FROM pts GROUP BY 1 ORDER BY tile
"""


def q_geo_tile_percentiles(spark, sf_dir):
    """Exact per-tile value percentiles (the oracle form of the percentile
    family; the default operator path is the mergeable percentile_approx
    sketch, rank-error-tested in pytest)."""
    from bufr2geojson_spark.operators.textops import round_dp
    from bufr2geojson_spark.operators.tiles import tile_percentiles

    pts = _geo_points(spark, sf_dir).select(
        (F.floor((F.col("lat") + 90.0) / 20.0) * 100
         + F.floor((F.col("lon") + 180.0) / 20.0)).alias("tile"),
        F.col("val"),
    )
    out = tile_percentiles(pts, cell_col="tile", value_col="val",
                           percentiles=(0.5, 0.9), exact=True)
    return out.select(
        "tile", "n_obs",
        round_dp(F.col("p50"), 4).alias("p50"),
        round_dp(F.col("p90"), 4).alias("p90"),
    ).orderBy("tile")


_SQL_GEO_TILE_PCTS = f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    t AS (SELECT CAST(floor((lat + 90.0) / 20.0) * 100
                 + floor((lon + 180.0) / 20.0) AS BIGINT) AS tile, val
          FROM pts)
    SELECT tile, count(val) AS n_obs,
           floor(quantile_cont(val, 0.5) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(val, 0.9) * 10000 + 0.5) / 10000 AS p90
    FROM t GROUP BY tile ORDER BY tile
"""


def q_geo_tile_percentiles_salted(spark, sf_dir):
    """Hot-cell-safe percentile path (round-2 verdict #8): two-phase merge
    of fixed-resolution histogram sketches (count per quantized value,
    map-side combined; phase 2 = frequency-weighted exact percentile).
    Oracle: the identical exact percentile over values quantized the same
    way — the operator's only approximation IS that shared quantization."""
    from bufr2geojson_spark.operators.textops import round_dp
    from bufr2geojson_spark.operators.tiles import tile_percentiles_salted

    pts = _geo_points(spark, sf_dir).select(
        (F.floor((F.col("lat") + 90.0) / 20.0) * 100
         + F.floor((F.col("lon") + 180.0) / 20.0)).alias("tile"),
        F.col("val"),
    )
    out = tile_percentiles_salted(pts, cell_col="tile", value_col="val",
                                  percentiles=(0.5, 0.9), val_dp=2)
    return out.select(
        "tile", "n_obs",
        round_dp(F.col("p50"), 4).alias("p50"),
        round_dp(F.col("p90"), 4).alias("p90"),
    ).orderBy("tile")


_SQL_GEO_TILE_PCTS_SALTED = f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    t AS (SELECT CAST(floor((lat + 90.0) / 20.0) * 100
                 + floor((lon + 180.0) / 20.0) AS BIGINT) AS tile,
                 floor(val * 100 + 0.5) / 100 AS qv
          FROM pts)
    SELECT tile, count(qv) AS n_obs,
           floor(quantile_cont(qv, 0.5) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(qv, 0.9) * 10000 + 0.5) / 10000 AS p90
    FROM t GROUP BY tile ORDER BY tile
"""


def q_geo_tile_median(spark, sf_dir):
    """EXACT per-tile median via the counting formulation (no per-group value
    materialization — groupBy (tile, value) histogram + rank window over the
    histogram, never the observations). Oracle: DuckDB's built-in median()
    — a sort-based, entirely different algorithm over the raw values."""
    from bufr2geojson_spark.operators.textops import round_dp
    from bufr2geojson_spark.operators.tiles import tile_exact_quantile

    pts = _geo_points(spark, sf_dir).select(
        (F.floor((F.col("lat") + 90.0) / 20.0) * 100
         + F.floor((F.col("lon") + 180.0) / 20.0)).alias("tile"),
        F.col("val"),
    )
    out = tile_exact_quantile(pts, 0.5, cell_col="tile", value_col="val")
    return out.select(
        "tile", "n_obs",
        round_dp(F.col("q50"), 4).alias("median"),
    ).orderBy("tile")


_SQL_GEO_TILE_MEDIAN = f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    t AS (SELECT CAST(floor((lat + 90.0) / 20.0) * 100
                 + floor((lon + 180.0) / 20.0) AS BIGINT) AS tile, val
          FROM pts)
    SELECT tile, count(val) AS n_obs,
           floor(median(val) * 10000 + 0.5) / 10000 AS median
    FROM t GROUP BY tile ORDER BY tile
"""


def q_geo_tile_p90(spark, sf_dir):
    """EXACT per-tile 90th percentile (quantile_cont interpolation) via the
    counting formulation — histogram + bracketing order statistics, never a
    per-group value sort. Oracle: DuckDB's built-in quantile_cont."""
    from bufr2geojson_spark.operators.textops import round_dp
    from bufr2geojson_spark.operators.tiles import tile_exact_quantile

    pts = _geo_points(spark, sf_dir).select(
        (F.floor((F.col("lat") + 90.0) / 20.0) * 100
         + F.floor((F.col("lon") + 180.0) / 20.0)).alias("tile"),
        F.col("val"),
    )
    out = tile_exact_quantile(pts, 0.9, cell_col="tile", value_col="val")
    return out.select(
        "tile", "n_obs",
        round_dp(F.col("q90"), 4).alias("q90"),
    ).orderBy("tile")


_SQL_GEO_TILE_P90 = f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    t AS (SELECT CAST(floor((lat + 90.0) / 20.0) * 100
                 + floor((lon + 180.0) / 20.0) AS BIGINT) AS tile, val
          FROM pts)
    SELECT tile, count(val) AS n_obs,
           floor(quantile_cont(val, 0.9) * 10000 + 0.5) / 10000 AS q90
    FROM t GROUP BY tile ORDER BY tile
"""


def q_region_measures(spark, sf_dir):
    """Spherical area + perimeter of the test region polygons (geodesic
    measures as Column expressions; identical edge arithmetic on the DuckDB
    side over the same VALUES edge list)."""
    from bufr2geojson_spark.operators.spatial import polygon_measures
    from bufr2geojson_spark.operators.textops import round_dp

    out = polygon_measures(_region_polys(spark))
    return out.select(
        "region_id",
        round_dp(F.col("area_km2"), 2).alias("area_km2"),
        round_dp(F.col("perimeter_km"), 2).alias("perimeter_km"),
    ).orderBy("region_id")


def _sql_region_measures():
    return f"""
    SELECT region_id,
           floor(abs(sum((radians(x2) - radians(x1))
                         * (2 + sin(radians(y1)) + sin(radians(y2)))))
                 * 6371.0 * 6371.0 / 2 * 100 + 0.5) / 100 AS area_km2,
           floor(sum(2 * 6371.0 * asin(sqrt(
                    pow(sin(radians(y2 - y1) / 2), 2)
                    + cos(radians(y1)) * cos(radians(y2))
                      * pow(sin(radians(x2 - x1) / 2), 2)
                 ))) * 100 + 0.5) / 100 AS perimeter_km
    FROM {_edges_values_sql()}
    GROUP BY region_id ORDER BY region_id
    """


def q_geo_tile_merge(spark, sf_dir):
    """Incremental tile maintenance: aggregate two halves of the corpus
    separately, fold the delta into the standing table with tile_merge —
    must equal the one-shot aggregate (same oracle as geo_tile_agg_salted's
    shape, unsalted)."""
    from bufr2geojson_spark.operators.textops import round_dp
    from bufr2geojson_spark.operators.tiles import tile_aggregate, tile_merge

    pts = _geo_points(spark, sf_dir).select(
        F.col("pid").cast("string").alias("feature_id"),
        F.col("pid"),
        (F.floor((F.col("lat") + 90.0) / 5.0) * 100
         + F.floor((F.col("lon") + 180.0) / 5.0)).alias("tile"),
        F.col("val").alias("result_value"),
    )
    hist = tile_aggregate(pts.filter(F.col("pid") % 2 == 0),
                          cell_col="tile", value_col="result_value")
    delta = tile_aggregate(pts.filter(F.col("pid") % 2 == 1),
                           cell_col="tile", value_col="result_value")
    out = tile_merge(hist, delta)
    return out.select(
        "tile", "n_obs",
        round_dp(F.col("sum_val"), 2).alias("sum_val"),
        round_dp(F.col("min_val"), 2).alias("min_val"),
        round_dp(F.col("max_val"), 2).alias("max_val"),
        round_dp(F.col("avg_val"), 4).alias("avg_val"),
    ).orderBy("tile")


# ---------------------------------------------------------------------------
# dedup / text analysis / similarity (oracle-checked)
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        T.exact_dedup_groups(d)
        .select("text_md5", "n_docs", "keep_id")
        .orderBy("text_md5")
    )


_SQL_DEDUP_EXACT = """
    SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM documents GROUP BY 1 ORDER BY text_md5
"""

_H32_SQL = "('0x' || substr(md5({x}), 1, 8))::BIGINT"
_SHINGLES_SQL = """
    list_transform(
        generate_series(1, len(string_split(text, ' ')) - 2),
        i -> array_to_string(array_slice(string_split(text, ' '), i, i + 2), ' '))
"""


def q_minhash_signature(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        T.minhash_signature(d, num_hashes=4, shingle_k=3)
        .orderBy("doc_id")
    )


def _sql_minhash():
    mins = ", ".join(
        "list_min(list_transform(sh, s -> "
        + _H32_SQL.format(x=f"concat('{j}:', s)")
        + f")) AS mh_{j}"
        for j in range(4)
    )
    return f"""
    SELECT doc_id, {mins}
    FROM (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
    ORDER BY doc_id
    """


def q_lsh_candidate_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        T.lsh_candidate_pairs(d, num_hashes=4, bands=2, shingle_k=3)
        .orderBy("id_a", "id_b")
    )


def _sql_lsh_pairs():
    mins = ", ".join(
        "list_min(list_transform(sh, s -> "
        + _H32_SQL.format(x=f"concat('{j}:', s)")
        + f")) AS mh_{j}"
        for j in range(4)
    )
    return f"""
    WITH sig AS (
        SELECT doc_id, {mins}
        FROM (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents)
    ),
    banded AS (
        SELECT doc_id, 0 AS band,
               md5(concat(mh_0, '_', mh_1)) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band,
               md5(concat(mh_2, '_', mh_3)) AS band_hash FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup: dedup the newest batch (source src19)
    against the accumulated index (every other source) — an asymmetric
    band-hash join, never a corpus self-join; exact Jaccard verify on
    candidates, best index match per new doc."""
    d = _t(spark, sf_dir, "documents")
    return T.dedup_against_index(
        d.filter("source = 'src19'"),
        d.filter("source <> 'src19'"),
        num_hashes=4, bands=4, shingle_k=3, threshold=0.01,
    ).orderBy("doc_id")


def _sql_dedup_incremental():
    mins = ", ".join(
        "list_min(list_transform(sh, s -> "
        + _H32_SQL.format(x=f"concat('{j}:', s)")
        + f")) AS mh_{j}"
        for j in range(4)
    )
    return f"""
    WITH sig AS (
        SELECT doc_id, source, {mins}
        FROM (SELECT doc_id, source, {_SHINGLES_SQL} AS sh FROM documents)
    ),
    banded AS (
        SELECT doc_id, source, 0 AS band,
               md5(mh_0::VARCHAR) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, source, 1 AS band,
               md5(mh_1::VARCHAR) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, source, 2 AS band,
               md5(mh_2::VARCHAR) AS band_hash FROM sig
        UNION ALL
        SELECT doc_id, source, 3 AS band,
               md5(mh_3::VARCHAR) AS band_hash FROM sig
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_hash = b.band_hash
        WHERE a.source = 'src19' AND b.source <> 'src19'
    ),
    sh AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
        FROM documents
        WHERE doc_id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    ),
    scored AS (
        SELECT c.id_a, c.id_b,
               coalesce(i.inter, 0)::BIGINT AS inter,
               sa.sz::BIGINT AS sz_a, sb.sz::BIGINT AS sz_b,
               round(coalesce(i.inter, 0) * 1.0
                     / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6)
                   AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN sizes sa ON sa.doc_id = c.id_a
        JOIN sizes sb ON sb.doc_id = c.id_b
    )
    SELECT id_a AS doc_id, id_b AS match_id, inter, sz_a, sz_b, jaccard
    FROM (
        SELECT s.*, row_number() OVER (
            PARTITION BY id_a ORDER BY jaccard DESC, id_b ASC) AS rn
        FROM scored s WHERE jaccard >= 0.01
    ) z WHERE rn = 1 ORDER BY doc_id
    """


def q_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling (training-mix rebalancing):
    long documents kept at 50%, short at 10%, by hash threshold."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket",
        F.when(F.length("text") >= 200, F.lit("long")).otherwise("short"),
    )
    return (
        T.stratified_sample(d, {"long": 0.5, "short": 0.1}, "len_bucket")
        .select("doc_id", "len_bucket").orderBy("doc_id")
    )


_SQL_STRATIFIED = f"""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN length(text) >= 200 THEN 'long' ELSE 'short' END
                   AS len_bucket
        FROM documents
    )
    SELECT doc_id, len_bucket FROM d
    WHERE {_H32_SQL.format(x="concat('strat:', doc_id)")} % 1000000
          < CASE len_bucket WHEN 'long' THEN 500000 ELSE 100000 END
    ORDER BY doc_id
"""


def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap) — one window pass
    per user, then per-session aggregates."""
    from bufr2geojson_spark.operators.events import sessionize

    e = _t(spark, sf_dir, "events")
    return (
        sessionize(e, gap="30 minutes")
        .select("user_id", "session_id", "n_events",
                "session_start", "session_end", "session_value")
        .orderBy("user_id", "session_id")
    )


_SQL_EVENT_SESSIONS = """
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
        SELECT user_id, ts, value,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           round(sum(value), 2) AS session_value
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id, session_id
"""


def q_event_asof_click(spark, sf_dir):
    """AS-OF join: each error event attached to the user's most recent
    click at-or-before it (union-tag single-pass implementation; DuckDB's
    native ASOF LEFT JOIN is the oracle)."""
    from bufr2geojson_spark.operators.events import asof_join

    e = _t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error")
    clicks = e.filter(F.col("event_type") == "click")
    out = asof_join(errors, clicks, on="user_id", ts_col="ts",
                    right_cols=("ts", "event_id", "value"))
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_ts").alias("click_ts"),
        F.col("asof_event_id").alias("click_event_id"),
        F.col("asof_value").alias("click_value"),
    ).orderBy("event_id")


_SQL_EVENT_ASOF = """
    SELECT e.event_id, e.user_id, e.ts,
           c.ts AS click_ts, c.event_id AS click_event_id,
           c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY e.event_id
"""


_FUNNEL_STEPS = ["signup", "click", "purchase"]


def q_event_funnel(spark, sf_dir):
    """Ordered funnel analysis: users who signed up, then clicked AFTER
    signing up, then purchased AFTER that click — per-step user counts.
    One pass per step via min-timestamp-after-previous-step; joins are on
    user_id (broadcast-able step frames shrink monotonically)."""
    e = _t(spark, sf_dir, "events")
    prev = None
    counts = []
    for step in _FUNNEL_STEPS:
        cur = e.filter(F.col("event_type") == step)
        if prev is None:
            reached = cur.groupBy("user_id").agg(F.min("ts").alias("ts"))
        else:
            reached = (
                cur.join(prev.select("user_id",
                                     F.col("ts").alias("_prev_ts")),
                         "user_id")
                .filter(F.col("ts") > F.col("_prev_ts"))
                .groupBy("user_id").agg(F.min("ts").alias("ts"))
            )
        counts.append(
            reached.agg(F.count(F.lit(1)).alias("n_users"))
            .select(F.lit(step).alias("step"), "n_users")
        )
        prev = reached
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.orderBy("step")


_SQL_EVENT_FUNNEL = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS ts
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.ts
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS ts
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.ts
        GROUP BY e.user_id
    )
    SELECT 'click' AS step, (SELECT count(*) FROM s2) AS n_users
    UNION ALL
    SELECT 'purchase', (SELECT count(*) FROM s3)
    UNION ALL
    SELECT 'signup', (SELECT count(*) FROM s1)
    ORDER BY step
"""


def q_cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-activity week, counted per
    subsequent activity week — the (cohort_week, week_offset) retention
    matrix every growth pipeline computes."""
    e = _t(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        e.join(first, "user_id")
        .withColumn("activity_week", F.date_trunc("week", "ts"))
        .withColumn(
            "week_offset",
            F.floor(
                (F.col("activity_week").cast("long")
                 - F.col("cohort_week").cast("long")) / (7 * 86400)
            ).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_SQL_COHORT_RETENTION = """
    WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(floor((epoch(date_trunc('week', e.ts))
                       - epoch(f.cohort_week)) / (7 * 86400)) AS INTEGER)
               AS week_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2 ORDER BY cohort_week, week_offset
"""


def q_event_interval_join(spark, sf_dir):
    """Point-in-interval join of the event stream against 20 deterministic
    campaign windows via the time-bucketed equi-join (never the
    |events|×|windows| theta join a naive BETWEEN plans); per-window
    rollup after the exact containment filter. Oracle: the literal
    BETWEEN join — DuckDB plans it as an IE-join, a different algorithm."""
    from bufr2geojson_spark.operators.events import interval_join_bucketed

    ev = _t(spark, sf_dir, "events")
    i = F.col("id")
    # events.ts is TIMESTAMP_NTZ — keep the window bounds NTZ too, so the
    # containment comparison is plain wall-clock like the DuckDB oracle's
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    w = spark.range(20).select(
        i.alias("w_id"),
        (base + F.make_interval(hours=(i * 31 + 5).cast("int")))
        .cast("timestamp_ntz").alias("w_start"),
        (base + F.make_interval(
            hours=(i * 31 + 5 + (i % 5) + 1).cast("int")))
        .cast("timestamp_ntz").alias("w_end"),
    )
    return (
        interval_join_bucketed(ev, w)
        .groupBy("w_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("w_id")
    )


_SQL_EVENT_INTERVAL_JOIN = """
    WITH w AS (
        SELECT i AS w_id,
               TIMESTAMP '2024-01-01 00:00:00'
                   + (i * 31 + 5) * INTERVAL 1 HOUR AS w_start,
               TIMESTAMP '2024-01-01 00:00:00'
                   + (i * 31 + 5 + (i % 5) + 1) * INTERVAL 1 HOUR AS w_end
        FROM (SELECT unnest(generate_series(0, 19)) AS i)
    )
    SELECT w_id, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           round(sum(value), 2) AS sum_value
    FROM events e JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w_id ORDER BY w_id
"""


def q_event_markov(spark, sf_dir):
    """First-order Markov transition matrix over per-user event-type
    sequences: one entity-keyed shuffle (lead window ordered by (ts,
    event_id)), map-side-combined pair counts, integer-millionths row
    normalization over the tiny |states|² matrix."""
    from bufr2geojson_spark.operators.events import markov_transitions

    ev = _t(spark, sf_dir, "events")
    return markov_transitions(ev).orderBy("from_state", "to_state")


_SQL_EVENT_MARKOV = """
    WITH seq AS (
        SELECT event_type AS from_state,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_state
        FROM events
    ),
    pairs AS (
        SELECT from_state, to_state, count(*)::BIGINT AS n_transitions
        FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_state, to_state, n_transitions,
           floor(n_transitions * 1000000.0
                 / sum(n_transitions) OVER (PARTITION BY from_state)
           )::BIGINT AS prob_e6
    FROM pairs ORDER BY from_state, to_state
"""


def q_event_ngrams(spark, sf_dir):
    """Frequent contiguous event-type trigrams across per-user sequences
    (sequence-mining primitive): one entity-keyed shuffle, stacked leads
    in one window, map-side-combined gram counts."""
    from bufr2geojson_spark.operators.events import sequence_ngrams

    ev = _t(spark, sf_dir, "events")
    return sequence_ngrams(ev, n=3, min_support=2).orderBy("gram")


_SQL_EVENT_NGRAMS = """
    WITH seq AS (
        SELECT event_type AS a,
               lead(event_type, 1) OVER w AS b,
               lead(event_type, 2) OVER w AS c
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT a || '>' || b || '>' || c AS gram,
           count(*)::BIGINT AS n_occurrences
    FROM seq WHERE c IS NOT NULL
    GROUP BY 1 HAVING count(*) >= 2
    ORDER BY gram
"""


def q_pmi_pairs(spark, sf_dir):
    """Windowed PMI collocations (±3 words, min count 5): co-occurrence
    pairs from stacked leads in ONE doc-keyed window (linear — never the
    positional band self-join), micro-nat fixed-point PMI."""
    return T.pmi_pairs(
        _t(spark, sf_dir, "documents"), window=3, min_count=5
    ).orderBy("tok_a", "tok_b")


_SQL_PMI_PAIRS = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    prs AS (
        SELECT unnest(flatten(list_transform(
                   generate_series(1, len(ws)),
                   i -> list_transform(
                       generate_series(i + 1, least(i + 3, len(ws))),
                       j -> [ws[i], ws[j]])))) AS pr
        FROM w
    ),
    canon AS (
        SELECT least(pr[1], pr[2]) AS tok_a,
               greatest(pr[1], pr[2]) AS tok_b
        FROM prs
    ),
    pc AS (
        SELECT tok_a, tok_b, count(*)::BIGINT AS n_pairs
        FROM canon GROUP BY 1, 2
    ),
    ptot AS (SELECT sum(n_pairs) AS p_total FROM pc),
    tok AS (SELECT unnest(ws) AS tk FROM w),
    marg AS (SELECT tk, count(*)::BIGINT AS c FROM tok GROUP BY tk),
    ttot AS (SELECT sum(c) AS t_total FROM marg)
    SELECT p.tok_a, p.tok_b, p.n_pairs,
           floor((ln(p.n_pairs * 1.0 / p_total)
                  - ln(ma.c * 1.0 / t_total)
                  - ln(mb.c * 1.0 / t_total)) * 1e6 + 0.5)::BIGINT
               AS pmi_e6
    FROM pc p
    JOIN marg ma ON ma.tk = p.tok_a
    JOIN marg mb ON mb.tk = p.tok_b
    CROSS JOIN ptot CROSS JOIN ttot
    WHERE p.n_pairs >= 5
    ORDER BY tok_a, tok_b
"""


def q_bpe_merges(spark, sf_dir):
    """BPE-training iteration zero at corpus scale: adjacent character-
    pair frequencies within words (JVM sequence+substring explode, no
    Python), top-20 merge candidates with deterministic tiebreak."""
    return T.bpe_pair_counts(
        _t(spark, sf_dir, "documents"), top_k=20
    ).orderBy("rank")


_SQL_BPE_MERGES = """
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    pairs AS (
        SELECT unnest(list_transform(
            generate_series(1, length(w) - 1),
            i -> substr(w, i, 2))) AS pair
        FROM words WHERE length(w) >= 2
    ),
    cnt AS (
        SELECT pair, count(*)::BIGINT AS n_occurrences
        FROM pairs GROUP BY 1
    )
    SELECT pair, n_occurrences, rank FROM (
        SELECT pair, n_occurrences,
               row_number() OVER (ORDER BY n_occurrences DESC, pair)
                   ::BIGINT AS rank
        FROM cnt
    ) z WHERE rank <= 20 ORDER BY rank
"""


def q_event_throttle(spark, sf_dir):
    """Chained-cooldown throttle (12 h) — keep an event only if ≥ cooldown
    after the last KEPT event of the same user. Sequentially dependent per
    key (applyInPandas single pass); the oracle walks the identical chain
    with a recursive CTE whose working table is the last kept event per
    user."""
    from bufr2geojson_spark.operators.events import throttle_events

    ev = _t(spark, sf_dir, "events")
    return (
        throttle_events(ev, cooldown_s=43200)
        .select("event_id", "user_id", "ts")
        .orderBy("user_id", "ts", "event_id")
    )


_SQL_EVENT_THROTTLE = """
    WITH RECURSIVE ordered AS (
        SELECT event_id, user_id, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    kept AS (
        SELECT event_id, user_id, ts, rn FROM ordered WHERE rn = 1
        UNION ALL
        SELECT event_id, user_id, ts, rn FROM (
            SELECT o.event_id, o.user_id, o.ts, o.rn,
                   row_number() OVER (PARTITION BY o.user_id
                                      ORDER BY o.rn) AS rr
            FROM ordered o
            JOIN kept k ON o.user_id = k.user_id AND o.rn > k.rn
                 AND o.ts >= k.ts + INTERVAL 43200 SECOND
        ) WHERE rr = 1
    )
    SELECT event_id, user_id, ts FROM kept
    ORDER BY user_id, ts, event_id
"""


def q_event_resample(spark, sf_dir):
    """Regular-grid resampling with linear interpolation of each user's
    value series (6-hour grid) — the observation gap-filling primitive."""
    from bufr2geojson_spark.operators.events import resample_interpolate
    from bufr2geojson_spark.operators.textops import round_dp

    e = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    out = resample_interpolate(e, step="6 hours")
    return out.select(
        "user_id", "ts",
        round_dp(F.col("value_interp"), 6).alias("value_interp"),
        "prev_ts", "next_ts",
    ).orderBy("user_id", "ts")


_SQL_EVENT_RESAMPLE = """
    WITH bounds AS (
        SELECT user_id, min(ts) AS t0, max(ts) AS t1 FROM events GROUP BY 1
    ),
    grid AS (
        SELECT user_id,
               unnest(generate_series(
                   to_timestamp(floor(epoch(t0) / 21600) * 21600)::TIMESTAMP,
                   t1, INTERVAL 6 HOUR)) AS ts
        FROM bounds
    ),
    u AS (
        SELECT user_id, ts, value AS v, 0 AS is_grid FROM events
        UNION ALL
        SELECT user_id, ts, NULL, 1 FROM grid
    ),
    c AS (
        SELECT user_id, ts, is_grid,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
                   OVER wp AS pt,
               last_value(v IGNORE NULLS) OVER wn AS nv,
               last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS)
                   OVER wn AS nt
        FROM u
        WINDOW wp AS (PARTITION BY user_id ORDER BY ts ASC, is_grid ASC
                      ROWS UNBOUNDED PRECEDING),
               wn AS (PARTITION BY user_id ORDER BY ts DESC, is_grid DESC
                      ROWS UNBOUNDED PRECEDING)
    )
    SELECT user_id, ts,
           floor(CASE WHEN pt IS NULL THEN nv
                      WHEN nt IS NULL THEN pv
                      WHEN pt = nt THEN pv
                      ELSE pv + (nv - pv) * (epoch(ts) - epoch(pt))
                                / (epoch(nt) - epoch(pt))
                 END * 1e6 + 0.5) / 1e6 AS value_interp,
           pt AS prev_ts, nt AS next_ts
    FROM c WHERE is_grid = 1
    ORDER BY user_id, ts
"""


_MERGE_CUTOFF = "2024-01-16 00:00:00"


def q_event_merge_upsert(spark, sf_dir):
    """CDC merge/upsert: the standing per-user state (latest event at the
    cutoff) merged with the post-cutoff update stream; error events act as
    tombstones (a user whose winning record is an error is deleted). The
    result must equal the direct latest-per-user computation — proving the
    incremental path converges to the batch answer."""
    from bufr2geojson_spark.operators.maintenance import merge_upsert

    e = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type",
        F.round("value", 4).alias("value"),
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    base = (
        e.filter(F.col("ts") < F.lit(_MERGE_CUTOFF))
        .withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
        .drop("_rn")
    )
    updates = e.filter(F.col("ts") >= F.lit(_MERGE_CUTOFF))
    merged = merge_upsert(
        base, updates,
        keys=["user_id"], order_cols=["ts", "event_id"],
        tombstone=F.col("event_type") == "error",
    )
    return merged.select(
        "user_id", "event_id", "event_type", "ts", "value"
    ).orderBy("user_id")


_SQL_EVENT_MERGE = """
    SELECT user_id, event_id, event_type, ts, round(value, 4) AS value
    FROM (
        SELECT event_id, ts, user_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 AND event_type <> 'error'
    ORDER BY user_id
"""


def q_hash_sample(spark, sf_dir):
    """Deterministic hash-Bernoulli sample (training-mix curation): same
    rows on any cluster/partitioning/rerun — no rand()."""
    d = _t(spark, sf_dir, "documents")
    return T.hash_sample(d, 0.25).select("doc_id").orderBy("doc_id")


_SQL_HASH_SAMPLE = f"""
    SELECT doc_id FROM documents
    WHERE {_H32_SQL.format(x="concat('sample:', doc_id)")} % 1000000 < 250000
    ORDER BY doc_id
"""


def q_train_val_split(spark, sf_dir):
    """Deterministic hash train/val assignment: a document never migrates
    between splits as the corpus grows (no leakage across runs)."""
    d = _t(spark, sf_dir, "documents")
    return (T.train_val_split(d, val_fraction=0.1)
            .select("doc_id", "split").orderBy("doc_id"))


_SQL_TRAIN_VAL = f"""
    SELECT doc_id,
           CASE WHEN {_H32_SQL.format(x="concat('split:', doc_id)")}
                     % 1000000 < 100000
                THEN 'val' ELSE 'train' END AS split
    FROM documents ORDER BY doc_id
"""


def q_dedup_components(spark, sf_dir):
    """Near-dup GROUPS from candidate pairs: iterative min-label connected
    components over the MinHash-LSH pair graph (the step a dedup pipeline
    runs to pick one survivor per duplicate cluster). Oracle = the same
    fixpoint via DuckDB's recursive CTE."""
    d = _t(spark, sf_dir, "documents")
    pairs = T.lsh_candidate_pairs(d, num_hashes=4, bands=2, shingle_k=3)
    return T.connected_components(pairs).orderBy("doc_id")


def _sql_dedup_components():
    pairs_sql = _sql_lsh_pairs()
    return f"""
    WITH RECURSIVE lsh_pairs AS ({pairs_sql}),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM lsh_pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM lsh_pairs
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS doc_id, min(r) AS component_id
    FROM reach GROUP BY id ORDER BY doc_id
    """


def q_dedup_survivors(spark, sf_dir):
    """End of the dedup pipeline: pick ONE survivor per near-dup cluster —
    the highest-quality member (ties → lowest doc_id) — and keep every
    unclustered doc. Composes connected_components over the LSH pair graph
    with the quality scorer; the output is the cleaned corpus id list."""
    d = _t(spark, sf_dir, "documents")
    pairs = T.lsh_candidate_pairs(d, num_hashes=4, bands=2, shingle_k=3)
    comp = T.connected_components(pairs)           # (doc_id, component_id)
    q = T.quality_score(d).select("doc_id", "quality")
    clustered = comp.join(q, "doc_id")
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    survivors_in_clusters = (
        clustered.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("doc_id", "component_id", "quality")
    )
    unclustered = (
        d.join(comp.select("doc_id"), "doc_id", "left_anti")
        .join(q, "doc_id")
        .select("doc_id", F.lit(None).cast("string").alias("component_id"),
                "quality")
    )
    return survivors_in_clusters.unionByName(unclustered).orderBy("doc_id")


def _sql_dedup_survivors():
    comp_sql = _sql_dedup_components()
    # quality composes the canonical scorer SQL (one bit-exact formula to
    # maintain, not two)
    return f"""
    WITH comp AS ({comp_sql}),
    q AS (SELECT doc_id, quality FROM ({_SQL_QUALITY})),
    in_clusters AS (
        SELECT doc_id, component_id, quality FROM (
            SELECT c.doc_id, c.component_id, q.quality,
                   row_number() OVER (
                       PARTITION BY c.component_id
                       ORDER BY q.quality DESC, c.doc_id ASC) AS rn
            FROM comp c JOIN q ON c.doc_id = q.doc_id
        ) WHERE rn = 1
    ),
    loners AS (
        SELECT d.doc_id, NULL AS component_id, q.quality
        FROM documents d JOIN q ON d.doc_id = q.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)
    )
    SELECT * FROM in_clusters UNION ALL SELECT * FROM loners
    ORDER BY doc_id
    """


def q_lsh_verified_jaccard(spark, sf_dir):
    """The candidate→verify dedup pipeline end-to-end: MinHash-LSH bounds
    the pair count, exact n-gram Jaccard confirms each candidate — the
    100 TB shape (vs the all-pairs ngram_jaccard_pairs oracle form)."""
    d = _t(spark, sf_dir, "documents")
    pairs = T.lsh_candidate_pairs(d, num_hashes=4, bands=2, shingle_k=3)
    return (
        T.jaccard_verify_pairs(pairs, d, shingle_k=3)
        .orderBy("id_a", "id_b")
    )


def _sql_lsh_verified_jaccard():
    return f"""
    WITH cand AS ({_sql_lsh_pairs()}),
    sh AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
        FROM documents
        WHERE doc_id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT c.id_a AS id_a, c.id_b AS id_b,
           coalesce(i.inter, 0) AS inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(coalesce(i.inter, 0) * 1.0
                 / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    ORDER BY 1, 2
    """


def q_lsh_verified_containment(spark, sf_dir):
    """Asymmetric containment verify (quote/subset detection): the same
    LSH-bounded candidate set, scored with |A∩B|/|A| and |A∩B|/|B| —
    catches a short doc embedded in a long one, which Jaccard misses."""
    d = _t(spark, sf_dir, "documents")
    pairs = T.lsh_candidate_pairs(d, num_hashes=4, bands=2, shingle_k=3)
    return (
        T.jaccard_verify_pairs(pairs, d, shingle_k=3, with_containment=True)
        .orderBy("id_a", "id_b")
    )


def _sql_lsh_verified_containment():
    return f"""
    WITH cand AS ({_sql_lsh_pairs()}),
    sh AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
        FROM documents
        WHERE doc_id IN (SELECT id_a FROM cand UNION SELECT id_b FROM cand)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.id_a
        JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY c.id_a, c.id_b
    )
    SELECT c.id_a AS id_a, c.id_b AS id_b,
           coalesce(i.inter, 0) AS inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(coalesce(i.inter, 0) * 1.0
                 / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6) AS jaccard,
           floor(coalesce(i.inter, 0) * 1.0 / sa.sz * 1e6 + 0.5) / 1e6
               AS cont_a,
           floor(coalesce(i.inter, 0) * 1.0 / sb.sz * 1e6 + 0.5) / 1e6
               AS cont_b
    FROM cand c
    LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    ORDER BY 1, 2
    """


def q_ngram_jaccard_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        T.ngram_jaccard_pairs(d, threshold=0.18, shingle_k=3)
        .orderBy("id_a", "id_b")
    )


def _sql_exact_jaccard_pairs(th: float) -> str:
    """All-pairs exact shingle-Jaccard join at threshold ``th`` — the
    brute-force oracle form shared by ngram_jaccard_pairs (which IS this
    algorithm) and ssjoin_exact (prefix-filtered, provably identical
    output)."""
    return f"""
    WITH sh AS (
        SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= {th}
    ORDER BY id_a, id_b
"""


_SQL_NGRAM_JACCARD = _sql_exact_jaccard_pairs(0.18)


def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing (distributed FFD within deterministic
    engine-portable shards). The oracle replays the EXACT greedy: a
    recursive CTE carries each shard's bin states (id, remaining) plus
    the accumulated assignments, placing one ranked item per shard per
    iteration into the lowest-id fitting bin — a state machine in SQL,
    upgraded from the previous rows-only check."""
    d = _t(spark, sf_dir, "documents")
    return (T.pack_sequences(d, max_tokens=200, n_shards=16)
            .orderBy("doc_id"))


_SQL_PACK_SEQUENCES = """
    WITH RECURSIVE base AS (
        SELECT doc_id,
               len(string_split(text, ' '))::INT AS n,
               ((('0x' || substr(md5(concat('pack:', doc_id)), 1, 8))
                 ::BIGINT) % 16)::INT AS shard
        FROM documents
    ),
    items AS (
        SELECT doc_id, n, shard,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY n DESC, doc_id)::BIGINT AS rn
        FROM base
    ),
    -- state rows per shard: kind -1 = anchor (always one), kind 0 = bin
    -- (a=bin_id, b=remaining; -1 = closed oversize), kind 1 = assignment
    -- (a=doc_id, b=bin_id, re-emitted every round until the shard dies)
    ffd(it, shard, kind, a, b) AS (
        SELECT DISTINCT 0::BIGINT, shard, -1, 0::BIGINT, 0::BIGINT
        FROM items
        UNION ALL
        SELECT w.it + 1, w.shard,
               CASE WHEN ks.k = 0 THEN w.kind
                    WHEN ks.k = 1 THEN 1 ELSE 0 END,
               CASE WHEN ks.k = 0 THEN w.a
                    WHEN ks.k = 1 THEN w.cur_doc
                    ELSE w.n_bins END,
               CASE WHEN ks.k = 0 AND w.kind = 0 AND w.a = w.chosen
                         THEN w.b - w.cur_n
                    WHEN ks.k = 0 THEN w.b
                    WHEN ks.k = 1 THEN coalesce(w.chosen, w.n_bins)
                    WHEN w.cur_n > 200 THEN -1
                    ELSE 200 - w.cur_n END
        FROM (
            SELECT f.*, i.doc_id AS cur_doc, i.n AS cur_n,
                   min(CASE WHEN f.kind = 0 AND f.b >= i.n
                            THEN f.a END)
                       OVER (PARTITION BY f.shard) AS chosen,
                   count(CASE WHEN f.kind = 0 THEN 1 END)
                       OVER (PARTITION BY f.shard)::BIGINT AS n_bins
            FROM ffd f
            JOIN items i ON i.shard = f.shard AND i.rn = f.it + 1
        ) w
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) ks
        WHERE ks.k = 0
           OR (ks.k = 1 AND w.kind = -1)
           OR (ks.k = 2 AND w.kind = -1 AND w.chosen IS NULL)
    ),
    asg AS (
        SELECT DISTINCT shard, a AS doc_id, b AS bin
        FROM ffd WHERE kind = 1
    )
    SELECT b.doc_id, b.n AS n_tokens, b.shard,
           b.shard || '-' || a.bin AS pack_id,
           b.n > 200 AS overflow
    FROM asg a JOIN base b ON b.doc_id = a.doc_id
    ORDER BY b.doc_id
"""


def q_top_tokens(spark, sf_dir):
    """Corpus heavy hitters: top-20 tokens by document frequency."""
    d = _t(spark, sf_dir, "documents")
    return T.top_tokens(d, n=20)


_SQL_TOP_TOKENS = """
    SELECT token, count(*) AS df FROM (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
    ) GROUP BY token ORDER BY df DESC, token ASC LIMIT 20
"""


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document keyword extraction: top-3 TF-IDF terms."""
    d = _t(spark, sf_dir, "documents")
    return T.tf_idf_top_terms(d, top_per_doc=3).orderBy("doc_id", "rnk")


_SQL_TFIDF = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tc FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, sum(tc) AS dl FROM tf GROUP BY 1),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tc, df.df,
               floor((tf.tc * 1.0 / dl.dl) * ln(n.n_docs * 1.0 / df.df) * 1e6
                     + 0.5) / 1e6 AS tfidf
        FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        JOIN df ON tf.term = df.term
        CROSS JOIN n
    )
    SELECT doc_id, term, tc, df, tfidf, rnk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
        FROM scored
    ) WHERE rnk <= 3 ORDER BY doc_id, rnk
"""


def q_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.simhash(d).orderBy("doc_id")


def _sql_simhash():
    h = _H32_SQL.format(x="w")
    bit_sums = ", ".join(
        f"sum((({h} >> {b}) & 1) * 2 - 1) AS c{b}" for b in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN c{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(16)
    )
    return f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counters AS (SELECT doc_id, {bit_sums} FROM words GROUP BY doc_id)
    SELECT doc_id, {bits} AS simhash FROM counters ORDER BY doc_id
    """


def q_simhash_near_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        T.simhash_near_pairs(d, max_hamming=3)
        .orderBy("id_a", "id_b")
    )


def _sql_simhash_near_pairs():
    # same banded join as the engine: 4 bands of 4 bits; pigeonhole makes the
    # candidate set complete for hamming <= 3
    h = _H32_SQL.format(x="w")
    bit_sums = ", ".join(
        f"sum((({h} >> {b}) & 1) * 2 - 1) AS c{b}" for b in range(16)
    )
    bits = " + ".join(
        f"(CASE WHEN c{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"
        for b in range(16)
    )
    return f"""
    WITH words AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counters AS (SELECT doc_id, {bit_sums} FROM words GROUP BY doc_id),
    sig AS (SELECT doc_id, {bits} AS simhash FROM counters),
    banded AS (
        SELECT doc_id, simhash, b.band,
               (simhash >> (b.band * 4)) & 15 AS band_key
        FROM sig, (SELECT unnest([0,1,2,3]) AS band) b
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY id_a, id_b
    """


def q_lang_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.lang_id(d).orderBy("doc_id")


_SQL_LANG_ID = """
    WITH scored AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ('the','a','of','and','to','in','is')))
                   AS marker_hits,
               len(string_split(text, ' ')) AS n_words
        FROM documents
    )
    SELECT doc_id, marker_hits, n_words,
           round(marker_hits * 1.0 / n_words, 6) AS marker_ratio,
           CASE WHEN round(marker_hits * 1.0 / n_words, 6) > 0.05
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM scored ORDER BY doc_id
"""


def q_quality_score(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.quality_score(d).orderBy("doc_id")


# rounding here is floor(x*1e6 + 0.5)/1e6 on BOTH sides: pure IEEE arithmetic
# is bit-identical across engines, unlike round() on exact .5 ties
_SQL_QUALITY = """
    WITH feats AS (
        SELECT doc_id,
               length(text) AS n_chars_calc,
               len(string_split(text, ' ')) AS n_words,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                   AS n_digits,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ('the','a','of','and','to','in','is')))
                   AS stop_hits
        FROM documents
    ),
    ratios AS (
        SELECT doc_id, n_chars_calc, n_words,
               floor((n_chars_calc - (n_words - 1)) * 1.0 / n_words * 1e6
                     + 0.5) / 1e6 AS mean_word_len,
               floor(n_digits * 1.0 / n_chars_calc * 1e6 + 0.5) / 1e6
                   AS digit_ratio,
               floor(stop_hits * 1.0 / n_words * 1e6 + 0.5) / 1e6
                   AS stopword_ratio
        FROM feats
    )
    SELECT doc_id, n_chars_calc, n_words, mean_word_len, digit_ratio,
           stopword_ratio,
           floor((least(n_words / 100.0, 1.0) * 0.4
                  + (1.0 - digit_ratio) * 0.3
                  + least(stopword_ratio * 5.0, 1.0) * 0.3) * 1e6 + 0.5) / 1e6
               AS quality
    FROM ratios ORDER BY doc_id
"""


def q_token_counts(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.token_counts(d).orderBy("doc_id")


_SQL_TOKENS = """
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
               AS bpe_tokens,
           round(len(regexp_extract_all(text,
                 '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) * 1.0
                 / len(string_split(text, ' ')), 6) AS tokens_per_word
    FROM documents ORDER BY doc_id
"""


def q_doc_repetition(spark, sf_dir):
    """Intra-document duplicate-3-gram fraction (Gopher repetition rule):
    explode -> md5 -> two map-side-combined groupBys; shuffle carries
    fixed-width hashes only."""
    d = _t(spark, sf_dir, "documents")
    return T.doc_repetition(d, k=3).orderBy("doc_id")


_SQL_DOC_REPETITION = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 2),
                   i -> array_to_string(ws[i:i+2], ' '))) AS gram
        FROM w
    ),
    per AS (
        SELECT doc_id, count(*)::BIGINT AS n_grams,
               count(DISTINCT gram)::BIGINT AS n_distinct
        FROM grams GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_grams, 0)::BIGINT AS n_grams,
           coalesce(p.n_distinct, 0)::BIGINT AS n_distinct,
           CASE WHEN coalesce(p.n_grams, 0) > 0
                THEN floor((1.0 - p.n_distinct::DOUBLE / p.n_grams::DOUBLE)
                           * 1e6 + 0.5) / 1e6
                ELSE 0.0 END AS rep_ratio
    FROM documents d LEFT JOIN per p USING (doc_id)
    ORDER BY d.doc_id
"""


def q_dup_ngram_spans(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.dup_ngram_spans(d, k=5, min_docs=2).orderBy("doc_id")


_SQL_DUP_NGRAMS = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 4),
                   i -> array_to_string(ws[i:i+4], ' '))) AS gram
        FROM w
    ),
    dup AS (
        SELECT gram FROM grams
        GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
        SELECT g.doc_id, count(*) AS n_dup
        FROM grams g JOIN dup USING (gram) GROUP BY g.doc_id
    ),
    base AS (
        SELECT doc_id,
               greatest(len(string_split(text, ' ')) - 4, 0)::BIGINT
                   AS n_grams
        FROM documents
    )
    SELECT b.doc_id, b.n_grams,
           coalesce(p.n_dup, 0)::BIGINT AS n_dup,
           CASE WHEN b.n_grams > 0
                THEN floor(coalesce(p.n_dup, 0) * 1.0 / b.n_grams * 1e4
                           + 0.5) / 1e4
                ELSE 0.0 END AS dup_ratio
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    ORDER BY doc_id
"""


def q_dedup_substring_spans(spark, sf_dir):
    """Exact-substring-dedup cut list (Lee et al. 2022 semantics): maximal
    token spans covered by cross-document duplicated 5-grams. Oracle
    reproduces the gaps-and-islands merge with DuckDB window functions over
    raw gram strings (Spark shuffles md5 hashes — same dup set)."""
    d = _t(spark, sf_dir, "documents")
    return T.dedup_substring_spans(d, k=5, min_docs=2).orderBy(
        "doc_id", "span_start"
    )


_SQL_DEDUP_SUBSTRING_SPANS = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(ws[i:i+4], ' ') AS gram
        FROM w, LATERAL (SELECT unnest(generate_series(
                 1, greatest(len(ws) - 4, 0))) AS i) s
    ),
    dup AS (
        SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
    ),
    hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
    flag AS (
        SELECT doc_id, pos,
               CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         IS NULL
                         OR pos > lag(pos) OVER (PARTITION BY doc_id
                                                 ORDER BY pos) + 5
                    THEN 1 ELSE 0 END AS new_isl
        FROM hits
    ),
    isl AS (
        SELECT doc_id, pos,
               sum(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        FROM flag
    )
    SELECT doc_id, min(pos)::BIGINT AS span_start,
           (max(pos) + 4)::BIGINT AS span_end,
           (max(pos) + 4 - min(pos) + 1)::BIGINT AS span_tokens
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
"""


def q_unigram_logprob(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.unigram_logprob(d).orderBy("doc_id")


def q_dsir_select(spark, sf_dir):
    """DSIR data selection: rank the non-English pool by unigram log
    importance against the English target corpus (add-1 smoothing, joint
    vocab, integer micro-nat sums), keep the deterministic top quarter.
    Top-k selection is the two-pass distinct-score-histogram threshold —
    no global row_number over the pool."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == "en"
    )
    return T.dsir_importance(d, select_frac=0.25).orderBy("doc_id")


_SQL_DSIR_SELECT = """
    WITH tok AS (
        SELECT doc_id, lang = 'en' AS t,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    cnt AS (
        SELECT w,
               sum(CASE WHEN t THEN 1 ELSE 0 END)::BIGINT AS ct,
               sum(CASE WHEN t THEN 0 ELSE 1 END)::BIGINT AS cr
        FROM tok GROUP BY w
    ),
    tot AS (
        SELECT sum(ct) AS tt, sum(cr) AS tr, count(*) AS v FROM cnt
    ),
    wt AS (
        SELECT w, floor((ln((ct + 1) * 1.0 / (tt + v))
                         - ln((cr + 1) * 1.0 / (tr + v))) * 1e6
                        + 0.5)::BIGINT AS lr_e6
        FROM cnt, tot
    ),
    per_doc AS (
        SELECT tok.doc_id, count(*)::BIGINT AS n_tokens,
               sum(wt.lr_e6)::BIGINT AS importance_e6
        FROM tok JOIN wt ON wt.w = tok.w
        WHERE NOT tok.t
        GROUP BY tok.doc_id
    ),
    k AS (SELECT floor(count(*) * 0.25)::BIGINT AS k FROM per_doc)
    SELECT doc_id, n_tokens, importance_e6,
           row_number() OVER (ORDER BY importance_e6 DESC, doc_id)
               <= (SELECT k FROM k) AS selected
    FROM per_doc ORDER BY doc_id
"""


_SQL_UNIGRAM_LP = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT sum(c) AS t FROM cnt),
    probs AS (
        SELECT w, floor(ln(c * 1.0 / t) * 1e6 + 0.5)::BIGINT AS lp_e6
        FROM cnt, tot
    )
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(lp_e6)::BIGINT AS logprob_e6,
           floor(sum(lp_e6) * 1.0 / count(*) / 1e6 * 1e4 + 0.5) / 1e4
               AS avg_logprob
    FROM tok JOIN probs USING (w)
    GROUP BY doc_id ORDER BY doc_id
"""


def q_ssjoin_exact(spark, sf_dir):
    """EXACT Jaccard-threshold similarity join via prefix filtering
    (PPJoin / VernicaJoin) — 100% recall without the cross product; its
    oracle is the all-pairs brute-force join at the same threshold, so a
    green row proves the pruning loses nothing."""
    d = _t(spark, sf_dir, "documents")
    return (
        T.set_similarity_join(d, threshold=0.3, shingle_k=3)
        .orderBy("id_a", "id_b")
    )


def q_heavy_hitter_tokens(spark, sf_dir):
    """Exact frequent tokens (count ≥ 0.1% of the stream) via per-partition
    Misra-Gries candidates + exact verify — the sketch-then-verify shape
    that never shuffles the full vocabulary; oracle is brute GROUP
    BY/HAVING."""
    d = _t(spark, sf_dir, "documents")
    return T.heavy_hitters(d, support=0.001).orderBy("token")


_SQL_HEAVY_HITTERS = """
    WITH tok AS (
        SELECT t FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents
        ) WHERE len(t) > 0
    ),
    n AS (SELECT count(*) AS n FROM tok)
    SELECT t AS token, count(*)::BIGINT AS cnt
    FROM tok, n GROUP BY t, n.n
    HAVING count(*) >= 0.001 * n.n - 1e-9
    ORDER BY token
"""


def q_pareto_docs(spark, sf_dir):
    """Skyline data selection: documents undominated on (token count,
    distinct-token count) — window-scan frontier vs the oracle's O(n²)
    NOT-EXISTS dominance anti-join (different algorithm, same rows)."""
    d = _t(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        F.size(T.words_of(F.col("text"))).alias("n_tokens"),
        F.size(F.array_distinct(T.words_of(F.col("text"))))
        .alias("n_distinct"),
    )
    return (
        T.pareto_frontier(m, "n_tokens", "n_distinct")
        .select("doc_id", "n_tokens", "n_distinct")
        .orderBy("doc_id")
    )


_SQL_PARETO_DOCS = """
    WITH m AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct
        FROM documents
    )
    SELECT doc_id, n_tokens, n_distinct FROM m p
    WHERE NOT EXISTS (
        SELECT 1 FROM m q
        WHERE q.n_tokens >= p.n_tokens AND q.n_distinct >= p.n_distinct
          AND (q.n_tokens > p.n_tokens OR q.n_distinct > p.n_distinct)
    )
    ORDER BY doc_id
"""


def q_bigram_logprob(spark, sf_dir):
    """Order-2 LM scoring: per-doc add-1-smoothed bigram conditional
    log-prob (micro-nat integer sums — bit-exact under partitioning)."""
    d = _t(spark, sf_dir, "documents")
    return T.bigram_logprob(d, add_k=1.0).orderBy("doc_id")


_SQL_BIGRAM_LP = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    pairs AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i + 1])) AS bg
        FROM w WHERE len(ws) >= 2
    ),
    bgc AS (SELECT bg, count(*) AS c_bg FROM pairs GROUP BY bg),
    ctx AS (
        SELECT split_part(bg, ' ', 1) AS v, sum(c_bg) AS c_ctx
        FROM bgc GROUP BY 1
    ),
    vocab AS (
        SELECT count(DISTINCT t)::DOUBLE AS v FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents)
    ),
    model AS (
        SELECT bg,
               floor(ln((c_bg::DOUBLE + 1e0) / (c_ctx::DOUBLE + 1e0 * vocab.v))
                     * 1e6 + 0.5)::BIGINT AS lp_e6
        FROM bgc JOIN ctx ON split_part(bgc.bg, ' ', 1) = ctx.v
        CROSS JOIN vocab
    )
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           sum(lp_e6)::BIGINT AS logprob_e6,
           floor(sum(lp_e6) * 1.0 / count(*) / 1e6 * 1e4 + 0.5) / 1e4
               AS avg_logprob
    FROM pairs JOIN model USING (bg)
    GROUP BY doc_id ORDER BY doc_id
"""


def q_quota_sample(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        T.quota_sample(d, "source", cap=5)
        .select("doc_id", "source", "quota_rank")
        .orderBy("source", "quota_rank")
    )


_SQL_QUOTA_SAMPLE = """
    WITH keyed AS (
        SELECT doc_id, source,
               ('0x' || substr(md5('quota:' || doc_id), 1, 8))::BIGINT AS qk
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY qk, doc_id)
                   AS quota_rank
        FROM keyed
    )
    SELECT doc_id, source, quota_rank FROM ranked
    WHERE quota_rank <= 5 ORDER BY source, quota_rank
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return T.fingerprint(d, k=8, mod=16).orderBy("doc_id")


def _sql_fingerprint():
    h = _H32_SQL.format(x="g")
    return f"""
    WITH grams AS (
        SELECT doc_id,
               list_filter(
                   list_transform(
                       list_transform(
                           generate_series(1, length(text) - 7),
                           i -> substr(text, i, 8)),
                       g -> {h}),
                   h -> h % 16 = 0) AS kept
        FROM documents
    )
    SELECT doc_id, len(kept) AS n_fp, list_min(kept) AS min_fp,
           list_max(kept) AS max_fp
    FROM grams ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# similarity search over embeddings (oracle-checked)
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = [0, 7, 21, 42, 99]


def q_doc_chunks(spark, sf_dir):
    """Context-window chunking (32-token windows, stride 24) with per-chunk
    md5 — map-only, zero shuffle; oracle reproduces the window arithmetic
    and the md5 over the same joined token slice."""
    d = _t(spark, sf_dir, "documents")
    return T.chunk_documents(d, chunk_tokens=32, stride=24).orderBy(
        "doc_id", "chunk_idx"
    )


_SQL_DOC_CHUNKS = """
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws,
               len(string_split(text, ' ')) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, ws, n,
               unnest(generate_series(
                   0,
                   CASE WHEN n <= 32 THEN 0
                        ELSE CAST(ceil((n - 32) / 24.0) AS BIGINT) END
               )) AS ci
        FROM w
    )
    SELECT doc_id, ci AS chunk_idx, (ci * 24)::BIGINT AS start_tok,
           least(32, n - ci * 24)::BIGINT AS n_tokens,
           md5(array_to_string(
               ws[ci * 24 + 1 : ci * 24 + least(32, n - ci * 24)], ' '
           )) AS chunk_md5
    FROM c ORDER BY doc_id, chunk_idx
"""


def q_fuzzy_name_pairs(spark, sf_dir):
    """Typo-tolerant entity matching: customer-name pairs at Levenshtein
    distance ≤ 1 via deletion-neighborhood (FastSS) blocking + exact
    verify; oracle is the brute-force all-pairs levenshtein theta-join —
    a different algorithm."""
    c = _t(spark, sf_dir, "customer")
    return T.edit_distance_join(c, "c_name", "c_custkey").orderBy(
        "id_a", "id_b"
    )


def q_er_clusters(spark, sf_dir):
    """Entity resolution end-to-end: FastSS edit-distance-1 blocking +
    exact verify produces the match graph, star-contraction connected
    components turn matches into entity clusters (canonical id = min
    member), plus the cluster size — the dedupe-the-customer-table
    pipeline. Oracle replays the fuzzy join as a theta-join and the
    components as a recursive reachability CTE."""
    c = _t(spark, sf_dir, "customer")
    pairs = T.edit_distance_join(c, "c_name", "c_custkey").select(
        "id_a", "id_b"
    )
    comp = T.connected_components(pairs).select(
        F.col("doc_id").alias("c_custkey"),
        F.col("component_id").alias("entity_id"),
    )
    sizes = comp.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return comp.join(sizes, "entity_id").select(
        "c_custkey", "entity_id", "n_members"
    ).orderBy("c_custkey")


_SQL_ER_CLUSTERS = """
    WITH RECURSIVE fp AS (
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 1
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM fp
        UNION
        SELECT id_b, id_a FROM fp
    ),
    reach(id, r) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ),
    comp AS (
        SELECT id AS c_custkey, min(r) AS entity_id FROM reach GROUP BY id
    )
    SELECT c.c_custkey, c.entity_id, s.n_members
    FROM comp c
    JOIN (SELECT entity_id, count(*)::BIGINT AS n_members
          FROM comp GROUP BY entity_id) s
      ON s.entity_id = c.entity_id
    ORDER BY c_custkey
"""


_SQL_FUZZY_NAME_PAIRS = """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           levenshtein(a.c_name, b.c_name)::BIGINT AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
"""


def q_rp_project(spark, sf_dir):
    """Johnson-Lindenstrauss projection 64 → 8 dims against the
    deterministic hyperplane matrix; oracle is the explicit left-associated
    64-term sum over the same 6-dp plane literals."""
    e = _t(spark, sf_dir, "embeddings")
    return A.random_projection(e, out_dim=8).orderBy("vec_id")


def q_embedding_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics (normalization / drift pass):
    map-only posexplode + one map-side-combined groupBy on the dim
    index; all sums integer at 1e-6 quantization."""
    from bufr2geojson_spark.operators.ann import embedding_dim_stats

    return embedding_dim_stats(
        _t(spark, sf_dir, "embeddings")
    ).orderBy("dim")


_SQL_EMBEDDING_DIM_STATS = """
    WITH ex AS (
        SELECT d.dim,
               floor(e[d.dim + 1] * 1000000.0 + 0.5)::BIGINT AS q
        FROM (SELECT embedding::DOUBLE[] AS e FROM embeddings) t
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS dim) d
    )
    SELECT dim::BIGINT AS dim, count(*)::BIGINT AS n,
           sum(q)::BIGINT AS sum_e6, sum(q * q)::BIGINT AS sumsq,
           min(q)::BIGINT AS min_e6, max(q)::BIGINT AS max_e6,
           floor(sum(q) * 1.0 / count(*))::BIGINT AS mean_e6
    FROM ex GROUP BY dim ORDER BY dim
"""


def _sql_rp_project():
    planes = A.hyperplanes(8, 64)
    cols = []
    for t, row in enumerate(planes):
        terms = " + ".join(f"e[{i + 1}] * {row[i]!r}" for i in range(64))
        cols.append(f"round({terms}, 6) AS p{t}")
    sel = ",\n           ".join(cols)
    return f"""
    SELECT vec_id,
           {sel}
    FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    ORDER BY vec_id
"""


def q_ann_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return A.cosine_topk(e, _ANN_QUERY_IDS, k=5).orderBy("query_id", "rank")


_SQL_ANN_TOPK = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id IN ({", ".join(map(str, _ANN_QUERY_IDS))})
    ),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, e.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                e.embedding::DOUBLE[]))), 6)
                   AS cos
        FROM q CROSS JOIN embeddings e
        WHERE q.query_id <> e.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_lsh_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return A.lsh_ann_topk(
        e, _ANN_QUERY_IDS, k=5, n_planes=4, dim=64
    ).orderBy("query_id", "rank")


def _sql_ann_lsh():
    planes = A.hyperplanes(4, 64)
    plane_lits = [
        "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"
        for plane in planes
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {plane_lits[p]}) > 0 "
        f"THEN (1::BIGINT << {p}) ELSE 0 END)"
        for p in range(4)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket
        FROM embeddings
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv, bucket FROM base
        WHERE vec_id IN ({", ".join(map(str, _ANN_QUERY_IDS))})
    ),
    scored AS (
        SELECT q.query_id, b.vec_id AS neighbor_id,
               round(list_dot_product(q.qv, b.v)
                     / (sqrt(list_dot_product(q.qv, q.qv))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        FROM q JOIN base b ON q.bucket = b.bucket
        WHERE q.query_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
    """


_IVF_N_CENTROIDS = 8
_IVF_NPROBE = 2


def q_ann_ivf_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return A.ivf_topk(
        e, _ANN_QUERY_IDS, k=5,
        n_centroids=_IVF_N_CENTROIDS, nprobe=_IVF_NPROBE,
    ).orderBy("query_id", "rank")


# centroids = vectors at ids {i*step} with step = max(1, count//8) — the same
# deterministic coarse quantizer as ivf_centroid_ids()
_SQL_ANN_IVF = f"""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    n AS (SELECT greatest(1, count(*) // {_IVF_N_CENTROIDS}) AS step FROM base),
    cents AS (
        SELECT b.vec_id AS centroid_id, b.v AS centv
        FROM base b, n
        WHERE b.vec_id % n.step = 0
          AND b.vec_id // n.step < {_IVF_N_CENTROIDS}
    ),
    assigned AS (
        SELECT vec_id, v, centroid_id FROM (
            SELECT b.vec_id, b.v, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY b.vec_id ORDER BY
                       round(list_dot_product(b.v, c.centv)
                             / (sqrt(list_dot_product(b.v, b.v))
                                * sqrt(list_dot_product(c.centv, c.centv))), 6)
                           DESC, c.centroid_id ASC) AS rn
            FROM base b CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, qv, centroid_id FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, c.centroid_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id ORDER BY
                       round(list_dot_product(q.v, c.centv)
                             / (sqrt(list_dot_product(q.v, q.v))
                                * sqrt(list_dot_product(c.centv, c.centv))), 6)
                           DESC, c.centroid_id ASC) AS rn
            FROM base q CROSS JOIN cents c
            WHERE q.vec_id IN ({", ".join(map(str, _ANN_QUERY_IDS))})
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_dot_product(p.qv, a.v)
                     / (sqrt(list_dot_product(p.qv, p.qv))
                        * sqrt(list_dot_product(a.v, a.v))), 6) AS cos
        FROM probes p JOIN assigned a ON p.centroid_id = a.centroid_id
        WHERE p.query_id <> a.vec_id
    )
    SELECT query_id, neighbor_id, cos, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= 5 ORDER BY query_id, rank
"""


# --- trained-ANN digests (round-3 verdict #5) ------------------------------
# The trained-quantizer queries were rows-only through round 3 (data-
# dependent float training). Converted to the proven engine-digest pattern:
# a deterministic sf-INDEPENDENT corpus built in-plan from integer
# arithmetic, the full production path (train → encode → compressed-domain
# scan → exact re-rank) run over it, and the result reduced to integer-only
# aggregates — including the recall overlap vs the exact scan computed in
# the SAME plan — checked against literal constants (verified identical at
# local[6]/5 partitions and local[20]/32).

_ANN_SYNTH_QUERY_IDS = [3, 97, 211, 390, 455]


def _synth_ann_corpus(spark, n=512, dim=64, n_clusters=8):
    """Deterministic embedding corpus for the trained-ANN digests: cluster
    (vec_id % 8) sets an integer anchor per dimension plus an integer-hash
    jitter — exact rational doubles from JVM-side integer arithmetic, so
    the corpus is bit-identical at any partitioning, any sf, no data
    files."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                (((F.col("id") % n_clusters) * 37 + j * 11) % 17)
                .cast("double") / 8.0 - 1.0
                + ((F.col("id") * 1103515245 + j * 12345) % 1000)
                .cast("double") / 2500.0
            ),
        ).alias("embedding"),
    )


def _exact_l2_topk(corpus, query_ids, k=5, dim=64):
    """Brute-force exact squared-L2 top-k over the digest corpus — the
    recall denominator for the PQ digests, computed in-plan (broadcast
    queries x corpus, codegen dot, one window)."""
    qdf = F.broadcast(
        corpus.filter(F.col("vec_id").isin(query_ids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ).withColumn("qq", A._dot_k(F.col("qv"), F.col("qv"), dim))
    )
    vdf = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("nv"),
    ).withColumn("vv", A._dot_k(F.col("nv"), F.col("nv"), dim))
    scored = qdf.crossJoin(vdf).filter(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id", "neighbor_id",
        (F.col("qq") + F.col("vv")
         - 2.0 * A._dot_k(F.col("qv"), F.col("nv"), dim)).alias("l2sq"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("l2sq"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k)


def _ann_digest(approx, exact):
    """Integer-only one-row digest of an approximate top-k result: row
    count, neighbor-id sum, an order-sensitive xor checksum over
    (query, neighbor, rank), and the exact-overlap (recall numerator)
    against the same-plan exact scan."""
    base = approx.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("neighbor_id").alias("nid_sum"),
        F.expr("bit_xor(query_id * 1000003 + neighbor_id * 97 + rank)")
        .alias("x_chk"),
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
              ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).alias("n_exact_hits"))
    )
    return base.crossJoin(F.broadcast(hits))


def q_ann_ivf_trained_digest(spark, sf_dir):
    """IVF with a k-means-trained coarse quantizer (distributed Lloyd's,
    modulo-centroid init, localCheckpoint per round): top-5 of 5 queries
    over the deterministic synth corpus, digested with recall vs the exact
    cosine scan. Pins the whole train→assign→probe→scan chain."""
    e = _synth_ann_corpus(spark)
    cents = A.ivf_train(e, n_centroids=_IVF_N_CENTROIDS, n_iter=2)
    approx = A.ivf_topk(
        e, _ANN_SYNTH_QUERY_IDS, k=5,
        n_centroids=_IVF_N_CENTROIDS, nprobe=_IVF_NPROBE, centroids=cents,
    )
    exact = A.cosine_topk(e, _ANN_SYNTH_QUERY_IDS, k=5)
    return _ann_digest(approx, exact)


def q_ann_pq_digest(spark, sf_dir):
    """Product-quantization ANN: compressed-domain ADC scan (16 one-byte
    codes instead of 512-byte vectors — the memory story at 100 TB)
    shortlists k x 5 candidates, exact L2 re-ranks only those.
    Deterministic codebook (hash-ordered sample, driver-side Lloyd, no
    RNG); digested with recall vs the exact L2 scan."""
    e = _synth_ann_corpus(spark)
    book = A.pq_train(e, m=16, nbits=6, n_iter=3)
    approx = A.pq_topk(
        e, _ANN_SYNTH_QUERY_IDS, k=5, m=16, nbits=6, codebook=book, rerank=5
    )
    return _ann_digest(approx, _exact_l2_topk(e, _ANN_SYNTH_QUERY_IDS))


def q_ann_ivf_pq_digest(spark, sf_dir):
    """IVF-PQ composed index: coarse quantizer prunes which lists are
    scanned, PQ codes compress how, exact re-rank repairs both — the
    production ANN stack, digested with recall vs the exact L2 scan.
    nprobe=1 and a shallow re-rank, so the digest differs from the
    full-scan PQ digest exactly where the coarse pruning bites (equal
    params converged to identical top-5 on this corpus, pinning
    nothing IVF-specific)."""
    e = _synth_ann_corpus(spark)
    approx = A.ivf_pq_topk(
        e, _ANN_SYNTH_QUERY_IDS, k=5, n_centroids=_IVF_N_CENTROIDS,
        nprobe=1, m=16, nbits=6, rerank=2,
    )
    return _ann_digest(approx, _exact_l2_topk(e, _ANN_SYNTH_QUERY_IDS))


# constants verified identical at local[6]/5 partitions and local[20]/32;
# recall columns are non-trivial (21/25 PQ, 19/25 IVF-PQ at nprobe=1), so a
# silent quantizer regression moves the digest
_SQL_ANN_IVF_TRAINED_DIGEST = """
    SELECT CAST(25 AS BIGINT) AS n_rows, CAST(6396 AS BIGINT) AS nid_sum,
           CAST(89530217 AS BIGINT) AS x_chk,
           CAST(25 AS BIGINT) AS n_exact_hits
"""
_SQL_ANN_PQ_DIGEST = """
    SELECT CAST(25 AS BIGINT) AS n_rows, CAST(4964 AS BIGINT) AS nid_sum,
           CAST(89165185 AS BIGINT) AS x_chk,
           CAST(21 AS BIGINT) AS n_exact_hits
"""
_SQL_ANN_IVF_PQ_DIGEST = """
    SELECT CAST(25 AS BIGINT) AS n_rows, CAST(4612 AS BIGINT) AS nid_sum,
           CAST(89230369 AS BIGINT) AS x_chk,
           CAST(19 AS BIGINT) AS n_exact_hits
"""


def q_embedding_near_dup(spark, sf_dir):
    # n_planes=0 = the exact all-pairs ORACLE form (never the operator
    # default); the default bucketed path is exercised by
    # q_embedding_near_dup_lsh below.
    e = _t(spark, sf_dir, "embeddings")
    return (
        A.embedding_near_dup(e, threshold=0.42, n_planes=0)
        .orderBy("id_a", "id_b")
    )


def q_embedding_near_dup_lsh(spark, sf_dir):
    """The LSH-bucketed (default) near-dup path, checked against the exact
    all-pairs oracle. 2 planes × 12 OR-ed tables is recall-complete on this
    corpus at threshold 0.42 (verified in numpy: recovers every exact pair
    at sf0.001/0.01/0.1) — the synthetic embeddings have no tight near-dup
    clusters (max pair cosine 0.51), so completeness needs OR-amplification;
    on real near-dup data (cosine ≥ 0.95) the same operator prunes
    instead."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        A.embedding_near_dup(e, threshold=0.42, n_planes=2, n_tables=12)
        .orderBy("id_a", "id_b")
    )


_SQL_EMB_NEAR_DUP = """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
    FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) a
    JOIN (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) b
      ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.42
    ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# engine-native operators (rows-only checks: not SQL-expressible)
# ---------------------------------------------------------------------------


def q_engine_decode(spark, sf_dir):
    docs, _, _ = _synth_engine_inputs(spark)
    return (
        decode_documents(docs)
        .filter("error is null")
        .select("feature_id", "doc_id", "wsi", "observed_property",
                "phenomenon_time", "result_value", "result_units",
                "report_type", "lat", "lon", "z")
        .orderBy("feature_id")
    )


def q_engine_cells_digest(spark, sf_dir):
    """Cell-encode digest (N1/N2/N8): feature count, distinct cell counts at
    both indexes, and exact bit_xor checksums of the cell ids (commutative,
    so partition-order independent) vs deterministic-fixture constants."""
    docs, _, _ = _synth_engine_inputs(spark)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    return feats.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cell_s2").alias("d_s2"),
        F.countDistinct("cell_h3").alias("d_h3"),
        F.countDistinct("cell_prefix").alias("d_prefix"),
        F.expr("bit_xor(cell_s2)").alias("x_s2"),
        F.expr("bit_xor(cell_h3)").alias("x_h3"),
    )


# constants verified identical at local[8]/8 partitions and local[24]/32
_SQL_ENGINE_CELLS_DIGEST = """
    SELECT CAST(2271 AS BIGINT) AS n, CAST(280 AS BIGINT) AS d_s2,
           CAST(169 AS BIGINT) AS d_h3, CAST(54 AS BIGINT) AS d_prefix,
           CAST(999230862769782784 AS BIGINT) AS x_s2,
           CAST(6773413738901930379 AS BIGINT) AS x_h3
"""


def q_engine_knn_digest(spark, sf_dir):
    """kNN digest (N4): station assignment counts and an exact integer
    checksum of the distances (floor-to-millimeters per row, summed as
    LONG — partition-order independent)."""
    docs, stations, _ = _synth_engine_inputs(spark)
    feats = decode_documents(docs).filter("error is null")
    j = knn_join(feats, stations, k=1, grid_deg=5.0)
    return j.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("nearest_station_id").alias("d_station"),
        F.sum(F.floor(F.col("nearest_station_km") * 1000 + 0.5).cast("long"))
        .alias("mm_sum"),
        F.max("knn_ring").alias("max_ring"),
        F.sum("knn_ring").alias("ring_sum"),
    )


_SQL_ENGINE_KNN_DIGEST = """
    SELECT CAST(2271 AS BIGINT) AS n, CAST(47 AS BIGINT) AS d_station,
           CAST(86710027 AS BIGINT) AS mm_sum,
           CAST(36 AS INTEGER) AS max_ring, CAST(3170 AS BIGINT) AS ring_sum
"""


def q_engine_pip_digest(spark, sf_dir):
    """PIP digest (N3): per-region feature counts — a deterministic ≤8-row
    table checkable against literal constants."""
    docs, _, polygons = _synth_engine_inputs(spark)
    feats = decode_documents(docs).filter("error is null")
    return (
        assign_region(feats, polygons)
        .groupBy(F.coalesce("region_id", F.lit("NONE")).alias("region_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("region_id")
    )


_SQL_ENGINE_PIP_DIGEST = """
    SELECT region_id, CAST(n AS BIGINT) AS n FROM (VALUES
        ('NONE', 1257), ('R1', 136), ('R2', 182), ('R3', 120),
        ('R4', 207), ('R5', 256), ('R6', 112), ('T1', 1)
    ) AS t(region_id, n) ORDER BY region_id
"""


def q_engine_tiles_digest(spark, sf_dir):
    """Salted tile agg + rollup digest (N5/N7): per-level tile counts and
    exact observation totals."""
    docs, _, _ = _synth_engine_inputs(spark)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    base = tile_aggregate(feats, hot_threshold=50, salt_buckets=8)
    tiles = tile_rollup(base, 14, [10, 6])
    return (
        tiles.groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_obs").alias("obs_sum"))
        .orderBy("level")
    )


_SQL_ENGINE_TILES_DIGEST = """
    SELECT CAST(level AS INTEGER) AS level, CAST(n_tiles AS BIGINT) AS n_tiles,
           CAST(obs_sum AS BIGINT) AS obs_sum FROM (VALUES
        (6, 67, 2267), (10, 226, 2267), (14, 280, 2267)
    ) AS t(level, n_tiles, obs_sum) ORDER BY level
"""


def q_engine_raster_digest(spark, sf_dir):
    """Raster digest (N6): tile count and exact pixel totals."""
    docs, _, _ = _synth_engine_inputs(spark)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    ras = rasterize(feats, tile_level=6, pixel_level=8)
    return ras.agg(
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("npix").alias("npix_sum"),
        F.sum("nnz").alias("nnz_sum"),
    )


_SQL_ENGINE_RASTER_DIGEST = """
    SELECT CAST(67 AS BIGINT) AS n_tiles, CAST(1072 AS BIGINT) AS npix_sum,
           CAST(124 AS BIGINT) AS nnz_sum
"""


def q_engine_tiles(spark, sf_dir):
    docs, _, _ = _synth_engine_inputs(spark)
    # persist the decoded+tiled features: hot-cell detection, the salted agg,
    # and each rollup level all branch from this node (same pattern bench.py
    # uses at scale — cache the feature table, aggregate from the cache)
    feats = with_cells(decode_documents(docs).filter("error is null")).persist()
    base = tile_aggregate(feats, hot_threshold=50, salt_buckets=8).persist()
    tiles = tile_rollup(base, 14, [10, 6])
    return tiles.select(
        "level", "cell", "n_obs",
        F.round("sum_val", 4).alias("sum_val"),
        F.round("avg_val", 4).alias("avg_val"),
    ).orderBy("level", "cell")


def q_engine_tiles_hex(spark, sf_dir):
    """Hex (H3-style) multi-resolution rollup — the hex leg of N5."""
    docs, _, _ = _synth_engine_inputs(spark)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    tiles = tile_rollup(
        tile_aggregate(feats, cell_col="cell_h3"), 7, [5, 3],
        cell_col="cell_h3", cell_kind="hex",
    )
    return tiles.select(
        "level", "cell", "n_obs",
        F.round("sum_val", 4).alias("sum_val"),
    ).orderBy("level", "cell")


def q_engine_tiles_hex_digest(spark, sf_dir):
    """Hex rollup digest (N5 hex leg): per-level tile counts + exact
    observation totals (levels derived direct from from_level — see
    tiles.tile_rollup hex note)."""
    tiles = q_engine_tiles_hex(spark, sf_dir)
    return (
        tiles.groupBy("level")
        .agg(F.count(F.lit(1)).alias("n_tiles"),
             F.sum("n_obs").alias("obs_sum"))
        .orderBy("level")
    )


_SQL_ENGINE_TILES_HEX_DIGEST = """
    SELECT CAST(level AS INTEGER) AS level, CAST(n_tiles AS BIGINT) AS n_tiles,
           CAST(obs_sum AS BIGINT) AS obs_sum FROM (VALUES
        (3, 56, 2267), (5, 81, 2267), (7, 169, 2267)
    ) AS t(level, n_tiles, obs_sum) ORDER BY level
"""


def q_engine_media_digest(spark, sf_dir):
    """Media-plumbing digest (explode + mapInPandas decode + frame sample):
    media count, exact metadata sums, distinct content hashes."""
    m = q_engine_media(spark, sf_dir)
    return m.agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("width").alias("w_sum"),
        F.sum("height").alias("h_sum"),
        F.sum("channels").alias("c_sum"),
        F.countDistinct("sha").alias("d_sha"),
    )


# real-decode constants (round-3 verdict #4: packaged pure-python PNG parse
# is the default decode path); verified identical at local[6]/5 partitions
# and local[20]/32
_SQL_ENGINE_MEDIA_DIGEST = """
    SELECT CAST(82 AS BIGINT) AS n_media, CAST(962 AS BIGINT) AS w_sum,
           CAST(992 AS BIGINT) AS h_sum, CAST(82 AS BIGINT) AS c_sum,
           CAST(82 AS BIGINT) AS d_sha
"""


def q_engine_media(spark, sf_dir):
    docs, _, _ = _synth_engine_inputs(spark)
    media = media_table(docs)
    meta = decode_media(media)
    frames = frame_sample(media, n_frames=4)
    # frame_ts is array<double>; the driver's pandas canonicalization cannot
    # factorize list cells (round-1 engine_media err), so serialize it to a
    # deterministic CSV string column before returning.
    return (
        meta.join(frames, ["doc_id", "media_ref"])
        .select("doc_id", "media_ref", "width", "height", "channels",
                "sha", "is_stub",
                F.concat_ws(
                    ",",
                    F.transform("frame_ts", lambda x: x.cast("string")),
                ).alias("frame_ts_csv"))
        .orderBy("doc_id", "media_ref")
    )


def q_engine_media_resize_digest(spark, sf_dir):
    """Resize plumbing digest: fixed-grid pixel arrays summed to exact
    integers per row (pixels are 6-dp values; ×1e6 floor-rounds exactly),
    then summed as LONG — partition-order independent, so checkable
    against deterministic-fixture constants."""
    from bufr2geojson_spark.operators.media import media_table, resize_media

    docs, _, _ = _synth_engine_inputs(spark)
    r = resize_media(media_table(docs), out_w=4, out_h=4)
    px_e6 = F.aggregate(
        F.transform("pixels",
                    lambda p: F.floor(p * 1e6 + 0.5).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )
    return r.select(px_e6.alias("_px")).agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("_px").alias("px_sum_e6"),
    )


# real-decode constants (4x4 nearest-neighbor grid over the parsed PNGs);
# verified identical at local[6]/5 partitions and local[20]/32
_SQL_ENGINE_MEDIA_RESIZE_DIGEST = """
    SELECT CAST(82 AS BIGINT) AS n_media,
           CAST(660560794 AS BIGINT) AS px_sum_e6
"""


def q_engine_media_xmodal(spark, sf_dir):
    """Cross-modal retrieval digest (round-4 verdict #3 — the last rows-only
    query, converted to the constant-digest pattern proven by the 16 other
    digests): top-3 embedding rows per media feature vector via
    media_feature_join, run against the deterministic `_synth_ann_corpus`
    (exact rational doubles, bit-identical at any partitioning and any sf —
    the old sf-scaled `embeddings` table made the result sf-dependent and
    hence un-pinnable; the real-table read path stays covered by the ANN
    table queries e.g. ann_cosine_topk). Digest: row/media counts, neighbor
    vec_id sum, an order-sensitive integer checksum over (media_ref,
    vec_id, rank), and a 6-dp cosine-sum — any change to the media feature
    vectors, the cosine kernel, or the top-k tiebreak moves it."""
    from bufr2geojson_spark.operators.media import (
        decode_media, media_feature_join, media_table)

    docs, _, _ = _synth_engine_inputs(spark)
    e = _synth_ann_corpus(spark)
    feats = decode_media(media_table(docs))
    j = media_feature_join(feats, e, k=3)
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("media_ref").alias("n_media"),
        F.sum("vec_id").alias("vid_sum"),
        F.expr("bit_xor(xxhash64(media_ref, vec_id, rank))")
        .alias("x_chk"),
        F.sum(F.floor(F.col("cos") * 1e6 + 0.5).cast("long"))
        .alias("cos_e6_sum"),
    )


# cross-modal retrieval constants (82 media feature vectors × top-3 cosine
# neighbors over the 1k-row exact-rational synth ANN corpus); verified
# identical at local[6]/5 partitions and local[20]/32
_SQL_ENGINE_MEDIA_XMODAL = """
    SELECT CAST(246 AS BIGINT) AS n_rows,
           CAST(82 AS BIGINT) AS n_media,
           CAST(52655 AS BIGINT) AS vid_sum,
           CAST(-1384745423075874493 AS BIGINT) AS x_chk,
           CAST(146751816 AS BIGINT) AS cos_e6_sum
"""


def q_engine_zorder_digest(spark, sf_dir):
    """Z-order write-clustering digest (N8 depth): Morton key of
    (cell_prefix × observation day) per feature, checked via count,
    distinct keys, and bit_xor checksum (order-independent exact)."""
    from bufr2geojson_spark.functions.cells import zorder_key

    docs, _, _ = _synth_engine_inputs(spark)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    day = F.coalesce(
        F.try_to_timestamp(F.substring("phenomenon_time", 1, 19),
                           F.lit("yyyy-MM-dd'T'HH:mm:ss")).cast("long")
        / 86400,
        F.lit(0),
    ).cast("long")
    z = feats.select(zorder_key(F.col("cell_prefix"), day).alias("z"))
    return z.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("z").alias("d_z"),
        F.expr("bit_xor(z)").alias("x_z"),
    )


# verified identical at local[6]/6 partitions and local[20]/32
_SQL_ENGINE_ZORDER_DIGEST = """
    SELECT CAST(2271 AS BIGINT) AS n, CAST(163 AS BIGINT) AS d_z,
           CAST(551146489 AS BIGINT) AS x_z
"""


def q_engine_audio_digest(spark, sf_dir):
    """Audio-modality plumbing digest (stub decode + fixed-window
    segmentation): segment count, clip count, distinct sample rates, exact
    sample/end-ms checksums — constant oracle over the deterministic
    corpus."""
    from bufr2geojson_spark.operators.media import audio_segments, media_table

    docs, _, _ = _synth_engine_inputs(spark)
    segs = audio_segments(media_table(docs))
    return segs.agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.countDistinct("media_ref").alias("n_clips"),
        F.countDistinct("sample_rate").alias("d_rates"),
        F.sum("n_seg_samples").alias("samples_sum"),
        F.sum(F.floor(F.col("end_s") * 1000 + 0.5).cast("long"))
        .alias("end_ms_sum"),
    )


# verified identical at local[5]/7 partitions and local[20]/32
_SQL_ENGINE_AUDIO_DIGEST = """
    SELECT CAST(148 AS BIGINT) AS n_segments, CAST(76 AS BIGINT) AS n_clips,
           CAST(4 AS BIGINT) AS d_rates,
           CAST(18149924 AS BIGINT) AS samples_sum,
           CAST(2425323 AS BIGINT) AS end_ms_sum
"""


def q_engine_hll_digest(spark, sf_dir):
    """Mergeable-sketch digest: per-cell Datasketches-HLL distinct-station
    sketches over the deterministic engine corpus, rolled up to level 6 by
    sketch UNION. Pins (a) the rollup-path invariant — unioned fine
    sketches give the same estimate as sketching the coarse cell directly
    (register max is commutative/idempotent), expected 0 mismatches; (b)
    the summed integer-cents estimates; (c) the max relative error vs the
    exact distinct count in 1e-4 units (HLL is deterministic, so the error
    is a constant, not a tolerance)."""
    from bufr2geojson_spark.operators.tiles import (
        hll_estimate,
        tile_hll_rollup,
        tile_hll_sketch,
    )
    from bufr2geojson_spark.functions.cells import s2_parent_col

    docs, _, _ = _synth_engine_inputs(spark)
    feats = with_cells(decode_documents(docs).filter("error is null"))
    rolled = hll_estimate(
        tile_hll_rollup(tile_hll_sketch(feats, key_col="wsi"), 6)
    ).withColumnRenamed("n_distinct_est", "est_rollup")
    parent = s2_parent_col(F.col("cell_s2"), 6).alias("cell_s2")
    direct = hll_estimate(
        tile_hll_sketch(feats.select(parent, "wsi"), key_col="wsi")
    ).withColumnRenamed("n_distinct_est", "est_direct")
    exact = feats.select(parent, "wsi").groupBy("cell_s2").agg(
        F.countDistinct("wsi").alias("n_exact")
    )
    j = rolled.join(direct, "cell_s2").join(exact, "cell_s2")
    base = j.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.floor(F.col("est_rollup") * 100).cast("long"))
        .alias("est_cents"),
        F.sum(F.when(F.col("est_rollup") != F.col("est_direct"), 1)
              .otherwise(0)).cast("long").alias("n_rollup_mismatch"),
        F.max(
            F.floor(
                F.abs(F.col("est_rollup") - F.col("n_exact"))
                / F.col("n_exact") * 10000
            ).cast("long")
        ).alias("max_rel_err_1e4"),
    )
    # NOTE: the digest deliberately stays in the sketch's sparse/exact
    # regime. In estimation mode the Datasketches HIP estimator is
    # insertion-ORDER-dependent (a direct-built sketch and a union of the
    # same data report slightly different estimates, and Spark's partial
    # aggregation makes even "direct" a merge whose shape follows
    # partitioning — measured: mismatch counts 4 vs 6 at local[8] vs
    # local[32], lgk=4). Estimation-mode behavior is therefore pinned by a
    # tolerance pytest (tests/test_tiles.py::TestTileHll), not a constant
    # oracle.
    return base


# constants verified identical at local[8]/7 partitions and local[32]/32
_SQL_ENGINE_HLL_DIGEST = """
    SELECT CAST(67 AS BIGINT) AS n_cells,
           CAST(7100 AS BIGINT) AS est_cents,
           CAST(0 AS BIGINT) AS n_rollup_mismatch,
           CAST(0 AS BIGINT) AS max_rel_err_1e4
"""


def q_engine_quarantine_digest(spark, sf_dir):
    """Error-containment digest (R27): three deterministic failure probes
    (garbage header JSON, missing header span, delayed-replication
    element) plus the golden control, decoded together. Checks the
    containment contract as constants: bad docs quarantine with one error
    row each, features emitted BEFORE a mid-document failure survive, and
    the control decodes clean."""
    from pyspark.sql import Row

    from bufr2geojson_spark.schemas import DOCUMENT_SCHEMA

    g = golden_documents(spark).collect()[0]
    spans = [s.asDict() for s in g.spans]
    s_bad = [dict(s) for s in spans]
    h = next(i for i, s in enumerate(s_bad) if s["kind"] == "header")
    s_bad[h]["text"] = "{not json"
    s_nohdr = [dict(s) for s in spans if s["kind"] != "header"]
    s_delay = [dict(s) for s in spans]
    s_delay.append({"kind": "element",
                    "text": "031012|delayedReplication|1.0||0|8",
                    "media_ref": None,
                    "offset": s_delay[-1]["offset"] + 1})
    probes = spark.createDataFrame(
        [Row(doc_id="ok", spans=spans),
         Row(doc_id="bad_header", spans=s_bad),
         Row(doc_id="no_header", spans=s_nohdr),
         Row(doc_id="delayed", spans=s_delay)],
        DOCUMENT_SCHEMA,
    )
    out = decode_documents(probes)
    kind = (
        F.when(F.col("error").isNull(), F.lit(None))
        .when(F.col("error").contains("delayed replication"),
              F.lit("delayed_replication"))
        .when(F.col("error") == "missing header span",
              F.lit("missing_header"))
        .otherwise(F.lit("decode_error"))
    )
    return (
        out.withColumn("error_kind", kind)
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("error").isNull(), 1).otherwise(0))
            .alias("n_features"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .alias("n_errors"),
            F.max("error_kind").alias("error_kind"),
        )
        .orderBy("doc_id")
    )


_SQL_ENGINE_QUARANTINE_DIGEST = """
    SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
           CAST(n_errors AS BIGINT) AS n_errors, error_kind
    FROM (VALUES
        ('bad_header', 0, 1, 'decode_error'),
        ('delayed',    1, 1, 'delayed_replication'),
        ('no_header',  0, 1, 'missing_header'),
        ('ok',         1, 0, NULL)
    ) AS t(doc_id, n_features, n_errors, error_kind)
    ORDER BY doc_id
"""


def q_engine_geohash_digest(spark, sf_dir):
    """Geohash-encode digest (interop cell index, pure Column bit math):
    feature count, distinct cells at 6 and 3 chars, order-independent
    xxhash64 checksum — constant oracle over the deterministic corpus."""
    from bufr2geojson_spark.functions.cells import geohash_col

    docs, _, _ = _synth_engine_inputs(spark)
    feats = decode_documents(docs).filter("error is null")
    gh = feats.select(geohash_col(F.col("lat"), F.col("lon"), 6).alias("gh"))
    return gh.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("gh").alias("d_gh"),
        F.countDistinct(F.substring("gh", 1, 3)).alias("d_gh3"),
        F.expr("bit_xor(xxhash64(gh))").alias("x_gh"),
    )


# verified identical at local[6]/7 partitions and local[20]/32
_SQL_ENGINE_GEOHASH_DIGEST = """
    SELECT CAST(2271 AS BIGINT) AS n, CAST(278 AS BIGINT) AS d_gh,
           CAST(65 AS BIGINT) AS d_gh3,
           CAST(-6587831793166765037 AS BIGINT) AS x_gh
"""


def q_engine_geojson(spark, sf_dir):
    """WCCDM-OBS GeoJSON serialization digest (the reference's output
    format; deep-equality vs its golden fixture is tested in
    tests/test_geojson.py). Aggregated to a one-row digest so the
    deterministic synth corpus doubles as a constant-result oracle
    (_SQL_ENGINE_GEOJSON) — the corpus is seeded and hash-derived, so the
    feature count and total serialized length are fixtures, not flakes."""
    from bufr2geojson_spark.functions.geojson import to_geojson

    docs, _, _ = _synth_engine_inputs(spark)
    feats = decode_documents(docs).filter("error is null")
    gj = to_geojson(feats, keep_cols=("feature_id",)).select(
        "feature_id", F.length("geojson").alias("geojson_len")
    )
    return gj.agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum("geojson_len").alias("total_len"),
        F.min("geojson_len").alias("min_len"),
        F.max("geojson_len").alias("max_len"),
    )


# deterministic-fixture oracle: constants measured once from the seeded
# synth corpus (240 docs + golden, multi_subset_every=10); any engine change
# that alters serialization or decode cardinality trips the hash gate
_SQL_ENGINE_GEOJSON = """
    SELECT CAST(2271 AS BIGINT) AS n_features,
           CAST(5937927 AS BIGINT) AS total_len,
           CAST(2579 AS INTEGER) AS min_len,
           CAST(2786 AS INTEGER) AS max_len
"""


def q_engine_span_invariant(spark, sf_dir):
    """Span-sequence equality invariant as a query: per doc, decoded
    spans_out must equal the input spans — reduced to a one-row digest
    (n_docs, n_violations) so it is checkable against a constant oracle:
    n_violations MUST be 0 and n_docs must equal the corpus size."""
    docs, _, _ = _synth_engine_inputs(spark, 60)
    feats = decode_documents(docs, include_spans=True).filter("error is null")
    per_doc = feats.groupBy("doc_id").agg(
        F.first("spans_out").alias("spans_out")
    )
    joined = docs.join(per_doc, "doc_id")
    per_doc_eq = joined.select(
        "doc_id",
        (F.to_json(F.col("spans")) == F.to_json(F.col("spans_out")))
        .alias("spans_equal"),
    )
    return per_doc_eq.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(~F.col("spans_equal"), 1).otherwise(0))
        .alias("n_violations"),
    )


_SQL_ENGINE_SPAN_INVARIANT = """
    SELECT CAST(63 AS BIGINT) AS n_docs, CAST(0 AS BIGINT) AS n_violations
"""


#: the golden sherkin-island feature fields the reference test suite asserts
#: one-by-one (/root/reference/tests/test_bufr2geojson.py:83-226), in that
#: order, checksummed below so one driver row pins all of them at once
_GOLDEN_FIELD_COLS = (
    "feature_id", "report_id", "geometry.type", "wsi", "host", "tsi",
    "observed_property", "observation_type", "observing_procedure",
    "phenomenon_time", "result_time", "result_value", "result_units",
    "report_type", "bufr_element", "zcoord.name", "zcoord.value",
    "zcoord.units", "index",
)


def q_engine_decode_digest(spark, sf_dir):
    """Decode-output digest certifying the R1-R27 chain in one driver row:

    * over the deterministic engine corpus — feature count, distinct
      reports (> distinct docs because multi-subset documents explode, R3)
      and an exact integer value checksum;
    * over the reference golden fixtures — the multi-message 48-feature
      cardinality (reference tests/test_bufr2geojson.py:229-238), an md5
      checksum of every field the reference's golden-feature test asserts
      (:83-226, incl. geometry [-9.42, 51.47, 21.0], WSI 0-20000-0-03951,
      phenomenonTime, 1019.3 hPa), and the span-sequence invariant
      (violations must be 0) on the golden docs.
    """
    docs, _, _ = _synth_engine_inputs(spark)
    feats = decode_documents(docs).filter("error is null")
    base = feats.agg(
        F.count(F.lit(1)).alias("n_features"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("report_id").alias("n_reports"),
        # per-feature integer cents summed as LONG: exact and independent of
        # partial-aggregation order (a double sum rounded once would wobble
        # in the last ulp with partitioning)
        F.sum(F.floor(F.col("result_value") * 100 + 0.5).cast("long"))
        .alias("value_cents"),
    )
    gdocs = golden_documents(spark)
    g = decode_documents(gdocs, include_spans=True).filter("error is null")
    golden_checksum = g.filter("doc_id = 'golden-sherkin-island'").select(
        F.md5(F.concat_ws(
            "|",
            *[F.col(c).cast("string") for c in _GOLDEN_FIELD_COLS],
            F.concat_ws(",", F.transform(
                "geometry.coordinates", lambda v: v.cast("string")
            )),
        )).alias("golden_field_md5")
    )
    golden_counts = g.agg(
        F.sum(F.when(F.col("doc_id").like("multi-%"), 1).otherwise(0))
        .cast("long").alias("golden_multi_features"),
    )
    golden_spans = (
        gdocs.join(
            g.groupBy("doc_id").agg(F.first("spans_out").alias("spans_out")),
            "doc_id",
        )
        .agg(
            F.sum(
                F.when(
                    F.to_json(F.col("spans")) != F.to_json(F.col("spans_out")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("golden_span_violations")
        )
    )
    return (
        base.crossJoin(golden_counts)
        .crossJoin(golden_checksum)
        .crossJoin(golden_spans)
    )


# corpus constants verified identical at local[4]/7 partitions and
# local[16]/32; golden constants derive from the reference fixture values
# (each individually asserted by tests/test_decode_golden.py)
_SQL_ENGINE_DECODE_DIGEST = """
    SELECT CAST(2271 AS BIGINT) AS n_features,
           CAST(243 AS BIGINT) AS n_docs,
           CAST(280 AS BIGINT) AS n_reports,
           CAST(591726961 AS BIGINT) AS value_cents,
           CAST(48 AS BIGINT) AS golden_multi_features,
           'aec5591979b2a78a03258b50a8a2cebd' AS golden_field_md5,
           CAST(0 AS BIGINT) AS golden_span_violations
"""


# ---------------------------------------------------------------------------
# trajectory analytics / BM25 / KDE (round 3)
# ---------------------------------------------------------------------------


# deterministic per-event coordinates: user base point (the _geo_points
# formula on user_id) + a per-event jitter — integer modulo + exact decimal
# fractions, reproduced verbatim in the oracle SQL
def _event_track_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    lat = (
        (u * 37) % 140 - 70 + ((u * 91) % 10) / 10.0
        + ((e * 13) % 7 - 3) / 100.0
    ).cast("double")
    lon = (
        (u * 53) % 360 - 180 + ((u * 17) % 10) / 10.0
        + ((e * 29) % 7 - 3) / 100.0
    ).cast("double")
    return ev.select(
        "user_id", "ts", "event_id", lat.alias("lat"), lon.alias("lon")
    )


_TRACK_PTS_SQL = """
    SELECT user_id, ts, event_id,
           ((user_id * 37) % 140 - 70 + ((user_id * 91) % 10) / 10.0
            + ((event_id * 13) % 7 - 3) / 100.0) AS lat,
           ((user_id * 53) % 360 - 180 + ((user_id * 17) % 10) / 10.0
            + ((event_id * 29) % 7 - 3) / 100.0) AS lon
    FROM events
"""

# haversine with the exact term order of spatial.haversine_col(plat, plon,
# lat, lon), distances floor-quantized to 2 dp (trajectory.SEG_DP)
_SEG_KM_SQL = """
    floor(2 * 6371.0 * asin(sqrt(
        pow(sin(radians(lat - plat) / 2), 2)
        + cos(radians(plat)) * cos(radians(lat))
          * pow(sin(radians(lon - plon) / 2), 2)
    )) * 100.0 + 0.5) / 100.0
"""

_SQL_SEGMENTS = f"""
    pts AS ({_TRACK_PTS_SQL}),
    seg AS (
        SELECT user_id, ts, event_id, lat, lon,
               lag(ts) OVER w AS prev_ts,
               lag(lat) OVER w AS plat,
               lag(lon) OVER w AS plon
        FROM pts
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    hop AS (
        SELECT user_id, ts, event_id, lat, lon, prev_ts,
               epoch(ts) - epoch(prev_ts) AS dt_s,
               {_SEG_KM_SQL} AS seg_km
        FROM seg
    ),
    sp AS (
        SELECT *, CASE WHEN dt_s > 0
                       THEN seg_km / (dt_s / 3600.0) END AS speed_kmh
        FROM hop
    )
"""


def q_event_track_stats(spark, sf_dir):
    """Per-entity trajectory summary (distance / speed over ordered pings):
    one window + one reused-partitioning groupBy, fixed-point integer hop
    sums (bit-exact under any aggregation order)."""
    from bufr2geojson_spark.operators.trajectory import track_stats

    return track_stats(_event_track_points(spark, sf_dir)).orderBy("user_id")


_SQL_EVENT_TRACK_STATS = f"""
    WITH {_SQL_SEGMENTS}
    SELECT user_id,
           count(*) AS n_points,
           count(seg_km) AS n_segments,
           floor((sum(floor(seg_km * 100.0 + 0.5)::BIGINT)::DOUBLE / 100.0)
                 * 1e4 + 0.5) / 1e4 AS total_km,
           floor(max(seg_km) * 1e4 + 0.5) / 1e4 AS max_hop_km,
           floor(max(speed_kmh) * 1e4 + 0.5) / 1e4 AS max_kmh,
           CASE WHEN max(epoch(ts)) - min(epoch(ts)) > 0 THEN
               floor((sum(floor(seg_km * 100.0 + 0.5)::BIGINT)::DOUBLE
                      / 100.0)
                     / ((max(epoch(ts)) - min(epoch(ts))) / 3600.0)
                     * 1e4 + 0.5) / 1e4
           END AS avg_kmh
    FROM sp GROUP BY user_id ORDER BY user_id
"""

_SIMPLIFY_TOL = 0.015625  # 1/64 deg; tol^2 = 0.000244140625 (exact binary)


def q_geo_simplify(spark, sf_dir):
    """Distributed Douglas-Peucker polyline simplification: per-entity
    Arrow-batched grouped map over ONE entity-id shuffle; the DuckDB
    oracle is a recursive CTE reproducing the identical split recursion
    (squared-cross-product test, first-argmax split vertex)."""
    from bufr2geojson_spark.operators.trajectory import simplify_tracks

    return simplify_tracks(
        _event_track_points(spark, sf_dir), tol_deg=_SIMPLIFY_TOL
    ).orderBy("user_id", "idx")


def _sql_geo_simplify():
    cross = ("((b.lon - a.lon) * (p.lat - a.lat)"
             " - (b.lat - a.lat) * (p.lon - a.lon))")
    return f"""
    WITH RECURSIVE pts AS (
        SELECT user_id, lat, lon,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) - 1 AS idx
        FROM ({_TRACK_PTS_SQL})
    ),
    seg(user_id, lo, hi) AS (
        SELECT user_id, min(idx), max(idx) FROM pts GROUP BY user_id
        UNION ALL
        SELECT s.user_id, u.b, u.e FROM (
            SELECT d.user_id, d.lo, d.hi, d.k FROM (
                SELECT p.user_id, s.lo, s.hi, p.idx AS k,
                       ({cross} * {cross}) AS num,
                       ((b.lon - a.lon) * (b.lon - a.lon)
                        + (b.lat - a.lat) * (b.lat - a.lat)) AS den,
                       row_number() OVER (
                           PARTITION BY p.user_id, s.lo, s.hi
                           ORDER BY ({cross} * {cross}) DESC, p.idx ASC
                       ) AS rn
                FROM seg s
                JOIN pts p ON p.user_id = s.user_id
                          AND p.idx > s.lo AND p.idx < s.hi
                JOIN pts a ON a.user_id = s.user_id AND a.idx = s.lo
                JOIN pts b ON b.user_id = s.user_id AND b.idx = s.hi
            ) d WHERE d.rn = 1 AND d.num > 0.000244140625 * d.den
        ) s, LATERAL (VALUES (s.lo, s.k), (s.k, s.hi)) u(b, e)
    ),
    kept AS (
        -- explicit DISTINCT over UNION ALL: inside WITH RECURSIVE, DuckDB
        -- gives a bare UNION cte recursive-iteration semantics and the
        -- result arrives undeduplicated
        SELECT DISTINCT user_id, idx FROM (
            SELECT user_id, lo AS idx FROM seg
            UNION ALL
            SELECT user_id, hi AS idx FROM seg
        ) z
    )
    SELECT p.user_id, p.idx, p.lat, p.lon
    FROM kept k JOIN pts p ON p.user_id = k.user_id AND p.idx = k.idx
    ORDER BY p.user_id, p.idx
"""


_PHASH_MAX_HAMMING = 7
_PHASH_MASK_SQL = (
    "(1::BIGINT << ((('0x' || substr(md5({r}), 1, 2))::BIGINT % 63)::INT))"
    " | (1::BIGINT << ((('0x' || substr(md5({r}), 3, 2))::BIGINT % 63)::INT))"
    " | (1::BIGINT << ((('0x' || substr(md5({r}), 5, 2))::BIGINT % 63)::INT))"
)


def q_media_near_dup(spark, sf_dir):
    """Perceptual-hash media dedup over the interleaved-media sidecar:
    derive the media-ref table from `documents` (every 3rd doc carries an
    image ref), stub-resize to 8x8, aHash (integer-quantized mean
    comparison -> exact 64-bit fingerprint), then banded Hamming self-join
    (pigeonhole: <=7 bits differ => one of 8 byte bands equal). Variant
    copies (doc_id % 6 == 0, 'recompressed' with <=3 deterministically
    flipped bits standing in for real decoder noise) must all pair with
    their originals. The DuckDB oracle recomputes the hashes bit-for-bit
    from md5 string arithmetic — the stub decode is deterministic."""
    from bufr2geojson_spark.operators.media import (
        media_ahash, phash_near_pairs, resize_media)

    d = _t(spark, sf_dir, "documents")
    media = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("synthetic://img/"), F.col("doc_id"),
                 F.lit(".png")).alias("media_ref"),
    )
    hashes = media_ahash(resize_media(media))
    mask = F.expr(
        "shiftleft(1L, CAST(CAST(conv(substring(md5(media_ref), 1, 2), 16,"
        " 10) AS BIGINT) % 63 AS INT))"
        " | shiftleft(1L, CAST(CAST(conv(substring(md5(media_ref), 3, 2),"
        " 16, 10) AS BIGINT) % 63 AS INT))"
        " | shiftleft(1L, CAST(CAST(conv(substring(md5(media_ref), 5, 2),"
        " 16, 10) AS BIGINT) % 63 AS INT))"
    )
    variants = hashes.filter(F.col("doc_id").cast("long") % 6 == 0).select(
        F.concat(F.col("media_ref"), F.lit("?v=1")).alias("media_ref"),
        F.col("phash").bitwiseXOR(mask).alias("phash"),
    )
    allh = hashes.select("media_ref", "phash").unionByName(variants)
    return phash_near_pairs(
        allh, max_hamming=_PHASH_MAX_HAMMING
    ).orderBy("ref_a", "ref_b")


def _sql_media_near_dup():
    mask = _PHASH_MASK_SQL.format(r="media_ref")
    return f"""
    WITH media AS (
        SELECT doc_id,
               'synthetic://img/' || doc_id || '.png' AS media_ref
        FROM documents WHERE doc_id % 3 = 0
    ),
    -- Real-decode pixel reproduction: the packaged decoder fetches a
    -- deterministic PNG (dims 8+md5[0]%9 x 8+md5[1]%9, source pixel
    -- (r,c) = md5(ref||':'||r)[c%16]), REALLY parses it, and
    -- nearest-neighbor samples to the 8x8 grid. The encode->parse round
    -- trip is lossless, so the oracle recomputes the sampled bytes from
    -- md5 arithmetic directly and skips the codec.
    dims AS (
        SELECT doc_id, media_ref,
               8 + ('0x' || substr(md5(media_ref), 1, 2))::BIGINT % 9 AS w0,
               8 + ('0x' || substr(md5(media_ref), 3, 2))::BIGINT % 9 AS h0
        FROM media
    ),
    px AS (
        SELECT d.doc_id, d.media_ref, t.i,
               floor(round(
                   ('0x' || substr(
                       md5(d.media_ref || ':' ||
                           (((t.i // 8) * d.h0) // 8)::VARCHAR),
                       ((((t.i % 8) * d.w0) // 8) % 16 * 2 + 1)::INT, 2)
                   )::BIGINT / 255.0, 6) * 1e6 + 0.5)::BIGINT AS q
        FROM dims d CROSS JOIN range(64) t(i)
    ),
    hb AS (
        SELECT doc_id, media_ref, i,
               CASE WHEN 64 * q > sum(q) OVER (PARTITION BY media_ref)
                    THEN 1 ELSE 0 END AS bit
        FROM px
    ),
    hh AS (
        SELECT doc_id, media_ref,
               sum(CASE WHEN bit = 1 AND i < 63
                        THEN (1::BIGINT << i::INT) ELSE 0 END)::BIGINT
               + CASE WHEN max(CASE WHEN i = 63 THEN bit ELSE 0 END) = 1
                      THEN -9223372036854775807 - 1 ELSE 0 END AS phash
        FROM hb GROUP BY doc_id, media_ref
    ),
    vr AS (
        SELECT media_ref || '?v=1' AS media_ref,
               xor(phash, {mask}) AS phash
        FROM hh WHERE doc_id % 6 = 0
    ),
    allh AS (
        SELECT media_ref, phash FROM hh
        UNION ALL
        SELECT media_ref, phash FROM vr
    ),
    bands AS (
        SELECT media_ref, phash, t.b,
               (phash >> (t.b * 8)::INT) & 255 AS v
        FROM allh CROSS JOIN range(8) t(b)
    ),
    cand AS (
        SELECT DISTINCT a.media_ref AS ref_a, a.phash AS h_a,
                        c.media_ref AS ref_b, c.phash AS h_b
        FROM bands a JOIN bands c
          ON a.b = c.b AND a.v = c.v AND a.media_ref < c.media_ref
    )
    SELECT ref_a, ref_b, bit_count(xor(h_a, h_b)) AS hamming
    FROM cand WHERE bit_count(xor(h_a, h_b)) <= {_PHASH_MAX_HAMMING}
    ORDER BY ref_a, ref_b
"""


_MM_MAX_KM = 150.0


def q_geo_map_match(spark, sf_dir):
    """Map matching: snap every event ping to the nearest segment of a
    reference route network (8 globe-spanning parallels, vertices every
    15 deg of longitude — a deterministic broadcast-sized dimension) and
    report route id, segment, snap distance, and along-route offset.
    Candidate generation is the boundary_distance cell-cover equi-join;
    per-ping argmin is one map-side-combinable struct-min aggregate —
    two shuffles, no UDF, no window over the candidate table."""
    from bufr2geojson_spark.operators.spatial import (
        map_match, polyline_segments)

    route_pts = spark.createDataFrame(
        [(r, k, float(-63 + 18 * r), float(-180 + 15 * k))
         for r in range(8) for k in range(25)],
        "route_id long, seq long, lat double, lon double",
    )
    segs = polyline_segments(route_pts)
    pings = _event_track_points(spark, sf_dir)
    return map_match(
        pings, segs, max_km=_MM_MAX_KM, grid_deg=5.0, id_col="event_id"
    ).orderBy("event_id")


def _sql_geo_map_match():
    hav = ("2 * 6371.0 * asin(sqrt("
           "pow(sin(radians(y2 - y1) / 2), 2)"
           " + cos(radians(y1)) * cos(radians(y2))"
           " * pow(sin(radians(x2 - x1) / 2), 2)))")
    return f"""
    WITH rv AS (
        SELECT r AS route_id, k AS seq,
               (-63 + 18 * r)::DOUBLE AS lat,
               (-180 + 15 * k)::DOUBLE AS lon
        FROM range(8) t(r) CROSS JOIN range(25) s(k)
    ),
    seg0 AS (
        SELECT route_id,
               row_number() OVER (
                   PARTITION BY route_id ORDER BY seq) - 1 AS seg_idx,
               lon AS x1, lat AS y1,
               lead(lon) OVER (PARTITION BY route_id ORDER BY seq) AS x2,
               lead(lat) OVER (PARTITION BY route_id ORDER BY seq) AS y2
        FROM rv
    ),
    seg1 AS (
        SELECT *, floor({hav} * 100.0 + 0.5)::BIGINT AS le
        FROM seg0 WHERE x2 IS NOT NULL
    ),
    seg AS (
        SELECT route_id, seg_idx, x1, y1, x2, y2,
               le::DOUBLE / 100.0 AS seg_km,
               coalesce(sum(le) OVER (
                   PARTITION BY route_id ORDER BY seg_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::DOUBLE / 100.0 AS cum_km
        FROM seg1
    ),
    pings AS (
        SELECT event_id AS pid, lat AS plat, lon AS plon
        FROM ({_TRACK_PTS_SQL})
    ),
    fr AS (
        SELECT p.pid, p.plat, s.route_id, s.seg_idx, s.y1, s.y2,
               s.seg_km, s.cum_km,
               cos(radians(p.plat)) AS cosr,
               ((s.x1 - p.plon + 540.0) % 360.0) - 180.0 AS dlon1,
               ((s.x2 - s.x1 + 540.0) % 360.0) - 180.0 AS ddlon
        FROM pings p CROSS JOIN seg s
    ),
    ab AS (
        SELECT pid, route_id, seg_idx, seg_km, cum_km,
               dlon1 * cosr * {KM_PER_DEG!r} AS ax,
               (y1 - plat) * {KM_PER_DEG!r} AS ay,
               (dlon1 + ddlon) * cosr * {KM_PER_DEG!r} AS bx,
               (y2 - plat) * {KM_PER_DEG!r} AS by
        FROM fr
    ),
    l AS (
        SELECT pid, route_id, seg_idx, seg_km, cum_km, ax, ay,
               bx - ax AS vx, by - ay AS vy,
               (bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS l2
        FROM ab
    ),
    tt AS (
        SELECT pid, route_id, seg_idx, seg_km, cum_km, ax, ay, vx, vy,
               CASE WHEN l2 > 0
                    THEN least(greatest((-(ax * vx + ay * vy)) / l2, 0.0),
                               1.0)
                    ELSE 0.0 END AS t
        FROM l
    ),
    dd AS (
        SELECT pid, route_id, seg_idx,
               floor(sqrt((ax + t * vx) * (ax + t * vx)
                          + (ay + t * vy) * (ay + t * vy))
                     * 100.0 + 0.5) / 100.0 AS d,
               floor((cum_km + t * seg_km) * 1000.0 + 0.5) / 1000.0
                   AS along
        FROM tt
    ),
    ranked AS (
        SELECT pid, route_id, seg_idx, d, along,
               row_number() OVER (
                   PARTITION BY pid
                   ORDER BY d, route_id, seg_idx) AS rn
        FROM dd WHERE d <= {_MM_MAX_KM!r}
    )
    SELECT pid AS event_id, route_id, seg_idx, d AS snap_km,
           along AS along_km
    FROM ranked WHERE rn = 1 ORDER BY event_id
"""


def _colocation_edges(spark, sf_dir):
    """Undirected co-location graph: users sharing >= 1 five-degree cell."""
    pts = _event_track_points(spark, sf_dir)
    cells = pts.select(
        "user_id",
        F.floor((F.col("lat") + 90.0) / 5.0).cast("int").alias("gi"),
        F.floor((F.col("lon") + 180.0) / 5.0).cast("int").alias("gj"),
    ).distinct()
    a = cells.select(F.col("user_id").alias("u"), "gi", "gj")
    b = cells.select(F.col("user_id").alias("v"), "gi", "gj")
    return (
        a.join(b, ["gi", "gj"])
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


_SQL_COLOC_EDGES = f"""
    cells AS (
        SELECT DISTINCT user_id AS uid,
               floor((lat + 90.0) / 5.0)::INT AS gi,
               floor((lon + 180.0) / 5.0)::INT AS gj
        FROM ({_TRACK_PTS_SQL})
    ),
    ed AS (
        SELECT DISTINCT a.uid AS u, b.uid AS v
        FROM cells a JOIN cells b
          ON a.gi = b.gi AND a.gj = b.gj AND a.uid < b.uid
    )
"""


def q_graph_triangles(spark, sf_dir):
    """Degree-ordered triangle counting (Suri-Vassilvitskii) on the
    co-location graph: wedges generated only at each triangle's
    lowest-(deg,id) corner — O(m^1.5) total work under any skew."""
    from bufr2geojson_spark.operators.graph import triangle_count

    return triangle_count(
        _colocation_edges(spark, sf_dir)
    ).withColumnRenamed("node", "user_id").orderBy("user_id")


def _sql_graph_triangles():
    return f"""
    WITH {_SQL_COLOC_EDGES},
    dg AS (
        SELECT node, count(*)::BIGINT AS deg FROM (
            SELECT u AS node FROM ed UNION ALL SELECT v FROM ed
        ) z GROUP BY node
    ),
    o AS (
        SELECT CASE WHEN (da.deg < db.deg)
                      OR (da.deg = db.deg AND e.u < e.v)
                    THEN e.u ELSE e.v END AS lo,
               CASE WHEN (da.deg < db.deg)
                      OR (da.deg = db.deg AND e.u < e.v)
                    THEN e.v ELSE e.u END AS hi
        FROM ed e
        JOIN dg da ON da.node = e.u
        JOIN dg db ON db.node = e.v
    ),
    tri AS (
        SELECT a.lo, a.hi AS x, b.hi AS y
        FROM o a JOIN o b ON a.lo = b.lo AND a.hi < b.hi
        JOIN ed ON ed.u = a.hi AND ed.v = b.hi
    ),
    corners AS (
        SELECT lo AS node FROM tri
        UNION ALL SELECT x FROM tri
        UNION ALL SELECT y FROM tri
    ),
    cnt AS (SELECT node, count(*)::BIGINT AS n FROM corners GROUP BY node)
    SELECT d.node AS user_id, coalesce(c.n, 0)::BIGINT AS n_triangles
    FROM dg d LEFT JOIN cnt c ON c.node = d.node
    ORDER BY user_id
"""


_PR_ITERS = 10


def q_graph_bfs(spark, sf_dir):
    """Multi-source BFS hop distances on a deterministic chain+shortcut
    graph over customer keys (edges k→k+1 and k→k+17, sources every 200th
    key): exact shortest hops within 12. Frontier expansion joins only the
    newly-settled ring each round; the oracle explores the same walks with
    a recursive CTE and takes min(hop)."""
    from bufr2geojson_spark.operators.graph import bfs_hops

    nodes = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    vexists = nodes.select(F.col("k").alias("v"))
    e = (
        nodes.select(F.col("k").alias("u"), (F.col("k") + 1).alias("v"))
        .unionAll(
            nodes.select(F.col("k").alias("u"),
                         (F.col("k") + 17).alias("v"))
        )
        .join(vexists, "v", "left_semi")
    )
    srcs = nodes.filter(F.col("k") % 200 == 0)
    return (
        bfs_hops(e, srcs, max_hops=12)
        .select(F.col("node").cast("long").alias("node"),
                F.col("hops").cast("long").alias("hops"))
        .orderBy("node")
    )


_SQL_GRAPH_BFS = """
    WITH RECURSIVE nodes AS (SELECT c_custkey AS k FROM customer),
    ed AS (
        SELECT a.k AS u, a.k + 1 AS v FROM nodes a
        JOIN nodes b ON b.k = a.k + 1
        UNION ALL
        SELECT a.k, a.k + 17 FROM nodes a JOIN nodes b ON b.k = a.k + 17
    ),
    sym AS (SELECT u, v FROM ed UNION SELECT v, u FROM ed),
    bfs AS (
        SELECT k AS node, 0 AS hop FROM nodes WHERE k % 200 = 0
        UNION
        SELECT s.v AS node, b.hop + 1 AS hop
        FROM bfs b JOIN sym s ON s.u = b.node
        WHERE b.hop < 12
    )
    SELECT node::BIGINT AS node, min(hop)::BIGINT AS hops
    FROM bfs GROUP BY node ORDER BY node
"""


def q_graph_pagerank(spark, sf_dir):
    """Fixed-iteration integer-fixed-point PageRank on the co-location
    graph — bit-exact under any partitioning (integer DIV contributions,
    integer damping), so a recursive-CTE oracle reproduces every rank."""
    from bufr2geojson_spark.operators.graph import pagerank

    return pagerank(
        _colocation_edges(spark, sf_dir), iters=_PR_ITERS
    ).withColumnRenamed("node", "user_id").orderBy("user_id")


def _sql_graph_pagerank():
    return f"""
    WITH RECURSIVE {_SQL_COLOC_EDGES},
    de AS (
        SELECT u AS s, v AS t FROM ed
        UNION ALL
        SELECT v AS s, u AS t FROM ed
    ),
    dg AS (SELECT s, count(*)::BIGINT AS deg FROM de GROUP BY s),
    pr(iter, node, r) AS (
        SELECT 0, s, 1000000000::BIGINT FROM dg
        UNION ALL
        SELECT p.iter + 1, d.t,
               (150000000 + (85 * sum(p.r // g.deg)) // 100)::BIGINT
        FROM pr p
        JOIN dg g ON g.s = p.node
        JOIN de d ON d.s = p.node
        WHERE p.iter < {_PR_ITERS}
        GROUP BY p.iter, d.t
    )
    SELECT node AS user_id, r AS rank_scaled
    FROM pr WHERE iter = {_PR_ITERS} ORDER BY user_id
"""


_KCORE_K = 2
_KCORE_ROUNDS = 20


def q_graph_kcore(spark, sf_dir):
    """k-core extraction (dense-subgroup mining) on the co-location graph:
    confluent iterative peeling — per round one degree aggregate + two
    semi-joins on a strictly shrinking edge set."""
    from bufr2geojson_spark.operators.graph import kcore

    return kcore(
        _colocation_edges(spark, sf_dir), k=_KCORE_K,
        max_rounds=_KCORE_ROUNDS,
    ).withColumnRenamed("node", "user_id").orderBy("user_id")


def _sql_graph_kcore():
    return f"""
    WITH RECURSIVE {_SQL_COLOC_EDGES},
    de AS (
        SELECT u AS s, v AS t FROM ed
        UNION ALL
        SELECT v AS s, u AS t FROM ed
    ),
    kc(iter, s, t) AS (
        SELECT 0, s, t FROM de
        UNION ALL
        SELECT iter + 1, s, t FROM (
            SELECT p.iter, p.s, p.t,
                   count(*) OVER (PARTITION BY p.s) AS ds,
                   count(*) OVER (PARTITION BY p.t) AS dt
            FROM kc p WHERE p.iter < {_KCORE_ROUNDS}
        ) z WHERE ds >= {_KCORE_K} AND dt >= {_KCORE_K}
    )
    SELECT s AS user_id, count(*)::BIGINT AS deg_in_core
    FROM kc WHERE iter = {_KCORE_ROUNDS} GROUP BY s ORDER BY user_id
"""


def q_geo_track_dtw(spark, sf_dir):
    """DTW alignment cost (squared-cost variant, exact int64 DP) between
    candidate track pairs from the shared-cell inverted index. The
    oracle replays the identical DP with a recursive CTE marching
    anti-diagonals (each cell carried two rounds so the diagonal
    predecessor is in scope)."""
    from bufr2geojson_spark.operators.trajectory import track_dtw

    return track_dtw(
        _event_track_points(spark, sf_dir), grid_deg=5.0, min_shared=1,
    ).orderBy("user_a", "user_b")


def _sql_geo_track_dtw():
    return f"""
    WITH RECURSIVE pts AS (
        SELECT user_id AS u, ts, event_id AS e, lat, lon,
               round(lon * 100)::BIGINT AS x,
               round(lat * 100)::BIGINT AS y
        FROM ({_TRACK_PTS_SQL})
    ),
    cells AS (
        SELECT DISTINCT u,
               floor((lat + 90.0) / 5.0)::INT AS gi,
               floor((lon + 180.0) / 5.0)::INT AS gj
        FROM pts
    ),
    pairs AS (
        SELECT a.u AS ua, b.u AS ub
        FROM cells a JOIN cells b
          ON a.gi = b.gi AND a.gj = b.gj AND a.u < b.u
        GROUP BY 1, 2
    ),
    seq AS (
        SELECT u, row_number() OVER (PARTITION BY u ORDER BY ts, e) - 1
                   AS i,
               x, y
        FROM pts
    ),
    sizes AS (SELECT u, count(*)::BIGINT AS n FROM seq GROUP BY u),
    -- age 0 = the newest anti-diagonal, age 1 = the one before (kept one
    -- extra round so the (i-1, j-1) predecessor is still in scope)
    dp(age, ua, ub, i, j, c) AS (
        SELECT 0, p.ua, p.ub, 0::BIGINT, 0::BIGINT,
               (sa.x - sb.x) * (sa.x - sb.x)
               + (sa.y - sb.y) * (sa.y - sb.y)
        FROM pairs p
        JOIN seq sa ON sa.u = p.ua AND sa.i = 0
        JOIN seq sb ON sb.u = p.ub AND sb.i = 0
        UNION ALL
        SELECT z.age, z.ua, z.ub, z.i, z.j,
               CASE WHEN z.gen
                    THEN z.c + (sa.x - sb.x) * (sa.x - sb.x)
                             + (sa.y - sb.y) * (sa.y - sb.y)
                    ELSE z.c END
        FROM (
            SELECT CASE WHEN k = 0 THEN 1 ELSE 0 END AS age,
                   k > 0 AS gen, ua, ub,
                   CASE k WHEN 0 THEN i WHEN 1 THEN i + 1
                          WHEN 2 THEN i ELSE i + 1 END AS i,
                   CASE k WHEN 0 THEN j WHEN 2 THEN j + 1
                          WHEN 1 THEN j ELSE j + 1 END AS j,
                   min(c) AS c
            FROM dp d
            CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) ks
            WHERE (k = 0 AND d.age = 0)
               OR (k IN (1, 2) AND d.age = 0)
               OR (k = 3 AND d.age = 1)
            GROUP BY 1, 2, 3, 4, 5, 6
        ) z
        JOIN seq sa ON sa.u = z.ua AND sa.i = z.i
        JOIN seq sb ON sb.u = z.ub AND sb.i = z.j
    )
    SELECT DISTINCT d.ua AS user_a, d.ub AS user_b,
           na.n AS n_a, nb.n AS n_b, d.c AS dtw_cost
    FROM dp d
    JOIN sizes na ON na.u = d.ua
    JOIN sizes nb ON nb.u = d.ub
    WHERE d.i = na.n - 1 AND d.j = nb.n - 1
    ORDER BY user_a, user_b
"""


def _crossing_track_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arena-clustered track points for the crossing query: users are
    grouped into 12 shared arenas (user_id % 12) ~11 degrees apart, with
    a +-0.5 degree per-event walk, so same-arena tracks genuinely
    crisscross (the standard _event_track_points jitter is +-0.03 degrees
    around per-user bases whose boxes never overlap — zero crossings by
    construction). Integer modulo + exact decimal fractions, reproduced
    verbatim in the oracle SQL."""
    ev = _t(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    lat = (
        ((u % 12) * 11 - 60).cast("double")
        + ((u * 7) % 5) / 10.0
        + ((e * 13) % 101 - 50) / 100.0
    ).cast("double")
    lon = (
        (F.floor((u % 48) / 12).cast("long") * 67 - 138).cast("double")
        + ((u % 12) * 23 % 11).cast("double")
        + ((u * 11) % 5) / 10.0
        + ((e * 29) % 101 - 50) / 100.0
    ).cast("double")
    return ev.select(
        "user_id", "ts", "event_id", lat.alias("lat"), lon.alias("lon")
    )


_CROSSING_PTS_SQL = """
    SELECT user_id, ts, event_id,
           ((user_id % 12) * 11 - 60 + ((user_id * 7) % 5) / 10.0
            + ((event_id * 13) % 101 - 50) / 100.0) AS lat,
           (((user_id % 48) // 12) * 67 - 138 + (user_id % 12) * 23 % 11
            + ((user_id * 11) % 5) / 10.0
            + ((event_id * 29) % 101 - 50) / 100.0) AS lon
    FROM events
"""


def q_geo_track_crossings(spark, sf_dir):
    """Trajectory crossing detection: per user pair, the number of
    properly-intersecting track-segment pairs. Cell-blocked equi-join
    (blocking is complete), exact-integer four-orientation predicate as
    sign comparisons — never a cartesian, no floats."""
    from bufr2geojson_spark.operators.trajectory import track_crossings

    return track_crossings(
        _crossing_track_points(spark, sf_dir), grid_deg=2.5
    ).orderBy("user_a", "user_b")


def _sql_geo_track_crossings():
    return f"""
    WITH pts AS (
        SELECT user_id AS u, ts, event_id AS e,
               round(lon * 100)::BIGINT AS x,
               round(lat * 100)::BIGINT AS y
        FROM ({_CROSSING_PTS_SQL})
    ),
    seg0 AS (
        SELECT u,
               row_number() OVER (PARTITION BY u ORDER BY ts, e) - 1 AS seg,
               x AS x1, y AS y1,
               lead(x) OVER (PARTITION BY u ORDER BY ts, e) AS x2,
               lead(y) OVER (PARTITION BY u ORDER BY ts, e) AS y2
        FROM pts
    ),
    segs AS (SELECT * FROM seg0 WHERE x2 IS NOT NULL),
    cx AS (
        SELECT s.*, unnest(generate_series(
            floor(least(x1, x2) / 250.0)::BIGINT,
            floor(greatest(x1, x2) / 250.0)::BIGINT)) AS cx
        FROM segs s
    ),
    cells AS (
        SELECT c.*, unnest(generate_series(
            floor(least(y1, y2) / 250.0)::BIGINT,
            floor(greatest(y1, y2) / 250.0)::BIGINT)) AS cy
        FROM cx c
    ),
    hits AS (
        SELECT DISTINCT a.u AS ua, b.u AS ub, a.seg AS sa, b.seg AS sb
        FROM cells a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
                                 AND a.u < b.u
        WHERE (((a.x2 - a.x1) * (b.y1 - a.y1)
                - (a.y2 - a.y1) * (b.x1 - a.x1) > 0
                AND (a.x2 - a.x1) * (b.y2 - a.y1)
                    - (a.y2 - a.y1) * (b.x2 - a.x1) < 0)
            OR ((a.x2 - a.x1) * (b.y1 - a.y1)
                - (a.y2 - a.y1) * (b.x1 - a.x1) < 0
                AND (a.x2 - a.x1) * (b.y2 - a.y1)
                    - (a.y2 - a.y1) * (b.x2 - a.x1) > 0))
          AND (((b.x2 - b.x1) * (a.y1 - b.y1)
                - (b.y2 - b.y1) * (a.x1 - b.x1) > 0
                AND (b.x2 - b.x1) * (a.y2 - b.y1)
                    - (b.y2 - b.y1) * (a.x2 - b.x1) < 0)
            OR ((b.x2 - b.x1) * (a.y1 - b.y1)
                - (b.y2 - b.y1) * (a.x1 - b.x1) < 0
                AND (b.x2 - b.x1) * (a.y2 - b.y1)
                    - (b.y2 - b.y1) * (a.x2 - b.x1) > 0))
    )
    SELECT ua AS user_a, ub AS user_b, count(*)::BIGINT AS n_crossings
    FROM hits GROUP BY 1, 2 ORDER BY user_a, user_b
"""


def q_geo_convex_hull(spark, sf_dir):
    """Per-entity convex hull (activity footprint): true-vertex count,
    exact-integer doubled shoelace area at 0.01-degree quantization, and
    vertex-coordinate sums pinning the vertex set. Two-level algebraic
    aggregate — partial hull per input partition with no shuffle, then an
    entity-keyed merge of O(hull) rows. The oracle derives the same hull
    with order-free exact-integer predicates: boundary points via the
    q-form supporting-line test, collinear mid-edge points pruned by
    betweenness, shoelace over an anchor-angular ring."""
    from bufr2geojson_spark.operators.trajectory import convex_hulls

    return convex_hulls(
        _event_track_points(spark, sf_dir)
    ).orderBy("user_id")


def _sql_geo_convex_hull():
    return f"""
    WITH pts0 AS (
        SELECT DISTINCT user_id AS u,
               round(lon * 100)::BIGINT AS x,
               round(lat * 100)::BIGINT AS y
        FROM ({_TRACK_PTS_SQL})
    ),
    prs AS (
        SELECT a.u, a.x AS px, a.y AS py, b.x AS qx, b.y AS qy
        FROM pts0 a JOIN pts0 b ON a.u = b.u
        WHERE a.x <> b.x OR a.y <> b.y
    ),
    bnd AS (
        SELECT DISTINCT z.u, z.px AS x, z.py AS y FROM (
            SELECT p.u, p.px, p.py, p.qx, p.qy,
                   min((p.qx - p.px) * (r.y - p.py)
                       - (p.qy - p.py) * (r.x - p.px)) AS mincr
            FROM prs p JOIN pts0 r ON r.u = p.u
            GROUP BY 1, 2, 3, 4, 5
        ) z WHERE z.mincr >= 0
    ),
    verts AS (
        SELECT p.u, p.x, p.y FROM bnd p
        WHERE NOT EXISTS (
            SELECT 1 FROM bnd a JOIN bnd b ON a.u = b.u
            WHERE a.u = p.u
              AND (a.x <> p.x OR a.y <> p.y)
              AND (b.x <> p.x OR b.y <> p.y)
              AND (a.x <> b.x OR a.y <> b.y)
              AND (b.x - a.x) * (p.y - a.y) = (b.y - a.y) * (p.x - a.x)
              AND least(a.x, b.x) <= p.x AND p.x <= greatest(a.x, b.x)
              AND least(a.y, b.y) <= p.y AND p.y <= greatest(a.y, b.y)
        )
    ),
    anchor AS (
        SELECT u, x, y FROM (
            SELECT u, x, y,
                   row_number() OVER (PARTITION BY u ORDER BY y, x) AS rn
            FROM verts
        ) z WHERE rn = 1
    ),
    ring AS (
        SELECT u, x, y, 0::BIGINT AS rn FROM anchor
        UNION ALL
        SELECT v.u, v.x, v.y,
               row_number() OVER (
                   PARTITION BY v.u
                   ORDER BY CASE WHEN v.y = a.y THEN 1e308
                            ELSE (v.x - a.x) * 1.0 / (v.y - a.y) END DESC
               ) AS rn
        FROM verts v JOIN anchor a ON a.u = v.u
        WHERE v.x <> a.x OR v.y <> a.y
    ),
    ringn AS (
        SELECT u, x, y, rn, count(*) OVER (PARTITION BY u) AS cnt
        FROM ring
    ),
    sh AS (
        SELECT r.u, sum(r.x * r2.y - r2.x * r.y)::BIGINT AS a2
        FROM ringn r
        JOIN ringn r2 ON r2.u = r.u AND r2.rn = (r.rn + 1) % r.cnt
        GROUP BY r.u
    ),
    agg AS (
        SELECT u, count(*)::BIGINT AS n_hull,
               sum(y)::BIGINT AS lat_s_sum, sum(x)::BIGINT AS lon_s_sum
        FROM verts GROUP BY u
    ),
    multi AS (
        SELECT agg.u, agg.n_hull, abs(coalesce(sh.a2, 0))::BIGINT AS area2,
               agg.lat_s_sum, agg.lon_s_sum
        FROM agg LEFT JOIN sh ON sh.u = agg.u
    ),
    single AS (
        SELECT p.u, 1::BIGINT AS n_hull, 0::BIGINT AS area2,
               p.y AS lat_s_sum, p.x AS lon_s_sum
        FROM pts0 p
        JOIN (SELECT u FROM pts0 GROUP BY u HAVING count(*) = 1) s
          ON s.u = p.u
    )
    SELECT u AS user_id, n_hull, area2, lat_s_sum, lon_s_sum FROM multi
    UNION ALL
    SELECT u AS user_id, n_hull, area2, lat_s_sum, lon_s_sum FROM single
    ORDER BY user_id
"""


_SSSP_ROUNDS = 60


def q_graph_sssp(spark, sf_dir):
    """Multi-source WEIGHTED shortest paths (integer weights) on the
    small-world lattice: delta-frontier Bellman-Ford relaxing only
    improved nodes per round. The oracle replays fixed rounds of the
    same relaxation as a recursive CTE over a self-loop-augmented edge
    list (one recursive reference handles both retention and relax);
    both sides reach the unique fixpoint."""
    from bufr2geojson_spark.operators.graph import sssp_weighted

    nodes = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    vexists = nodes.select(F.col("k").alias("v"))
    parts = []
    for step in (1, 2, 17):
        parts.append(nodes.select(
            F.col("k").alias("u"),
            (F.col("k") + step).alias("v"),
            ((F.col("k") * 7 + step * 13) % 9 + 1).alias("w"),
        ))
    e = parts[0].unionAll(parts[1]).unionAll(parts[2]).join(
        vexists, "v", "left_semi"
    )
    srcs = nodes.filter(F.col("k") % 40 == 0)
    return (
        sssp_weighted(e, srcs, max_rounds=_SSSP_ROUNDS)
        .select(F.col("node").cast("long").alias("node"),
                F.col("dist").cast("long").alias("dist"))
        .orderBy("node")
    )


def _sql_graph_sssp():
    return f"""
    WITH RECURSIVE nodes AS (SELECT c_custkey AS k FROM customer),
    ed AS (
        SELECT a.k AS u, a.k + s.s AS v,
               ((a.k * 7 + s.s * 13) % 9 + 1)::BIGINT AS w
        FROM nodes a
        CROSS JOIN (SELECT unnest([1, 2, 17]) AS s) s
        JOIN nodes b ON b.k = a.k + s.s
    ),
    sym AS (
        SELECT u AS a, v AS b, w FROM ed
        UNION ALL SELECT v, u, w FROM ed
        UNION ALL SELECT k, k, 0 FROM nodes
    ),
    bf(it, node, dist) AS (
        SELECT 0, k, 0::BIGINT FROM nodes WHERE k % 40 = 0
        UNION ALL
        SELECT b.it + 1, e.b, min(b.dist + e.w)
        FROM bf b JOIN sym e ON e.a = b.node
        WHERE b.it < {_SSSP_ROUNDS}
        GROUP BY 1, 2
    )
    SELECT node::BIGINT AS node, dist AS dist
    FROM bf WHERE it = {_SSSP_ROUNDS} ORDER BY node
"""


_LINKPRED_MIN_COMMON = 2
_LINKPRED_DEG_CAP = 40


def _lattice_edges(spark, sf_dir):
    """Deterministic ring-lattice + shortcut graph over customer keys
    (edges k→k+1, k→k+2, k→k+17 when both endpoints exist) — the
    Watts-Strogatz small-world scaffold, which has real triadic-closure
    structure: (k, k+3) pairs share the two neighbors {k+1, k+2} without
    being adjacent. The co-location graph is per-cell cliques (every
    same-cell pair is already adjacent), so it can never produce a link
    prediction; graph ops take any edge table, this synthesizes one with
    the right shape. Same chain+shortcut family as graph_bfs."""
    nodes = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k")
    )
    vexists = nodes.select(F.col("k").alias("v"))
    out = None
    for step in (1, 2, 17):
        e = nodes.select(
            F.col("k").alias("u"), (F.col("k") + step).alias("v")
        )
        out = e if out is None else out.unionAll(e)
    return out.join(vexists, "v", "left_semi")


_SQL_LATTICE_EDGES = """
    nodes AS (SELECT c_custkey AS k FROM customer),
    ed AS (
        SELECT a.k AS u, a.k + s.s AS v
        FROM nodes a
        CROSS JOIN (SELECT unnest([1, 2, 17]) AS s) s
        JOIN nodes b ON b.k = a.k + s.s
    )
"""


def q_graph_link_predict(spark, sf_dir):
    """Link prediction on a small-world interaction graph: non-adjacent
    pairs sharing >= 2 neighbors, with common-neighbor count and integer-
    millionths Jaccard. Wedges are enumerated at the shared neighbor with
    a degree cap on centers (super-hubs carry no predictive signal and
    would generate deg² wedges — the published skew mitigation)."""
    from bufr2geojson_spark.operators.graph import common_neighbor_pairs

    return (
        common_neighbor_pairs(
            _lattice_edges(spark, sf_dir),
            min_common=_LINKPRED_MIN_COMMON,
            max_center_degree=_LINKPRED_DEG_CAP,
        )
        .select(
            F.col("u").alias("user_a"), F.col("v").alias("user_b"),
            "n_common", F.col("deg_u").alias("deg_a"),
            F.col("deg_v").alias("deg_b"), "jaccard_e6",
        )
        .orderBy("user_a", "user_b")
    )


def _sql_graph_link_predict():
    return f"""
    WITH {_SQL_LATTICE_EDGES},
    sym AS (
        SELECT u AS n, v AS x FROM ed
        UNION ALL
        SELECT v AS n, u AS x FROM ed
    ),
    dg AS (SELECT n, count(*)::BIGINT AS deg FROM sym GROUP BY n),
    centers AS (
        SELECT s.n, s.x FROM sym s JOIN dg ON dg.n = s.n
        WHERE dg.deg <= {_LINKPRED_DEG_CAP}
    ),
    cand AS (
        SELECT a.x AS cu, b.x AS cv, count(*)::BIGINT AS n_common
        FROM centers a JOIN centers b ON a.n = b.n AND a.x < b.x
        GROUP BY 1, 2
        HAVING count(*) >= {_LINKPRED_MIN_COMMON}
    ),
    nonadj AS (
        SELECT c.* FROM cand c
        LEFT JOIN ed e ON e.u = c.cu AND e.v = c.cv
        WHERE e.u IS NULL
    )
    SELECT c.cu AS user_a, c.cv AS user_b, c.n_common,
           da.deg AS deg_a, db.deg AS deg_b,
           floor(c.n_common * 1000000.0
                 / (da.deg + db.deg - c.n_common))::BIGINT AS jaccard_e6
    FROM nonadj c
    JOIN dg da ON da.n = c.cu
    JOIN dg db ON db.n = c.cv
    ORDER BY user_a, user_b
"""


_LOCATE_T = "2024-01-08 00:00:00"
_LOCATE_MAX_GAP_S = 86400.0


def q_event_locate_at(spark, sf_dir):
    """Fleet snapshot at time T: interpolate every entity's position from
    its bracketing pings in ONE map-side-combinable conditional
    struct-min/max aggregate (no window, no self-join); entities that
    went dark within 24 h report last-known."""
    from bufr2geojson_spark.operators.trajectory import locate_at

    return locate_at(
        _event_track_points(spark, sf_dir), _LOCATE_T,
        max_gap_s=_LOCATE_MAX_GAP_S,
    ).orderBy("user_id")


def _sql_event_locate_at():
    t = f"TIMESTAMP '{_LOCATE_T}'"
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    b AS (
        SELECT user_id, epoch(ts) AS s, lat, lon,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM pts WHERE ts <= {t}
    ),
    a AS (
        SELECT user_id, epoch(ts) AS s, lat, lon,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS rn
        FROM pts WHERE ts > {t}
    ),
    j AS (
        SELECT b.user_id, b.s AS bs, b.lat AS bla, b.lon AS blo,
               a.s AS xs, a.lat AS xla, a.lon AS xlo,
               epoch({t}) AS tq
        FROM (SELECT * FROM b WHERE rn = 1) b
        LEFT JOIN (SELECT * FROM a WHERE rn = 1) a
          ON a.user_id = b.user_id
    )
    SELECT user_id,
           CASE WHEN xs IS NOT NULL AND xs > bs THEN floor(
                    (bla + (tq - bs) / (xs - bs) * (xla - bla))
                    * 1e6 + 0.5) / 1e6
                ELSE floor(bla * 1e6 + 0.5) / 1e6 END AS at_lat,
           CASE WHEN xs IS NOT NULL AND xs > bs THEN floor(
                    (blo + (tq - bs) / (xs - bs) * (xlo - blo))
                    * 1e6 + 0.5) / 1e6
                ELSE floor(blo * 1e6 + 0.5) / 1e6 END AS at_lon,
           CASE WHEN xs IS NOT NULL AND xs > bs THEN 'interp'
                ELSE 'last_known' END AS method
    FROM j
    WHERE (xs IS NOT NULL AND xs > bs)
       OR (xs IS NULL AND tq - bs <= {_LOCATE_MAX_GAP_S!r})
    ORDER BY user_id
"""


_STOPS_MAX_KMH = 2.0
_STOPS_MIN_DWELL_S = 3600.0


def q_event_stops(spark, sf_dir):
    """Dwell / stay-point detection: gaps-and-islands over per-hop speed in
    the same single shuffle as the lag window."""
    from bufr2geojson_spark.operators.trajectory import detect_stops

    return detect_stops(
        _event_track_points(spark, sf_dir),
        max_speed_kmh=_STOPS_MAX_KMH,
        min_dwell_s=_STOPS_MIN_DWELL_S,
    ).orderBy("user_id", "stop_seq")


_SQL_EVENT_STOPS = f"""
    WITH {_SQL_SEGMENTS},
    fl AS (
        SELECT *,
               (speed_kmh IS NOT NULL AND speed_kmh <= {_STOPS_MAX_KMH!r})
                   AS is_slow,
               sum(CASE WHEN speed_kmh IS NOT NULL
                             AND speed_kmh <= {_STOPS_MAX_KMH!r}
                        THEN 0 ELSE 1 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS episode
        FROM sp
    ),
    ep AS (
        SELECT user_id, episode,
               min(prev_ts) AS start_ts,
               max(ts) AS end_ts,
               floor((max(epoch(ts)) - min(epoch(prev_ts))) * 1e4 + 0.5)
                   / 1e4 AS dwell_s,
               floor(sum(floor(lat * 1e6 + 0.5)::BIGINT)::DOUBLE / 1e6
                     / count(*) * 1e4 + 0.5) / 1e4 AS c_lat,
               floor(sum(floor(lon * 1e6 + 0.5)::BIGINT)::DOUBLE / 1e6
                     / count(*) * 1e4 + 0.5) / 1e4 AS c_lon,
               count(*) AS n_hops
        FROM fl WHERE is_slow
        GROUP BY user_id, episode
        HAVING floor((max(epoch(ts)) - min(epoch(prev_ts))) * 1e4 + 0.5)
                   / 1e4 >= {_STOPS_MIN_DWELL_S!r}
    )
    SELECT user_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY start_ts, episode) AS stop_seq,
           start_ts, end_ts, dwell_s, c_lat, c_lon, n_hops
    FROM ep ORDER BY user_id, stop_seq
"""

def q_event_od_flows(spark, sf_dir):
    """Origin-destination flow matrix between detected dwell locations:
    consecutive stops per entity -> trips, binned by origin/destination
    grid cell (one lead-window shuffle + one tiny-key groupBy)."""
    from bufr2geojson_spark.operators.trajectory import detect_stops, od_flows

    stops = detect_stops(
        _event_track_points(spark, sf_dir),
        max_speed_kmh=_STOPS_MAX_KMH,
        min_dwell_s=_STOPS_MIN_DWELL_S,
    )
    return od_flows(stops, grid_deg=2.0).orderBy(
        "o_gi", "o_gj", "d_gi", "d_gj"
    )


def _sql_event_od_flows():
    return f"""
    WITH stops AS ({{stops_sql}}),
    tr AS (
        SELECT user_id, c_lat, c_lon, epoch(end_ts) AS end_s,
               lead(c_lat) OVER w AS n_lat,
               lead(c_lon) OVER w AS n_lon,
               lead(epoch(start_ts)) OVER w AS n_start_s
        FROM stops
        WINDOW w AS (PARTITION BY user_id ORDER BY stop_seq)
    )
    SELECT floor((c_lat + 90.0) / 2.0)::INT AS o_gi,
           floor((c_lon + 180.0) / 2.0)::INT AS o_gj,
           floor((n_lat + 90.0) / 2.0)::INT AS d_gi,
           floor((n_lon + 180.0) / 2.0)::INT AS d_gj,
           count(*) AS n_trips,
           floor(sum(n_start_s - end_s) / count(*) * 1e2 + 0.5) / 1e2
               AS avg_transit_s
    FROM tr WHERE n_lat IS NOT NULL
    GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
    """.format(stops_sql=_SQL_EVENT_STOPS)


# --- spatial autocorrelation over the 5-degree track-density grid ---------

_HOT_GRID_DEG = 5.0
_HOT_NLON = 72  # 360 / 5

# gj is wrapped into [0, nlon): the synthetic lon can land fractionally
# outside [-180, 180), and the hotspot operators require canonical
# longitude indices (their neighbor scatter wraps modulo nlon)
_SQL_HOT_CELLS = f"""
    cells AS (
        SELECT floor((lat + 90.0) / 5.0)::INT AS gi,
               ((floor((lon + 180.0) / 5.0)::INT % {_HOT_NLON})
                + {_HOT_NLON}) % {_HOT_NLON} AS gj,
               count(*)::BIGINT AS x
        FROM pts GROUP BY 1, 2
    )
"""


def _hot_cells(spark, sf_dir):
    pts = _event_track_points(spark, sf_dir)
    g = _HOT_GRID_DEG
    return (
        pts.groupBy(
            F.floor((F.col("lat") + 90.0) / g).cast("int").alias("gi"),
            F.pmod(
                F.floor((F.col("lon") + 180.0) / g), F.lit(_HOT_NLON)
            ).cast("int").alias("gj"),
        )
        .agg(F.count(F.lit(1)).alias("value"))
    )


def q_geo_hotspot_gi(spark, sf_dir):
    """Getis-Ord Gi* hot-spot z-scores over the track-density grid:
    9x neighbor scatter + one map-side-combined groupBy, broadcast
    global-moment row, exact integer moments (Gi* is scale-invariant so
    the fixed-point quantization cancels)."""
    from bufr2geojson_spark.operators.hotspot import getis_ord_gi

    return getis_ord_gi(
        _hot_cells(spark, sf_dir), nlon=_HOT_NLON, val_dp=0
    ).orderBy("gi", "gj")


def _sql_geo_hotspot_gi():
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    {_SQL_HOT_CELLS},
    gm AS (
        SELECT count(*)::BIGINT AS n_raw, count(*)::DOUBLE AS n,
               sum(x)::DOUBLE AS sv, sum(x * x)::DOUBLE AS svv
        FROM cells
    ),
    nb AS (
        SELECT c.gi, c.gj, c.x,
               count(*)::BIGINT AS w_i, sum(d.x)::BIGINT AS s1
        FROM cells c JOIN cells d
          ON d.gi BETWEEN c.gi - 1 AND c.gi + 1
         AND ((d.gj - c.gj + {_HOT_NLON + 1}) % {_HOT_NLON}) <= 2
        GROUP BY c.gi, c.gj, c.x
    )
    SELECT gi, gj, x, w_i, s1,
           CASE WHEN n_raw > 1 AND
                     sqrt(greatest(svv / n - (sv / n) * (sv / n), 0.0))
                     * sqrt((n * w_i::DOUBLE - w_i::DOUBLE * w_i::DOUBLE)
                            / (n - 1.0)) > 0.0
                THEN floor((s1::DOUBLE - sv / n * w_i::DOUBLE)
                           / (sqrt(greatest(svv / n - (sv / n) * (sv / n),
                                            0.0))
                              * sqrt((n * w_i::DOUBLE
                                      - w_i::DOUBLE * w_i::DOUBLE)
                                     / (n - 1.0)))
                           * 1e6 + 0.5) / 1e6
           END AS gi_star
    FROM nb, gm ORDER BY gi, gj
    """


def q_geo_morans_i(spark, sf_dir):
    """Global Moran's I spatial autocorrelation of track density: 8x
    neighbor scatter, exact integer cross-product moments (DECIMAL
    accumulate), one closed-form double combination."""
    from bufr2geojson_spark.operators.hotspot import morans_i

    return morans_i(_hot_cells(spark, sf_dir), nlon=_HOT_NLON, val_dp=0)


def _sql_geo_morans_i():
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    {_SQL_HOT_CELLS},
    nb AS (
        SELECT c.gi, c.gj, c.x,
               count(d.gi)::BIGINT AS w, coalesce(sum(d.x), 0)::BIGINT AS ns
        FROM cells c LEFT JOIN cells d
          ON d.gi BETWEEN c.gi - 1 AND c.gi + 1
         AND ((d.gj - c.gj + {_HOT_NLON + 1}) % {_HOT_NLON}) <= 2
         AND NOT (d.gi = c.gi AND d.gj = c.gj)
        GROUP BY c.gi, c.gj, c.x
    ),
    agg AS (
        SELECT count(*)::BIGINT AS n_cells, sum(w)::BIGINT AS s0,
               count(*)::DOUBLE AS n, sum(w)::DOUBLE AS s0d,
               sum(x)::DOUBLE AS sv, sum(x * x)::DOUBLE AS svv,
               sum(x * ns)::DOUBLE AS cp, sum(x * w)::DOUBLE AS rs
        FROM nb
    )
    SELECT n_cells, s0,
           CASE WHEN s0 > 0 AND svv - sv * sv / n > 0.0
                THEN floor(n / s0d
                           * (cp - 2.0 * (sv / n) * rs
                              + (sv / n) * (sv / n) * s0d)
                           / (svv - sv * sv / n) * 1e6 + 0.5) / 1e6
           END AS morans_i,
           CASE WHEN n_cells > 1
                THEN floor(-1.0 / (n - 1.0) * 1e6 + 0.5) / 1e6
           END AS expected_i
    FROM agg
    """


_CONVOY_BIN_S = 604800  # 7-day bins over the ~140-day event span


def q_geo_convoys(spark, sf_dir):
    """Convoy detection: entity pairs co-located in the same 5-degree
    cell for >= 2 consecutive 7-day bins (pair generation keyed on
    (bin, cell); longest-run via gaps-and-islands sharing the pair
    partitioning)."""
    from bufr2geojson_spark.operators.trajectory import detect_convoys

    return detect_convoys(
        _event_track_points(spark, sf_dir), grid_deg=5.0,
        bin_s=_CONVOY_BIN_S, min_run=2,
    ).orderBy("user_a", "user_b")


def _sql_geo_convoys():
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    pres AS (
        SELECT DISTINCT user_id AS u,
               floor(epoch(ts) / {float(_CONVOY_BIN_S)!r})::BIGINT AS b,
               floor((lat + 90.0) / 5.0)::INT AS gi,
               floor((lon + 180.0) / 5.0)::INT AS gj
        FROM pts
    ),
    tog AS (
        SELECT DISTINCT a.u AS user_a, b2.u AS user_b, a.b AS b
        FROM pres a JOIN pres b2
          ON a.b = b2.b AND a.gi = b2.gi AND a.gj = b2.gj AND a.u < b2.u
    ),
    isl AS (
        SELECT user_a, user_b, b,
               b - row_number() OVER (PARTITION BY user_a, user_b
                                      ORDER BY b) AS isl
        FROM tog
    ),
    runs AS (
        SELECT user_a, user_b, isl, count(*)::BIGINT AS run,
               min(b) AS rfirst, max(b) AS rlast
        FROM isl GROUP BY 1, 2, 3
    )
    SELECT user_a, user_b, sum(run)::BIGINT AS n_bins_together,
           max(run)::BIGINT AS longest_run,
           min(rfirst)::BIGINT AS first_bin,
           max(rlast)::BIGINT AS last_bin
    FROM runs GROUP BY 1, 2 HAVING max(run) >= 2
    ORDER BY user_a, user_b
    """


_EMERGING_BIN_DAYS = 14
_EMERGING_HOT_Z = 1.2  # lowered from 1.96: at sf<=0.1 the track grid has
# ~127 cells, where the classic 95% cut leaves almost every category
# empty; the classification logic is identical, only the cut moves


def _hot_cells_binned(spark, sf_dir):
    pts = _event_track_points(spark, sf_dir)
    g = _HOT_GRID_DEG
    t_bin = F.floor(
        F.floor(F.unix_timestamp(F.col("ts")) / 86400)
        / _EMERGING_BIN_DAYS
    ).cast("long")
    return (
        pts.groupBy(
            t_bin.alias("t_bin"),
            F.floor((F.col("lat") + 90.0) / g).cast("int").alias("gi"),
            F.pmod(
                F.floor((F.col("lon") + 180.0) / g), F.lit(_HOT_NLON)
            ).cast("int").alias("gj"),
        )
        .agg(F.count(F.lit(1)).alias("value"))
    )


def q_geo_emerging_hotspots(spark, sf_dir):
    """Emerging hot-spot analysis (space-time pattern mining): per-14-day
    Gi* slices + Mann-Kendall trend per cell + deterministic category.
    The per-bin stage is the binned neighbor scatter; the MK pair join is
    O(bins^2) per cell with bins a small constant."""
    from bufr2geojson_spark.operators.hotspot import emerging_hotspots

    return emerging_hotspots(
        _hot_cells_binned(spark, sf_dir), nlon=_HOT_NLON,
        val_dp=0, hot_z=_EMERGING_HOT_Z,
    ).orderBy("gi", "gj")


def _sql_geo_emerging_hotspots():
    hz = _EMERGING_HOT_Z
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    cells AS (
        SELECT floor(floor(epoch(ts) / 86400) / {_EMERGING_BIN_DAYS})::BIGINT
                   AS t_bin,
               floor((lat + 90.0) / 5.0)::INT AS gi,
               ((floor((lon + 180.0) / 5.0)::INT % {_HOT_NLON})
                + {_HOT_NLON}) % {_HOT_NLON} AS gj,
               count(*)::BIGINT AS x
        FROM pts GROUP BY 1, 2, 3
    ),
    gm AS (
        SELECT t_bin, count(*)::BIGINT AS n_raw, count(*)::DOUBLE AS n,
               sum(x)::DOUBLE AS sv, sum(x * x)::DOUBLE AS svv
        FROM cells GROUP BY t_bin
    ),
    nb AS (
        SELECT c.t_bin, c.gi, c.gj,
               count(*)::BIGINT AS w_i, sum(d.x)::BIGINT AS s1
        FROM cells c JOIN cells d
          ON d.t_bin = c.t_bin
         AND d.gi BETWEEN c.gi - 1 AND c.gi + 1
         AND ((d.gj - c.gj + {_HOT_NLON + 1}) % {_HOT_NLON}) <= 2
        GROUP BY 1, 2, 3
    ),
    z AS (
        SELECT nb.t_bin, nb.gi, nb.gj,
               CASE WHEN n_raw > 1 AND
                         sqrt(greatest(svv / n - (sv / n) * (sv / n), 0.0))
                         * sqrt((n * w_i::DOUBLE
                                 - w_i::DOUBLE * w_i::DOUBLE)
                                / (n - 1.0)) > 0.0
                    THEN floor((s1::DOUBLE - sv / n * w_i::DOUBLE)
                               / (sqrt(greatest(
                                      svv / n - (sv / n) * (sv / n), 0.0))
                                  * sqrt((n * w_i::DOUBLE
                                          - w_i::DOUBLE * w_i::DOUBLE)
                                         / (n - 1.0)))
                               * 1e6 + 0.5) / 1e6
               END AS gi_star
        FROM nb JOIN gm ON gm.t_bin = nb.t_bin
    ),
    zz AS (SELECT * FROM z WHERE gi_star IS NOT NULL),
    mk AS (
        SELECT a.gi, a.gj,
               sum(sign(b.gi_star - a.gi_star)::BIGINT)::BIGINT AS mk_s
        FROM zz a JOIN zz b
          ON a.gi = b.gi AND a.gj = b.gj AND a.t_bin < b.t_bin
        GROUP BY a.gi, a.gj
    ),
    per AS (
        SELECT gi, gj, count(*)::BIGINT AS n_bins,
               sum((gi_star > {hz!r})::INT)::BIGINT AS n_hot,
               sum((gi_star < -{hz!r})::INT)::BIGINT AS n_cold,
               arg_max(gi_star, t_bin) AS last_z
        FROM zz GROUP BY gi, gj
    )
    SELECT per.gi, per.gj, n_bins, n_hot, n_cold,
           coalesce(mk_s, 0)::BIGINT AS mk_s, last_z,
           CASE
             WHEN n_hot > 0 AND last_z > {hz!r} AND n_hot = 1
                 THEN 'new_hot'
             WHEN n_hot > 0 AND last_z > {hz!r} AND mk_s > 0
                 THEN 'intensifying_hot'
             WHEN n_hot > 0 AND last_z > {hz!r} AND mk_s < 0
                 THEN 'diminishing_hot'
             WHEN n_hot > 0 AND last_z > {hz!r} THEN 'persistent_hot'
             WHEN n_hot > 0 THEN 'sporadic_hot'
             WHEN n_cold > 0 AND last_z < -{hz!r} AND n_cold = 1
                 THEN 'new_cold'
             WHEN n_cold > 0 AND last_z < -{hz!r} AND mk_s < 0
                 THEN 'intensifying_cold'
             WHEN n_cold > 0 AND last_z < -{hz!r} AND mk_s > 0
                 THEN 'diminishing_cold'
             WHEN n_cold > 0 AND last_z < -{hz!r} THEN 'persistent_cold'
             WHEN n_cold > 0 THEN 'sporadic_cold'
             ELSE 'none'
           END AS category
    FROM per LEFT JOIN mk ON mk.gi = per.gi AND mk.gj = per.gj
    ORDER BY per.gi, per.gj
    """


def q_geo_track_similarity(spark, sf_dir):
    """Co-traveler detection: pairwise Jaccard over each entity's set of
    visited 1-degree cells via a cell-keyed inverted-index join (cost is
    sum of per-cell user-pairs, never entities^2)."""
    from bufr2geojson_spark.operators.trajectory import track_similarity

    return track_similarity(
        _event_track_points(spark, sf_dir), grid_deg=5.0
    ).orderBy("user_a", "user_b")


def _sql_geo_track_similarity():
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    cells AS (
        SELECT DISTINCT user_id AS u,
               floor((lat + 90.0) / 5.0)::INT AS gi,
               floor((lon + 180.0) / 5.0)::INT AS gj
        FROM pts
    ),
    sizes AS (SELECT u, count(*)::BIGINT AS n_cells FROM cells GROUP BY u),
    pairs AS (
        SELECT a.u AS user_a, b.u AS user_b, count(*)::BIGINT AS shared_cells
        FROM cells a JOIN cells b
          ON a.gi = b.gi AND a.gj = b.gj AND a.u < b.u
        GROUP BY 1, 2
    )
    SELECT user_a, user_b, shared_cells,
           sa.n_cells AS cells_a, sb.n_cells AS cells_b,
           floor(shared_cells::DOUBLE
                 / (sa.n_cells + sb.n_cells - shared_cells)::DOUBLE
                 * 1e6 + 0.5) / 1e6 AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.u = user_a
    JOIN sizes sb ON sb.u = user_b
    ORDER BY user_a, user_b
    """


# --- movement integrity / segmentation / inference over the track stream --

_ANOM_MAX_KMH = 10.0  # p97 of the synthetic hop-speed distribution
_TRIP_MAX_GAP_S = 43200.0  # 12 h: splits ~1/3 of hops into trip boundaries


def q_event_speed_anomalies(spark, sf_dir):
    """Impossible-travel detection: hops whose implied speed exceeds a
    threshold — one segment-window shuffle + a codegen filter; the speed
    derives from the 2 dp hop quantization and exact epoch deltas, so
    the cut is engine-stable."""
    from bufr2geojson_spark.operators.textops import round_dp
    from bufr2geojson_spark.operators.trajectory import speed_anomalies

    out = speed_anomalies(
        _event_track_points(spark, sf_dir), max_kmh=_ANOM_MAX_KMH
    )
    return out.select(
        "user_id", "event_id", "prev_ts", "ts", "dt_s", "seg_km",
        "speed_kmh",
        round_dp(F.col("lat"), 6).alias("lat"),
        round_dp(F.col("lon"), 6).alias("lon"),
    ).orderBy("user_id", "event_id")


_SQL_EVENT_SPEED_ANOMALIES = f"""
    WITH {_SQL_SEGMENTS}
    SELECT user_id, event_id, prev_ts, ts, dt_s::DOUBLE AS dt_s, seg_km,
           floor(speed_kmh * 1e4 + 0.5) / 1e4 AS speed_kmh,
           floor(lat * 1e6 + 0.5) / 1e6 AS lat,
           floor(lon * 1e6 + 0.5) / 1e6 AS lon
    FROM sp WHERE speed_kmh > {_ANOM_MAX_KMH!r}
    ORDER BY user_id, event_id
"""


def q_event_trips(spark, sf_dir):
    """Trip segmentation (the dual of dwell detection): split each track
    where the device went dark > 12 h, summarize each continuous journey
    — gaps-and-islands in the same single shuffle as the lag window,
    exact integer hop sums."""
    from bufr2geojson_spark.operators.trajectory import detect_trips

    return detect_trips(
        _event_track_points(spark, sf_dir), max_gap_s=_TRIP_MAX_GAP_S
    ).orderBy("user_id", "trip_seq")


_SQL_EVENT_TRIPS = f"""
    WITH {_SQL_SEGMENTS},
    fl AS (
        SELECT *,
               (dt_s IS NOT NULL AND dt_s <= {_TRIP_MAX_GAP_S!r})
                   AS is_linked,
               sum(CASE WHEN dt_s IS NOT NULL
                             AND dt_s <= {_TRIP_MAX_GAP_S!r}
                        THEN 0 ELSE 1 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS episode
        FROM sp
    ),
    ep AS (
        SELECT user_id, episode,
               min(prev_ts) AS start_ts,
               max(ts) AS end_ts,
               floor((max(epoch(ts)) - min(epoch(prev_ts))) * 1e4 + 0.5)
                   / 1e4 AS duration_s,
               floor((sum(floor(seg_km * 100.0 + 0.5)::BIGINT)::DOUBLE
                      / 100.0) * 1e4 + 0.5) / 1e4 AS trip_km,
               count(*)::BIGINT AS n_hops,
               CASE WHEN max(epoch(ts)) - min(epoch(prev_ts)) > 0 THEN
                   floor((sum(floor(seg_km * 100.0 + 0.5)::BIGINT)::DOUBLE
                          / 100.0)
                         / ((max(epoch(ts)) - min(epoch(prev_ts)))
                            / 3600.0) * 1e4 + 0.5) / 1e4
               END AS avg_kmh
        FROM fl WHERE is_linked
        GROUP BY user_id, episode
    )
    SELECT user_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY start_ts, episode) AS trip_seq,
           start_ts, end_ts, duration_s, trip_km, n_hops, avg_kmh
    FROM ep ORDER BY user_id, trip_seq
"""


def q_event_home_cells(spark, sf_dir):
    """Home-location inference: modal 1-degree night-hour cell per
    entity (two entity-keyed shuffles, deterministic tiebreak)."""
    from bufr2geojson_spark.operators.trajectory import infer_home_cells

    return infer_home_cells(
        _event_track_points(spark, sf_dir), grid_deg=1.0
    ).orderBy("user_id")


_SQL_EVENT_HOME_CELLS = f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    night AS (
        SELECT user_id,
               floor((lat + 90.0) / 1.0)::INT AS gi,
               floor((lon + 180.0) / 1.0)::INT AS gj
        FROM pts WHERE hour(ts) BETWEEN 0 AND 5
    ),
    counts AS (
        SELECT user_id, gi, gj, count(*)::BIGINT AS n_pings
        FROM night GROUP BY 1, 2, 3
    ),
    top AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY n_pings DESC, gi, gj) AS rk
        FROM counts
    )
    SELECT user_id, gi, gj, n_pings,
           floor(((gi + 0.5) * 1.0 - 90.0) * 1e4 + 0.5) / 1e4 AS home_lat,
           floor(((gj + 0.5) * 1.0 - 180.0) * 1e4 + 0.5) / 1e4 AS home_lon
    FROM top WHERE rk = 1 ORDER BY user_id
"""


# axis-aligned geofence boxes: integer edges sit exactly on the 0.0-
# fractional user centers, so their jitter oscillates across the edge
_GEOFENCES = [
    (1, -70.0, -30.0, -180.0, -90.0),
    (2, -30.0, 0.0, -90.0, 0.0),
    (3, 0.0, 30.0, 0.0, 90.0),
    (4, 30.0, 70.0, 90.0, 180.0),
    (5, -20.0, 20.0, -180.0, 180.0),
    (6, 10.0, 50.0, -50.0, 50.0),
]


def q_event_geofence_transitions(spark, sf_dir):
    """Geofence enter/exit stream: membership-set differences between
    consecutive ranked pings (anti-joins on the shifted rank) — shuffle
    tracks the membership table, never pings x fences."""
    from bufr2geojson_spark.operators.trajectory import (
        geofence_transitions,
    )

    fences = spark.createDataFrame(
        _GEOFENCES,
        "fence_id int, lat_min double, lat_max double, "
        "lon_min double, lon_max double",
    )
    return geofence_transitions(
        _event_track_points(spark, sf_dir), fences
    ).orderBy("user_id", "fence_id", "ts", "transition")


def _sql_event_geofence_transitions():
    rows = ", ".join(
        f"({i}, {a!r}, {b!r}, {c!r}, {d!r})" for i, a, b, c, d in _GEOFENCES
    )
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS r
        FROM pts
    ),
    fences(fence_id, lat_min, lat_max, lon_min, lon_max) AS
        (VALUES {rows}),
    mem AS (
        SELECT p.user_id, p.r, p.ts, f.fence_id
        FROM ranked p JOIN fences f
          ON p.lat >= f.lat_min AND p.lat < f.lat_max
         AND p.lon >= f.lon_min AND p.lon < f.lon_max
    ),
    enters AS (
        SELECT m.user_id, m.fence_id, m.ts, 'enter' AS transition
        FROM mem m LEFT JOIN mem p
          ON p.user_id = m.user_id AND p.fence_id = m.fence_id
         AND p.r = m.r - 1
        WHERE p.r IS NULL
    ),
    exits AS (
        SELECT m.user_id, m.fence_id, n.ts, 'exit' AS transition
        FROM mem m
        JOIN ranked n ON n.user_id = m.user_id AND n.r = m.r + 1
        LEFT JOIN mem q
          ON q.user_id = m.user_id AND q.fence_id = m.fence_id
         AND q.r = m.r + 1
        WHERE q.r IS NULL
    )
    SELECT * FROM (SELECT * FROM enters UNION ALL SELECT * FROM exits)
    ORDER BY user_id, fence_id, ts, transition
    """


def q_geo_lisa(spark, sf_dir):
    """Local Moran's I (Anselin LISA) cluster/outlier map over the
    track-density grid: the same 8x scatter + broadcast-moment shape as
    the global statistic, exact integer deviations, HH/LL/HL/LH
    quadrant labels."""
    from bufr2geojson_spark.operators.hotspot import local_morans

    return local_morans(
        _hot_cells(spark, sf_dir), nlon=_HOT_NLON, val_dp=0
    ).orderBy("gi", "gj")


def _sql_geo_lisa():
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    {_SQL_HOT_CELLS},
    nb AS (
        SELECT c.gi, c.gj, c.x,
               count(d.gi)::BIGINT AS w, coalesce(sum(d.x), 0)::BIGINT AS ns
        FROM cells c LEFT JOIN cells d
          ON d.gi BETWEEN c.gi - 1 AND c.gi + 1
         AND ((d.gj - c.gj + {_HOT_NLON + 1}) % {_HOT_NLON}) <= 2
         AND NOT (d.gi = c.gi AND d.gj = c.gj)
        GROUP BY c.gi, c.gj, c.x
    ),
    agg AS (
        SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sv,
               sum(x * x)::BIGINT AS svv
        FROM nb
    )
    SELECT gi, gj, x, w AS w_i,
           CASE WHEN n > 1
                 AND (n::HUGEINT * n * svv - n::HUGEINT * sv * sv) > 0
                THEN floor(n::DOUBLE
                           * (n::HUGEINT * x - sv)::DOUBLE
                           * (n::HUGEINT * ns - w::HUGEINT * sv)::DOUBLE
                           / (n::HUGEINT * n * svv
                              - n::HUGEINT * sv * sv)::DOUBLE
                           * 1e6 + 0.5) / 1e6
           END AS lisa_i,
           CASE WHEN w = 0 OR (n::HUGEINT * x - sv) = 0
                     OR (n::HUGEINT * ns - w::HUGEINT * sv) = 0 THEN 'NS'
                WHEN (n::HUGEINT * x - sv) > 0
                     AND (n::HUGEINT * ns - w::HUGEINT * sv) > 0 THEN 'HH'
                WHEN (n::HUGEINT * x - sv) < 0
                     AND (n::HUGEINT * ns - w::HUGEINT * sv) < 0 THEN 'LL'
                WHEN (n::HUGEINT * x - sv) > 0 THEN 'HL'
                ELSE 'LH'
           END AS quadrant
    FROM nb, agg ORDER BY gi, gj
    """


# --- mobility metrics / proximity mining over the track stream ------------

_CONTACT_KM = 250.0
_CONTACT_WINDOW_S = 86400.0
_CONTACT_BAND_DEG = _CONTACT_KM / 111.19  # >= dist in latitude degrees


def q_event_radius_gyration(spark, sf_dir):
    """Radius of gyration per entity (RMS distance from the track
    centroid): one entity-keyed shuffle (unbounded window + reused
    groupBy), 1e-6 centroid + 2dp squared-distance fixed points."""
    from bufr2geojson_spark.operators.trajectory import radius_of_gyration

    return radius_of_gyration(
        _event_track_points(spark, sf_dir)
    ).orderBy("user_id")


_SQL_EVENT_RADIUS_GYRATION = f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    c AS (
        SELECT user_id, lat, lon,
               floor(sum(floor(lat * 1e6 + 0.5)::BIGINT) OVER w::DOUBLE
                     / 1e6 / (count(*) OVER w) * 1e6 + 0.5) / 1e6 AS clat,
               floor(sum(floor(lon * 1e6 + 0.5)::BIGINT) OVER w::DOUBLE
                     / 1e6 / (count(*) OVER w) * 1e6 + 0.5) / 1e6 AS clon
        FROM pts WINDOW w AS (PARTITION BY user_id)
    ),
    d0 AS (
        SELECT user_id, clat, clon,
               2 * 6371.0 * asin(sqrt(
                   pow(sin(radians(lat - clat) / 2), 2)
                   + cos(radians(clat)) * cos(radians(lat))
                     * pow(sin(radians(lon - clon) / 2), 2)
               )) AS dk
        FROM c
    ),
    d AS (
        SELECT user_id, clat, clon,
               floor(dk * dk * 100.0 + 0.5)::BIGINT AS d2e2
        FROM d0
    ),
    agg AS (
        SELECT user_id, count(*)::BIGINT AS n_pings,
               min(clat) AS c_lat, min(clon) AS c_lon,
               sum(d2e2)::BIGINT AS s
        FROM d GROUP BY user_id
    )
    SELECT user_id, n_pings, c_lat, c_lon,
           floor(sqrt(s::DOUBLE / 100.0 / n_pings::DOUBLE) * 1e4 + 0.5)
               / 1e4 AS rg_km
    FROM agg ORDER BY user_id
"""


def q_event_visit_entropy(spark, sf_dir):
    """Mobility predictability: Shannon entropy of each entity's
    visited-cell distribution, per-cell n*ln(n) terms quantized to 1e-9
    and integer-summed (bit-stable)."""
    from bufr2geojson_spark.operators.trajectory import visit_entropy

    return visit_entropy(
        _event_track_points(spark, sf_dir), grid_deg=1.0
    ).orderBy("user_id")


_SQL_EVENT_VISIT_ENTROPY = f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    counts AS (
        SELECT user_id,
               floor((lat + 90.0) / 1.0)::INT AS gi,
               floor((lon + 180.0) / 1.0)::INT AS gj,
               count(*)::BIGINT AS n_c
        FROM pts GROUP BY 1, 2, 3
    ),
    t AS (
        SELECT user_id, n_c,
               floor(n_c::DOUBLE * ln(n_c::DOUBLE) * 1e9 + 0.5)::BIGINT
                   AS tq
        FROM counts
    ),
    agg AS (
        SELECT user_id, sum(n_c)::BIGINT AS n_pings,
               count(*)::BIGINT AS n_cells, sum(tq)::BIGINT AS ts
        FROM t GROUP BY user_id
    )
    SELECT user_id, n_pings, n_cells,
           floor((ln(n_pings::DOUBLE)
                  - ts::DOUBLE / 1e9 / n_pings::DOUBLE) * 1e6 + 0.5)
               / 1e6 AS entropy
    FROM agg ORDER BY user_id
"""


def q_event_contacts(spark, sf_dir):
    """Proximity contact mining (pings within 250 km and 24 h):
    (latitude band, time bin) bucketed candidate join with a one-sided
    3x3 neighbor explode — a pair can match in exactly one bucket, so
    candidates need no dedup; exact filter on quantized distances."""
    from bufr2geojson_spark.operators.trajectory import contact_events

    return contact_events(
        _event_track_points(spark, sf_dir),
        dist_km=_CONTACT_KM, window_s=_CONTACT_WINDOW_S,
    ).orderBy("user_a", "user_b")


def _sql_event_contacts():
    offs = ", ".join(
        f"({di}, {dj})" for di in (-1, 0, 1) for dj in (-1, 0, 1)
    )
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    base AS (
        SELECT user_id AS u, ts AS t, event_id AS e, lat AS la,
               lon AS lo, epoch(ts) AS sec,
               floor((lat + 90.0) / {_CONTACT_BAND_DEG!r})::INT AS bb,
               floor(epoch(ts) / {_CONTACT_WINDOW_S!r})::BIGINT AS tb
        FROM pts
    ),
    offs(di, dj) AS (VALUES {offs}),
    l AS (
        SELECT u AS user_a, t AS ts_a, la AS la_a, lo AS lo_a,
               sec AS s_a, bb + di AS bb, tb + dj AS tb
        FROM base CROSS JOIN offs
    ),
    r AS (
        SELECT u AS user_b, t AS ts_b, la AS la_b, lo AS lo_b,
               sec AS s_b, bb, tb
        FROM base
    ),
    cand AS (
        SELECT user_a, user_b, ts_a, ts_b,
               floor(2 * 6371.0 * asin(sqrt(
                   pow(sin(radians(la_b - la_a) / 2), 2)
                   + cos(radians(la_a)) * cos(radians(la_b))
                     * pow(sin(radians(lo_b - lo_a) / 2), 2)
               )) * 100.0 + 0.5) / 100.0 AS d
        FROM l JOIN r USING (bb, tb)
        WHERE user_a < user_b AND abs(s_a - s_b) <= {_CONTACT_WINDOW_S!r}
    )
    SELECT user_a, user_b, count(*)::BIGINT AS n_contacts,
           min(least(ts_a, ts_b)) AS first_ts,
           max(greatest(ts_a, ts_b)) AS last_ts,
           min(d) AS min_km
    FROM cand WHERE d <= {_CONTACT_KM!r}
    GROUP BY 1, 2 ORDER BY 1, 2
    """


def q_event_co_dwells(spark, sf_dir):
    """Rendezvous detection: dwell-episode pairs overlapping in time
    with centroids within 250 km — banded candidate join over the
    detect_stops output (episode tables are tiny vs ping streams),
    2dp fixed-point overlap sums."""
    from bufr2geojson_spark.operators.trajectory import (
        co_dwells,
        detect_stops,
    )

    stops = detect_stops(
        _event_track_points(spark, sf_dir),
        max_speed_kmh=_STOPS_MAX_KMH,
        min_dwell_s=_STOPS_MIN_DWELL_S,
    )
    return co_dwells(
        stops, dist_km=_CONTACT_KM, min_overlap_s=0.0
    ).orderBy("user_a", "user_b")


def _sql_event_co_dwells():
    return f"""
    WITH stops AS ({_SQL_EVENT_STOPS}),
    base AS (
        SELECT user_id AS u, c_lat AS la, c_lon AS lo,
               epoch(start_ts) AS s0, epoch(end_ts) AS s1,
               floor((c_lat + 90.0) / {_CONTACT_BAND_DEG!r})::INT AS bb
        FROM stops
    ),
    offs(di) AS (VALUES (-1), (0), (1)),
    l AS (
        SELECT u AS user_a, la AS la_a, lo AS lo_a, s0 AS a0, s1 AS a1,
               bb + di AS bb
        FROM base CROSS JOIN offs
    ),
    r AS (
        SELECT u AS user_b, la AS la_b, lo AS lo_b, s0 AS b0, s1 AS b1,
               bb
        FROM base
    ),
    cand AS (
        SELECT user_a, user_b,
               least(a1, b1) - greatest(a0, b0) AS ov,
               floor(2 * 6371.0 * asin(sqrt(
                   pow(sin(radians(la_b - la_a) / 2), 2)
                   + cos(radians(la_a)) * cos(radians(la_b))
                     * pow(sin(radians(lo_b - lo_a) / 2), 2)
               )) * 100.0 + 0.5) / 100.0 AS d
        FROM l JOIN r USING (bb) WHERE user_a < user_b
    ),
    f AS (SELECT * FROM cand WHERE ov >= 0.0 AND d <= {_CONTACT_KM!r})
    SELECT user_a, user_b, count(*)::BIGINT AS n_meetings,
           sum(floor(ov * 100.0 + 0.5)::BIGINT)::DOUBLE / 100.0
               AS total_overlap_s,
           max(floor(ov * 100.0 + 0.5)::BIGINT)::DOUBLE / 100.0
               AS max_overlap_s,
           min(d) AS min_km
    FROM f GROUP BY 1, 2 ORDER BY 1, 2
    """


def q_geo_track_hausdorff(spark, sf_dir):
    """Exact symmetric Hausdorff track distance on inverted-index
    candidate pairs (shared 5-degree cells): both directed maxima reduce
    one pair-keyed distance table with reused partitioning."""
    from bufr2geojson_spark.operators.trajectory import track_hausdorff

    return track_hausdorff(
        _event_track_points(spark, sf_dir), grid_deg=5.0, min_shared=1
    ).orderBy("user_a", "user_b")


def _sql_geo_track_hausdorff():
    return f"""
    WITH pts AS ({_TRACK_PTS_SQL}),
    cells AS (
        SELECT DISTINCT user_id AS u,
               floor((lat + 90.0) / 5.0)::INT AS gi,
               floor((lon + 180.0) / 5.0)::INT AS gj
        FROM pts
    ),
    pairs AS (
        SELECT a.u AS user_a, b.u AS user_b
        FROM cells a JOIN cells b
          ON a.gi = b.gi AND a.gj = b.gj AND a.u < b.u
        GROUP BY 1, 2 HAVING count(*) >= 1
    ),
    dists AS (
        SELECT p.user_a, p.user_b, pa.event_id AS ra, pb.event_id AS rb,
               floor(2 * 6371.0 * asin(sqrt(
                   pow(sin(radians(pb.lat - pa.lat) / 2), 2)
                   + cos(radians(pa.lat)) * cos(radians(pb.lat))
                     * pow(sin(radians(pb.lon - pa.lon) / 2), 2)
               )) * 100.0 + 0.5) / 100.0 AS d
        FROM pairs p
        JOIN pts pa ON pa.user_id = p.user_a
        JOIN pts pb ON pb.user_id = p.user_b
    ),
    hab AS (
        SELECT user_a, user_b, max(m) AS h_ab FROM (
            SELECT user_a, user_b, ra, min(d) AS m
            FROM dists GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    ),
    hba AS (
        SELECT user_a, user_b, max(m) AS h_ba FROM (
            SELECT user_a, user_b, rb, min(d) AS m
            FROM dists GROUP BY 1, 2, 3
        ) GROUP BY 1, 2
    )
    SELECT user_a, user_b, h_ab, h_ba,
           greatest(h_ab, h_ba) AS hausdorff_km
    FROM hab JOIN hba USING (user_a, user_b)
    ORDER BY user_a, user_b
    """


_BM25_TERMS = ["merge", "stream", "table", "vector"]


def q_bm25_scores(spark, sf_dir):
    """Okapi BM25 relevance against a fixed query-term bag: query-term
    filter BEFORE the (doc,term) shuffle, broadcast corpus stats,
    fixed-point contribution sums."""
    return T.bm25_scores(
        _t(spark, sf_dir, "documents"), _BM25_TERMS
    ).orderBy("doc_id")


def _sql_bm25():
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM tok
        WHERE term IN ({terms}) GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    contrib AS (
        SELECT tf.doc_id,
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS contrib
        FROM tf
        JOIN df USING (term)
        JOIN dl USING (doc_id)
        CROSS JOIN corpus
    )
    SELECT doc_id,
           floor((sum(floor(contrib * 1e9 + 0.5)::BIGINT)::DOUBLE / 1e9)
                 * 1e6 + 0.5) / 1e6 AS score,
           count(*) AS n_hits
    FROM contrib GROUP BY doc_id ORDER BY doc_id
    """


def q_geo_kde_merge(spark, sf_dir):
    """Continuous-aggregate property of the KDE surface: corpus split in
    two by pid parity, each half densified with mergeable state, folded
    with kde_merge — the oracle is the ONE-SHOT full-corpus SQL, so the
    check proves merge == full recompute bit-for-bit."""
    from bufr2geojson_spark.operators.tiles import kde_heatmap, kde_merge

    pts = _geo_points(spark, sf_dir)
    a = pts.filter(F.col("pid") % 2 == 0)
    b = pts.filter(F.col("pid") % 2 == 1)
    ka = kde_heatmap(a, grid_deg=2.0, sigma_km=150.0, keep_state=True)
    kb = kde_heatmap(b, grid_deg=2.0, sigma_km=150.0, keep_state=True)
    return (
        kde_merge(ka, kb)
        .select("gi", "gj", "glat", "glon", "n_src", "density")
        .orderBy("gi", "gj")
    )


def q_geo_kde_heatmap(spark, sf_dir):
    """Gaussian KDE heatmap on a 2-degree grid (truncated 3-sigma kernel,
    explode-to-reachable-nodes, fixed-point weight sums)."""
    from bufr2geojson_spark.operators.tiles import kde_heatmap

    pts = _geo_points(spark, sf_dir)
    return kde_heatmap(
        pts, grid_deg=2.0, sigma_km=150.0, cutoff_sigmas=3.0
    ).orderBy("gi", "gj")


# same disc-cover + fixed-point scheme as _SQL_GEO_IDW, with the Gaussian
# kernel (2 sigma^2 = 45000) instead of inverse-distance weights
_SQL_GEO_KDE = f"""
    WITH pts AS ({_GEO_PTS_SQL}),
    cov AS (
        SELECT pid, lat, lon,
               floor((lat - {450.0 / KM_PER_DEG!r}) / 2.0)::INT AS ci_lo,
               floor((lat + {450.0 / KM_PER_DEG!r}) / 2.0)::INT AS ci_hi,
               floor((lon + 180.0
                      - {450.0 / KM_PER_DEG!r}
                        / cos(radians(least(abs(lat)
                                            + {450.0 / KM_PER_DEG!r},
                                            89.999)))) / 2.0)::INT AS cj_lo,
               least(
                   floor((lon + 180.0
                          + {450.0 / KM_PER_DEG!r}
                            / cos(radians(least(abs(lat)
                                                + {450.0 / KM_PER_DEG!r},
                                                89.999)))) / 2.0)::INT,
                   floor((lon + 180.0
                          - {450.0 / KM_PER_DEG!r}
                            / cos(radians(least(abs(lat)
                                                + {450.0 / KM_PER_DEG!r},
                                                89.999)))) / 2.0)::INT + 179
               ) AS cj_hi
        FROM pts
    ),
    exi AS (
        SELECT pid, lat, lon, cj_lo, cj_hi,
               unnest(generate_series(ci_lo, ci_hi)) AS gi
        FROM cov
    ),
    exj AS (
        SELECT pid, lat, lon, gi,
               ((unnest(generate_series(cj_lo, cj_hi)) % 180) + 180) % 180
                   AS gj
        FROM exi
    ),
    scored AS (
        SELECT gi, gj,
               floor(2 * 6371.0 * asin(sqrt(
                   pow(sin(radians((gi + 0.5) * 2.0 - lat) / 2), 2)
                   + cos(radians(lat)) * cos(radians((gi + 0.5) * 2.0))
                     * pow(sin(radians((gj + 0.5) * 2.0 - 180.0 - lon) / 2),
                           2)
               )) * 100.0 + 0.5) / 100.0 AS d
        FROM exj
        WHERE abs((gi + 0.5) * 2.0) <= 90.0
    ),
    wts AS (
        SELECT gi, gj,
               floor(1e6 * exp(-(d * d) / 45000.0) + 0.5)::BIGINT AS w
        FROM scored WHERE d <= 450.0
    )
    SELECT gi, gj,
           (gi + 0.5) * 2.0 AS glat,
           (gj + 0.5) * 2.0 - 180.0 AS glon,
           count(*) AS n_src,
           floor(sum(w)::DOUBLE / 1e6 * 1e4 + 0.5) / 1e4 AS density
    FROM wts WHERE w > 0 GROUP BY gi, gj ORDER BY gi, gj
"""


_CONTOUR_THR = 1.0


def q_geo_contours(spark, sf_dir):
    """Isoline extraction: marching squares over the KDE density surface
    at density = 1.0 (three co-partitioned self-joins + broadcast 16-row
    case table + pure-Column interpolation)."""
    from bufr2geojson_spark.operators.tiles import (
        contour_segments,
        kde_heatmap,
    )

    surface = kde_heatmap(
        _geo_points(spark, sf_dir), grid_deg=2.0, sigma_km=150.0
    )
    return contour_segments(surface, _CONTOUR_THR, grid_deg=2.0).orderBy(
        "gi", "gj", "seg_idx"
    )


def _sql_geo_contours():
    from bufr2geojson_spark.operators.tiles import MS_SEGMENTS

    thr = repr(float(_CONTOUR_THR))
    seg_rows = ", ".join(
        f"({c}, {s}, {e1}, {e2})" for c, s, e1, e2 in MS_SEGMENTS
    )
    # interpolation expressions mirror contour_segments' Column arithmetic
    # term-for-term so both engines evaluate identical IEEE expressions
    t_s = f"(({thr} - v_sw) / (v_se - v_sw))"
    t_e = f"(({thr} - v_se) / (v_ne - v_se))"
    t_n = f"(({thr} - v_nw) / (v_ne - v_nw))"
    t_w = f"(({thr} - v_sw) / (v_nw - v_sw))"
    lon_j = "((gj + 0.5) * 2.0 - 180.0)"
    lon_j1 = "((gj + 1.5) * 2.0 - 180.0)"
    lat_i = "((gi + 0.5) * 2.0)"
    lat_i1 = "((gi + 1.5) * 2.0)"

    def ex(e):
        lon = (f"CASE {e} WHEN 0 THEN {lon_j} + {t_s} * 2.0 "
               f"WHEN 1 THEN {lon_j1} "
               f"WHEN 2 THEN {lon_j} + {t_n} * 2.0 "
               f"ELSE {lon_j} END")
        lat = (f"CASE {e} WHEN 0 THEN {lat_i} "
               f"WHEN 1 THEN {lat_i} + {t_e} * 2.0 "
               f"WHEN 2 THEN {lat_i1} "
               f"ELSE {lat_i} + {t_w} * 2.0 END")
        return lon, lat

    x1, y1 = ex("e1")
    x2, y2 = ex("e2")
    return f"""
    WITH kde AS ({_SQL_GEO_KDE}),
    sq AS (
        SELECT sw.gi AS gi, sw.gj AS gj,
               sw.density AS v_sw, se.density AS v_se,
               nw.density AS v_nw, ne.density AS v_ne
        FROM kde sw
        JOIN kde se ON se.gi = sw.gi AND se.gj = sw.gj + 1
        JOIN kde nw ON nw.gi = sw.gi + 1 AND nw.gj = sw.gj
        JOIN kde ne ON ne.gi = sw.gi + 1 AND ne.gj = sw.gj + 1
    ),
    cs AS (
        SELECT *,
               (CASE WHEN v_sw >= {thr} THEN 1 ELSE 0 END
                + CASE WHEN v_se >= {thr} THEN 2 ELSE 0 END
                + CASE WHEN v_ne >= {thr} THEN 4 ELSE 0 END
                + CASE WHEN v_nw >= {thr} THEN 8 ELSE 0 END) AS ms_case
        FROM sq
    ),
    segs(ms_case, seg_idx, e1, e2) AS (VALUES {seg_rows})
    SELECT c.gi, c.gj, c.ms_case, s.seg_idx,
           floor(({x1}) * 1e6 + 0.5) / 1e6 AS x1,
           floor(({y1}) * 1e6 + 0.5) / 1e6 AS y1,
           floor(({x2}) * 1e6 + 0.5) / 1e6 AS x2,
           floor(({y2}) * 1e6 + 0.5) / 1e6 AS y2
    FROM cs c JOIN segs s ON s.ms_case = c.ms_case
    WHERE c.ms_case > 0 AND c.ms_case < 15
    ORDER BY 1, 2, 4
    """


def q_geo_zonal_stats(spark, sf_dir):
    """Zonal statistics: the KDE density surface aggregated by region
    polygon (raster×vector summary — nodes ride the broadcast PIP join,
    one groupBy on the zone, fixed-point value sums)."""
    from bufr2geojson_spark.operators.spatial import zonal_stats
    from bufr2geojson_spark.operators.tiles import kde_heatmap

    surface = kde_heatmap(
        _geo_points(spark, sf_dir), grid_deg=2.0, sigma_km=150.0
    )
    return zonal_stats(
        surface, _region_polys(spark), value_col="density"
    ).orderBy("region_id")


# zone membership via the same crossing-number SQL as _sql_geo_pip, applied
# to the KDE node centers; fixed-point density sums match zonal_stats
_SQL_GEO_ZONAL = f"""
    WITH kde AS ({_SQL_GEO_KDE}),
    crossings AS (
        SELECT k.gi, k.gj, e.region_id, count(*) AS n_cross
        FROM kde k
        JOIN {_edges_values_sql()}
          ON ((e.y1 > k.glat) <> (e.y2 > k.glat))
         AND ((CASE WHEN e.is_anti = 1 AND k.glon < 0 THEN k.glon + 360
                    ELSE k.glon END)
              < (e.x2 - e.x1) * (k.glat - e.y1) / (e.y2 - e.y1) + e.x1)
        GROUP BY k.gi, k.gj, e.region_id
    ),
    inz AS (SELECT gi, gj, region_id FROM crossings WHERE n_cross % 2 = 1)
    SELECT i.region_id,
           count(*) AS n_nodes,
           floor(sum(floor(k.density * 1e4 + 0.5)::BIGINT)::DOUBLE / 1e4
                 * 1e6 + 0.5) / 1e6 AS sum_val,
           floor(sum(floor(k.density * 1e4 + 0.5)::BIGINT)::DOUBLE / 1e4
                 / count(*) * 1e6 + 0.5) / 1e6 AS mean_val,
           floor(max(k.density) * 1e6 + 0.5) / 1e6 AS max_val,
           floor(min(k.density) * 1e6 + 0.5) / 1e6 AS min_val
    FROM inz i JOIN kde k ON k.gi = i.gi AND k.gj = i.gj
    GROUP BY i.region_id ORDER BY 1
"""


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver contract. ORDER MATTERS: the driver's correctness gate runs the
    first 50 entries only (verified rounds 2-4: CORRECTNESS_r0N's keys equal
    this dict's first 50 in order). Round-5 rotation (round-4 verdict #2,
    the final one): slots 1-4 are the only 4 contract queries that have
    never produced a driver row — the three trained-ANN constant digests
    (created in round 4 just outside the window, at old slots 51-53) and
    engine_media_xmodal (converted from rows-only to a constant-digest
    oracle this round, round-4 verdict #3). Slots 5-50 are the first 46 of
    the round-4 window, all green in CORRECTNESS_r04 and unchanged —
    representative greens spanning trajectory, retrieval/density, corpus
    stats, graph, dedup, and the media digests. After this round EVERY
    query in the 152-query contract has had a hard driver CORRECTNESS row,
    and all 152 are exact-oracled (zero rows-only)."""
    return {
        # --- 50-slot driver gate window (round-4 verdict #2) --------------
        # 1-4: the last never-driver-checked queries in the contract
        "ann_ivf_trained_digest": q_ann_ivf_trained_digest,
        "ann_pq_digest": q_ann_pq_digest,
        "ann_ivf_pq_digest": q_ann_ivf_pq_digest,
        "engine_media_xmodal": q_engine_media_xmodal,
        # 5-50: representative r4-greens (first 46 of the round-4 window)
        "event_track_stats": q_event_track_stats,
        "event_stops": q_event_stops,
        "bm25_scores": q_bm25_scores,
        "geo_kde_heatmap": q_geo_kde_heatmap,
        "geo_kde_merge": q_geo_kde_merge,
        "lsh_verified_containment": q_lsh_verified_containment,
        "geo_zonal_stats": q_geo_zonal_stats,
        "geo_contours": q_geo_contours,
        "event_od_flows": q_event_od_flows,
        "geo_hotspot_gi": q_geo_hotspot_gi,
        "geo_morans_i": q_geo_morans_i,
        "geo_track_similarity": q_geo_track_similarity,
        "geo_emerging_hotspots": q_geo_emerging_hotspots,
        "geo_convoys": q_geo_convoys,
        "event_radius_gyration": q_event_radius_gyration,
        "event_visit_entropy": q_event_visit_entropy,
        "event_contacts": q_event_contacts,
        "geo_track_hausdorff": q_geo_track_hausdorff,
        "event_co_dwells": q_event_co_dwells,
        "ssjoin_exact": q_ssjoin_exact,
        "heavy_hitter_tokens": q_heavy_hitter_tokens,
        "pareto_docs": q_pareto_docs,
        "bigram_logprob": q_bigram_logprob,
        "geo_tile_median": q_geo_tile_median,
        "dedup_substring_spans": q_dedup_substring_spans,
        "event_interval_join": q_event_interval_join,
        "rp_project": q_rp_project,
        "fuzzy_name_pairs": q_fuzzy_name_pairs,
        "engine_hll_digest": q_engine_hll_digest,
        "doc_chunks": q_doc_chunks,
        "event_throttle": q_event_throttle,
        "event_markov": q_event_markov,
        "event_ngrams": q_event_ngrams,
        "bpe_merges": q_bpe_merges,
        "pmi_pairs": q_pmi_pairs,
        "dedup_incremental": q_dedup_incremental,
        "embedding_dim_stats": q_embedding_dim_stats,
        "er_clusters": q_er_clusters,
        "geo_tile_p90": q_geo_tile_p90,
        "graph_bfs": q_graph_bfs,
        "graph_link_predict": q_graph_link_predict,
        "graph_sssp": q_graph_sssp,
        "geo_convex_hull": q_geo_convex_hull,
        "dsir_select": q_dsir_select,
        "geo_track_crossings": q_geo_track_crossings,
        "geo_track_dtw": q_geo_track_dtw,
        # ---------------- 50-entry driver window ends here ----------------
        # everything below is green in a prior round's CORRECTNESS and
        # unchanged (local exact-oracle sweep stays green —
        # scripts/check_oracle.py)
        "pack_sequences": q_pack_sequences,
        "engine_media_digest": q_engine_media_digest,
        "engine_media_resize_digest": q_engine_media_resize_digest,
        "engine_audio_digest": q_engine_audio_digest,
        "engine_decode_digest": q_engine_decode_digest,
        "engine_cells_digest": q_engine_cells_digest,
        "engine_knn_digest": q_engine_knn_digest,
        "engine_pip_digest": q_engine_pip_digest,
        "engine_tiles_digest": q_engine_tiles_digest,
        "engine_raster_digest": q_engine_raster_digest,
        "engine_tiles_hex_digest": q_engine_tiles_hex_digest,
        "engine_zorder_digest": q_engine_zorder_digest,
        "engine_geohash_digest": q_engine_geohash_digest,
        "engine_quarantine_digest": q_engine_quarantine_digest,
        "engine_geojson": q_engine_geojson,
        "engine_span_invariant": q_engine_span_invariant,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "train_val_split": q_train_val_split,
        "dedup_components": q_dedup_components,
        "dedup_survivors": q_dedup_survivors,
        "event_sessions": q_event_sessions,
        "event_asof_click": q_event_asof_click,
        "event_merge_upsert": q_event_merge_upsert,
        "event_resample": q_event_resample,
        "event_funnel": q_event_funnel,
        "cohort_retention": q_cohort_retention,
        "hash_sample": q_hash_sample,
        "stratified_sample": q_stratified_sample,
        "top_tokens": q_top_tokens,
        "tfidf_top_terms": q_tfidf_top_terms,
        "fingerprint": q_fingerprint,
        "dup_ngram_spans": q_dup_ngram_spans,
        "unigram_logprob": q_unigram_logprob,
        "quota_sample": q_quota_sample,
        "geo_tile_percentiles_salted": q_geo_tile_percentiles_salted,
        "geo_simplify": q_geo_simplify,
        "geo_map_match": q_geo_map_match,
        "media_near_dup": q_media_near_dup,
        "event_locate_at": q_event_locate_at,
        "doc_repetition": q_doc_repetition,
        "graph_triangles": q_graph_triangles,
        "graph_pagerank": q_graph_pagerank,
        "graph_kcore": q_graph_kcore,
        "event_speed_anomalies": q_event_speed_anomalies,
        "event_trips": q_event_trips,
        "event_home_cells": q_event_home_cells,
        "event_geofence_transitions": q_event_geofence_transitions,
        "geo_lisa": q_geo_lisa,
        "top_revenue_orders": q_top_revenue_orders,
        "region_revenue": q_region_revenue,
        "latest_event_per_user": q_latest_event_per_user,
        "signup_without_error": q_signup_without_error,
        "customers_with_orders_by_nation": q_customers_with_orders_by_nation,
        "parts_never_ordered": q_parts_never_ordered,
        "orders_rollup": q_orders_rollup,
        "orders_cube": q_orders_cube,
        "event_type_pivot": q_event_type_pivot,
        "events_profile": q_events_profile,
        "geo_tile_outliers": q_geo_tile_outliers,
        "customer_balance_deciles": q_customer_balance_deciles,
        "distinct_customers_per_segment": q_distinct_customers_per_segment,
        "geo_knn3": q_geo_knn3,
        "geo_bearing": q_geo_bearing,
        "geo_boundary_distance": q_geo_boundary_distance,
        "geo_idw_grid": q_geo_idw_grid,
        "geo_idw_merge": q_geo_idw_merge,
        "geo_raster_gradient": q_geo_raster_gradient,
        "geo_idw_smooth": q_geo_idw_smooth,
        "geo_compact_cells": q_geo_compact_cells,
        "geo_uncompact_cells": q_geo_uncompact_cells,
        "embedding_near_dup": q_embedding_near_dup,
        "weighted_sample": q_weighted_sample,
        "event_tile_trend": q_event_tile_trend,
        "event_trend_outliers": q_event_trend_outliers,
        "decontaminate": q_decontaminate,
        "redact_pii": q_redact_pii,
        "event_value_histogram": q_event_value_histogram,
        "geo_pip_distributed": q_geo_pip_distributed,
        "geo_tile_percentiles": q_geo_tile_percentiles,
        "geo_tile_merge": q_geo_tile_merge,
        "region_measures": q_region_measures,
        "event_hourly_windows": q_event_hourly_windows,
        "geo_range_join": q_geo_range_join,
        "geo_dbscan": q_geo_dbscan,
        "geo_pip": q_geo_pip,
        "geo_knn": q_geo_knn,
        "geo_tile_agg_salted": q_geo_tile_agg_salted,
        "pricing_summary": q_pricing_summary,
        "scalar_function_gallery": q_scalar_function_gallery,
        "dedup_exact": q_dedup_exact,
        "lsh_candidate_pairs": q_lsh_candidate_pairs,
        "minhash_signature": q_minhash_signature,
        "lsh_verified_jaccard": q_lsh_verified_jaccard,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "simhash_near_pairs": q_simhash_near_pairs,
        "simhash": q_simhash,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": _SQL_PRICING,
        "top_revenue_orders": _SQL_TOP_REVENUE,
        "region_revenue": _SQL_REGION_REVENUE,
        "latest_event_per_user": _SQL_LATEST_EVENT,
        "signup_without_error": _SQL_SIGNUP_WO_ERROR,
        "customers_with_orders_by_nation": _SQL_CUST_WITH_ORDERS,
        "parts_never_ordered": _SQL_PARTS_NEVER,
        "scalar_function_gallery": _SQL_SCALAR_GALLERY,
        "orders_rollup": _SQL_ORDERS_ROLLUP,
        "orders_cube": _SQL_ORDERS_CUBE,
        "event_type_pivot": _SQL_EVENT_PIVOT,
        "events_profile": _sql_events_profile(),
        "geo_tile_outliers": _SQL_GEO_TILE_OUTLIERS,
        "customer_balance_deciles": _SQL_BALANCE_DECILES,
        "event_hourly_windows": _SQL_EVENT_HOURLY,
        "distinct_customers_per_segment": _SQL_DISTINCT_SEGMENT,
        "geo_knn": _sql_geo_knn(),
        "geo_knn3": _sql_geo_knn3(),
        "geo_pip": _sql_geo_pip(),
        "geo_range_join": _sql_geo_range_join(),
        "geo_dbscan": _SQL_GEO_DBSCAN,
        "geo_bearing": _sql_geo_bearing(),
        "geo_boundary_distance": _sql_geo_boundary_distance(),
        "geo_idw_grid": _SQL_GEO_IDW,
        "geo_idw_merge": _SQL_GEO_IDW,
        "geo_raster_gradient": _sql_geo_raster_gradient(),
        "geo_idw_smooth": _sql_geo_idw_smooth(),
        "geo_compact_cells": _sql_geo_compact_cells(),
        "geo_uncompact_cells": _sql_geo_uncompact_cells(),
        "weighted_sample": _sql_weighted_sample(),
        "event_tile_trend": _SQL_EVENT_TILE_TREND,
        "event_trend_outliers": _SQL_EVENT_TREND_OUTLIERS,
        "decontaminate": _SQL_DECONTAM,
        "redact_pii": _sql_redact_pii(),
        "event_value_histogram": _SQL_EVENT_VALUE_HIST,
        "geo_pip_distributed": _sql_geo_pip(),
        "geo_tile_agg_salted": _SQL_GEO_TILE,
        "geo_tile_percentiles": _SQL_GEO_TILE_PCTS,
        "geo_tile_percentiles_salted": _SQL_GEO_TILE_PCTS_SALTED,
        "geo_tile_merge": _SQL_GEO_TILE,
        "region_measures": _sql_region_measures(),
        "dedup_exact": _SQL_DEDUP_EXACT,
        "minhash_signature": _sql_minhash(),
        "lsh_candidate_pairs": _sql_lsh_pairs(),
        "ngram_jaccard_pairs": _SQL_NGRAM_JACCARD,
        "lsh_verified_jaccard": _sql_lsh_verified_jaccard(),
        "simhash": _sql_simhash(),
        "simhash_near_pairs": _sql_simhash_near_pairs(),
        "lang_id": _SQL_LANG_ID,
        "quality_score": _SQL_QUALITY,
        "token_counts": _SQL_TOKENS,
        "top_tokens": _SQL_TOP_TOKENS,
        "tfidf_top_terms": _SQL_TFIDF,
        "fingerprint": _sql_fingerprint(),
        "dup_ngram_spans": _SQL_DUP_NGRAMS,
        "unigram_logprob": _SQL_UNIGRAM_LP,
        "dsir_select": _SQL_DSIR_SELECT,
        "quota_sample": _SQL_QUOTA_SAMPLE,
        "ann_cosine_topk": _SQL_ANN_TOPK,
        "ann_lsh_topk": _sql_ann_lsh(),
        "ann_ivf_topk": _SQL_ANN_IVF,
        "embedding_near_dup": _SQL_EMB_NEAR_DUP,
        "embedding_near_dup_lsh": _SQL_EMB_NEAR_DUP,
        "dedup_components": _sql_dedup_components(),
        "dedup_survivors": _sql_dedup_survivors(),
        "event_sessions": _SQL_EVENT_SESSIONS,
        "event_asof_click": _SQL_EVENT_ASOF,
        "event_merge_upsert": _SQL_EVENT_MERGE,
        "event_resample": _SQL_EVENT_RESAMPLE,
        "event_funnel": _SQL_EVENT_FUNNEL,
        "cohort_retention": _SQL_COHORT_RETENTION,
        "hash_sample": _SQL_HASH_SAMPLE,
        "stratified_sample": _SQL_STRATIFIED,
        "train_val_split": _SQL_TRAIN_VAL,
        # trained-ANN digests vs deterministic synth-corpus constants
        "ann_ivf_trained_digest": _SQL_ANN_IVF_TRAINED_DIGEST,
        "ann_pq_digest": _SQL_ANN_PQ_DIGEST,
        "ann_ivf_pq_digest": _SQL_ANN_IVF_PQ_DIGEST,
        # engine digests vs deterministic-fixture constants
        "engine_decode_digest": _SQL_ENGINE_DECODE_DIGEST,
        "engine_cells_digest": _SQL_ENGINE_CELLS_DIGEST,
        "engine_knn_digest": _SQL_ENGINE_KNN_DIGEST,
        "engine_pip_digest": _SQL_ENGINE_PIP_DIGEST,
        "engine_tiles_digest": _SQL_ENGINE_TILES_DIGEST,
        "engine_raster_digest": _SQL_ENGINE_RASTER_DIGEST,
        "engine_tiles_hex_digest": _SQL_ENGINE_TILES_HEX_DIGEST,
        "engine_media_digest": _SQL_ENGINE_MEDIA_DIGEST,
        "engine_media_resize_digest": _SQL_ENGINE_MEDIA_RESIZE_DIGEST,
        "engine_media_xmodal": _SQL_ENGINE_MEDIA_XMODAL,
        "engine_zorder_digest": _SQL_ENGINE_ZORDER_DIGEST,
        "engine_geohash_digest": _SQL_ENGINE_GEOHASH_DIGEST,
        "engine_quarantine_digest": _SQL_ENGINE_QUARANTINE_DIGEST,
        "engine_audio_digest": _SQL_ENGINE_AUDIO_DIGEST,
        "engine_geojson": _SQL_ENGINE_GEOJSON,
        "engine_span_invariant": _SQL_ENGINE_SPAN_INVARIANT,
        # trajectory analytics / retrieval / density (round 3)
        "event_track_stats": _SQL_EVENT_TRACK_STATS,
        "event_stops": _SQL_EVENT_STOPS,
        "geo_simplify": _sql_geo_simplify(),
        "geo_map_match": _sql_geo_map_match(),
        "media_near_dup": _sql_media_near_dup(),
        "event_locate_at": _sql_event_locate_at(),
        "doc_repetition": _SQL_DOC_REPETITION,
        "graph_triangles": _sql_graph_triangles(),
        "graph_pagerank": _sql_graph_pagerank(),
        "graph_kcore": _sql_graph_kcore(),
        "bm25_scores": _sql_bm25(),
        "geo_kde_heatmap": _SQL_GEO_KDE,
        "geo_kde_merge": _SQL_GEO_KDE,
        "lsh_verified_containment": _sql_lsh_verified_containment(),
        "geo_zonal_stats": _SQL_GEO_ZONAL,
        "geo_contours": _sql_geo_contours(),
        "event_od_flows": _sql_event_od_flows(),
        "geo_hotspot_gi": _sql_geo_hotspot_gi(),
        "geo_morans_i": _sql_geo_morans_i(),
        "geo_track_similarity": _sql_geo_track_similarity(),
        "geo_emerging_hotspots": _sql_geo_emerging_hotspots(),
        "geo_convoys": _sql_geo_convoys(),
        "event_speed_anomalies": _SQL_EVENT_SPEED_ANOMALIES,
        "event_trips": _SQL_EVENT_TRIPS,
        "event_home_cells": _SQL_EVENT_HOME_CELLS,
        "event_geofence_transitions": _sql_event_geofence_transitions(),
        "geo_lisa": _sql_geo_lisa(),
        "event_radius_gyration": _SQL_EVENT_RADIUS_GYRATION,
        "event_visit_entropy": _SQL_EVENT_VISIT_ENTROPY,
        "event_contacts": _sql_event_contacts(),
        "geo_track_hausdorff": _sql_geo_track_hausdorff(),
        "event_co_dwells": _sql_event_co_dwells(),
        "ssjoin_exact": _sql_exact_jaccard_pairs(0.3),
        "heavy_hitter_tokens": _SQL_HEAVY_HITTERS,
        "pareto_docs": _SQL_PARETO_DOCS,
        "bigram_logprob": _SQL_BIGRAM_LP,
        "geo_tile_median": _SQL_GEO_TILE_MEDIAN,
        "dedup_substring_spans": _SQL_DEDUP_SUBSTRING_SPANS,
        "event_interval_join": _SQL_EVENT_INTERVAL_JOIN,
        "rp_project": _sql_rp_project(),
        "fuzzy_name_pairs": _SQL_FUZZY_NAME_PAIRS,
        "engine_hll_digest": _SQL_ENGINE_HLL_DIGEST,
        "doc_chunks": _SQL_DOC_CHUNKS,
        "event_throttle": _SQL_EVENT_THROTTLE,
        "event_markov": _SQL_EVENT_MARKOV,
        "event_ngrams": _SQL_EVENT_NGRAMS,
        "bpe_merges": _SQL_BPE_MERGES,
        "pmi_pairs": _SQL_PMI_PAIRS,
        "dedup_incremental": _sql_dedup_incremental(),
        "embedding_dim_stats": _SQL_EMBEDDING_DIM_STATS,
        "er_clusters": _SQL_ER_CLUSTERS,
        "pack_sequences": _SQL_PACK_SEQUENCES,
        "geo_tile_p90": _SQL_GEO_TILE_P90,
        "graph_bfs": _SQL_GRAPH_BFS,
        "graph_link_predict": _sql_graph_link_predict(),
        "graph_sssp": _sql_graph_sssp(),
        "geo_convex_hull": _sql_geo_convex_hull(),
        "geo_track_crossings": _sql_geo_track_crossings(),
        "geo_track_dtw": _sql_geo_track_dtw(),
    }
