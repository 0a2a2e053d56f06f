"""Tile aggregation operators (N5-N8): salted two-phase aggs, rollups,
raster↔vector, range partitioning.

The reference has no aggregation at all — these are the engine-side operators
the north rule mandates ("raster-to-vector tile aggregation", "salted-key
shuffle for skewed dense-observation cells", "explicit range partitioning by
cell prefix"). Everything here is built-in Spark (Column expressions +
groupBy), deliberately: Catalyst already does partial/final aggregation
(HashAggregateExec) and AQE skew-split; the *explicit* salting exists for the
pathological synop/temp station-cluster cells where a single cell key would
otherwise pin one reducer at 100 TB, and is applied ONLY to hot cells so the
common path pays no extra shuffle width.

The pipeline's stage A is ``tile_pyramid``: every tile level from one
aggregation, salted only for a hot set it is given (``plans/pipeline.py``
finds that set once, when it writes J), so a J without hot cells is tiled in
one shuffle. ``tile_aggregate`` + ``tile_rollup`` compute the same table in
stages (a hot-cell count and broadcast, the salted per-cell shuffles, then a
rollup shuffle); the contract queries compose them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bufr2geojson_spark.functions.cells import MAX_LEVEL, s2_parent_col


# ---------------------------------------------------------------------------
# N7 + N5: hot-cell detection and salted two-phase aggregation
# ---------------------------------------------------------------------------


def hot_cells(
    features: DataFrame, cell_col: str = "cell_s2", threshold: int = 10_000
) -> DataFrame:
    """Cells whose observation count exceeds ``threshold``. The count itself
    is skew-safe: partial (map-side) aggregation collapses each hot key to
    one row per input partition before the shuffle."""
    return (
        features.groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("cell_count"))
        .filter(F.col("cell_count") > threshold)
        .select(cell_col, "cell_count")
    )


#: The tile statistics, in output order; ``avg_val`` follows them.
_TILE_STATS = ("n_obs", "sum_val", "min_val", "max_val")


def _stats_of(v) -> list:
    """The tile statistics of the raw values ``v``, in output order."""
    return [F.count(v).alias("n_obs"), F.sum(v).alias("sum_val"),
            F.min(v).alias("min_val"), F.max(v).alias("max_val")]


def _combined_stats() -> list:
    """The tile statistics of a group of tile-stat rows over disjoint
    values: counts and sums add, min and max combine."""
    return [F.sum("n_obs").alias("n_obs"), F.sum("sum_val").alias("sum_val"),
            F.min("min_val").alias("min_val"), F.max("max_val").alias("max_val")]


def _with_avg(stats: DataFrame) -> DataFrame:
    """Append ``avg_val``: total sum over total count (never an average of
    averages), null for a tile without values."""
    return stats.withColumn(
        "avg_val", F.when(F.col("n_obs") > 0, F.col("sum_val") / F.col("n_obs"))
    )


def _salt(hot: Column, salt_buckets: int) -> Column:
    """The salt of a row: a hash of its ``feature_id`` over ``salt_buckets``
    where ``hot`` holds, 0 elsewhere."""
    return F.when(
        hot, F.pmod(F.xxhash64(F.col("feature_id")), F.lit(salt_buckets))
    ).otherwise(F.lit(0))


def tile_aggregate(
    features: DataFrame,
    cell_col: str = "cell_s2",
    value_col: str = "result_value",
    salt_buckets: int = 16,
    hot_threshold: int | None = None,
) -> DataFrame:
    """Per-cell tile stats with explicit two-phase salting for hot cells.

    phase 0 (optional): detect hot cells (count > hot_threshold);
    phase 1: groupBy(cell, salt) partial stats — hot keys fan out over
             ``salt_buckets`` reducers, cold keys keep salt=0;
    phase 2: groupBy(cell) combines the partials (sums/min/max compose;
             avg = total sum / total count, never avg-of-avgs).

    Without ``hot_threshold``, salting is skipped entirely (plain
    partial+final agg — the Catalyst default path).
    """
    v = F.col(value_col)
    if hot_threshold is None:
        return _with_avg(features.groupBy(cell_col).agg(*_stats_of(v)))
    hot = hot_cells(features, cell_col, hot_threshold)
    flagged = features.join(
        F.broadcast(hot.select(cell_col).withColumn("_is_hot", F.lit(True))),
        on=cell_col,
        how="left",
    )
    salted = flagged.withColumn(
        "_salt", _salt(F.col("_is_hot").isNotNull(), salt_buckets))
    partial = salted.groupBy(cell_col, "_salt").agg(*_stats_of(v))
    return _with_avg(partial.groupBy(cell_col).agg(*_combined_stats()))


def tile_pyramid(
    features: DataFrame,
    base_level: int,
    rollup_levels: list[int],
    hot: Sequence[int] = (),
    cell_col: str = "cell_s2",
    value_col: str = "result_value",
    salt_buckets: int = 16,
) -> DataFrame:
    """Tiles at ``base_level`` and every S2 rollup level from one
    aggregation over the features: the ``tile_rollup`` table of
    ``tile_aggregate``, one row per (level, cell).

    Each feature maps to its (level, cell) at every level (the base cell
    and its ``s2_parent_col`` ancestors), and partial aggregation collapses
    those rows map-side, so the shuffle carries at most one row per (level,
    cell) per input partition. Features whose base cell is in ``hot``, the
    hot set found beforehand (``hot_cells``), are salted at every level:
    ``groupBy(level, cell, _salt)`` → ``groupBy(level, cell)``. With no hot
    cell there is no salt column and one ``groupBy(level, cell)``: one
    shuffle for the whole pyramid."""
    if any(lvl >= base_level for lvl in rollup_levels):
        raise ValueError("rollup levels must be coarser than base_level")
    cell, v = F.col(cell_col), F.col(value_col)
    levels = F.inline(F.array(
        F.struct(F.lit(base_level).alias("level"), cell.alias("cell")),
        *[F.struct(F.lit(lvl).alias("level"), s2_parent_col(cell, lvl).alias("cell"))
          for lvl in sorted(set(rollup_levels))],
    ))
    salt = [_salt(cell.isin(list(hot)), salt_buckets).alias("_salt")] if hot else []
    # each row enters as a tile of its one value, so both paths end in
    # ``_combined_stats`` and have the schema of ``tile_rollup``'s output
    rows = features.select(
        levels, v.isNotNull().cast("long").alias("n_obs"), v.alias("sum_val"),
        v.alias("min_val"), v.alias("max_val"), *salt)
    if hot:
        rows = rows.groupBy("level", "cell", "_salt").agg(*_combined_stats())
    return _with_avg(rows.groupBy("level", "cell").agg(*_combined_stats()))


def tile_rollup(
    tiles: DataFrame, from_level: int, to_levels: list[int],
    cell_col: str = "cell_s2",
    cell_kind: str = "s2",
) -> DataFrame:
    """Multi-resolution rollup (N5): re-aggregate finished tiles up the cell
    hierarchy. Output: one row per (level, cell); the ``from_level`` rows are
    the input tiles themselves.

    One shuffle for every target level: each base tile is exploded to its
    ancestor at each target level, and a single ``groupBy(level, cell)``
    (partial aggregation map-side, so it carries at most one row per
    (level, cell) per input partition) finishes all levels at once. Deriving
    every level directly from the base is exact for both cell kinds, so
    chaining level from level (one serial shuffle per level) buys nothing:

    ``cell_kind='s2'``: the ancestor is pure JVM bit math (s2_parent_col —
    no UDF, stays in whole-stage codegen) and ancestry is transitive, so the
    parent of a base cell at a level equals the chained parent.
    ``cell_kind='hex'``: H3-style ancestry re-encodes the child center at
    the coarser res and is NOT transitive (aperture-4 hexes don't nest), so
    chaining 7→5→3 would place mass in different level-3 cells than a direct
    7→3 assignment, compounding per level; the direct derivation avoids
    that. The residual approximation (a fine hex whose center falls in a
    different coarse hex than most of its area) is inherent to hex grids
    and documented, not compounded."""
    if cell_kind == "s2":
        def parent(col, lvl):
            return s2_parent_col(col, lvl)
    elif cell_kind == "hex":
        from bufr2geojson_spark.functions.cells import hex_parent_udf

        def parent(col, lvl):
            return hex_parent_udf(lvl)(col)
    else:
        raise ValueError("cell_kind must be 's2' or 'hex'")
    if any(lvl >= from_level for lvl in to_levels):
        raise ValueError("rollup levels must be coarser than from_level")
    out = tiles.select(
        F.lit(from_level).alias("level"),
        F.col(cell_col).alias("cell"),
        *_TILE_STATS, "avg_val",
    )
    if not to_levels:
        return out
    ancestors = F.explode(F.array(*[
        F.struct(F.lit(lvl).alias("level"),
                 parent(F.col(cell_col), lvl).alias("cell"))
        for lvl in sorted(set(to_levels))
    ]))
    rolled = (
        tiles.select(ancestors.alias("_a"), *_TILE_STATS)
        .groupBy(F.col("_a.level").alias("level"), F.col("_a.cell").alias("cell"))
        .agg(*_combined_stats())
    )
    return out.unionByName(_with_avg(rolled))


def tile_merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incrementally fold a delta batch's tile aggregates into a standing
    tile table (the continuous-aggregate / hypertable-rollup maintenance
    step): every stat in the tile schema is decomposable — counts and sums
    add, min/max combine, avg is re-derived from the merged sum/count
    (never avg-of-avgs) — so the standing table is updated from the DELTA's
    aggregates alone, without rescanning history.

    Both inputs are ``tile_aggregate`` outputs or both ``tile_rollup`` (or
    ``tile_pyramid``) outputs; the merge key is every column that is not a
    stat (the cell for the first, ``(level, cell)`` for the second). One
    union + one groupBy on the key, so the shuffle moves the whole standing
    table as well as the delta: ``plans.maintenance.fold_tiles`` stores the
    table unpartitioned and rewrites all of it on every fold.
    ``tile_merge(agg(a), agg(b)) == agg(a ∪ b)`` exactly for n/sum/min/max
    (doubles: up to reassociation of the sum — same caveat as any partial
    aggregation), which pytest asserts for both shapes."""
    key = [c for c in existing.columns if c not in (*_TILE_STATS, "avg_val")]
    u = existing.select(*key, *_TILE_STATS).unionByName(
        delta.select(*key, *_TILE_STATS))
    return _with_avg(u.groupBy(*key).agg(*_combined_stats()))


def _pct_label(p: float) -> str:
    """Collision-safe column label for a percentile: p50, p05, p99_9 —
    float-noise-proof (0.29*100 is 28.999...996 in IEEE; int() would
    mislabel it p28) and distinct above p99 (0.999 -> p99_9, not p99)."""
    pct = format(p * 100, ".10g")
    if "." not in pct:
        return f"p{int(pct):02d}"
    return "p" + pct.replace(".", "_")


def tile_percentiles(
    features: DataFrame,
    cell_col: str = "cell_s2",
    value_col: str = "result_value",
    percentiles: tuple[float, ...] = (0.5, 0.9),
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-cell value percentiles.

    Default is ``percentile_approx`` — a mergeable rank sketch
    (Greenwald–Khanna style): partial sketches combine map-side, so the
    shuffle carries one bounded sketch per (cell, partition) regardless of
    row count, and the rank error is ≤ 1/``accuracy``. That is the 100 TB
    path: exact per-group quantiles are NOT algebraic (they need the whole
    group's values in one place — a full sort-by-group shuffle, and they
    cannot ride the two-phase salted aggregation ``tile_aggregate`` uses).

    ``exact=True`` selects ``F.percentile`` (true interpolated quantiles) —
    the small-scale oracle form, and the yardstick the sketch is tested
    against (rank-error bound in tests/test_tiles.py).
    """
    v = F.col(value_col)
    pcts = F.lit(list(percentiles))
    fn = (F.percentile(v, pcts) if exact
          else F.percentile_approx(v, pcts, F.lit(accuracy)))
    out = features.groupBy(cell_col).agg(
        F.count(v).alias("n_obs"), fn.alias("_pcts")
    )
    cols = [F.col("_pcts")[i].alias(_pct_label(p))
            for i, p in enumerate(percentiles)]
    return out.select(cell_col, "n_obs", *cols)


def tile_percentiles_salted(
    features: DataFrame,
    cell_col: str = "cell_s2",
    value_col: str = "result_value",
    percentiles: tuple[float, ...] = (0.5, 0.9),
    val_dp: int = 2,
) -> DataFrame:
    """Hot-cell-safe per-cell percentiles: two-phase merge of fixed-
    resolution histogram sketches, the percentile member of the salted
    aggregation family (round-2 verdict #8).

    phase 1: quantize the value to ``val_dp`` decimals (floor-form
        half-up, the engine-portable rounding) and count rows per
        (cell, quantized value) — a mergeable fixed-resolution histogram.
        Map-side combine collapses a hot cell to one row per distinct bin
        per input partition BEFORE the shuffle, and the reduce key
        (cell, bin) spreads a hot cell's load across reducers by bin hash.
        The quantized value plays the salt role of ``tile_aggregate``'s
        ``_salt`` — but deterministically, so each (cell, bin) lands in
        exactly one partial and the phase-2 merge never sees duplicate
        bins.
    phase 2: merge per-cell sketches with the frequency-weighted exact
        percentile (``F.percentile(value, pcts, frequency)``) — per cell
        the reducer receives one row per OCCUPIED BIN, never one per
        observation, so a 10^9-row cell costs the same as a 10^3-row cell
        at equal value spread.

    ``val_dp`` is the sketch resolution: the result equals
    ``tile_percentiles(quantized, exact=True)`` EXACTLY (pytest asserts
    bit-equality on a hot-cell corpus), i.e. the only approximation is the
    up-front half-up quantization, bounded by 0.5·10^-val_dp. Sketch size
    per cell is the occupied-bin count (value range × 10^val_dp worst
    case) — the knob trading memory for resolution, exactly like
    ``accuracy`` in the ``percentile_approx`` path."""
    scale = float(10 ** val_dp)
    qv = F.floor(F.col(value_col) * scale + F.lit(0.5)) / scale
    sketch = (
        # NULL values are excluded up front: they would otherwise form a
        # NULL bin whose _freq inflates n_obs (F.percentile already skips
        # the NULL bin, so only the count would silently diverge from
        # tile_percentiles' F.count(value))
        features.filter(F.col(value_col).isNotNull())
        .groupBy(cell_col, qv.alias("_bin"))
        .agg(F.count(F.lit(1)).alias("_freq"))
    )
    out = sketch.groupBy(cell_col).agg(
        F.sum("_freq").alias("n_obs"),
        F.percentile(
            F.col("_bin"), F.lit(list(percentiles)), F.col("_freq")
        ).alias("_pcts"),
    )
    cols = [F.col("_pcts")[i].alias(_pct_label(p))
            for i, p in enumerate(percentiles)]
    return out.select(cell_col, "n_obs", *cols)


def tile_exact_quantile(
    features: DataFrame,
    q: float,
    cell_col: str = "cell_s2",
    value_col: str = "result_value",
) -> DataFrame:
    """EXACT per-cell continuous quantile (``quantile_cont`` / type-7
    ``h = (n-1)·q`` interpolation — the semantics of numpy's default,
    DuckDB's ``quantile_cont``/``median`` and Spark's ``F.percentile``)
    with NO per-group sort shuffle — the counting formulation that makes
    exact quantiles feasible at 100 TB.

    ``tile_percentiles(exact=True)`` (``F.percentile``) materializes every
    group's values on one reducer; at a billion rows per hot cell that
    reducer dies. A quantile only needs per-VALUE counts: groupBy (cell,
    value) is algebraic (map-side combine collapses a hot cell to one row
    per distinct value per input partition before the shuffle, and the
    compound key spreads the hot cell across reducers — the
    ``tile_percentiles_salted`` sketch shape, but lossless), and one window
    over the per-cell VALUE HISTOGRAM — occupied values, never
    observations — finds the value(s) covering the two bracketing ranks.

    The interpolated quantile is ``v[k1]·(1−frac) + v[k2]·frac`` with
    ``k1 = ⌊h⌋+1``, ``k2 = k1+1`` (1-based ranks), ``frac = h−⌊h⌋``; the
    histogram row covering each rank contributes its value with the
    matching weight (one row can cover both ranks). ``q=0.5`` is the
    median: ranks ⌈n/2⌉ and ⌊n/2⌋+1, their mean for even n. Returns
    (cell, n_obs, q{q}).
    """
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"q must be in [0, 1], got {q}")
    g = (
        features.filter(F.col(value_col).isNotNull())
        .groupBy(cell_col, F.col(value_col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    wcum = (
        Window.partitionBy(cell_col)
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(cell_col)
    t = (
        g.withColumn("_cum", F.sum("_cnt").over(wcum))
        .withColumn("_n", F.sum("_cnt").over(wall))
    )
    prev = F.col("_cum") - F.col("_cnt")
    h = (F.col("_n") - 1) * F.lit(float(q))
    k1 = F.floor(h) + 1
    k2 = k1 + 1
    covers = lambda k: (prev < k) & (F.col("_cum") >= k)  # noqa: E731
    # extract the two bracketing order statistics, then interpolate as
    # lower + (upper - lower) * frac — the exact FP expression DuckDB's
    # quantile_cont and Spark's percentile evaluate, so a rounded oracle
    # compare cannot flip on association order. frac == 0 leaves k2
    # uncovered (v2 = 0) and the (v2 - v1) * 0 term vanishes exactly.
    name = f"q{int(round(q * 100)):02d}"
    agg = t.groupBy(cell_col).agg(
        F.max("_n").alias("n_obs"),
        F.sum(
            F.when(covers(k1), F.col("_v")).otherwise(F.lit(0.0))
        ).alias("_v1"),
        F.sum(
            F.when(covers(k2), F.col("_v")).otherwise(F.lit(0.0))
        ).alias("_v2"),
    )
    hh = (F.col("n_obs") - 1) * F.lit(float(q))
    frac = hh - F.floor(hh)
    return agg.select(
        cell_col,
        "n_obs",
        (F.col("_v1") + (F.col("_v2") - F.col("_v1")) * frac).alias(name),
    )


def tile_hll_sketch(
    features: DataFrame,
    cell_col: str = "cell_s2",
    key_col: str = "wsi",
    lgk: int = 12,
) -> DataFrame:
    """Per-cell Datasketches-HLL sketch of distinct ``key_col`` values —
    the mergeable form of COUNT(DISTINCT) that makes distinct-per-tile
    rollups feasible at 100 TB: the shuffle carries one ≤2^lgk-register
    sketch per cell (partial-aggregated map-side) instead of every
    distinct key, and coarser zoom levels are computed from the sketches
    alone (``tile_hll_rollup``) without ever re-scanning observations.
    Register updates are max() — commutative and idempotent — so the
    register STATE is independent of partitioning and of the rollup path
    (union of fine sketches == direct coarse sketch). The reported
    ESTIMATE is path-exact only in the sparse/exact regime: in estimation
    mode Datasketches' HIP estimator is insertion-order-dependent, so a
    direct-built sketch and a union of the same data can differ by a
    fraction of the error bound (measured ~1e-3 relative; pytest pins the
    exact equality in sparse mode and the tolerance in estimation
    mode)."""
    return features.groupBy(cell_col).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lgk)).alias("hll")
    )


def tile_hll_rollup(
    sketches: DataFrame,
    level: int,
    cell_col: str = "cell_s2",
) -> DataFrame:
    """Union per-cell sketches up to ancestor ``level`` — one groupBy over
    already-reduced sketch rows (≤ |cells| rows, never |observations|)."""
    return (
        sketches.groupBy(
            s2_parent_col(F.col(cell_col), level).alias(cell_col)
        )
        .agg(F.hll_union_agg("hll").alias("hll"))
    )


def hll_estimate(
    sketches: DataFrame, cell_col: str = "cell_s2"
) -> DataFrame:
    return sketches.select(
        cell_col, F.hll_sketch_estimate("hll").alias("n_distinct_est")
    )


# ---------------------------------------------------------------------------
# N6: vector -> raster and raster -> vector
# ---------------------------------------------------------------------------


def rasterize(
    features: DataFrame,
    tile_level: int,
    pixel_level: int,
    cell_col: str = "cell_s2",
    value_col: str = "result_value",
) -> DataFrame:
    """Vector→raster: dense per-tile value grids over the Hilbert hierarchy.

    A tile at ``tile_level`` contains 4^(pixel_level - tile_level) pixels
    (its descendant cells at ``pixel_level`` in Hilbert order). Pixel index
    is pure bit math on the cell id; the dense grid is assembled with
    built-in aggregation + ``F.transform`` over a sparse map — no Python UDF.

    Output: tile:long, npix:int, grid:array<double> (null = empty pixel,
    mean of ``value_col`` otherwise), nnz:long.
    """
    dl = pixel_level - tile_level
    if dl <= 0 or dl > 12:
        raise ValueError("need 0 < pixel_level - tile_level <= 12")
    npix = 4 ** dl
    shift = 2 * (MAX_LEVEL - pixel_level) + 1
    tile = s2_parent_col(F.col(cell_col), tile_level).alias("tile")
    # Hilbert sub-position of the pixel-level ancestor within the tile
    px = (
        F.shiftright(F.col(cell_col), shift).bitwiseAND(F.lit(npix - 1))
    ).alias("px")
    per_pixel = (
        features.select(tile, px, F.col(value_col).alias("v"))
        .groupBy("tile", "px")
        .agg(F.avg("v").alias("pv"), F.count("v").alias("pn"))
    )
    sparse = per_pixel.groupBy("tile").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("px"), F.col("pv")))
        ).alias("m"),
        F.count("px").alias("nnz"),
    )
    dense = sparse.select(
        "tile",
        F.lit(npix).alias("npix"),
        F.transform(
            F.sequence(F.lit(0), F.lit(npix - 1)),
            lambda i: F.try_element_at(F.col("m"), i.cast("long")),
        ).alias("grid"),
        "nnz",
    )
    return dense


def raster_to_vector(raster: DataFrame, tile_level: int, pixel_level: int) -> DataFrame:
    """Raster→vector: explode dense grids back to per-cell rows (inverse of
    ``rasterize`` up to empty pixels). Pure built-ins: posexplode + bit math."""
    dl = pixel_level - tile_level
    shift = 2 * (MAX_LEVEL - pixel_level) + 1
    child_lsb = 1 << (2 * (MAX_LEVEL - pixel_level))
    tile_lsb = 1 << (2 * (MAX_LEVEL - tile_level))
    exploded = raster.select(
        "tile", F.posexplode("grid").alias("px", "value")
    ).filter(F.col("value").isNotNull())
    # reconstruct the pixel cell id: clear the tile sentinel, insert the
    # pixel's hilbert sub-position, set the pixel-level sentinel
    # px comes from posexplode as INT; Java shift counts wrap mod 32 on ints,
    # so the cast to long is load-bearing for shift >= 32
    cell = (
        (F.col("tile") - F.lit(tile_lsb))
        + F.shiftleft(F.col("px").cast("long"), shift)
        + F.lit(child_lsb)
    ).alias("cell")
    return exploded.select("tile", cell, "px", "value")


# ---------------------------------------------------------------------------
# N8: explicit range partitioning by cell prefix
# ---------------------------------------------------------------------------


def range_partition_by_cell(
    df: DataFrame,
    num_partitions: int | None,
    cell_col: str = "cell_s2",
    prefix_col: str = "cell_prefix",
) -> DataFrame:
    """north_rule: explicit range partitioning by cell prefix. Keys on
    (prefix, cell) so output files are spatially clustered — Hilbert order
    makes byte-adjacent rows geo-adjacent, which is what lets tile queries
    prune partitions.

    ``num_partitions=None`` sizes the partitioning from the data: the range
    exchange starts at ``spark.sql.shuffle.partitions`` and AQE coalesces
    adjacent ranges, so the ranges stay disjoint and contiguous. An int
    forces exactly that many partitions."""
    keys = (F.col(prefix_col), F.col(cell_col))
    parted = (df.repartitionByRange(*keys) if num_partitions is None
              else df.repartitionByRange(num_partitions, *keys))
    return parted.sortWithinPartitions(prefix_col, cell_col)


# ---------------------------------------------------------------------------
# IDW gridding: scattered observations -> regular raster (N6 family)
# ---------------------------------------------------------------------------


def idw_grid(
    points: DataFrame,
    value_col: str = "val",
    grid_deg: float = 2.0,
    radius_km: float = 300.0,
    power: int = 2,
    lat_col: str = "lat",
    lon_col: str = "lon",
    out_dp: int = 4,
    keep_state: bool = False,
) -> DataFrame:
    """Inverse-distance-weighted interpolation of scattered observations
    onto a regular lat/lon grid — the classic meteorological surface
    analysis (vector->raster, the continuous sibling of ``rasterize``).

    Scale shape: each observation is exploded to the grid NODES its
    ``radius_km`` disc can reach (lat band from the radius, lon band
    widened by the worst-latitude cos, wrapped modulo the lon node count —
    the same cover math as ``distance_join``'s station side), then one
    map-side-combined ``groupBy`` per node. Work and shuffle are
    O(points x nodes-per-disc); nodes nobody reaches are never
    materialized, so an ocean of empty grid cells costs nothing. Pure
    Column arithmetic, no UDF.

    Exactness contract: weights are fixed-point integers
    (``max(floor(1e6 / max(d,1km)^p + 0.5), 1)``, distances floor-rounded
    to 2dp first) and values fixed-point 1e2, so the two aggregated sums
    are INTEGER sums — bit-exact under any partitioning or aggregation
    order, and exact in the oracle's float math while the magnitudes stay
    below 2^53 (holds for w<=1e6, |v|<=1e7, <=1e5 sources per node). The
    1 km clamp caps the weight of a source sitting on a node (textbook
    IDW degenerates to infinity there), and the floor of 1 stops distant
    sources underflowing to weight 0 (d^p > 2e6 — e.g. power=3 beyond
    ~126 km — would otherwise zero every contributor and emit NaN).

    Returns (gi, gj, glat, glon, n_src, idw_value): node indices, node
    center coordinates, contributing-source count, interpolated value.
    With ``keep_state=True`` the mergeable integer sums (sw_e6, swv_e8)
    ride along, making the surface a CONTINUOUS AGGREGATE: two batches'
    grids fold with ``idw_merge`` (sums add) instead of rescanning
    history — the tile_merge property, for rasters.
    """
    from bufr2geojson_spark.operators.spatial import (
        _disc_cell_cover,
        _grid_nlon,
        haversine_col,
    )

    g = float(grid_deg)
    nlon = _grid_nlon(grid_deg)
    lat, lon = F.col(lat_col), F.col(lon_col)
    ci_lo, ci_hi, cj_lo, cj_hi = _disc_cell_cover(
        lat, lat, lon, lon, radius_km, grid_deg, nlon
    )

    ex = (
        points.withColumn("_gi", F.explode(F.sequence(ci_lo, ci_hi)))
        .withColumn("_gj_raw", F.explode(F.sequence(cj_lo, cj_hi)))
        .withColumn("_gj", F.pmod(F.col("_gj_raw"), F.lit(nlon)))
        .drop("_gj_raw")
    )
    glat = (F.col("_gi") + 0.5) * g
    glon = (F.col("_gj") + 0.5) * g - 180.0
    d = haversine_col(lat, lon, glat, glon)
    d = F.floor(d * 100.0 + F.lit(0.5)) / 100.0
    w_e6 = F.greatest(
        F.floor(
            F.lit(1e6) / F.pow(F.greatest(d, F.lit(1.0)), F.lit(float(power)))
            + F.lit(0.5)
        ),
        F.lit(1),
    ).cast("long")
    v_e2 = F.floor(F.col(value_col) * 100.0 + F.lit(0.5)).cast("long")
    m = F.lit(float(10 ** out_dp))
    return (
        ex.filter((d <= radius_km) & (F.abs(glat) <= 90.0))
        .select(
            "_gi", "_gj",
            w_e6.alias("_w"), (w_e6 * v_e2).alias("_wv"),
        )
        .groupBy(F.col("_gi").alias("gi"), F.col("_gj").alias("gj"))
        .agg(
            F.count(F.lit(1)).alias("n_src"),
            # decimal sums: exact integer arithmetic with ~10^38 headroom,
            # so idw_merge can fold batches forever without hitting the
            # int64 ANSI-overflow cliff (DuckDB's HUGEINT sums are the
            # same exact arithmetic oracle-side)
            F.sum(F.col("_w").cast("decimal(19,0)")).alias("_sw"),
            F.sum(F.col("_wv").cast("decimal(19,0)")).alias("_swv"),
        )
        .select(
            "gi", "gj",
            ((F.col("gi") + 0.5) * g).alias("glat"),
            ((F.col("gj") + 0.5) * g - 180.0).alias("glon"),
            "n_src",
            (F.floor(
                (F.col("_swv").cast("double") / F.col("_sw").cast("double"))
                / F.lit(100.0) * m + F.lit(0.5)
            ) / m).alias("idw_value"),
            *([F.col("_sw").alias("sw_e6"), F.col("_swv").alias("swv_e8")]
              if keep_state else []),
        )
    )


def kde_heatmap(
    points: DataFrame,
    grid_deg: float = 2.0,
    sigma_km: float = 150.0,
    cutoff_sigmas: float = 3.0,
    lat_col: str = "lat",
    lon_col: str = "lon",
    out_dp: int = 4,
    keep_state: bool = False,
) -> DataFrame:
    """Gaussian kernel-density heatmap on a regular lat/lon grid — the
    density sibling of ``idw_grid`` (interpolates a value; this estimates
    point intensity). Each observation deposits
    ``exp(-d^2 / (2 sigma^2))`` onto every grid node within
    ``cutoff_sigmas * sigma_km`` (the truncated-kernel approximation every
    production KDE uses; at 3 sigma the dropped mass is < 1.2%).

    Scale shape is identical to ``idw_grid``: explode each point to the
    nodes its disc reaches via ``_disc_cell_cover`` (lon band wrapped
    modulo the node count), one map-side-combined groupBy on the node.
    Work and shuffle are O(points x nodes-per-disc); empty ocean costs
    nothing. Pure Column arithmetic — no UDF.

    Exactness contract (same fixed-point trick as IDW): distances are
    floor-rounded to 2 dp, kernel weights quantized to integers
    (``floor(1e6 * exp(...) + 0.5)``; a zero-weight node outside
    numerical reach is dropped), so the density sum is an exact integer
    sum under any partitioning — and the DuckDB oracle reproduces it
    bit-for-bit. Returns (gi, gj, glat, glon, n_src, density). With
    ``keep_state=True`` the integer weight sum (``sw_e6``) rides along,
    making the surface a continuous aggregate foldable with
    ``kde_merge`` — the density analogue of ``idw_grid(keep_state=True)``.
    """
    from bufr2geojson_spark.operators.spatial import (
        _disc_cell_cover,
        _grid_nlon,
        haversine_col,
    )

    g = float(grid_deg)
    cutoff_km = float(sigma_km) * float(cutoff_sigmas)
    nlon = _grid_nlon(grid_deg)
    lat, lon = F.col(lat_col), F.col(lon_col)
    ci_lo, ci_hi, cj_lo, cj_hi = _disc_cell_cover(
        lat, lat, lon, lon, cutoff_km, grid_deg, nlon
    )
    ex = (
        points.withColumn("_gi", F.explode(F.sequence(ci_lo, ci_hi)))
        .withColumn("_gj_raw", F.explode(F.sequence(cj_lo, cj_hi)))
        .withColumn("_gj", F.pmod(F.col("_gj_raw"), F.lit(nlon)))
        .drop("_gj_raw")
    )
    glat = (F.col("_gi") + 0.5) * g
    glon = (F.col("_gj") + 0.5) * g - 180.0
    d = haversine_col(lat, lon, glat, glon)
    d = F.floor(d * 100.0 + F.lit(0.5)) / 100.0
    w_e6 = F.floor(
        F.lit(1e6)
        * F.exp(-(d * d) / F.lit(2.0 * float(sigma_km) * float(sigma_km)))
        + F.lit(0.5)
    ).cast("long")
    m = F.lit(float(10 ** out_dp))
    return (
        ex.filter(
            (d <= cutoff_km) & (F.abs(glat) <= 90.0) & (w_e6 > 0)
        )
        .select("_gi", "_gj", w_e6.alias("_w"))
        .groupBy(F.col("_gi").alias("gi"), F.col("_gj").alias("gj"))
        .agg(
            F.count(F.lit(1)).alias("n_src"),
            F.sum(F.col("_w").cast("decimal(19,0)")).alias("_sw"),
        )
        .select(
            "gi", "gj",
            ((F.col("gi") + 0.5) * g).alias("glat"),
            ((F.col("gj") + 0.5) * g - 180.0).alias("glon"),
            "n_src",
            (F.floor(
                F.col("_sw").cast("double") / F.lit(1e6) * m + F.lit(0.5)
            ) / m).alias("density"),
            *([F.col("_sw").alias("sw_e6")] if keep_state else []),
        )
    )


def kde_merge(
    existing: DataFrame,
    delta: DataFrame,
    out_dp: int = 4,
) -> DataFrame:
    """Fold a delta batch's KDE surface (built with ``keep_state=True``)
    into a standing one without rescanning history. Weight sums are exact
    DECIMAL integer sums, so merge(kde(A), kde(B)) is bit-identical to
    kde(A ∪ B) under any batch split. Node coordinates are CARRIED, never
    recomputed (same contract as ``idw_merge``). One outer join on the
    node key; with the standing surface range-partitioned by (gi, gj) the
    shuffle moves mostly the delta."""
    m = F.lit(float(10 ** out_dp))
    cols = ["gi", "gj", "glat", "glon", "n_src", "sw_e6"]
    e = existing.select(*cols)
    d = delta.select(*cols)
    merged = (
        e.withColumnRenamed("n_src", "_n1")
        .withColumnRenamed("sw_e6", "_w1")
        .withColumnRenamed("glat", "_la1")
        .withColumnRenamed("glon", "_lo1")
        .join(
            d.withColumnRenamed("n_src", "_n2")
            .withColumnRenamed("sw_e6", "_w2")
            .withColumnRenamed("glat", "_la2")
            .withColumnRenamed("glon", "_lo2"),
            ["gi", "gj"], "full_outer",
        )
    )
    z = F.lit(0).cast("decimal(38,0)")
    zl = F.lit(0).cast("long")
    sw = F.coalesce(F.col("_w1").cast("decimal(38,0)"), z) + F.coalesce(
        F.col("_w2").cast("decimal(38,0)"), z
    )
    return merged.select(
        "gi", "gj",
        F.coalesce(F.col("_la1"), F.col("_la2")).alias("glat"),
        F.coalesce(F.col("_lo1"), F.col("_lo2")).alias("glon"),
        (F.coalesce(F.col("_n1"), zl) + F.coalesce(F.col("_n2"), zl))
        .alias("n_src"),
        (F.floor(sw.cast("double") / F.lit(1e6) * m + F.lit(0.5)) / m)
        .alias("density"),
        sw.alias("sw_e6"),
    )


# marching-squares case table: corner bits SW=1, SE=2, NE=4, NW=8 (bit set
# when corner >= threshold); edges S=0, E=1, N=2, W=3. Cases 5/10 are the
# saddles — fixed two-segment convention, no center disambiguation, so the
# output is deterministic and any SQL oracle can share this exact table.
MS_SEGMENTS: list[tuple[int, int, int, int]] = [
    # (case, seg_idx, edge1, edge2)
    (1, 0, 3, 0), (2, 0, 0, 1), (3, 0, 3, 1), (4, 0, 1, 2),
    (5, 0, 3, 2), (5, 1, 1, 0), (6, 0, 0, 2), (7, 0, 3, 2),
    (8, 0, 2, 3), (9, 0, 0, 2), (10, 0, 0, 3), (10, 1, 2, 1),
    (11, 0, 1, 2), (12, 0, 3, 1), (13, 0, 0, 1), (14, 0, 3, 0),
]


def contour_segments(
    nodes: DataFrame,
    threshold: float,
    grid_deg: float = 2.0,
    value_col: str = "density",
    out_dp: int = 6,
) -> DataFrame:
    """Isoline extraction (marching squares) over a sparse lat/lon grid
    surface — the contouring step every analysis map needs, over
    ``kde_heatmap`` / ``idw_grid`` output.

    Each 2x2 square of adjacent grid NODES whose four corners all exist
    is classified against ``threshold`` (corner bits SW=1 SE=2 NE=4 NW=8)
    and emits 0-2 line segments whose endpoints are linearly interpolated
    along the crossed edges. Squares with a missing corner are skipped
    (standard sparse-grid convention); saddles use the fixed
    ``MS_SEGMENTS`` convention; squares spanning the antimeridian seam
    (gj = nlon-1) are skipped so every segment lives in one continuous
    longitude frame.

    Plan shape: three self-equi-joins on the square key (gi, gj) — all
    four inputs share one hash partitioning, so Catalyst plans one
    shuffle per input and the joins are co-partitioned — then a broadcast
    join against the 16-row case table and pure-Column interpolation
    arithmetic (floor-rounded at ``out_dp``). No UDF; work is O(occupied
    nodes), never O(grid).
    """
    g = float(grid_deg)
    thr = F.lit(float(threshold))
    n = nodes.select("gi", "gj", F.col(value_col).alias("v"))
    sw = n.select("gi", "gj", F.col("v").alias("v_sw"))
    se = n.select("gi", (F.col("gj") - 1).alias("gj"),
                  F.col("v").alias("v_se"))
    nw = n.select((F.col("gi") - 1).alias("gi"), "gj",
                  F.col("v").alias("v_nw"))
    ne = n.select((F.col("gi") - 1).alias("gi"),
                  (F.col("gj") - 1).alias("gj"), F.col("v").alias("v_ne"))
    sq = (
        sw.join(se, ["gi", "gj"]).join(nw, ["gi", "gj"])
        .join(ne, ["gi", "gj"])
    )
    bit = (
        F.when(F.col("v_sw") >= thr, 1).otherwise(0)
        + F.when(F.col("v_se") >= thr, 2).otherwise(0)
        + F.when(F.col("v_ne") >= thr, 4).otherwise(0)
        + F.when(F.col("v_nw") >= thr, 8).otherwise(0)
    )
    sq = sq.withColumn("ms_case", bit).filter(
        (F.col("ms_case") > 0) & (F.col("ms_case") < 15)
    )
    spark = nodes.sparkSession
    segs = spark.createDataFrame(
        MS_SEGMENTS, "ms_case int, seg_idx int, e1 int, e2 int"
    )
    sq = sq.join(F.broadcast(segs), "ms_case")

    glat_i = (F.col("gi") + 0.5) * g
    glat_i1 = (F.col("gi") + 1.5) * g
    glon_j = (F.col("gj") + 0.5) * g - 180.0
    glon_j1 = (F.col("gj") + 1.5) * g - 180.0
    # interpolation parameters along each edge (safe: an edge is crossed
    # only when its corner values straddle the threshold, so denom != 0)
    t_s = (thr - F.col("v_sw")) / (F.col("v_se") - F.col("v_sw"))
    t_e = (thr - F.col("v_se")) / (F.col("v_ne") - F.col("v_se"))
    t_n = (thr - F.col("v_nw")) / (F.col("v_ne") - F.col("v_nw"))
    t_w = (thr - F.col("v_sw")) / (F.col("v_nw") - F.col("v_sw"))

    from bufr2geojson_spark.operators.textops import round_dp

    def edge_lon(e):
        return (
            F.when(e == 0, glon_j + t_s * g)
            .when(e == 1, glon_j1)
            .when(e == 2, glon_j + t_n * g)
            .otherwise(glon_j)
        )

    def edge_lat(e):
        return (
            F.when(e == 0, glat_i)
            .when(e == 1, glat_i + t_e * g)
            .when(e == 2, glat_i1)
            .otherwise(glat_i + t_w * g)
        )

    return sq.select(
        "gi", "gj", "ms_case", "seg_idx",
        round_dp(edge_lon(F.col("e1")), out_dp).alias("x1"),
        round_dp(edge_lat(F.col("e1")), out_dp).alias("y1"),
        round_dp(edge_lon(F.col("e2")), out_dp).alias("x2"),
        round_dp(edge_lat(F.col("e2")), out_dp).alias("y2"),
    )


def idw_merge(
    existing: DataFrame,
    delta: DataFrame,
    out_dp: int = 4,
) -> DataFrame:
    """Fold a delta batch's IDW grid (built with ``keep_state=True``) into
    a standing surface without rescanning history — the raster sibling of
    ``tile_merge``. The fixed-point weight sums are exact DECIMAL integer
    sums, so they are exactly mergeable: merge(idw(A), idw(B)) is
    bit-identical to idw(A ∪ B) under any batch split (pinned by test and
    by the driver query, whose oracle is the one-shot full-corpus SQL).
    Node coordinates (glat, glon) are CARRIED from the inputs, never
    recomputed, so a grid built at any ``grid_deg`` merges without the
    caller restating it (a restated-wrong spacing would silently relabel
    every node). One outer join keyed on the node; with the standing
    table stored range-partitioned by (gi, gj) the shuffle moves mostly
    the delta.

    Exactness horizon: the decimal sums never overflow in practice
    (~10^38 headroom), but once a node's sums exceed 2^53 their DOUBLE
    conversion in the final division is rounded — still deterministic and
    engine-identical, no longer bit-equal to arbitrary-precision math.
    """
    m = F.lit(float(10 ** out_dp))
    cols = ["gi", "gj", "glat", "glon", "n_src", "sw_e6", "swv_e8"]
    e = existing.select(*cols)
    d = delta.select(*cols)
    merged = (
        e.withColumnRenamed("n_src", "_n1")
        .withColumnRenamed("sw_e6", "_w1")
        .withColumnRenamed("swv_e8", "_v1")
        .withColumnRenamed("glat", "_la1")
        .withColumnRenamed("glon", "_lo1")
        .join(
            d.withColumnRenamed("n_src", "_n2")
            .withColumnRenamed("sw_e6", "_w2")
            .withColumnRenamed("swv_e8", "_v2")
            .withColumnRenamed("glat", "_la2")
            .withColumnRenamed("glon", "_lo2"),
            ["gi", "gj"], "full_outer",
        )
    )
    z = F.lit(0).cast("decimal(38,0)")
    zl = F.lit(0).cast("long")
    sw = F.coalesce(F.col("_w1").cast("decimal(38,0)"), z) + F.coalesce(
        F.col("_w2").cast("decimal(38,0)"), z
    )
    swv = F.coalesce(F.col("_v1").cast("decimal(38,0)"), z) + F.coalesce(
        F.col("_v2").cast("decimal(38,0)"), z
    )
    return merged.select(
        "gi", "gj",
        F.coalesce(F.col("_la1"), F.col("_la2")).alias("glat"),
        F.coalesce(F.col("_lo1"), F.col("_lo2")).alias("glon"),
        (F.coalesce(F.col("_n1"), zl) + F.coalesce(F.col("_n2"), zl))
        .alias("n_src"),
        (F.floor(
            (swv.cast("double") / sw.cast("double")) / F.lit(100.0) * m
            + F.lit(0.5)
        ) / m).alias("idw_value"),
        sw.alias("sw_e6"),
        swv.alias("swv_e8"),
    )


# ---------------------------------------------------------------------------
# per-tile temporal trend (least-squares slope, exact integer moments)
# ---------------------------------------------------------------------------


def tile_trend(
    obs: DataFrame,
    cell_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    ref_day: int = 19700,
    out_dp: int = 6,
) -> DataFrame:
    """Per-cell least-squares trend of a value over time (the
    warming-trend-per-tile analysis): one map-side-combined groupBy
    computing the four classic moments, then the closed-form slope.

    Exactness contract: time is reduced to integer DAY indices relative
    to ``ref_day`` and values to fixed-point 1e2, so all four moments
    (sum x, sum y, sum xy, sum x^2) are INTEGER sums — bit-exact under
    any partitioning. The product moments accumulate as DECIMAL(38,0)
    (exact integer arithmetic with ~10^38 headroom — a long sum of
    squared terms hits Spark's int64 ANSI-overflow cliff at ~1e18, well
    inside 100 TB row counts; DuckDB's HUGEINT sums are the same exact
    arithmetic on the oracle side). The slope combination is then
    evaluated in doubles with one fixed association, so engine and
    oracle compute the identical IEEE expression.

    Returns (cell, n_obs, slope_per_day, intercept) with null slope for
    degenerate cells (all observations on one day).
    """
    # unix_timestamp: NTZ parquet timestamps (timestamp[us], no zone)
    # can't cast straight to double; unix_timestamp truncates to whole
    # seconds, and floor(floor(s)/86400) == floor(s/86400) for s >= 0 so
    # the DAY index still matches the oracle's fractional epoch()
    x = (F.floor(F.unix_timestamp(F.col(ts_col)) / 86400)
         - F.lit(ref_day)).cast("long")
    y = F.floor(F.col(value_col) * 100.0 + F.lit(0.5)).cast("long")
    dec = "decimal(19,0)"
    m = (
        obs.select(F.col(cell_col).alias("cell"), x.alias("_x"),
                   y.alias("_y"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.sum("_x").alias("_sx"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_x").cast(dec) * F.col("_y")).alias("_sxy"),
            F.sum(F.col("_x").cast(dec) * F.col("_x")).alias("_sxx"),
        )
    )
    n = F.col("n_obs").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den          # in value_e2 per day
    intercept = (sy - slope * sx) / n          # value_e2 at ref_day
    p = F.lit(float(10 ** out_dp))
    return m.select(
        "cell", "n_obs",
        F.when(
            den != 0.0, F.floor(slope / 100.0 * p + F.lit(0.5)) / p
        ).alias("slope_per_day"),
        F.when(
            den != 0.0, F.floor(intercept / 100.0 * p + F.lit(0.5)) / p
        ).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# raster box smoothing (3x3 neighborhood mean with lon wrap)
# ---------------------------------------------------------------------------


def _scatter_quantized(grid, nlon, gi_col, gj_col, value_col, val_dp,
                       offsets):
    """Shared scatter scaffolding of ``raster_smooth`` and
    ``raster_gradient``: re-quantize the value to its declared ``val_dp``
    fixed point (recovering the exact integer) and send each node's value
    to ``(gi + di, (gj + dj) mod nlon)`` for every ``(di, dj, tag)``
    offset. Returns (gi, gj, _t, _v). Keeping the quantize rule and the
    wrap arithmetic in one place stops the two stencil operators from
    drifting apart."""
    v = F.floor(
        F.col(value_col) * F.lit(float(10 ** val_dp)) + F.lit(0.5)
    ).cast("long")
    offs = F.array(*[
        F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"),
                 F.lit(t).alias("t"))
        for di, dj, t in offsets
    ])
    return (
        grid.select(F.col(gi_col).alias("_i"), F.col(gj_col).alias("_j"),
                    v.alias("_v"))
        .select("_i", "_j", "_v", F.explode(offs).alias("_o"))
        .select(
            (F.col("_i") + F.col("_o.di")).alias("gi"),
            F.pmod(F.col("_j") + F.col("_o.dj"), F.lit(nlon)).alias("gj"),
            F.col("_o.t").alias("_t"),
            "_v",
        )
    )


def raster_smooth(
    grid: DataFrame,
    nlon: int,
    gi_col: str = "gi",
    gj_col: str = "gj",
    value_col: str = "idw_value",
    val_dp: int = 4,
    out_dp: int = 4,
) -> DataFrame:
    """3x3 box-mean smoothing over a sparse regular grid (the standard
    post-pass after ``idw_grid``): each node's value is scattered to its
    nine (di, dj) neighbor positions — longitudes wrapping modulo
    ``nlon`` — and one groupBy per target node averages whatever actually
    arrived, so sparse borders average over existing neighbors only and
    empty ocean never materializes.

    Values are re-quantized to their declared ``val_dp`` fixed point
    before summing (an ``idw_value`` is a 4dp floor, so the long is
    recovered exactly), keeping the aggregation an integer sum —
    bit-exact under any partitioning. Scale shape: 9x explode + one
    shuffle keyed on the node, then a semi-join back so output nodes are
    exactly the input nodes (no halo dilation); no UDF, no window over
    the whole grid.

    Returns (gi, gj, n_nb, smoothed).
    """
    ex = _scatter_quantized(
        grid, nlon, gi_col, gj_col, value_col, val_dp,
        [(di, dj, "") for di in (-1, 0, 1) for dj in (-1, 0, 1)],
    )
    p = F.lit(float(10 ** out_dp))
    scale = F.lit(float(10 ** val_dp))
    nodes = grid.select(F.col(gi_col).alias("gi"), F.col(gj_col).alias("gj"))
    return (
        ex.groupBy("gi", "gj")
        .agg(F.count(F.lit(1)).alias("n_nb"), F.sum("_v").alias("_sv"))
        .join(nodes, ["gi", "gj"], "left_semi")
        .select(
            "gi", "gj", "n_nb",
            (F.floor(
                (F.col("_sv") / F.col("n_nb")) / scale * p + F.lit(0.5)
            ) / p).alias("smoothed"),
        )
    )


# ---------------------------------------------------------------------------
# per-tile fixed-bin histograms
# ---------------------------------------------------------------------------


def tile_histogram(
    obs: DataFrame,
    cell_col: str,
    value_col: str = "value",
    lo: float = 0.0,
    hi: float = 100.0,
    n_bins: int = 10,
) -> DataFrame:
    """Per-cell fixed-width histogram of a value column — the mergeable
    distribution summary (unlike exact quantiles, fixed-bin counts are
    algebraic: partial counts add, so the groupBy map-side-combines and
    two histograms merge by addition — the same property ``tile_merge``
    exploits for continuous aggregates).

    Bin rule: ``floor((v - lo) / w)`` clamped into [0, n_bins-1], so
    values at/under ``lo`` land in bin 0 and at/over ``hi`` in the last
    bin (no dropped outliers — a histogram that silently discards tails
    misreports the distribution). One shuffle keyed on (cell, bin).

    Returns (cell, bin, bin_lo, bin_hi, n).
    """
    if n_bins < 1:
        raise ValueError("n_bins must be >= 1")
    w = (float(hi) - float(lo)) / n_bins
    if w <= 0:
        raise ValueError("hi must be > lo")
    b = F.least(
        F.greatest(
            F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(w)),
            F.lit(0),
        ),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        obs.select(F.col(cell_col).alias("cell"), b.alias("bin"))
        .groupBy("cell", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "cell", "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(w)).alias("bin_lo"),
            (F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(w)).alias("bin_hi"),
            "n",
        )
    )


def tile_trend_outliers(
    obs: DataFrame,
    cell_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    k_sigma: float = 3.0,
    ref_day: int = 19700,
    out_dp: int = 4,
) -> DataFrame:
    """Observations that deviate > ``k_sigma`` residual standard deviations
    from their cell's least-squares trend line — anomaly detection that a
    plain per-cell z-score misses (a warming cell's late readings are high
    but ON trend; this flags off-trend readings only).

    Two passes: (1) the same five integer moments as ``tile_trend`` plus
    ``sum(y^2)`` (bit-exact integer sums; the product moments accumulate
    as DECIMAL(38,0) — ``sum(y^2)`` as a long would hit the int64
    ANSI-overflow cliff after ~1e10 typical rows per cell, squarely
    inside the 100 TB design point); (2) the per-cell line +
    residual sigma — derived in closed form from the moments
    (SSE = Syy - slope*Sxy, never a second data scan) — broadcast back and
    each observation's residual tested. Both passes shuffle once, keyed on
    the cell; the stats side is one row per cell so AQE broadcasts it.

    Degenerate cells (one day of data, or zero residual variance) emit no
    outliers. Returns
    (cell, x_day, value, residual, sigma) for flagged rows, residual and
    sigma floor-rounded to ``out_dp``.
    """
    x = (F.floor(F.unix_timestamp(F.col(ts_col)) / 86400)
         - F.lit(ref_day)).cast("long")
    y = F.floor(F.col(value_col) * 100.0 + F.lit(0.5)).cast("long")
    base = obs.select(
        F.col(cell_col).alias("cell"),
        F.col(value_col).alias("value"),
        x.alias("_x"), y.alias("_y"),
    )
    dec = "decimal(19,0)"
    m = base.groupBy("cell").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x").cast(dec) * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x").cast(dec) * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y").cast(dec) * F.col("_y")).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxy = F.col("_sxy").cast("double")
    sxx = F.col("_sxx").cast("double")
    syy = F.col("_syy").cast("double")
    den = n * sxx - sx * sx
    slope = (n * sxy - sx * sy) / den
    inter = (sy - slope * sx) / n
    # SSE from the moments: Syy_c - slope * Sxy_c (centered sums)
    syy_c = syy - sy * sy / n
    sxy_c = sxy - sx * sy / n
    sse = syy_c - slope * sxy_c
    sigma = F.sqrt(F.greatest(sse, F.lit(0.0)) / n)  # e2 units
    stats = m.select(
        "cell",
        F.when(den != 0.0, slope).alias("_slope"),
        F.when(den != 0.0, inter).alias("_inter"),
        F.when(den != 0.0, sigma).alias("_sigma"),
    )
    resid = F.col("_y").cast("double") - (
        F.col("_inter") + F.col("_slope") * F.col("_x").cast("double")
    )
    p = F.lit(float(10 ** out_dp))
    return (
        base.join(stats, "cell")
        .filter(
            F.col("_sigma").isNotNull()
            & (F.col("_sigma") > 0.0)
            & (F.abs(resid) > F.lit(float(k_sigma)) * F.col("_sigma"))
        )
        .select(
            "cell",
            F.col("_x").alias("x_day"),
            "value",
            (F.floor(resid / 100.0 * p + F.lit(0.5)) / p).alias("residual"),
            (F.floor(F.col("_sigma") / 100.0 * p + F.lit(0.5)) / p)
            .alias("sigma"),
        )
    )


def compact_cells(
    cells: DataFrame,
    from_level: int,
    min_level: int,
    cell_col: str = "cell",
) -> DataFrame:
    """Compact a cell set: every COMPLETE group of 4 sibling cells is
    replaced by its parent, recursively up to ``min_level`` — the
    S2-normalize / H3-compact operation that shrinks polygon covers and
    tile inventories without changing the covered region (a compacted
    cover prunes file scans with far fewer predicates).

    One groupBy per promoted level (``from_level - min_level`` rounds,
    bounded by the hierarchy depth, each keyed on the parent cell — the
    set SHRINKS by >=3/4 per promoted group, so later rounds are nearly
    free). Pure JVM bit math via ``s2_parent_col``; no UDF.

    Input: distinct cells at ``from_level``. Returns (cell, level) — the
    compacted cover; a cell keeps its original level unless its whole
    sibling group was promoted.
    """
    if min_level >= from_level:
        raise ValueError("min_level must be coarser than from_level")
    cur = cells.select(F.col(cell_col).alias("cell")).distinct()
    kept = []
    for lvl in range(from_level, min_level, -1):
        parent = s2_parent_col(F.col("cell"), lvl - 1)
        grp = cur.groupBy(parent.alias("parent")).agg(
            F.count(F.lit(1)).alias("_nc")
        )
        full = grp.filter(F.col("_nc") == 4).select("parent")
        kept.append(
            cur.join(
                full.select(F.col("parent").alias("_fp")),
                parent == F.col("_fp"),
                "left_anti",
            ).withColumn("level", F.lit(lvl))
        )
        cur = full.select(F.col("parent").alias("cell"))
    out = cur.withColumn("level", F.lit(min_level))
    for k in kept:
        out = out.unionByName(k)
    return out


def uncompact_cells(
    cover: DataFrame,
    to_level: int,
    cell_col: str = "cell",
    level_col: str = "level",
) -> DataFrame:
    """Expand a (possibly compacted) mixed-level cover to uniform
    ``to_level`` cells — the inverse of ``compact_cells`` (needed to
    equi-join a compacted cover against leaf-level data). Each cell
    explodes to its 4^(to_level - level) descendants via one
    ``F.sequence`` + explode per input row: descendant k of cell c is
    ``(c - lsb) + (2k + 1) * child_lsb`` — pure JVM arithmetic on the
    bit layout, no per-level loop and no UDF. Work is exactly the output
    size. A row FINER than ``to_level`` raises at execution time
    (``raise_error``) — a cover being expanded to a coarser level than
    its own leaves is a caller error, and silently dropping those rows
    would return an incomplete cover.
    """
    # shiftleft's bit count must be an expression here (it depends on the
    # row's level), which the Python F.shiftleft signature doesn't allow —
    # SQL shiftleft does
    lsb = F.expr(
        f"shiftleft(cast(1 as bigint), "
        f"cast(2 * ({MAX_LEVEL} - {level_col}) as int))"
    )
    clsb = F.lit(1 << (2 * (MAX_LEVEL - to_level))).cast("long")
    ks = F.expr(
        f"CASE WHEN {level_col} > {to_level} THEN "
        f"raise_error('uncompact_cells: cover contains cells finer than "
        f"to_level={to_level} — compact first') "
        f"ELSE sequence(cast(0 as bigint), "
        f"shiftleft(cast(1 as bigint), "
        f"cast(2 * ({to_level} - {level_col}) as int)) - 1) END"
    )
    return (
        cover.select(F.col(cell_col).alias("_c"), F.col(level_col))
        .withColumn("_k", F.explode(ks))
        .select(
            ((F.col("_c") - lsb) + (F.lit(2) * F.col("_k") + 1) * clsb)
            .alias("cell")
        )
    )


def raster_gradient(
    grid: DataFrame,
    nlon: int,
    grid_deg: float,
    gi_col: str = "gi",
    gj_col: str = "gj",
    value_col: str = "idw_value",
    val_dp: int = 4,
    out_dp: int = 6,
) -> DataFrame:
    """Central-difference gradient of a raster surface (value per km,
    east/north components + magnitude) — the pressure-gradient /
    slope-aspect field derived from the IDW analysis.

    Same scatter shape as ``raster_smooth``: each node sends its value to
    the four positions that need it as a neighbor (tagged N/S/E/W,
    longitudes wrapping), one groupBy per receiver reassembles the
    stencil with conditional aggregation, and only receivers with the
    complete 4-neighbor stencil (and that are themselves grid nodes) emit
    a gradient — a one-sided difference at a data edge would silently be
    wrong, so incomplete stencils emit nothing. One shuffle, pure
    codegen.

    Exactness: values re-quantized to ``val_dp`` fixed point, so the
    differences are exact integers; the conversion to value/km divides by
    literal spacings (east spacing shrinks by cos(node latitude)) in one
    fixed order on both engines.
    """
    g = float(grid_deg)
    from bufr2geojson_spark.operators.spatial import KM_PER_DEG

    ex = _scatter_quantized(
        grid, nlon, gi_col, gj_col, value_col, val_dp,
        [(-1, 0, "N"), (1, 0, "S"), (0, -1, "E"), (0, 1, "W")],
    )

    def pick(tag):
        return F.max(F.when(F.col("_t") == tag, F.col("_v")))

    nodes = grid.select(F.col(gi_col).alias("gi"), F.col(gj_col).alias("gj"))
    glat = (F.col("gi") + 0.5) * g
    scale = F.lit(float(10 ** val_dp))
    span = F.lit(2.0 * g * KM_PER_DEG)
    dzdy = ((F.col("_vn") - F.col("_vs")).cast("double") / scale) / span
    dzdx = ((F.col("_ve") - F.col("_vw")).cast("double") / scale) / (
        span * F.cos(F.radians(glat))
    )
    p = F.lit(float(10 ** out_dp))
    return (
        ex.groupBy("gi", "gj")
        .agg(
            F.count(F.lit(1)).alias("_nn"),
            pick("N").alias("_vn"), pick("S").alias("_vs"),
            pick("E").alias("_ve"), pick("W").alias("_vw"),
        )
        .filter(F.col("_nn") == 4)
        .join(nodes, ["gi", "gj"], "left_semi")
        .select(
            "gi", "gj",
            (F.floor(dzdx * p + F.lit(0.5)) / p).alias("dzdx_per_km"),
            (F.floor(dzdy * p + F.lit(0.5)) / p).alias("dzdy_per_km"),
            (F.floor(F.sqrt(dzdx * dzdx + dzdy * dzdy) * p + F.lit(0.5)) / p)
            .alias("grad_per_km"),
        )
    )
