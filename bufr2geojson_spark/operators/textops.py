"""Training-data text operators: dedup, fingerprints, language-ID, quality.

These are the large-scale-pipeline operators layered on top of the engine
(deduplication, similarity, text analysis). Design constraints:

* **JVM-side only** — every function here compiles to built-in Column
  expressions (split/transform/aggregate/zip_with/md5/conv); no Python UDFs
  in any hot path, so the work stays inside whole-stage codegen;
* **oracle-parity hashing** — all hash functions are derived from ``md5``
  (identical in Spark and DuckDB), via the 32-bit ``h32(s) =
  int(md5(s)[:8], 16)`` primitive, so the driver's DuckDB oracle can verify
  every operator value-for-value;
* shuffles only where semantically required (pair-joins, group-bys), with
  the LSH band join as the documented scale path for near-dup at 100 TB
  (the all-pairs shingle join is the small-scale oracle reference).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# hash + tokenization primitives (oracle-parity)
# ---------------------------------------------------------------------------


def h32(col: Column) -> Column:
    """32-bit hash via md5 prefix — identical in Spark and DuckDB
    (``('0x' || substr(md5(x),1,8))::BIGINT`` on the DuckDB side)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def words_of(text: Column) -> Column:
    return F.split(text, " ")


def shingles_of(text: Column, k: int = 3) -> Column:
    """Word k-shingles as an array (empty if fewer than k words)."""
    w = words_of(text)
    n = F.size(w)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash: (text_md5, n_docs, keep_id)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.min(id_col).alias("keep_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def minhash_signature(docs: DataFrame, num_hashes: int = 16,
                      shingle_k: int = 3, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Per-document MinHash signature: sig_j = min over shingles of
    h32(j || ':' || shingle).

    Plan shape: explode shingles → md5 columns as a flat projection →
    groupBy(doc_id).min. The flat projection stays inside whole-stage
    codegen; the earlier array_min(transform(...)) formulation evaluated the
    lambda INTERPRETED (Spark higher-order functions don't codegen), ~10×
    slower per hash. The groupBy shuffle is one row per document: a doc's
    shingles share its input partition, so map-side partial min collapses
    them before the exchange."""
    sh = shingles_of(F.col(text_col), shingle_k)
    exploded = docs.select(
        F.col(id_col), F.explode_outer(sh).alias("_s")
    )
    hash_cols = [
        h32(F.concat(F.lit(f"{j}:"), F.col("_s"))).alias(f"_h{j}")
        for j in range(num_hashes)
    ]
    return (
        exploded.select(F.col(id_col), *hash_cols)
        .groupBy(id_col)
        .agg(*[F.min(f"_h{j}").alias(f"mh_{j}") for j in range(num_hashes)])
    )


def _band_hashes(sig: DataFrame, num_hashes: int, bands: int,
                 id_col: str) -> DataFrame:
    """(id, band, band_hash) from a minhash signature table. All band
    hashes are built in ONE projection then exploded — a union of
    per-band selects would rescan the corpus (and recompute every
    minhash) once per band; this keeps the expensive signature
    computation to a single pass."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [f"mh_{b * rows_per_band + r}" for r in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("_", *[F.col(c) for c in cols]))
                .alias("band_hash"),
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("_b")
    ).select(F.col(id_col), F.col("_b.band").alias("band"),
             F.col("_b.band_hash").alias("band_hash"))


def lsh_candidate_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-LSH banding: documents agreeing on all rows of any band become
    a candidate pair. The band bucket-join is THE scale path for near-dup —
    the shuffle key is (band, band_hash), so work is proportional to
    candidates, not to all pairs."""
    banded = _band_hashes(
        minhash_signature(docs, num_hashes, shingle_k, text_col, id_col),
        num_hashes, bands, id_col,
    )
    a = banded.alias("a")
    b_ = banded.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.
    This is the *reference/oracle* formulation (all-pairs via shingle
    equi-join); at 100 TB use ``lsh_candidate_pairs`` to bound candidates
    and verify only those."""
    sh = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_of(F.col(text_col), shingle_k)))
        .alias("shingle"),
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash over word hashes: counter[b] accumulates ±1 per word
    bit b; final bit b set iff counter[b] > 0.

    Plan shape: explode words → md5 once per word as a flat codegen'd
    projection → 16 per-bit sums in one groupBy(doc_id) (map-side partial
    aggregation collapses each doc to one row before the exchange). The
    earlier aggregate+zip_with fold kept everything narrow but evaluated
    the lambda INTERPRETED (no codegen for Spark higher-order functions) —
    the same ~10×-per-hash penalty the minhash rewrite removed."""
    w = words_of(F.col(text_col))
    exploded = docs.select(F.col(id_col), F.explode_outer(w).alias("_w"))
    h = h32(F.col("_w"))
    hashed = exploded.select(F.col(id_col), h.alias("_h"))
    counter_aggs = [
        F.sum(
            F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1))
            .cast("long") * F.lit(2) - F.lit(1)
        ).alias(f"_c{b}")
        for b in range(SIMHASH_BITS)
    ]
    counters = hashed.groupBy(id_col).agg(*counter_aggs)
    bits = None
    for b in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"_c{b}") > 0, F.lit(1 << b).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        bits = term if bits is None else bits + term
    return counters.select(F.col(id_col), bits.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — EXACT, via banding.

    The simhash is split into ``max_hamming + 1`` bit bands; by pigeonhole,
    any pair within ``max_hamming`` differing bits must agree exactly on at
    least one band, so the band equi-join is a *complete* candidate set (no
    recall loss), and the shuffle is keyed on (band, band_bits) instead of
    the all-pairs cross product — the scale path at 100 TB. Candidates then
    pass an exact popcount filter."""
    bands = max_hamming + 1
    band_bits = SIMHASH_BITS // bands
    sh = simhash(docs, text_col, id_col)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1)).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = sh.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*band_structs)).alias("_b"),
    ).select(id_col, "simhash", "_b.band", "_b.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    x = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    # popcount via bit_count (Spark) — DuckDB mirrors with bit_count too
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(x).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# text analysis: language-ID, quality, tokens, fingerprint
# ---------------------------------------------------------------------------

_EN_MARKERS = ["the", "a", "of", "and", "to", "in", "is"]


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Marker-word heuristic language ID (deterministic, oracle-parity)."""
    w = words_of(F.col(text_col))
    markers = F.array(*[F.lit(m) for m in _EN_MARKERS])
    hits = F.size(F.filter(w, lambda x: F.array_contains(markers, x)))
    ratio = F.round(hits / F.size(w), 6)
    return docs.select(
        F.col(id_col),
        hits.cast("long").alias("marker_hits"),
        F.size(w).cast("long").alias("n_words"),
        ratio.alias("marker_ratio"),
        F.when(ratio > 0.05, F.lit("en")).otherwise(F.lit("other"))
        .alias("pred_lang"),
    )


def round_dp(x: Column, dp: int) -> Column:
    """Engine-agnostic rounding to ``dp`` decimals: ``floor(x*10^dp + 0.5) /
    10^dp`` is pure IEEE arithmetic, so Spark and any SQL oracle produce
    bit-identical doubles even on exact .5 ties (where Spark's
    HALF_UP-on-shortest-repr and DuckDB's half-away-on-binary disagree)."""
    m = F.lit(float(10 ** dp))
    return F.floor(x * m + F.lit(0.5)) / m


def round6(x: Column) -> Column:
    return round_dp(x, 6)


def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality features + combined score (length, mean word
    length, digit ratio, stopword ratio)."""
    t = F.col(text_col)
    w = words_of(t)
    n_chars = F.length(t)
    n_words = F.size(w)
    mean_wlen = round6((n_chars - (n_words - 1)) / n_words)
    digit_ratio = round6(
        (n_chars - F.length(F.regexp_replace(t, "[0-9]", ""))) / n_chars
    )
    markers = F.array(*[F.lit(m) for m in _EN_MARKERS])
    stop_ratio = round6(
        F.size(F.filter(w, lambda x: F.array_contains(markers, x))) / n_words
    )
    score = round6(
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - digit_ratio) * 0.3
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.3
    )
    return docs.select(
        F.col(id_col),
        n_chars.cast("long").alias("n_chars_calc"),
        n_words.cast("long").alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        digit_ratio.alias("digit_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality"),
    )


def token_counts(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + a BPE-ish regex token count (letter runs, digit
    runs, and isolated punctuation as separate tokens)."""
    t = F.col(text_col)
    ws = F.size(words_of(t))
    bpe = F.size(F.regexp_extract_all(t, F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0))
    return docs.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.round(bpe / ws, 6).alias("tokens_per_word"),
    )


def fingerprint(docs: DataFrame, k: int = 8, mod: int = 16,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Mod-p sampled character-k-gram fingerprint (winnowing-style document
    signature): keep k-gram hashes ≡ 0 (mod ``mod``).

    Plan shape (round-2 rewrite, mirroring ``minhash_signature``): explode
    gram positions → md5 as a flat codegen projection → map-side-combined
    groupBy(doc_id). The earlier ``transform``/``filter`` formulation ran
    O(len) md5s per row INTERPRETED (Spark higher-order functions don't
    codegen). The groupBy shuffle is one row per document thanks to partial
    aggregation; docs shorter than ``k`` survive via ``explode_outer`` with
    a null position → null hash → zero-count group."""
    t = F.col(text_col)
    n = F.length(t)
    positions = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1)))
    exploded = docs.select(
        F.col(id_col), F.explode_outer(positions).alias("_i"), t.alias("_t")
    )
    h = h32(F.substr(F.col("_t"), F.col("_i"), F.lit(k)))
    kept = F.when(h % mod == 0, h)
    return (
        exploded.select(F.col(id_col), kept.alias("_kh"))
        .groupBy(id_col)
        .agg(
            F.count("_kh").alias("n_fp"),
            F.min("_kh").alias("min_fp"),
            F.max("_kh").alias("max_fp"),
        )
    )


# ---------------------------------------------------------------------------
# dedup groups from candidate pairs (connected components)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components over an undirected candidate-pair list —
    the step that turns near-dup *pairs* (LSH/simhash/jaccard) into dedup
    *groups*. Returns (doc_id, component_id) with component_id = min id in
    the component, one row per vertex that appears in at least one pair.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", 2014 — the published
    MapReduce CC algorithm): each round rewires every edge toward the
    minimum of its endpoint's neighborhood (large-star moves the
    larger-id endpoints, small-star the smaller), contracting every
    component into a star whose center is the component minimum in
    O(log^2 n) rounds FOR ANY GRAPH STRUCTURE. The earlier min-label /
    pointer-doubling formulation is O(diameter) on random-id geometric
    graphs (measured: the sf0.1 DBSCAN eps-graph was still moving ~100
    labels/round at round 55, because label(min)=min leaves nothing to
    compress at the propagation frontier); star contraction closes the
    same graph in ~10 rounds. Per round: two groupBy/join passes over an
    edge set that only shrinks, each keyed on the vertex — the shape that
    holds at 100 TB.

    One star round runs per materialization (``localCheckpoint`` +
    signature action) so the plan stays O(1)-deep: plain ``persist``
    keeps the full nested lineage and the per-round plan grows ~4x/round
    until planning alone dominates, and a long checkpoint chain was
    measured to degrade ~2.5x/round after ~16 checkpoints in local mode
    — the logarithmic round count keeps the chain short. (Batching TWO
    star rounds per checkpoint to halve the action count was tried and
    measured ~2x SLOWER end-to-end: the doubled plan depth per job costs
    more than the saved scheduling latency.) Pass
    ``reliable_checkpoint=True`` on a real cluster to materialize rounds
    via HDFS-backed ``checkpoint()`` so executor loss cannot kill a
    long-running job (see operators/_iterate.py).

    Not SQL-expressible as a single query in Spark, but DuckDB's recursive
    CTE computes the same fixpoint — used as the oracle."""

    def star_round(edges: DataFrame) -> DataFrame:
        """One large-star + small-star pass (lazy plan, no actions)."""
        # large-star: for each node, connect every LARGER neighbor to the
        # min of its neighborhood (incl. itself)
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mn"))
            .select("u", F.least("u", "_mn").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.greatest("v", "m").alias("u"), F.least("v", "m").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: for each node, connect every smaller-or-equal
        # neighbor (and itself) to the neighborhood min
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        # emit {(x, m) : x in N(u) + {u}, x != m} via one explode (a union
        # of the two branches trips a Catalyst constraint-rewrite bug
        # inside the checkpointed plan in Spark 4.1)
        return (
            ls.join(mins2, "u")
            .select(
                F.col("m"),
                F.explode(F.array(F.col("v"), F.col("u"))).alias("x"),
            )
            .filter(F.col("x") != F.col("m"))
            .select(
                F.greatest("x", "m").alias("u"), F.least("x", "m").alias("v")
            )
            .distinct()
        )

    raw = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    verts = (
        raw.select(F.col("u").alias("id"))
        .unionByName(raw.select(F.col("v").alias("id")))
        .distinct()
        .persist()
    )
    # canonical undirected form (hi, lo), self-loops dropped
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .persist()
    )
    from bufr2geojson_spark.operators._iterate import (
        materialize_round, require_checkpoint_dir)

    if reliable_checkpoint:  # fail fast, not rounds deep into the loop
        require_checkpoint_dir(pairs.sparkSession)
    prev_sig = None
    converged = False
    prev_edges = None
    for _ in range(max_iter):
        new_edges = materialize_round(star_round(edges), reliable_checkpoint)
        sig = new_edges.agg(
            F.count(F.lit(1)).alias("n"),
            # xor digest: order-independent and overflow-free under ANSI
            # (a summed hash overflows int64)
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if prev_edges is not None:
            prev_edges.unpersist()
        prev_edges, edges = edges, new_edges
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # converged edge set is a forest of stars (member, center) with
    # center < member; centers and isolated-self-loop vertices label
    # themselves
    stars = edges.groupBy("u").agg(F.min("v").alias("label"))
    out = (
        verts.join(stars, verts["id"] == stars["u"], "left")
        .select(
            verts["id"].alias("doc_id"),
            F.coalesce(stars["label"], verts["id"]).alias("component_id"),
        )
    )
    out = materialize_round(out, reliable_checkpoint)
    verts.unpersist()
    edges.unpersist()
    if prev_edges is not None:
        prev_edges.unpersist()
    return out


# ---------------------------------------------------------------------------
# deterministic sampling / splitting (training-mix curation)
# ---------------------------------------------------------------------------


def hash_sample(docs: DataFrame, fraction: float,
                id_col: str = "doc_id", salt: str = "sample") -> DataFrame:
    """Deterministic Bernoulli-style sample: keep a row iff
    ``h32(salt:id) % 1_000_000 < fraction * 1e6``. No ``rand()`` — the
    same (id, salt, fraction) always selects the same rows on any cluster,
    any partitioning, any rerun (the reproducibility a training-data
    pipeline needs for ablations), and the predicate is a pure codegen
    filter with no shuffle."""
    thresh = int(fraction * 1_000_000)
    key = h32(F.concat(F.lit(f"{salt}:"), F.col(id_col)))
    return docs.filter(key % 1_000_000 < thresh)


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted (quality-aware) sampling: keep a row with
    probability ``clamp(weight, 0, 1)`` — the training-mix resampling knob
    (e.g. keep documents proportionally to their quality score). Like
    every sampler here it is hash-thresholded, not ``rand()``: the same
    row always gets the same draw on any cluster, any partitioning, any
    rerun, and appending new rows never flips old decisions.

    Keep rule: ``h32(salt:id) % 1_000_000 < floor(clamp(w,0,1) * 1e6 +
    0.5)`` — the same fixed-point form as ``hash_sample`` so the DuckDB
    oracle is expression-identical. Narrow filter, no shuffle.
    """
    w = F.least(
        F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0)
    )
    thresh = F.floor(w * 1e6 + F.lit(0.5))
    key = h32(F.concat(F.lit(f"{salt}:"), F.col(id_col))) % 1_000_000
    return docs.filter(key < thresh)



def train_val_split(docs: DataFrame, val_fraction: float = 0.1,
                    id_col: str = "doc_id",
                    salt: str = "split") -> DataFrame:
    """Deterministic train/validation assignment as a COLUMN (``split`` ∈
    {'train','val'}): hash-derived, so a document never migrates between
    splits as the corpus grows — appends land in the same split forever
    (no leakage across training runs). Narrow projection, no shuffle."""
    thresh = int(val_fraction * 1_000_000)
    key = h32(F.concat(F.lit(f"{salt}:"), F.col(id_col)))
    return docs.withColumn(
        "split",
        F.when(key % 1_000_000 < thresh, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def stratified_sample(docs: DataFrame, fractions: dict,
                      stratum_col: str, id_col: str = "doc_id",
                      salt: str = "strat",
                      default_fraction: float = 0.0) -> DataFrame:
    """Deterministic stratified sample: per-stratum keep-fractions (e.g.
    ``{"en": 0.1, "other": 0.5}`` for language rebalancing — the
    training-mix knob). Same hash-threshold mechanism as ``hash_sample``,
    so selection is reproducible and append-stable; strata not listed fall
    back to ``default_fraction``. Pure codegen CASE + filter, no shuffle."""
    key = h32(F.concat(F.lit(f"{salt}:"), F.col(id_col)))
    thresh = F.lit(int(default_fraction * 1_000_000))
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(F.col(stratum_col) == stratum,
                        F.lit(int(frac * 1_000_000))).otherwise(thresh)
    return docs.filter(key % 1_000_000 < thresh)


def jaccard_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_containment: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for the given candidate pairs —
    the verification stage of the candidate→verify dedup pipeline (the
    100 TB path: ``lsh_candidate_pairs`` bounds the pair count, this
    confirms each survivor exactly; ``ngram_jaccard_pairs`` remains the
    all-pairs small-scale oracle form).

    ``with_containment=True`` adds the ASYMMETRIC containment scores
    ``cont_a`` = |A∩B| / |A| and ``cont_b`` = |A∩B| / |B| — the quantity
    quote/subset detection needs: a short document fully embedded in a
    long one has high containment but low Jaccard, so a Jaccard-threshold
    dedup misses it. Same plan, two extra codegen columns.

    Plan: explode each doc's distinct shingles once, semi-join to docs that
    appear in any candidate pair (so only candidate docs pay the explode),
    then count intersections per pair via two id-keyed joins — shuffles are
    proportional to candidate docs' shingles, never to the corpus
    cross-product."""
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        docs.join(cand_ids, on=id_col, how="left_semi")
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(
                shingles_of(F.col(text_col), shingle_k))).alias("shingle"),
        )
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(a, "id_a").join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    i0 = F.coalesce("inter", F.lit(0))
    extra = (
        [
            round6(i0 / F.col("sz_a")).alias("cont_a"),
            round6(i0 / F.col("sz_b")).alias("cont_b"),
        ]
        if with_containment else []
    )
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            i0.alias("inter"),
            "sz_a", "sz_b",
            F.round(
                i0
                / (F.col("sz_a") + F.col("sz_b") - i0),
                6,
            ).alias("jaccard"),
            *extra,
        )
    )


# ---------------------------------------------------------------------------
# exact set-similarity join via prefix filtering (PPJoin / VernicaJoin)
# ---------------------------------------------------------------------------


def set_similarity_join(
    docs: DataFrame,
    threshold: float = 0.4,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard similarity join — every pair with shingle-set Jaccard
    ≥ ``threshold``, with no probabilistic misses — via prefix filtering
    (the published PPJoin / MapReduce VernicaJoin shape, Vernica et al.
    SIGMOD 2010). This is the deterministic complement to
    ``lsh_candidate_pairs`` → ``jaccard_verify_pairs``: LSH trades recall
    for speed, the prefix filter gives 100% recall while still never
    materializing the cross product.

    Why it prunes: sort every document's distinct shingles by ONE global
    total order (ascending document frequency — rarest first — so prefixes
    are maximally selective). If Jaccard(A,B) ≥ t then
    |A∩B| ≥ ceil(t·|A|), so A and B must share at least one token among
    each one's first ``|S| − ceil(t·|S|) + 1`` sorted tokens. Candidates =
    docs sharing ≥1 PREFIX token; add the length filter
    min(|A|,|B|) ≥ t·max(|A|,|B|) (necessary since |A∩B| ≤ min and
    union ≥ max); verify survivors exactly.

    100 TB shape: every stage is linear in total tokens — shingles cross
    shuffles as fixed-width md5 ids only; the global frequency table is one
    map-side-combined groupBy; per-doc ranking is one window over doc_id;
    the candidate join is keyed on prefix-token id (shuffle ∝ prefix
    postings, and the rarest-first order keeps those postings short); exact
    verification touches candidate pairs only (``jaccard_verify_pairs``).
    Nothing is all-pairs, nothing is collected to the driver.

    The ceil() guards subtract 1e-9 before ceiling so binary-float wobble
    (0.4·5 → 2.0000000000000004) can only LENGTHEN a prefix / widen the
    length filter — extra candidates are verified away; a shortened prefix
    would silently drop true pairs.

    Returns the same shape as ``ngram_jaccard_pairs`` (which is this
    operator's small-scale all-pairs oracle form):
    (id_a, id_b, inter, sz_a, sz_b, jaccard ≥ threshold).
    """
    t = float(threshold)
    sh = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles_of(F.col(text_col), shingle_k))
        ).alias("shingle"),
    ).select(id_col, F.md5("shingle").alias("gid"))
    dfreq = sh.groupBy("gid").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy("df", "gid")
    ranked = (
        sh.join(dfreq, "gid")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    # prefix length: sz - ceil(t*sz) + 1 (conservative ceil, see docstring)
    prefix_len = F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
    prefix = ranked.filter(F.col("pos") <= prefix_len).select(
        F.col(id_col), "gid", "sz"
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "gid", F.col("sz").alias("psz_a")
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "gid", F.col("sz").alias("psz_b")
    )
    cand = (
        a.join(b, "gid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.least("psz_a", "psz_b")
            >= F.lit(t) * F.greatest("psz_a", "psz_b") - F.lit(1e-9)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = jaccard_verify_pairs(
        cand, docs, shingle_k=shingle_k, text_col=text_col, id_col=id_col
    )
    return verified.filter(F.col("jaccard") >= t)


def heavy_hitters(
    docs: DataFrame,
    support: float = 0.001,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT frequent-token mining at streaming cost: every token whose
    total occurrence count is ≥ ``support`` × (total tokens), found without
    ever shuffling the full token-frequency table.

    Two passes (the classic sketch-then-verify shape):

    1. **Candidates** — per input partition, a Misra-Gries summary with
       k = ceil(1/support) counters (one ``mapInPandas`` over the token
       stream; O(k) memory per partition, no shuffle). Guarantee: any token
       with global frequency ≥ support·N keeps a positive counter in at
       least one partition that holds ≥ support·(that partition's tokens),
       so the UNION of per-partition survivors is a SUPERSET of the true
       heavy hitters. Survivors are ≤ k per partition — tiny.
    2. **Verify** — exact counts for candidate tokens only: the token
       stream is semi-joined against the broadcast candidate set (AQE
       broadcasts it — it is ≤ k·partitions rows) and one map-side-combined
       groupBy counts; filter to ≥ the exact threshold.

    At 100 TB this is the only viable exact formulation: a plain
    groupBy(token) shuffles the full vocabulary (trillions of partials),
    while this shuffles ≤ k rows per partition plus the candidates' counts.
    Output is provably identical to the brute-force GROUP BY / HAVING —
    which is exactly the DuckDB oracle.

    Returns (token, cnt) for heavy tokens, with cnt the exact global count.
    """
    k = int(math.ceil(1.0 / support))
    toks = docs.select(
        F.explode(words_of(F.col(text_col))).alias("token")
    ).filter(F.length("token") > 0)

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["token"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = [t for t, c in counters.items() if c == 1]
                    for t in dead:
                        del counters[t]
                    for t in list(counters):
                        counters[t] -= 1
        if counters:
            yield pd.DataFrame({"token": list(counters.keys())})

    cand = toks.mapInPandas(mg, "token string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        toks.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= F.lit(support) * F.col("n") - F.lit(1e-9))
        .select("token", "cnt")
    )


# ---------------------------------------------------------------------------
# corpus statistics: heavy hitters + TF-IDF
# ---------------------------------------------------------------------------


def top_tokens(docs: DataFrame, n: int = 20, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Corpus heavy hitters: top-``n`` tokens by document frequency (ties →
    lexicographic). explode → two map-side-combined aggregations; the
    shuffle carries one (token, partial df) row per partition per distinct
    token, never the token stream. The final top-n is a
    TakeOrderedAndProject — no global sort materializes.

    At 100 TB the same plan holds; if the distinct-token set itself is
    huge, put a frequency floor (HAVING df >= t) before the top-n, or swap
    in a count-min sketch per partition — the groupBy here is already the
    exact mergeable form."""
    tok = docs.select(
        F.col(id_col), F.explode(words_of(F.col(text_col))).alias("token")
    ).distinct()  # document frequency: one (doc, token) pair counts once
    return (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(n)
    )


def tf_idf_top_terms(
    docs: DataFrame,
    top_per_doc: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top TF-IDF terms per document (the keyword-extraction primitive).

    tf = term count in doc / doc length; idf = ln(N / df) with N and df
    exact counts. Three stages, all map-side combinable: token counts per
    (doc, term); document frequency per term; a per-doc window top-k. The
    df table is a per-term aggregate (small relative to the corpus) joined
    back broadcast-or-shuffle as Catalyst/AQE decides. Scores are
    floor-form rounded at 6 dp (``round_dp``) so a SQL oracle matches
    bit-for-bit; ties break lexicographically for determinism."""
    tok = docs.select(
        F.col(id_col), F.explode(words_of(F.col(text_col))).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tc"))
    doclen = tf.groupBy(id_col).agg(F.sum("tc").alias("dl"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(
        F.countDistinct(id_col).alias("n_docs")
    )
    scored = (
        tf.join(doclen, id_col)
        .join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col, "term", "tc", "df",
            round_dp(
                (F.col("tc") / F.col("dl"))
                * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_per_doc)
        .select(id_col, "term", "tc", "df", "tfidf", "rnk")
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 relevance of every document against a bag of query terms
    (the retrieval primitive behind corpus search / RAG shortlists).

    Lucene-form idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive;
    per-term contribution = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)).
    A document scores even if it misses some query terms (absent term
    contributes 0); documents matching no term are dropped.

    Plan shape for 100 TB: the token explode is filtered to the query
    terms BEFORE the (doc, term) groupBy, so the shuffle carries only
    matching tokens, not the corpus token stream. Corpus stats (N, avgdl,
    per-term df over the query terms) are tiny aggregates joined back via
    broadcast. Output: (doc_id, score, n_hits), floor-rounded 6 dp; global
    top-n is a TakeOrderedAndProject when requested.
    """
    terms = sorted({t for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    tok = docs.select(
        F.col(id_col), F.explode(words_of(F.col(text_col))).alias("term")
    )
    # doc length over ALL tokens (must precede the query-term filter)
    doclen = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    corpus = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = tok.filter(F.col("term").isin(terms))
    tf = hits.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(corpus))
        .select(
            F.col(id_col),
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("contrib"),
        )
    )
    # fixed-point 1e-9 contributions: the per-doc score is an exact integer
    # sum, bit-stable under any aggregation order (and in the SQL oracle)
    out = scored.groupBy(id_col).agg(
        round6(
            F.sum(
                F.floor(F.col("contrib") * 1e9 + F.lit(0.5)).cast("long")
            ).cast("double") / 1e9
        ).alias("score"),
        F.count(F.lit(1)).alias("n_hits"),
    )
    if top_n is not None:
        out = out.orderBy(F.desc("score"), F.asc(id_col)).limit(top_n)
    return out


# ---------------------------------------------------------------------------
# sequence packing (training-batch assembly)
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    max_tokens: int = 512,
    n_shards: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pack documents into training sequences of ≤ ``max_tokens``
    (whitespace tokens) — the batch-assembly step an LLM data pipeline runs
    last. Exact first-fit-decreasing is inherently sequential, so the
    distributed form shards documents by ``h32('pack:' || doc_id) %
    n_shards`` (engine-portable, so a recursive-CTE oracle replays the
    identical FFD)
    (deterministic: independent of input partitioning) and runs FFD per
    shard in ``applyInPandas``; pack ids are (shard, local index). FFD's
    11/9·OPT+1 bound holds per shard, and shards pack in parallel — the
    price of parallelism is at most one under-filled bin per shard.

    A document longer than ``max_tokens`` gets its own pack with
    ``overflow=true`` (the caller decides to truncate or split upstream).

    Output: (doc_id, n_tokens, shard, pack_id, overflow); per-pack totals
    are a groupBy away and every pack total ≤ max_tokens is a tested
    invariant."""
    import pandas as pd

    toks = docs.select(
        F.col(id_col),
        F.size(words_of(F.col(text_col))).cast("int").alias("n_tokens"),
        F.pmod(h32(F.concat(F.lit("pack:"), F.col(id_col))),
               F.lit(n_shards)).cast("int").alias("shard"),
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        remaining: list[int] = []
        pack_of = []
        overflow = []
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > max_tokens:
                remaining.append(-1)          # closed: oversize own pack
                pack_of.append(len(remaining) - 1)
                overflow.append(True)
                continue
            for i, r in enumerate(remaining):
                if r >= n:
                    remaining[i] = r - n
                    pack_of.append(i)
                    break
            else:
                remaining.append(max_tokens - n)
                pack_of.append(len(remaining) - 1)
            overflow.append(False)
        shard = int(pdf["shard"].iloc[0])
        out = pdf[[id_col, "n_tokens", "shard"]].copy()
        out["pack_id"] = [f"{shard}-{p}" for p in pack_of]
        out["overflow"] = overflow
        return out

    id_type = toks.schema[id_col].dataType.simpleString()
    schema = (f"{id_col} {id_type}, n_tokens int, shard int, "
              "pack_id string, overflow boolean")
    return toks.groupBy("shard").applyInPandas(ffd, schema)


# ---------------------------------------------------------------------------
# cross-document duplicated n-grams (memorization / contamination scan)
# ---------------------------------------------------------------------------


def dup_ngram_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated n-gram detection — the memorization /
    benchmark-contamination scan a training pipeline runs before a data
    release: any word ``k``-gram that occurs in ≥ ``min_docs`` DISTINCT
    documents is "duplicated", and each document is scored by how much of
    it is covered by duplicated grams.

    Plan shape (the same explode→codegen→map-side-combined-groupBy pattern
    as ``minhash_signature``): positional k-grams come from one
    ``posexplode`` of the JVM-side shingle array; each gram is immediately
    replaced by its md5 so only a fixed-width hash crosses the shuffle
    (never the gram text — at 100 TB the gram strings dominate the shuffle
    otherwise; 128-bit md5 keeps collisions negligible where a 32-bit
    hash would not). The duplicated-gram set is one hash-keyed groupBy with
    partial aggregation; the per-doc score is a second groupBy keyed on
    doc_id. Work and shuffle are both O(total tokens), never pairwise.

    Returns one row per document: (doc_id, n_grams, n_dup, dup_ratio) with
    ``n_dup`` counting POSITIONS covered (a gram repeated inside one doc
    still needs a second distinct doc to count as duplicated).
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_of(F.col(text_col), k)).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("gid"))
    dup = (
        grams.groupBy("gid")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gid")
    )
    per_doc_dup = (
        grams.join(dup, "gid")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(
            F.size(words_of(F.col(text_col))) - F.lit(k - 1), F.lit(0)
        ).cast("long").alias("n_grams"),
    )
    n_dup = F.coalesce(F.col("n_dup"), F.lit(0)).cast("long")
    return base.join(per_doc_dup, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_dup.alias("n_dup"),
        F.when(
            F.col("n_grams") > 0, round_dp(n_dup / F.col("n_grams"), 4)
        ).otherwise(F.lit(0.0)).alias("dup_ratio"),
    )


def dedup_substring_spans(
    docs: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact substring deduplication spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): the MAXIMAL token spans
    of each document that are covered by word ``k``-grams occurring in
    ≥ ``min_docs`` distinct documents — i.e. the spans a training pipeline
    would cut out before tokenization. ``dup_ngram_spans`` scores coverage;
    this operator materializes the cut list.

    Plan shape: positional k-grams from one JVM-side ``posexplode``
    (fixed-width md5 over the shuffle, as in ``dup_ngram_spans``); the
    duplicated-gram set is one map-side-combined groupBy; hit positions
    shuffle ONCE keyed by doc_id, where a single window sort serves both
    the gaps-and-islands lag flag and the island running sum (same
    partitioning + ordering → Catalyst reuses the sort), and the final
    span groupBy is partial-aggregated on the already-partitioned data.
    Every stage is O(total tokens) work and fixed-width shuffle — never
    pairwise, never a per-doc suffix array. The suffix-array construction
    of the paper finds the same ≥k-token duplicated spans; the k-gram
    formulation distributes as plain dataflow.

    Returns (doc_id, span_start, span_end, span_tokens), token positions
    0-based inclusive; overlapping/adjacent gram hits merge into one span.
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(shingles_of(F.col(text_col), k)).alias("pos", "gram"),
    ).select("doc_id", "pos", F.md5("gram").alias("gid"))
    dup = (
        grams.groupBy("gid")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gid")
    )
    hits = grams.join(dup, "gid").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    # a gram at pos covers tokens [pos, pos+k-1]; a new island starts when
    # the gap to the previous hit exceeds k (pos == prev+k is contiguous
    # token coverage and must merge)
    t = hits.withColumn(
        "new_isl",
        F.when(prev.isNull() | (F.col("pos") > prev + F.lit(k)), 1)
        .otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        t.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long").alias("span_tokens"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fixed-width token chunking with overlap — the context-window
    splitter in front of embedding/training: windows of ``chunk_tokens``
    whitespace tokens every ``stride`` tokens, the final window shortened
    to the remaining tail (and a short document yields exactly one chunk).

    Purely narrow (explode of a JVM-side sequence — zero shuffle, zero
    Python); emitted rows carry an md5 of the chunk text so downstream
    exact-dedup of chunks joins on fixed-width hashes. At 100 TB this is
    a map-only stage whose output is ~len/stride rows per doc; the text
    itself stays columnar until the consumer projects it.

    Returns (doc_id, chunk_idx, start_tok, n_tokens, chunk_md5), token
    positions 0-based.
    """
    w = words_of(F.col(text_col))
    n = F.size(w)
    # chunk starts: 0, stride, 2*stride, ... while start + chunk < n, plus
    # the final (possibly short) chunk; n <= chunk -> single chunk at 0
    n_chunks = F.when(
        n <= chunk_tokens, F.lit(1)
    ).otherwise(
        F.ceil((n - chunk_tokens) / F.lit(stride)) + 1
    ).cast("int")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        w.alias("_w"),
        n.alias("_n"),
        F.posexplode(
            F.sequence(F.lit(0), n_chunks - 1)
        ).alias("chunk_idx", "_c"),
    )
    start = (F.col("_c") * stride).cast("long")
    n_tok = F.least(F.lit(chunk_tokens).cast("long"), F.col("_n") - start)
    return base.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_tok"),
        n_tok.alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(F.col("_w"), (start + 1).cast("int"),
                        n_tok.cast("int")),
            )
        ).alias("chunk_md5"),
    )


def edit_distance_join(
    df: DataFrame,
    str_col: str,
    id_col: str,
    hot_threshold: int = 256,
    salt_buckets: int = 16,
) -> DataFrame:
    """All pairs within Levenshtein distance ≤ 1 — typo-tolerant entity
    matching (name/URL/SKU dedup) WITHOUT the quadratic compare a naive
    theta-join plans.

    Deletion-neighborhood blocking (Bocek et al.'s FastSS, the standard
    trick behind SymSpell): every string emits itself plus each of its
    single-character deletions; two strings at edit distance ≤ 1 are
    GUARANTEED to share a variant (equal → self; substitution → deletion
    at the substituted position; insert/delete → the longer's deletion is
    the shorter itself), so an equi-join on the md5 of the variant finds a
    complete candidate set and an exact ``levenshtein`` verify on
    candidates only keeps correctness. Work and shuffle are
    O(rows × length) fixed-width hashes; candidate volume follows variant
    collisions, never |rows|². Verify cost is bounded by candidates.

    Hot-variant salting (round-3 verdict #7): sequential-ID-style corpora
    (TPC-H "Customer#000xxxxxx" names — measured) concentrate deletion
    variants on a few near-degenerate hashes, so the self-join's work
    piles onto single keys. Variants occurring >= ``hot_threshold`` times
    take a salted two-phase route — the probe side carries one hash
    bucket, the build side is replicated across all ``salt_buckets`` —
    splitting each hot key's quadratic block into ``salt_buckets`` tasks
    (same move as ``tile_aggregate``'s hot cells). Output is identical:
    candidate completeness per hot pair is preserved because the smaller
    id's single bucket always meets the larger id's replica. Detection is
    in-plan (broadcast hot-key list), no driver action.

    Returns (id_a, id_b, dist) with id_a < id_b, dist ∈ {0, 1}.
    """
    base = df.select(F.col(id_col).alias("id"), F.col(str_col).alias("s"))
    n = F.length("s")
    variants = base.select(
        "id", "s",
        F.explode(
            F.concat(
                F.array(F.md5("s")),
                F.transform(
                    F.sequence(F.lit(1), n),
                    lambda i: F.md5(
                        F.concat(
                            F.substr(F.col("s"), F.lit(1), i - 1),
                            F.substr(F.col("s"), i + 1, n),
                        )
                    ),
                ),
            )
        ).alias("vh"),
    )
    hot = F.broadcast(
        variants.groupBy("vh").agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= int(hot_threshold))
        .select("vh")
    )
    cold = variants.join(hot, "vh", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    cand_cold = (
        a.join(b, (F.col("a.vh") == F.col("b.vh"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"),
        )
    )
    nb = int(salt_buckets)
    hotv = variants.join(hot, "vh", "left_semi")
    ah = hotv.select(
        "id", "s", "vh", F.pmod(F.xxhash64("id"), F.lit(nb)).alias("_b")
    ).alias("a")
    bh = hotv.select(
        "id", "s", "vh",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("_b"),
    ).alias("b")
    cand_hot = (
        ah.join(bh, (F.col("a.vh") == F.col("b.vh"))
                & (F.col("a._b") == F.col("b._b"))
                & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.s").alias("s_a"), F.col("b.s").alias("s_b"),
        )
    )
    cand = cand_cold.unionByName(cand_hot).distinct()
    return (
        cand.withColumn("dist", F.levenshtein("s_a", "s_b"))
        .filter(F.col("dist") <= 1)
        .select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))
    )


# ---------------------------------------------------------------------------
# unigram language-model scoring (perplexity proxy)
# ---------------------------------------------------------------------------


def unigram_logprob(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-unigram log-probability per document — the cheap perplexity
    proxy used to rank documents by "typicality" (very low scores flag
    gibberish/boilerplate; the quality knob next to ``quality_score``).

    Two passes over the token stream, both linear: (1) token → corpus count
    (map-side-combined groupBy) plus the one-row corpus total; (2) each
    token instance joins its ln p(w) back (hash join keyed on the token;
    AQE broadcasts the vocab side when it fits — vocabularies are ~10^6
    rows even at 100 TB, so this is effectively a broadcast join at any
    scale) and a final groupBy(doc_id) sums.

    Exactness contract: per-token surprisal is fixed-point floor-rounded to
    1e-6 BEFORE summing, so the per-doc sum is an integer sum — bit-exact
    under any partitioning or aggregation order (a double sum wobbles its
    last ulp with partial-agg order; the repo-wide digest rule).

    Returns (doc_id, n_tokens, logprob_e6, avg_logprob); ``logprob_e6`` is
    the integer micro-nat sum, ``avg_logprob`` its per-token mean in nats.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(words_of(F.col(text_col))).alias("w"),
    )
    cnt = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c").alias("t"))
    lp_e6 = F.floor(
        F.log(F.col("c").cast("double") / F.col("t").cast("double")) * 1e6
        + F.lit(0.5)
    ).cast("long")
    probs = cnt.crossJoin(F.broadcast(total)).select(
        "w", lp_e6.alias("lp_e6")
    )
    return (
        tok.join(probs, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_e6").alias("logprob_e6"),
        )
        .withColumn(
            "avg_logprob",
            round_dp(F.col("logprob_e6") / F.col("n_tokens") / F.lit(1e6), 4),
        )
    )


# ---------------------------------------------------------------------------
# bigram language-model scoring (order-2 perplexity proxy)
# ---------------------------------------------------------------------------


def bigram_logprob(
    docs: DataFrame,
    add_k: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-bigram conditional log-probability per document — the order-2
    upgrade of ``unigram_logprob``: scores each document by
    sum over positions i≥2 of ln p(w_i | w_{i-1}) with add-``k`` smoothing

        p(w|v) = (c(v,w) + k) / (c(v·) + k·V)

    where c(v,w) is the corpus bigram count, c(v·) the count of v as a
    bigram LEFT context, and V the unigram vocabulary size. Repetitive
    boilerplate scores high, shuffled/gibberish text scores far lower than
    its unigram score — the standard fluency axis unigrams cannot see.

    Plan: one posexplode produces adjacent pairs JVM-side (zip of the word
    array with itself shifted — no Python); bigram and context counts are
    map-side-combined groupBys; each bigram instance joins its smoothed
    surprisal back (AQE broadcasts the model side when it fits) and one
    groupBy(doc_id) sums. All linear, shuffle ∝ distinct bigrams — bigram
    vocabularies are ~10^8 at web scale, still join-able, and the md5 of
    the pair (never the pair text) is what crosses the shuffle.

    Exactness contract (repo digest rule): per-bigram surprisal is
    fixed-point floor-rounded to 1e-6 BEFORE summing → integer sums,
    bit-exact under any partitioning.

    Returns (doc_id, n_bigrams, logprob_e6, avg_logprob).
    """
    w = words_of(F.col(text_col))
    pairs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(
                F.size(w) >= 2,
                F.zip_with(
                    F.slice(w, 1, F.size(w) - 1),
                    F.slice(w, 2, F.size(w) - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    ).select(
        "doc_id",
        F.md5("bg").alias("bg_id"),
        F.md5(F.substring_index("bg", " ", 1)).alias("ctx_id"),
    )
    bg_cnt = pairs.groupBy("bg_id", "ctx_id").agg(
        F.count(F.lit(1)).alias("c_bg")
    )
    ctx_cnt = bg_cnt.groupBy("ctx_id").agg(F.sum("c_bg").alias("c_ctx"))
    vocab = docs.select(
        F.explode(words_of(F.col(text_col))).alias("tok")
    ).agg(F.countDistinct("tok").alias("v"))
    lp_e6 = F.floor(
        F.log(
            (F.col("c_bg") + F.lit(add_k))
            / (F.col("c_ctx") + F.lit(add_k) * F.col("v"))
        ) * 1e6
        + F.lit(0.5)
    ).cast("long")
    model = (
        bg_cnt.join(ctx_cnt, "ctx_id")
        .crossJoin(F.broadcast(vocab))
        .select("bg_id", lp_e6.alias("lp_e6"))
    )
    return (
        pairs.join(model, "bg_id")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_e6").alias("logprob_e6"),
        )
        .withColumn(
            "avg_logprob",
            round_dp(F.col("logprob_e6") / F.col("n_bigrams") / F.lit(1e6), 4),
        )
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) — multi-criteria data selection
# ---------------------------------------------------------------------------


def pareto_frontier(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Skyline / Pareto-frontier selection over two maximize-criteria: keep
    exactly the rows no other row dominates (q dominates p iff q.x ≥ p.x
    and q.y ≥ p.y with at least one strict). The data-selection primitive
    behind "keep documents that are long AND lexically diverse" style
    curation — thresholds pick an arbitrary box, the frontier picks the
    undominated boundary.

    Plan (all codegen, two narrow shuffles): p is dominated iff
    max{y : x' > p.x} ≥ p.y  (something strictly longer is at least as
    diverse), or max{y : x' = p.x} > p.y (same length, strictly more
    diverse). So: groupBy(x) → per-x max y (shuffle ∝ distinct x, partials
    combined map-side); one window over the DISTINCT-x table ordered by x
    desc computes the strictly-greater running max; join the two bounds
    back on x (AQE broadcasts the distinct-x side). The only serial point
    is the window over distinct x — a table already reduced by the groupBy;
    at 100 TB with adversarially-unique x values, range-partition the
    window by x bands and prefix-max the ≤1000 band maxima on the driver —
    same two-scan shape.

    Ties: duplicate (x, y) points do not dominate each other — all kept.
    The DuckDB oracle is the O(n²) NOT EXISTS dominance anti-join, a
    genuinely different algorithm, so agreement pins the window logic.
    """
    g = df.groupBy(x_col).agg(F.max(y_col).alias("_my"))
    w = (
        Window.orderBy(F.desc(x_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bounds = g.withColumn("_mgt", F.max("_my").over(w))
    return (
        df.join(F.broadcast(bounds), x_col)
        .filter(
            (F.col(y_col) == F.col("_my"))
            & (F.col("_mgt").isNull() | (F.col(y_col) > F.col("_mgt")))
        )
        .drop("_my", "_mgt")
    )


# ---------------------------------------------------------------------------
# per-stratum quota sampling (domain/language caps)
# ---------------------------------------------------------------------------


def quota_sample(
    docs: DataFrame,
    stratum_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "quota",
    prune_buckets: int = 16,
) -> DataFrame:
    """Cap the corpus at ``cap`` documents per stratum (domain / language /
    source) — the training-mix quota knob, deterministic like every sampler
    here: selection order is (md5-derived hash, id), so the same cap always
    keeps the same documents on any cluster, any partitioning, any rerun.

    Scale shape: a single ``row_number`` per stratum funnels the WHOLE
    stratum through one reducer (hopeless when one stratum is half of
    100 TB). Instead: phase 1 ranks within (stratum, hash-salt-bucket) and
    keeps ≤ cap per bucket — a parallel prune to ≤ prune_buckets×cap rows
    per stratum that provably retains the true global top-cap (each
    element of the global top-cap is also in its own bucket's top-cap);
    phase 2 ranks the pruned remnant per stratum exactly. Mergeable
    two-phase top-K, the same partial/final shape as the salted tile agg.

    Returns the kept rows with their ``quota_rank`` (1-based within
    stratum).
    """
    key = h32(F.concat(F.lit(f"{salt}:"), F.col(id_col)))
    d = docs.withColumn("_qk", key)
    w1 = Window.partitionBy(
        F.col(stratum_col), F.pmod(F.col("_qk"), F.lit(prune_buckets))
    ).orderBy("_qk", id_col)
    pruned = (
        d.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= cap)
        .drop("_r1")
    )
    w2 = Window.partitionBy(stratum_col).orderBy("_qk", id_col)
    return (
        pruned.withColumn("quota_rank", F.row_number().over(w2))
        .filter(F.col("quota_rank") <= cap)
        .drop("_qk")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (two-table gram overlap)
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-set decontamination against a benchmark/eval corpus: for
    every training document, how many of its word ``k``-grams appear
    ANYWHERE in the benchmark. The standard pre-release scan (the
    two-table sibling of ``dup_ngram_spans``): a gram hit means eval
    content leaked into training data.

    Plan shape: the benchmark side reduces to a DISTINCT set of md5 gram
    hashes — tiny relative to the training corpus (eval sets are MBs
    against TBs), so AQE broadcasts it and the per-gram probe is a
    broadcast semi-join with no shuffle of the training grams at all;
    with a large benchmark it degrades gracefully to a hash join keyed on
    the fixed-width hash. Counting is the usual map-side-combined
    groupBy(doc_id).

    Returns one row per training document:
    (doc_id, n_grams, n_contaminated, contamination_ratio).
    """
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_of(F.col(text_col), k)).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("gid"))
    bench_set = (
        benchmark.select(
            F.explode(shingles_of(F.col(text_col), k)).alias("gram")
        )
        .select(F.md5("gram").alias("gid"))
        .distinct()
    )
    hits = (
        grams.join(bench_set, "gid", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.greatest(
            F.size(words_of(F.col(text_col))) - F.lit(k - 1), F.lit(0)
        ).cast("long").alias("n_grams"),
    )
    n_hit = F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long")
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        n_hit.alias("n_contaminated"),
        F.when(
            F.col("n_grams") > 0, round_dp(n_hit / F.col("n_grams"), 4)
        ).otherwise(F.lit(0.0)).alias("contamination_ratio"),
    )


# ---------------------------------------------------------------------------
# PII redaction (pre-release scrubbing)
# ---------------------------------------------------------------------------

# patterns restricted to syntax RE2 (DuckDB) and java.util.regex (Spark)
# interpret identically — no backrefs, no lookaround
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"


def redact_pii(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing before a data release: count and redact emails, IPv4
    addresses, and phone-like digit runs. Pure JVM regexes (regexp_count /
    regexp_replace inside whole-stage codegen) — a narrow projection with
    no shuffle at all, so it rides the scan's partitioning at any corpus
    size. Patterns use only syntax RE2 and Java regex agree on, so the
    DuckDB oracle sees the identical language.

    Replacement order matters and is fixed (emails, then IPs, then
    phones) so a token never double-counts: the redaction placeholders
    contain no digits or '@'. Returns
    (doc_id, n_emails, n_ips, n_phones, text_redacted).
    """
    t = F.col(text_col)
    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.regexp_count(t, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(
            F.regexp_replace(t, PII_EMAIL, "<EMAIL>"), F.lit(PII_IPV4)
        ).cast("long").alias("n_ips"),
        F.regexp_count(
            F.regexp_replace(
                F.regexp_replace(t, PII_EMAIL, "<EMAIL>"),
                PII_IPV4, "<IP>",
            ),
            F.lit(PII_PHONE),
        ).cast("long").alias("n_phones"),
        red.alias("text_redacted"),
    )



def doc_repetition(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    dp: int = 6,
) -> DataFrame:
    """INTRA-document repetition score (the Gopher/MassiveText "fraction
    of duplicate n-grams" quality rule): for each document, the fraction
    of word ``k``-gram positions whose gram also occurs earlier in the
    SAME document — boilerplate, chorus-like spam, and degenerate
    keyword-stuffing score high; ``dup_ngram_spans`` is the cross-corpus
    complement.

    rep_ratio = 1 - distinct_grams / total_grams (0 for documents shorter
    than k words), floor-rounded to ``dp``.

    Plan: explode → md5 → groupBy(doc, gram-hash) → groupBy(doc) — both
    aggregations map-side combinable, shuffle carries fixed-width hashes,
    work O(total tokens). Same 100 TB shape as ``fingerprint``.
    """
    g = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_of(F.col(text_col), k)).alias("gram"),
    ).select("doc_id", F.md5("gram").alias("gid"))
    per = g.groupBy("doc_id", "gid").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    base = docs.select(F.col(id_col).alias("doc_id"))
    out = base.join(agg, "doc_id", "left")
    n = F.coalesce(F.col("n_grams"), F.lit(0)).cast("long")
    d = F.coalesce(F.col("n_distinct"), F.lit(0)).cast("long")
    ratio = F.when(
        n > 0,
        round_dp(F.lit(1.0) - d.cast("double") / n.cast("double"), dp),
    ).otherwise(F.lit(0.0))
    return out.select(
        "doc_id", n.alias("n_grams"), d.alias("n_distinct"),
        ratio.alias("rep_ratio"),
    )


def dsir_importance(
    docs: DataFrame,
    target_col: str = "is_target",
    text_col: str = "text",
    id_col: str = "doc_id",
    select_frac: float = 0.25,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every RAW-pool
    document by its unigram log importance ratio against a TARGET corpus
    (rows where ``target_col`` is true), then select the top
    ``select_frac`` of the pool — the standard recipe for skewing a
    web-scale pretraining mix toward a high-quality domain.

    Per-token weight: ln p_target(w) - ln p_raw(w) with add-1 (Laplace)
    smoothing over the JOINT vocabulary, floor-rounded to integer
    micro-nats BEFORE the per-doc sum (the repo-wide digest rule: integer
    sums are bit-exact under any partial-aggregation order; a double sum
    is not). Selection is deterministic: rank by (importance_e6 DESC,
    doc_id ASC), keep the top floor(select_frac * pool).

    Plan: one token explode feeding a map-side-combined vocab count
    (target and raw counts in the same aggregate — one pass), scalar
    totals via a broadcast one-row cross join, then each raw token joins
    its weight back (vocab is ~10^6 rows at any corpus scale, so AQE
    broadcasts it) and a groupBy(doc) sums. Selection does NOT use a
    global row_number (a single-partition window over 10^12 per-doc rows
    is the anti-pattern): the top-k cut is a two-pass threshold — a
    cumulative count over the DISTINCT-SCORE histogram (thousands of
    rows however large the corpus) picks the cutoff score, then only the
    ties AT the cutoff are ranked, in a window partitioned by score.

    Returns (doc_id, n_tokens, importance_e6, selected).
    """
    is_t = F.col(target_col).cast("boolean")
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        is_t.alias("_t"),
        F.explode(words_of(F.col(text_col))).alias("w"),
    )
    cnt = tok.groupBy("w").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("_t"), 0).otherwise(1)).alias("cr"),
    )
    totals = cnt.agg(
        F.sum("ct").alias("tt"),
        F.sum("cr").alias("tr"),
        F.count(F.lit(1)).alias("v"),
    )
    # KNOWN 1-ULP EXPOSURE (round-3 advice): JVM Math.log and DuckDB libm
    # may differ in the last ulp; if x*1e6 + 0.5 lands exactly on an
    # integer boundary the two engines can round the fix-point value apart
    # by 1. Never observed on the test corpora (all driver/oracle runs
    # green); a future single-unit mismatch on lr_e6/importance_e6 should
    # be triaged as libm skew, not operator logic.
    lr_e6 = F.floor(
        (
            F.log((F.col("ct") + 1).cast("double")
                  / (F.col("tt") + F.col("v")).cast("double"))
            - F.log((F.col("cr") + 1).cast("double")
                    / (F.col("tr") + F.col("v")).cast("double"))
        ) * 1e6 + F.lit(0.5)
    ).cast("long")
    weights = cnt.crossJoin(F.broadcast(totals)).select(
        "w", lr_e6.alias("lr_e6")
    )
    per_doc = (
        tok.filter(~F.col("_t"))
        .join(weights, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_e6").alias("importance_e6"),
        )
    )
    # two-pass top-k: histogram over distinct scores -> cutoff + #above,
    # then rank only the ties at the cutoff (window keyed on the score)
    hist = per_doc.groupBy("importance_e6").agg(
        F.count(F.lit(1)).alias("hcnt")
    )
    wcum = Window.orderBy(F.desc("importance_e6")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "importance_e6", "hcnt",
        F.sum("hcnt").over(wcum).alias("cum"),
    )
    k_df = per_doc.agg(
        F.floor(F.count(F.lit(1)) * F.lit(float(select_frac)))
        .cast("long").alias("k")
    )
    # scalar #above = cum at the score just above the cutoff bucket
    above = (
        cum.crossJoin(F.broadcast(k_df))
        .filter(F.col("cum") < F.col("k"))
        .agg(F.coalesce(F.max("cum"), F.lit(0)).alias("n_above"))
    )
    cut_score = (
        cum.crossJoin(F.broadcast(k_df))
        .filter(F.col("cum") - F.col("hcnt") < F.col("k"))
        .agg(F.min("importance_e6").alias("cut_score"))
    )
    scalars = F.broadcast(
        k_df.crossJoin(above).crossJoin(cut_score)
    )
    wtie = Window.partitionBy("importance_e6").orderBy(F.asc("doc_id"))
    return per_doc.crossJoin(scalars).select(
        "doc_id", "n_tokens", "importance_e6",
        F.coalesce(
            (F.col("importance_e6") > F.col("cut_score"))
            | (
                (F.col("importance_e6") == F.col("cut_score"))
                & (F.row_number().over(wtie)
                   <= F.col("k") - F.col("n_above"))
            ),
            F.lit(False),
        ).alias("selected"),
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """The counting step of one BPE-training iteration at corpus scale:
    frequencies of adjacent SYMBOL pairs within words (symbols = single
    characters here, i.e. iteration zero), returning the ``top_k`` merge
    candidates — the shuffle-heavy part of tokenizer training, which is
    exactly what needs to be distributed at 100 TB (the greedy merge
    loop itself operates on this tiny table driver-side).

    Plan: words explode once; each word emits its length-1 adjacent
    pairs via a JVM ``sequence``+``substring`` explode (no Python), then
    a map-side-combined groupBy on the pair. The top-k is a window over
    the (small) pair vocabulary with a deterministic (count DESC, pair
    ASC) order. Returns (pair, n_occurrences, rank).
    """
    words = docs.select(
        F.explode(words_of(F.col(text_col))).alias("word")
    ).filter(F.length("word") >= 2)
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= int(top_k))
    )


def pmi_pairs(
    docs: DataFrame,
    window: int = 5,
    min_count: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pointwise mutual information over token co-occurrence within a
    ±``window`` word distance — the word2vec-era association statistic
    (collocation mining, embedding-quality diagnostics).

    Plan: the co-occurrence pairs come from ``window`` STACKED LEADS
    inside one doc-keyed sorted window (a single WindowExec) followed by
    one explode — linear in the token stream, never the positional
    self-join (which is a band theta-join). Pair counts and the two
    marginal counts are map-side-combinable groupBys; marginals join
    back onto the (small, min_count-filtered) pair vocabulary. PMI is
    fixed-pointed to micro-nats in one documented expression shape.

    PMI = ln( (c_xy / P) / ((c_x / T) * (c_y / T)) ), with T = total
    token instances, P = total co-occurrence pairs. Pairs are canonical
    (a <= b), both orientations counted once.

    Returns (tok_a, tok_b, n_pairs, pmi_e6) for pairs with
    n_pairs >= min_count.
    """
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words_of(F.col(text_col))).alias("pos", "w"),
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    lead_cols = [
        F.lead("w", i).over(wdoc).alias(f"_l{i}")
        for i in range(1, int(window) + 1)
    ]
    pairs = (
        tok.select("w", *lead_cols)
        .select(
            "w",
            F.explode(
                F.array_compact(
                    F.array(*[F.col(f"_l{i}")
                              for i in range(1, int(window) + 1)])
                )
            ).alias("v"),
        )
        .select(
            F.least("w", "v").alias("tok_a"),
            F.greatest("w", "v").alias("tok_b"),
        )
    )
    # pc and marg are each consumed twice (count + totals / two marginal
    # joins); without a persist Spark recomputes the full token-stream
    # explode per consumer. Both are vocabulary-sized — caching them is
    # cheap and turns four corpus scans into one (LRU-evicted later).
    pc = pairs.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).alias("n_pairs")
    ).persist()
    totals = pc.agg(F.sum("n_pairs").alias("p_total"))
    marg = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c")).persist()
    big = pc.filter(F.col("n_pairs") >= int(min_count))
    t_total = marg.agg(F.sum("c").alias("t_total"))
    joined = (
        big.join(marg.select(F.col("w").alias("tok_a"),
                             F.col("c").alias("ca")), "tok_a")
        .join(marg.select(F.col("w").alias("tok_b"),
                          F.col("c").alias("cb")), "tok_b")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(t_total))
    )
    # same 1-ulp libm exposure note as dsir_importance's lr_e6: a future
    # single-unit pmi_e6 mismatch vs an oracle is libm skew, not logic
    # (the unit test already tolerates +-1 for exactly this reason)
    pmi_e6 = F.floor(
        (
            F.log(F.col("n_pairs").cast("double")
                  / F.col("p_total").cast("double"))
            - F.log(F.col("ca").cast("double")
                    / F.col("t_total").cast("double"))
            - F.log(F.col("cb").cast("double")
                    / F.col("t_total").cast("double"))
        ) * 1e6 + F.lit(0.5)
    ).cast("long")
    return joined.select("tok_a", "tok_b", "n_pairs",
                         pmi_e6.alias("pmi_e6"))


def dedup_against_index(
    new_docs: DataFrame,
    index_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dup: flag each NEW-batch document that
    near-duplicates something already in the INDEXED corpus — the shape
    a production ingestion pipeline actually runs (dedup each day's
    crawl against the accumulated index; the self-join
    ``lsh_candidate_pairs`` form is the backfill path).

    Candidates come from a band-hash equi-join of the new batch's
    signatures against the index's signatures — an asymmetric join whose
    shuffle is O(new-batch bands + matching index buckets), NOT a
    self-join over the whole corpus; at steady state the new batch is
    tiny relative to the index, so AQE broadcasts the new side and the
    index is never reshuffled. Verification is exact shingle Jaccard on
    candidates only (``jaccard_verify_pairs``), and the best match per
    new doc (jaccard DESC, index id ASC) is a window keyed on the new
    doc id. Ids must be unique across both inputs.

    Returns (doc_id, match_id, inter, sz_a, sz_b, jaccard) — one row per
    new doc whose best verified match clears ``threshold``.
    """
    sig_new = _band_hashes(
        minhash_signature(new_docs, num_hashes, shingle_k, text_col,
                          id_col),
        num_hashes, bands, id_col,
    ).select(F.col(id_col).alias("id_a"), "band", "band_hash")
    sig_idx = _band_hashes(
        minhash_signature(index_docs, num_hashes, shingle_k, text_col,
                          id_col),
        num_hashes, bands, id_col,
    ).select(F.col(id_col).alias("id_b"), "band", "band_hash")
    cand = (
        sig_new.join(sig_idx, ["band", "band_hash"])
        .select("id_a", "id_b")
        .distinct()
    )
    verified = jaccard_verify_pairs(
        cand, new_docs.unionByName(index_docs), shingle_k, text_col,
        id_col,
    ).filter(F.col("jaccard") >= float(threshold))
    w = Window.partitionBy("id_a").orderBy(
        F.desc("jaccard"), F.asc("id_b")
    )
    return (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select(
            F.col("id_a").alias("doc_id"),
            F.col("id_b").alias("match_id"),
            "inter", "sz_a", "sz_b", "jaccard",
        )
    )
