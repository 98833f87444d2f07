"""Sketch-backed query operators (point frequency, heavy hitters,
distinct, membership, quantiles) returning DataFrames.

These are the engine's analogs of the reference's query mode
(reference: main.cpp:92-133 — stream keys, annotate each with its
sketch estimate). A sketch is built with
:func:`sketchlib.aggregate.build_sketch`, and every probe goes through
:func:`probe`: the final blob is broadcast once and a Column annotates
each key with one vectorized sketch method call inside a pandas UDF —
a single stage, no shuffle on the probe side. The point-frequency
operators share one hash → build → distinct → probe routine,
:func:`point_estimates`.
"""

from __future__ import annotations

import uuid
from functools import partial
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from sketchlib.aggregate import build_sketch
from sketchlib.hashing import to_u64
from sketchlib.sketches.base import deserialize, fold_blobs
from sketchlib.sketches.cm import CMConfig, CountMin
from sketchlib.offline import build_offline


# Executor-resident cache of deserialized broadcast sketches. Python
# workers are reused across tasks (spark.python.worker.reuse default),
# so keying on a per-probe uuid means each worker process pays the
# blob->numpy deserialization once per query, not once per Arrow batch.
_SKETCH_CACHE: dict[str, object] = {}
_SKETCH_CACHE_MAX = 4
_OUT_DTYPES = {"long": np.int64, "double": np.float64, "boolean": np.bool_}


def _cached_sketch(key: str, blob: bytes):
    sk = _SKETCH_CACHE.get(key)
    if sk is None:
        sk = deserialize(blob)
        if len(_SKETCH_CACHE) >= _SKETCH_CACHE_MAX:
            _SKETCH_CACHE.pop(next(iter(_SKETCH_CACHE)))
        _SKETCH_CACHE[key] = sk
    return sk


def probe(spark: SparkSession, sketch, col: str | Column,
          method: str = "estimate", out_type: str = "long") -> Column:
    """Column of ``sketch.<method>(keys)`` over the key column ``col``
    (``long`` hashes, read as uint64). The blob is broadcast once per
    call; ``out_type`` is ``long``, ``double`` or ``boolean``."""
    b = spark.sparkContext.broadcast(sketch.to_bytes())
    cache_key = uuid.uuid4().hex
    dtype = _OUT_DTYPES[out_type]

    @F.pandas_udf(out_type)
    def run(v: pd.Series) -> pd.Series:
        sk = _cached_sketch(cache_key, b.value)
        return pd.Series(np.asarray(getattr(sk, method)(to_u64(v)))
                         .astype(dtype, copy=False))

    return run(col)


def _estimate_col(spark: SparkSession, sketch, keys: DataFrame,
                  key_hash_col: str, out_col: str = "est_count") -> DataFrame:
    """Annotate ``keys`` with sketch point estimates (broadcast probe)."""
    return keys.withColumn(out_col, probe(spark, sketch, key_hash_col))


def _hashed(df: DataFrame, key_col: str) -> DataFrame:
    """``(key, kh)``: the key and its JVM-side xxhash64."""
    return df.select(F.col(key_col).alias("key"),
                     F.xxhash64(key_col).alias("kh"))


def point_estimates(spark: SparkSession, df: DataFrame, key_col: str,
                    factory: Callable[[], object],
                    post: Callable[[object], object] | None = None,
                    method: str = "estimate", out_col: str = "est_count",
                    out_type: str = "long") -> DataFrame:
    """Distinct keys of ``df[key_col]`` annotated with a frequency
    sketch's estimate: hash the keys with xxhash64 JVM-side, build
    ``factory``'s sketch through the pre-aggregate path, apply
    ``post`` to the built sketch if given, then probe the distinct
    ``(key, kh)`` set with ``sketch.<method>``. Returns
    ``(key, out_col)``."""
    hashed = _hashed(df, key_col)
    sk = build_sketch(hashed, "kh", factory, pre_aggregate=True)
    if post is not None:
        sk = post(sk)
    return (hashed.distinct()
            .withColumn(out_col, probe(spark, sk, "kh", method, out_type))
            .select("key", out_col))


def cm_point_frequency(spark: SparkSession, df: DataFrame, key_col: str,
                       cfg: CMConfig, offline_rounds: int = 0) -> DataFrame:
    """Distinct keys of ``df[key_col]`` annotated with CM estimates.

    ``offline_rounds > 0`` uses the offline (OCM/OCCM) build. String
    keys are hashed with xxhash64 JVM-side; the distinct-key probe set
    carries the original value for readability.
    """
    if offline_rounds <= 0:
        return point_estimates(spark, df, key_col, partial(CountMin, cfg))
    hashed = _hashed(df, key_col)
    sk = build_offline(hashed, "kh", cfg, offline_rounds, pre_aggregate=True)
    return _estimate_col(spark, sk, hashed.distinct(), "kh") \
        .select("key", "est_count")


def filterhll_repeated_distinct(spark: SparkSession, df: DataFrame,
                                key_col: str, threshold: int = 2,
                                p: int = 14) -> float:
    """FilterHLL (reference include/filterhll.h): estimated number of
    distinct keys occurring at least ``threshold`` times. Through the
    pre-aggregate path the HLL receives exactly the >=threshold keys,
    so the plain HLL bound applies to the returned scalar."""
    from sketchlib.sketches.gadgets import FilterHLL

    hashed = df.select(F.xxhash64(key_col).alias("kh"))
    sk = build_sketch(hashed, "kh",
                      partial(FilterHLL, p, 20, 4, threshold),
                      pre_aggregate=True)
    return float(sk.estimate())


def heavy_hitters(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Exact top-k heavy hitters (SURVEY.md L11/L12 position): one
    hash aggregation (map-side partial combine) followed by
    ``orderBy(...).limit(k)``, which Catalyst compiles to
    **TakeOrderedAndProject** — a bounded per-partition heap + k-row
    driver merge, the Spark-native analog of the reference's
    ``ObjHashHeap`` top-k (reference include/heap.h:29-123). No full
    sort ever happens; at any scale the post-aggregation shuffle
    carries |distinct| rows and the final stage ships k rows per
    partition. Returns (key, cnt) ordered by (cnt desc, key asc),
    counts exact.

    (The CM sketch remains the tool for *point* frequency probes and
    for candidate pre-filters when even the |distinct|-row aggregate
    is infeasible; for top-k itself the exact aggregate + bounded heap
    is both faster and recall-perfect.)
    """
    return (df.groupBy(key_col).agg(F.count("*").alias("cnt"))
              .orderBy(F.col("cnt").desc(), F.col(key_col).asc())
              .limit(k))


def approx_distinct(spark: SparkSession, df: DataFrame, key_col: str,
                    p: int = 14) -> DataFrame:
    """HLL distinct-count estimate as a 1-row DataFrame."""
    from sketchlib.sketches.hll import HyperLogLog
    # HLL updates are idempotent, so dedupe JVM-side first: the Python
    # kernel then sees |distinct| rows instead of the full stream
    hashed = df.select(F.xxhash64(key_col).alias("kh")).distinct()
    hll = build_sketch(hashed, "kh", partial(HyperLogLog, p))
    est = float(hll.estimate())
    return spark.createDataFrame([(est,)], f"{key_col}_distinct_est double")


def hll_estimate(sk) -> float:
    """Module-level (picklable) HLL finalize for ``finalize_grouped``."""
    return float(sk.estimate())


def quantiles_list(qs: list[float], sk) -> list[float]:
    """Picklable grouped-quantile finalize: ``partial(quantiles_list,
    qs)`` turns a grouped KLL/t-digest blob column into per-group
    quantile arrays inside ``finalize_grouped`` (distributed)."""
    return [float(sk.quantile(float(q))) for q in qs]


def bloom_membership(spark: SparkSession, build_df: DataFrame,
                     build_col: str, probe_df: DataFrame, probe_col: str,
                     p: int = 22, nh: int = 6) -> DataFrame:
    """Probe rows annotated with Bloom membership of the build set."""
    from sketchlib.sketches.bloom import BloomFilter
    # Bloom inserts are idempotent => JVM-side dedup before the kernel
    hashed = build_df.select(F.xxhash64(build_col).alias("kh")).distinct()
    bf = build_sketch(hashed, "kh", partial(BloomFilter, p, nh))
    return probe_df.withColumn(
        "maybe_member",
        probe(spark, bf, F.xxhash64(probe_col), "contains", "boolean"))


def cm_intersect_frequency(spark: SparkSession, df_a: DataFrame,
                           df_b: DataFrame, key_col: str,
                           cfg: CMConfig) -> DataFrame:
    """Sketch-level set intersection (reference include/ccm.h:393-400):
    build one CM per input, elementwise-min them, probe the union of
    distinct keys. At collision-free width the estimate equals
    ``least(count_A(k), count_B(k))`` exactly — the strict oracle."""
    ha = _hashed(df_a, key_col)
    hb = _hashed(df_b, key_col)
    ska = build_sketch(ha, "kh", partial(CountMin, cfg), pre_aggregate=True)
    skb = build_sketch(hb, "kh", partial(CountMin, cfg), pre_aggregate=True)
    inter = ska.intersect(skb)
    keys = ha.unionByName(hb).distinct()
    return _estimate_col(spark, inter, keys, "kh").select("key", "est_count")


def cm_drift_frequency(spark: SparkSession, df_old: DataFrame,
                       df_new: DataFrame, key_col: str, cfg: CMConfig,
                       min_delta: int = 1) -> DataFrame:
    """Corpus-drift monitor: one CM per snapshot, probe the union of
    distinct keys on both, keep keys whose frequency moved by at least
    ``min_delta`` between snapshots.  At collision-free width both
    estimates are exact, so the flag set equals the SQL conditional
    count diff — the strict oracle regime; at production width the
    one-sided CM guarantee bounds each side's overestimate.  The two
    builds scan each snapshot once; the probe is a broadcast of two
    data-size-independent arrays."""
    ho = _hashed(df_old, key_col)
    hn = _hashed(df_new, key_col)
    sko = build_sketch(ho, "kh", partial(CountMin, cfg), pre_aggregate=True)
    skn = build_sketch(hn, "kh", partial(CountMin, cfg), pre_aggregate=True)
    keys = ho.unionByName(hn).distinct()
    est = _estimate_col(spark, sko, keys, "kh", out_col="cnt_old")
    est = _estimate_col(spark, skn, est, "kh", out_col="cnt_new")
    return (est.withColumn("delta", F.col("cnt_new") - F.col("cnt_old"))
            .filter(F.abs("delta") >= min_delta)
            .select("key", "cnt_old", "cnt_new", "delta"))


def bloom_xor_membership(spark: SparkSession, df_a: DataFrame, col_a: str,
                         df_b: DataFrame, col_b: str, probe_df: DataFrame,
                         probe_col: str, p: int = 26,
                         nh: int = 4, seed: int = 137) -> DataFrame:
    """Symmetric-difference membership via Bloom XOR (reference
    include/bf.h:540-549): probe rows annotated ``xor_member`` — true
    when the key's bits survive in A ^ B, i.e. the key was inserted on
    exactly one side (up to bit-collision noise; size the filter so the
    probed keys are collision-free — error decays as 2^-p)."""
    from sketchlib.sketches.bloom import BloomFilter

    fa = build_sketch(df_a.select(F.xxhash64(col_a).alias("kh")).distinct(),
                      "kh", partial(BloomFilter, p, nh, seed))
    fb = build_sketch(df_b.select(F.xxhash64(col_b).alias("kh")).distinct(),
                      "kh", partial(BloomFilter, p, nh, seed))
    return probe_df.withColumn(
        "xor_member",
        probe(spark, fa.xor(fb), F.xxhash64(probe_col), "contains",
              "boolean"))


def heavy_hitters_hk(df: DataFrame, key_col: str, k: int,
                     np_bits: int = 12, nh: int = 4, seed: int = 137,
                     cand_per_part: int | None = None) -> DataFrame:
    """One-pass bounded-memory heavy hitters via HeavyKeeper
    (reference include/hk.h; SURVEY.md L11) for the regime where even
    the |distinct|-row exact aggregate is infeasible.

    Plan shape: each partition locally pre-aggregates its keys in
    numpy, updates a HeavyKeeper partial AND emits its top-m local
    candidates — so the only shuffle is O(partitions) sketch blobs +
    O(partitions * m) candidate rows, never |distinct| rows. The merged
    sketch ranks the candidate union; the selected top-k get ONE exact
    recount pass (hash-agg over a broadcast-filtered scan). Output
    (key, cnt) with exact counts — identical to the exact top-k
    whenever HeavyKeeper's selection recall is 1.0 (property-tested on
    Zipf; strict-oracle-gated in the driver contract)."""
    from sketchlib.sketches.hk import HeavyKeeper

    m = cand_per_part or 4 * k
    hashed = _hashed(df, key_col)

    def partial_build(batches):
        frames = []
        for pdf in batches:
            if len(pdf):
                frames.append(pdf)
        if not frames:
            return
        allp = pd.concat(frames, ignore_index=True)
        counts = allp.groupby("kh", sort=False).agg(
            key=("key", "first"), cnt=("kh", "size")).reset_index()
        kh = to_u64(counts["kh"])
        w = counts["cnt"].to_numpy()
        hk = HeavyKeeper(np_bits, nh, seed)
        hk.update_weighted(kh, w)
        top = counts.nlargest(m, "cnt")
        # nullable Int64 for kh: a plain int column with a None in it
        # would silently coerce to float64 and corrupt 64-bit hashes
        out = pd.DataFrame({
            "sketch": pd.array([hk.to_bytes()] + [None] * len(top),
                               dtype=object),
            "key": pd.array([None] + list(top["key"]), dtype=object),
            "kh": pd.array([None] + list(top["kh"]), dtype="Int64"),
        })
        yield out

    parts = hashed.mapInPandas(
        partial_build, schema="sketch binary, key string, kh long")
    # not persisted: the frame returned is lazy, so a cache made here
    # could never be released; the candidate pass reruns the kernel
    blobs = parts.filter(F.col("sketch").isNotNull()).select("sketch")
    merged = fold_blobs(blobs.toPandas()["sketch"])
    if merged is None:
        merged = HeavyKeeper(np_bits, nh, seed)
    cands = (parts.filter(F.col("key").isNotNull())
             .select("key", "kh").distinct())
    ranked = _estimate_col(df.sparkSession, merged, cands, "kh",
                           out_col="hk_est")
    topk = (ranked.orderBy(F.col("hk_est").desc(), F.col("key").asc())
            .limit(k).select("key"))
    # exact recount restricted to the k selected keys (broadcast join)
    return (hashed.join(F.broadcast(topk), "key")
            .groupBy("key").agg(F.count("*").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("key").asc()))


def sketch_quantiles(spark: SparkSession, df: DataFrame, value_col: str,
                     qs: list[float], kind: str = "kll",
                     k: int = 200, delta: float = 200.0,
                     alpha: float = 0.01, max_bins: int = 4096,
                     pre_aggregate: bool = False,
                     rank_mode: bool = False) -> DataFrame:
    """Quantiles of ``df[value_col]`` via KLL, t-digest, or DDSketch,
    returned as (q, value) rows. Quantile spec (KLL): smallest inserted
    value whose weighted rank >= ceil(q * n).

    ``pre_aggregate`` (t-digest/DD only): JVM groupBy(value).count()
    first, weighted centroid/bucket inserts after — the scale path for
    columns with heavy value repetition (|distinct| kernel work
    instead of |rows|).

    ``delta=math.inf`` is the t-digest *exact regime*: no centroid ever
    merges, so ``rank_quantile`` returns the classic rank quantile and
    the operator is strict-equality oracle-checkable (same pattern as
    KLL with capacity >= n). ``rank_mode`` forces rank-style quantiles
    for t-digest regardless of delta. ``kind='dd'`` (DDSketch,
    alpha/max_bins params) guarantees relative error <= alpha at the
    same rank spec while its store stays uncollapsed."""
    import math as _math

    from sketchlib.sketches.dd import DDSketch
    from sketchlib.sketches.kll import KLL
    from sketchlib.sketches.tdigest import TDigest
    col = df.select(F.col(value_col).cast("double").alias("v"))
    if kind == "kll":
        sk = build_sketch(col, "v", partial(KLL, k), as_u64=False)
        rows = [(float(q), float(sk.quantile(q))) for q in qs]
    elif kind == "dd":
        sk = build_sketch(col, "v", partial(DDSketch, alpha, max_bins),
                          as_u64=False, pre_aggregate=pre_aggregate)
        rows = [(float(q), float(sk.quantile(q))) for q in qs]
    else:
        sk = build_sketch(col, "v", partial(TDigest, delta), as_u64=False,
                          pre_aggregate=pre_aggregate)
        rank = rank_mode or not _math.isfinite(delta)
        rows = [(float(q), float(sk.rank_quantile(q) if rank
                                 else sk.quantile(q))) for q in qs]
    return spark.createDataFrame(rows, "q double, value double")


def vac_spectrum_frequency(spark: SparkSession, df: DataFrame, key_col: str,
                           n_layers: int = 8, np_bits: int = 16,
                           nh: int = 5, seed: int = 137) -> DataFrame:
    """VAC multiplicity spectrum (reference include/vac.h:20-60):
    (key, layer, est_count) for every distinct key and layer — layer i
    sees the stream subsampled at rate 2^-i (deterministic weighted
    form: weight >> i), so at collision-free width layer i's estimate
    is exactly ``count >> i`` and the SQL oracle is strict."""
    from sketchlib.sketches.vac import VACSketch

    hashed = _hashed(df, key_col)
    sk = build_sketch(hashed, "kh",
                      partial(VACSketch, n_layers, np_bits, nh, seed),
                      pre_aggregate=True)
    blob = sk.to_bytes()
    b = spark.sparkContext.broadcast(blob)
    cache_key = uuid.uuid4().hex

    @F.pandas_udf("array<long>")
    def spectrum(v: pd.Series) -> pd.Series:
        vac = _cached_sketch(cache_key, b.value)
        spec = vac.spectrum(to_u64(v))  # (n_layers, n)
        return pd.Series(list(spec.T))

    keys = hashed.distinct()
    return (keys.withColumn("spec", spectrum(F.col("kh")))
            .select("key", F.posexplode("spec").alias("layer", "est_count")))


def swcm_trailing_frequency(spark: SparkSession, df: DataFrame,
                            key_col: str, order_cols: list[str],
                            window: int, np_bits: int = 16, nh: int = 5,
                            seed: int = 137) -> DataFrame:
    """Sliding-window CM (reference include/ccm.h:840-869): frequency
    of every distinct key within the trailing ``window`` items of the
    stream ordered by ``order_cols``.

    The window is defined by ARRIVAL ORDER, so this is inherently a
    single-stream gadget (the reference defines no merge); the kernel
    consumes one sorted partition via Arrow-batched mapInPandas —
    rows stream through an executor in order, nothing is collected to
    the driver. The distributed analogs for cluster-scale windowing
    are the event-time windowed sinks in sketchlib/streaming.py. At
    collision-free width the deletion-exact ring buffer makes the
    estimate exactly the trailing-window count => strict oracle."""
    from sketchlib.sketches.swcm import SlidingWindowCM

    hashed = df.select(F.col(key_col).alias("key"),
                       F.xxhash64(key_col).alias("kh"),
                       *[F.col(c) for c in order_cols])
    stream = (hashed.select("kh", *order_cols)
              .repartition(1).sortWithinPartitions(*order_cols))

    def run(batches):
        sk = SlidingWindowCM(window, np_bits, nh, seed)
        seen: set[int] = set()
        for b in batches:
            vals = to_u64(b["kh"])
            sk.update(vals)
            seen.update(np.unique(vals).tolist())
        arr = np.array(sorted(seen), dtype=np.uint64)
        est = sk.estimate(arr)
        yield pd.DataFrame({"kh": arr.view(np.int64),
                            "est_count": est.astype(np.int64)})

    out = stream.mapInPandas(run, "kh long, est_count long")
    keys = hashed.select("key", "kh").distinct()
    return keys.join(out, "kh").select("key", "est_count")
