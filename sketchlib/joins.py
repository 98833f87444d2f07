"""Sketch-accelerated joins: the library's sketches applied to the
two join problems a 100 TB engine actually has.

1. **Join-size estimation** (:func:`join_size_estimate`): inner-join
   cardinality |A ⋈ B| = <f_A, f_B> without running the join — two
   independent count-sketch builds (one scan each, blob-sized merge
   traffic) and a driver-side cellwise dot (AMS STOC'96 / AGMS
   SIGMOD'02). This is what a cost-based planner needs *before*
   choosing a join strategy; at collision-free width the estimate is
   exact and strictly oracle-gated (``join_size_countsketch``).

2. **Bloom-prefiltered semi-join** (:func:`bloom_semi_join`): when the
   build side is too large for a broadcast *hash* join (10^9 keys of
   row payload) but its BLOOM FILTER still fits in one broadcast blob
   (~1.2 bits/key at 1% fp for w=2^p), probing the fact side against
   the broadcast filter BEFORE the shuffle cuts the exchanged volume
   to matches + the fp rate. A final exact semi-join removes the
   false positives, so the result equals the plain semi-join row for
   row (no false negatives by Bloom construction) — strict oracle.
   This is the sketch-library form of the runtime row-level filtering
   that engines inject into shuffle joins. Its dual,
   :func:`bloom_anti_join`, shares the same pre-filter.

Both compose existing pieces: ``build_sketch`` partial+merge
aggregation, the broadcast ``probe`` from ``sketchlib.queries``, and
JVM-side xxhash64 so both relations hash the shared key domain
identically.
"""

from __future__ import annotations

from functools import partial

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib.aggregate import build_sketch
from sketchlib.queries import probe

__all__ = ["join_size_estimate", "bloom_semi_join", "bloom_anti_join",
           "asof_join", "range_join", "skew_split_join", "hot_keys"]


def join_size_estimate(df_a: DataFrame, col_a: str,
                       df_b: DataFrame, col_b: str,
                       np_bits: int = 22, nh: int = 7,
                       seed: int = 137,
                       four_wise: bool = True,
                       kernel_partitions: int = 1) -> float:
    """Estimate |df_a ⋈ df_b on col_a = col_b| from two count-sketches.

    Each side is one pre-aggregated build (JVM groupBy(key).count()
    feeds the weighted kernel, so Python input is |distinct| not
    |rows|); the estimate is the row-median cellwise dot. Exact when
    no two distinct keys of the union collide in any row — the regime
    the driver query poses; otherwise the AMS bound
    |est − true| ≤ O(‖f_A‖₂‖f_B‖₂/√w) applies per row.

    ``kernel_partitions`` follows the blob-vs-kernel economics of the
    offline builds: the weighted-update kernel is microseconds per
    distinct key while every extra task ships a full nh·2^np_bits·8 B
    core (235 MB at the defaults), so ONE task is right until the key
    table reaches ~5·10^5 weighted rows per task — raise it toward
    the core count only for genuinely huge key spaces."""
    if four_wise:
        from sketchlib.sketches.cs4w import CountSketch4W as _CS
        factory = partial(_CS, np_bits, nh, seed)
    else:
        from sketchlib.sketches.countsketch import CountSketch as _CS
        factory = partial(_CS, np_bits, nh, seed)
    sk_a = build_sketch(df_a.select(F.xxhash64(col_a).alias("kh")), "kh",
                        factory, pre_aggregate=True,
                        kernel_partitions=kernel_partitions)
    sk_b = build_sketch(df_b.select(F.xxhash64(col_b).alias("kh")), "kh",
                        factory, pre_aggregate=True,
                        kernel_partitions=kernel_partitions)
    return sk_a.inner_product(sk_b)


def asof_join(left: DataFrame, right: DataFrame, on: str,
              left_ts: str = "ts", right_ts: str = "ts",
              right_cols: list[str] | None = None,
              direction: str = "backward",
              matched_ts: str = "asof_ts") -> DataFrame:
    """Event-time as-of join: each left row picks the nearest right row
    of the same key at-or-before (``backward``) / at-or-after
    (``forward``) its timestamp — the operator Spark's DataFrame API
    lacks (pandas ``merge_asof`` semantics, inclusive).

    Physical plan: tag both sides, union, ONE hash exchange on the key,
    and a per-key running ``last(right_payload, ignorenulls=True)`` over
    the (ts, side) sort — right rows sort before left rows at equal ts,
    so the match is inclusive. No range cross-product, no per-key
    collect: cost is one shuffle + one per-partition sort regardless of
    how many right rows precede each left row. Output is the left rows
    plus ``matched_ts`` (NULL when no right row qualifies) and the
    requested ``right_cols``.

    Ties: among right rows sharing (key, ts) the survivor is the last
    in partition sort order — unspecified, exactly as SQL ASOF JOIN
    leaves it; aggregate tie-insensitively (e.g. on the matched ts)
    when ties are possible. A single pathological key funnels into one
    task (the running last needs total per-key time order); salting
    cannot help here — range-partition such keys upstream if one key
    exceeds a task's memory."""
    from pyspark.sql import Window

    if direction not in ("backward", "forward"):
        raise ValueError(direction)
    right_cols = list(right_cols or [])
    payload = F.struct(
        F.col(right_ts).alias(matched_ts),
        *[F.col(c) for c in right_cols])
    r = right.select(F.col(on).alias("__asof_k"),
                     F.col(right_ts).alias("__asof_t"),
                     F.lit(0).alias("__asof_side"),
                     payload.alias("__asof_r"))
    l = (left.withColumn("__asof_k", F.col(on))
             .withColumn("__asof_t", F.col(left_ts))
             .withColumn("__asof_side", F.lit(1)))
    u = l.unionByName(r, allowMissingColumns=True)
    order = [F.col("__asof_t").asc(), F.col("__asof_side").asc()] \
        if direction == "backward" \
        else [F.col("__asof_t").desc(), F.col("__asof_side").asc()]
    w = (Window.partitionBy("__asof_k").orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, 0))
    matched = (u.withColumn("__asof_m",
                            F.last("__asof_r", ignorenulls=True).over(w))
               .filter(F.col("__asof_side") == 1))
    out_cols = [F.col(c) for c in left.columns]
    out_cols.append(F.col(f"__asof_m.{matched_ts}").alias(matched_ts))
    out_cols += [F.col(f"__asof_m.{c}").alias(c) for c in right_cols]
    return matched.select(*out_cols)


def range_join(points: DataFrame, point_col: str,
               intervals: DataFrame, start_col: str, end_col: str,
               bucket_width: int,
               keys: list[str] | None = None) -> DataFrame:
    """Point-in-interval join: rows of ``points`` matched to rows of
    ``intervals`` where ``start_col <= point_col < end_col`` (plus
    optional equi-``keys``), as a BUCKETED EQUI-JOIN instead of the
    O(|P|·|I|) BroadcastNestedLoopJoin Catalyst plans for a bare
    inequality join.

    Physical plan: each interval explodes into the ``len/w + 1``
    buckets it overlaps (``sequence(floor(s/w), floor((e-1)/w))``,
    end-exclusive), each point hashes to ``floor(p/w)``; a shuffled
    hash join on (bucket [, keys]) then a residual range filter keep
    exactly the qualifying pairs — each pair produced once, because a
    point's single bucket meets a given interval at most once.
    Columns must be integral (cast timestamps to epoch days/seconds
    first). Pick ``bucket_width`` near the typical interval length:
    replication is interval_len/w per interval while bucket fan-in
    grows with w, so w ~ len balances both at any data size."""
    assert bucket_width >= 1
    keys = list(keys or [])
    w = F.lit(int(bucket_width))
    iv = intervals.withColumn(
        "__rj_b",
        F.explode(F.sequence(F.floor(F.col(start_col) / w),
                             F.floor((F.col(end_col) - 1) / w))))
    pt = points.withColumn("__rj_b", F.floor(F.col(point_col) / w))
    cond = [pt["__rj_b"] == iv["__rj_b"]]
    cond += [pt[k] == iv[k] for k in keys]
    joined = (pt.join(iv, cond)
              .filter((pt[point_col] >= iv[start_col])
                      & (pt[point_col] < iv[end_col])))
    out = [pt[c] for c in points.columns]
    out += [iv[c] for c in intervals.columns if c not in keys]
    return joined.select(*out)


def bloom_semi_join(spark: SparkSession, fact: DataFrame, fact_key: str,
                    dim: DataFrame, dim_key: str,
                    p: int = 24, nh: int = 4,
                    seed: int = 137) -> DataFrame:
    """``fact LEFT SEMI JOIN dim`` with a broadcast-Bloom pre-filter.

    Stage 1 builds one Bloom blob over the dim keys (partial OR-merge,
    2^p bits regardless of |dim|); stage 2 probes the fact side
    against the broadcast blob in an Arrow-batched UDF, discarding
    non-members BEFORE any exchange; stage 3 is the exact semi-join on
    the survivors, which removes Bloom false positives. Result is
    row-identical to the plain semi-join (Bloom never drops a true
    member); the shuffle sees matches + fp·non-matches instead of the
    whole fact table."""
    maybe_member, dim_keys = _bloom_prefilter(spark, fact_key, dim, dim_key,
                                              p, nh, seed)
    return fact.filter(maybe_member).join(dim_keys, on=fact_key,
                                          how="leftsemi")


def _bloom_prefilter(spark: SparkSession, fact_key: str, dim: DataFrame,
                     dim_key: str, p: int, nh: int, seed: int
                     ) -> tuple[Column, DataFrame]:
    """The Bloom pre-filter both Bloom joins share: a boolean probe of
    ``xxhash64(fact_key)`` against one broadcast Bloom blob built over
    ``xxhash64(dim_key)`` (false means definitely not in ``dim``), and
    the distinct dim keys renamed to ``fact_key`` for the exact join
    that removes the false positives."""
    from sketchlib.sketches.bloom import BloomFilter

    bf = build_sketch(dim.select(F.xxhash64(dim_key).alias("kh")), "kh",
                      partial(BloomFilter, p, nh, seed))
    return (probe(spark, bf, F.xxhash64(fact_key), "contains", "boolean"),
            dim.select(F.col(dim_key).alias(fact_key)).distinct())


def hot_keys(df: DataFrame, key_col: str, top_k: int = 32,
             summary_k: int = 4096,
             min_count: int | None = None) -> list[tuple[int, int]]:
    """One-pass hot-key detection: the Misra-Gries mergeable summary
    (sketchlib/sketches/mg.py) built over ``df[key_col]`` hashed to
    int64, returning the ``top_k`` (key, count_lower_bound) pairs.

    Why a sketch and not ``groupBy(key).count().orderBy(...)``: at
    10^12 rows the exact count is itself a shuffle keyed by the skewed
    column — the hottest key's partial counts still combine map-side,
    so the exact path *works*, but it materializes |distinct| rows
    and a full exchange just to learn the top handful. The MG build is
    one pre-aggregated pass whose Python input is |distinct| weighted
    rows and whose merge state is ``summary_k`` counters, with the
    PODS'12 guarantee ``true - n/(summary_k+1) <= est <= true`` over
    arbitrary merge trees — any key with frequency share above
    ``1/(summary_k+1)`` is guaranteed present.

    Integral keys ride the summary directly; any other type (string
    conv_id — the north rule's skewed key) is detected in xxhash64
    space and the handful of hot hashes are resolved back to values
    with one narrow pushed-down filter scan (no shuffle beyond a
    |hot|-row distinct). Counts are the MG lower bounds; ordering by
    them finds every key whose true share exceeds
    ``top_k/(summary_k+1)``-ish mass — exactly the broadcast-worthy
    regime."""
    from sketchlib.sketches.mg import MisraGries

    integral = dict(df.dtypes)[key_col] in (
        "tinyint", "smallint", "int", "bigint")
    # NULL keys would surface as a NaN group in the pre-aggregate and
    # reach the numpy kernel as undefined uint64 garbage; a NULL key
    # can't be a join hot key anyway (NULL never equi-matches), so
    # excluding it here is both safe and required for determinism.
    nn = df.filter(F.col(key_col).isNotNull())
    src = (nn.select(F.col(key_col).cast("long").alias("kh")) if integral
           else nn.select(F.xxhash64(key_col).alias("kh")))
    mg = build_sketch(src, "kh", partial(MisraGries, summary_k),
                      pre_aggregate=True)
    # items() is already (count desc, value asc) — slice, don't re-sort
    # (an unstable argsort would scramble the tie-break at the cut)
    vals, counts = mg.items()
    vals = vals.view(np.int64)
    pairs = [(int(v), int(c))
             for v, c in zip(vals[:top_k], counts[:top_k])]
    if min_count is not None:
        pairs = [(v, c) for v, c in pairs if c >= min_count]
    if not integral and pairs:
        cmap = dict(pairs)
        rows = (df.filter(F.xxhash64(key_col).isin(list(cmap)))
                .select(F.col(key_col).alias("k"),
                        F.xxhash64(key_col).alias("kh"))
                .distinct().collect())
        pairs = sorted(((r["k"], cmap[r["kh"]]) for r in rows),
                       key=lambda t: (-t[1], str(t[0])))[:top_k]
    return pairs


def skew_split_join(fact: DataFrame, dim: DataFrame,
                    fact_key: str, dim_key: str | None = None,
                    top_k: int = 32, summary_k: int = 4096,
                    how: str = "inner",
                    hot: list[int] | None = None) -> DataFrame:
    """Skew-resistant equi-join: split the key space into sketch-
    detected hot keys (broadcast hash join — the skewed mass never
    shuffles) and the cold remainder (ordinary shuffle join), then
    union. The north rule's hot-conversation problem applied to joins:
    one conv_id holding 1% of 10^12 rows sends 10^10 rows through a
    single reducer in a plain shuffle join; here those rows stay where
    they are and the dim rows come to them.

    Correctness does NOT depend on the sketch: any ``hot`` set is a
    pure partition of the key space, so hot-side ∪ cold-side results
    are row-identical to ``fact.join(dim, ...)`` — the MG summary only
    steers the physical plan (the same contract as AQE's skew-join
    mitigation, but available to any engine version, deterministic,
    and driven by the library's own mergeable summary). The driver
    query is strict-gated against the plain-join SQL oracle.

    ``how`` supports ``inner`` and ``leftsemi`` — the shapes where a
    null/absent fact key contributes no output row, which is what
    makes the two-way filter split exact.

    ``hot`` overrides detection (e.g. reuse one summary across many
    joins in a session)."""
    if how not in ("inner", "leftsemi"):
        raise ValueError("skew_split_join supports inner/leftsemi only")
    dim_key = dim_key or fact_key
    if hot is None:
        hot = [v for v, _ in hot_keys(fact, fact_key,
                                      top_k=top_k, summary_k=summary_k)]
    if not hot:
        # same output schema as the split path: one key column when
        # the names match (expression join would keep two copies)
        if dim_key == fact_key:
            return fact.join(dim, on=fact_key, how=how)
        return fact.join(dim, fact[fact_key] == dim[dim_key], how)

    is_hot = F.col(fact_key).isin(hot)   # works for any key type
    fact_hot = fact.filter(is_hot)
    fact_cold = fact.filter(~is_hot)  # null keys drop: no-op for inner/semi
    dim_is_hot = F.col(dim_key).isin(hot)
    dim_hot = dim.filter(dim_is_hot)
    dim_cold = dim.filter(~dim_is_hot)

    if dim_key == fact_key:
        # name-based join: the shared key column appears once
        joined_hot = fact_hot.join(F.broadcast(dim_hot), on=fact_key, how=how)
        joined_cold = fact_cold.join(dim_cold, on=fact_key, how=how)
    else:
        joined_hot = fact_hot.join(F.broadcast(dim_hot),
                                   fact_hot[fact_key] == dim_hot[dim_key],
                                   how)
        joined_cold = fact_cold.join(dim_cold,
                                     fact_cold[fact_key] == dim_cold[dim_key],
                                     how)
    return joined_hot.unionByName(joined_cold)


def bloom_anti_join(spark: SparkSession, fact: DataFrame, fact_key: str,
                    dim: DataFrame, dim_key: str,
                    p: int = 24, nh: int = 4,
                    seed: int = 137) -> DataFrame:
    """``fact LEFT ANTI JOIN dim`` (orphan detection: fact rows whose
    key has no dim match) with a broadcast-Bloom short-circuit.

    The Bloom dual that makes anti-join cheap: a Bloom NO is definite
    (no false negatives), so every fact row the filter rejects is a
    GUARANTEED orphan and bypasses the join entirely — zero shuffle
    for the bulk of a mostly-orphan stream. Only the "maybe member"
    rows (true matches + fp·orphans) take the exact anti-join, which
    removes the false-positive maybes. Output is row-identical to the
    plain anti-join; exchanged volume drops from |fact| to
    matches + fp·orphans.

    NULL fact keys: xxhash64(NULL) probes as a constant; plain
    LEFT ANTI keeps null-keyed rows (null never equals a dim key), and
    both paths here preserve that — the definite-orphan branch keeps
    the row unless the constant happens to hit the filter, in which
    case the exact anti-join keeps it."""
    maybe_member, dim_keys = _bloom_prefilter(spark, fact_key, dim, dim_key,
                                              p, nh, seed)
    flagged = fact.withColumn("__maybe", maybe_member)
    definite = flagged.filter(~F.col("__maybe")).drop("__maybe")
    maybes = (flagged.filter(F.col("__maybe")).drop("__maybe")
              .join(dim_keys, on=fact_key, how="left_anti"))
    return definite.unionByName(maybes)
