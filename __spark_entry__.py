"""Driver contract: ``queries()`` maps a name to a ``(spark, sf_dir) ->
DataFrame`` callable, ``oracle_sql()`` maps the same names to DuckDB
SQL that computes the same rows, and ``entry()`` is the flagship run.

A query is declared in one of two ways:

- a ``def q_<name>(spark, sf_dir)`` function plus its ``oracle_sql()``
  entry under ``<name>``; or
- one row of a family table (``_POINT_FREQ``, ``_CODEC_STATS``,
  ``_LANG_PAIRWISE``, ``_GROUPING_SETS``, ``_FACT_JOINS``), which gives
  the query and its oracle together.

``queries()`` collects both, so no name list is kept by hand. Sketch
queries run in their exact regimes (collision-free CM width,
no-compaction KLL), so the oracle comparison is a strict equality
gate; the approximate regimes are property-tested in tests/ (error
bounds, merge algebra).
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial
from operator import methodcaller

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketchlib.aggregate import (build_grouped_sketches,
                                 build_grouped_sketches_multi, build_sketch,
                                 build_sketches, cube_grouped_sketches,
                                 finalize_grouped, pairwise_grouped,
                                 rollup_grouped_sketches)
from sketchlib.sketches.cbf import CountingBloom
from sketchlib.sketches.cm import CMConfig, CountMin
from sketchlib.sketches.cml import CountMinLog
from sketchlib.sketches.countsketch import CountSketch
from sketchlib.sketches.cs4w import CountSketch4W
from sketchlib.sketches.hll import HyperLogLog
from sketchlib.sketches.mh import MinHashBottomK
from sketchlib.sketches.packedcm import CountMinPacked
from sketchlib.sketches.pcbf import PCBF
from sketchlib.sketches.wmh import CountingMinHash
from sketchlib import queries as Q
from sketchlib import dedup as D
from sketchlib import textstats as TS
from sketchlib import ann as A
from sketchlib import graph as G
from sketchlib import joins as J
from sketchlib import decontam as DC
from sketchlib import multimodal as M
from sketchlib import spans as SP


_SHIPPED: set[int] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Defensive: make sketchlib importable on executor Python workers
    even if the harness built its own bare SparkSession from another
    working directory (local-mode workers usually inherit the driver's
    sys.path, but addPyFile makes it unconditional)."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    try:
        from sketchlib.session import _ship_package
        _ship_package(spark)
    except Exception:
        pass
    _SHIPPED.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _nrows(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet FOOTER metadata — replaces
    the per-query ``df.count()`` capacity probes the strict quantile
    gates used (one avoidable full-scan job each). Zero Spark jobs."""
    from sketchlib.storage import parquet_num_rows
    return parquet_num_rows(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# helpers shared by Spark query and oracle definitions
# --------------------------------------------------------------------------

def _dup_corpus(docs: DataFrame) -> DataFrame:
    """documents plus a re-keyed copy of every 10th doc — deterministic
    duplicates for the dedup operators (both engines build the same)."""
    copies = (docs.filter(F.col("doc_id") % 10 == 0)
              .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    return docs.unionByName(copies)


_DUP_SQL = ("(SELECT doc_id, text FROM documents "
            "UNION ALL "
            "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
            "WHERE doc_id % 10 = 0)")


def _cluster_corpus(docs: DataFrame) -> DataFrame:
    """documents plus TWO re-keyed copies (every 10th at +1M, every
    20th at +2M): every %20 doc seeds a 3-node duplicate CLUSTER, so
    the cluster query exercises transitive closure, not just pairing."""
    c1 = (docs.filter(F.col("doc_id") % 10 == 0)
          .withColumn("doc_id", F.col("doc_id") + 1_000_000))
    c2 = (docs.filter(F.col("doc_id") % 20 == 0)
          .withColumn("doc_id", F.col("doc_id") + 2_000_000))
    return docs.unionByName(c1).unionByName(c2)


_CLUSTER_SQL = ("(SELECT doc_id, text FROM documents "
                "UNION ALL "
                "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
                "WHERE doc_id % 10 = 0 "
                "UNION ALL "
                "SELECT doc_id + 2000000 AS doc_id, text FROM documents "
                "WHERE doc_id % 20 = 0)")

_TOKENS_SQL = ("(SELECT doc_id, t AS token FROM (SELECT doc_id, "
               "unnest(string_split_regex(lower(text), '\\s+')) AS t "
               "FROM documents) WHERE t <> '')")

_QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]

_CM = CMConfig(np_bits=16, nh=5, seed=137, conservative=False)
_CCM = CMConfig(np_bits=16, nh=5, seed=137, conservative=True)
_CMM = CMConfig(np_bits=18, nh=5, seed=137, conservative=False)
_CBF = partial(CountingBloom, 18, 4, 24, 137)


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_heavy_hitter_tokens(spark, sf_dir):
    """L11/L12: two-pass heavy hitters with exact recount."""
    docs = _t(spark, sf_dir, "documents")
    toks = D.normalized_tokens(docs)
    return Q.heavy_hitters(toks, "token", 20)


# 6-sigma acceptance band for HLL at p=14 (rel. std err 1.03896/sqrt(m),
# reference include/hll.h:739). The estimate is deterministic given the
# data and seeds, so `within_bound` is a hard gate, not a flaky one:
# if the estimator drifts out of 6 sigma the oracle comparison fails.
_HLL_P = 14
_HLL_BOUND = 6 * 1.03896 / ((1 << _HLL_P) ** 0.5)


def q_hll_distinct_tokens(spark, sf_dir):
    """L1: HLL distinct estimate, strict-gated: emits the exact count
    (SQL-reproducible) plus a 6-sigma ``within_bound`` flag computed
    from the real HLL estimate; the oracle asserts the flag is true."""
    docs = _t(spark, sf_dir, "documents")
    toks = D.normalized_tokens(docs)
    est = Q.approx_distinct(spark, toks, "token", p=_HLL_P).collect()[0][0]
    exact = toks.select(F.countDistinct("token")).collect()[0][0]
    ok = abs(est - exact) <= _HLL_BOUND * exact
    return spark.createDataFrame([(int(exact), bool(ok))],
                                 "n_distinct long, within_bound boolean")


def q_hll_distinct_per_lang(spark, sf_dir):
    """grouped + salted sketch aggregation through the driver contract:
    one HLL per language via the two-stage (key, salt) hot-key path,
    finalized DISTRIBUTED (mapInPandas over the grouped blobs — results
    never funnel through the driver, so the same plan holds at 10^5
    groups). Strict gate: exact per-group count + 6-sigma bound flag."""
    docs = _t(spark, sf_dir, "documents")
    toks = D.normalized_tokens(docs.select("doc_id", "lang", "text"))
    with_lang = (toks.join(docs.select("doc_id", "lang"), "doc_id")
                 .select("lang", "token", F.xxhash64("token").alias("kh")))
    grouped = build_grouped_sketches(with_lang, ["lang"], "kh",
                                     partial(HyperLogLog, _HLL_P),
                                     salt_buckets=8, pre_distinct=True)
    est = finalize_grouped(grouped, Q.hll_estimate, "n_est", "double")
    exact = (with_lang.groupBy("lang")
             .agg(F.countDistinct("token").alias("n_distinct")))
    return (est.join(exact, "lang")
            .select("lang", "n_distinct",
                    (F.abs(F.col("n_est") - F.col("n_distinct"))
                     <= F.lit(_HLL_BOUND) * F.col("n_distinct"))
                    .alias("within_bound"))
            .orderBy("lang"))


def q_heavy_hitter_events_hk(spark, sf_dir):
    """L11 HeavyKeeper proper: one-pass bounded-memory top-k — per
    partition HK partials + local candidates, merged sketch ranks, one
    exact recount of the k selected keys. Strict gate: output equals
    the exact top-20 whenever HK's selection recall is 1.0. Posed over
    ``floor(sqrt(event_id))`` — a skewed, tie-free count distribution
    (key k occurs 2k+1 times) where top-k selection is well-defined;
    the documents vocabulary (31 near-uniform tokens) has no
    heavy-hitter structure to find. Zipf stress recall lives in
    tests/test_heavykeeper.py."""
    ev = _t(spark, sf_dir, "events")
    keyed = ev.select(F.floor(F.sqrt("event_id")).cast("long")
                      .cast("string").alias("hkey"))
    return Q.heavy_hitters_hk(keyed, "hkey", 20, np_bits=12, nh=4)


def q_filterhll_repeated_shingles(spark, sf_dir):
    """L25 FilterHLL (BF-gated HLL): distinct 3-gram shingles present
    in >= 2 documents; (exact, within_bound) gate like the other HLL
    queries."""
    docs = _t(spark, sf_dir, "documents")
    # one shingle scan feeds both the sketch build and the exact gate
    sh = D.shingles(docs).cache()  # distinct (doc_id, shingle)
    est = Q.filterhll_repeated_distinct(spark, sh, "shingle", threshold=2)
    exact = (sh.groupBy("shingle").agg(F.count("*").alias("n"))
             .filter(F.col("n") >= 2).count())
    sh.unpersist()
    ok = abs(est - exact) <= _HLL_BOUND * max(exact, 1)
    return spark.createDataFrame([(int(exact), bool(ok))],
                                 "n_repeated long, within_bound boolean")


def q_cm_intersect_user_freq(spark, sf_dir):
    """CM elementwise-min intersection (ccm.h:393-400 analog): events
    split into even/odd halves, one CM each, intersected; at
    collision-free width the probe equals least(cnt_even, cnt_odd)."""
    ev = _t(spark, sf_dir, "events")
    cfg = CMConfig(np_bits=16, nh=5, seed=137, conservative=False)
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    return (Q.cm_intersect_frequency(spark, a, b, "user_id", cfg)
            .orderBy("key"))


# -- executor-side pair comparators for pairwise_grouped (picklable,
# module-level; each takes (sketch_a, sketch_b) with key_a < key_b and
# returns a tuple matching the query's output schema) --

def _cmp_wjaccard(a, b):
    import math
    return (math.floor(a.weighted_jaccard(b) * 1e6) / 1e6,)


def _cmp_ks(a, b):
    import math
    return (math.floor(a.ks_distance(b) * 1e6) / 1e6,)


def _cmp_hll_setops(a, b):
    return (float(a.union_size(b)), float(a.intersection_size(b)))


def _cmp_mh_jaccard(a, b):
    import math
    return (math.floor(a.jaccard(b) * 1e6) / 1e6,)


def _cmp_mh_setdiff(a, b):
    return (int(round(a.union_cardinality(b))),
            int(round(a.intersection_cardinality(b))),
            int(round(a.difference_cardinality(b))),
            int(round(b.difference_cardinality(a))))


def _cmp_jaccard(a, b):
    return (float(a.jaccard(b)),)


def _cws_deser(raw):
    import numpy as np
    return np.frombuffer(raw, dtype=np.int64).reshape(-1, 2)


def _cmp_cws(a, b):
    from sketchlib.sketches.cws import CWSSignature
    return (float(CWSSignature.similarity(a, b)),)


def _mg_pairs(sk):
    """Finalizer: (hash, count) pairs in the summary's deterministic
    (count desc, value asc) order, hashes as signed i64 to match
    Spark's xxhash64 bigint."""
    import numpy as np

    v, c = sk.items()
    return [[int(x), int(y)] for x, y in zip(v.view(np.int64), c)]


def q_mg_top_tokens_per_lang(spark, sf_dir):
    """Per-language top-5 tokens through a grouped Misra-Gries
    mergeable summary (Agarwal et al. "Mergeable Summaries" — the
    deterministic sibling of the reference's HeavyKeeper, include/hk.h)
    with distributed finalize.  Exact regime (k >= per-language
    distinct => no trim ever fires => every count exact) gives the
    strict window-rank oracle with (count desc, token) tie-break."""
    from pyspark.sql import Window

    from sketchlib.sketches.mg import MisraGries

    wl = _lang_tokens(spark, sf_dir)
    grouped = build_grouped_sketches(wl, ["lang"], "kh",
                                     partial(MisraGries, 1 << 17),
                                     salt_buckets=8, pre_aggregate=True)
    pairs = finalize_grouped(grouped, _mg_pairs, "pairs",
                             "array<array<bigint>>")
    flat = (pairs.select("lang", F.explode("pairs").alias("p"))
            .select("lang", F.element_at("p", 1).alias("kh"),
                    F.element_at("p", 2).alias("cnt")))
    tokmap = wl.select("kh", "token").distinct()
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    return (flat.join(tokmap, "kh")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("lang", "token", F.col("cnt").cast("long").alias("cnt"),
                    "rk")
            .orderBy("lang", "rk"))


def q_cm_drift_user_freq(spark, sf_dir):
    """Corpus-drift monitor on CM snapshots (ccm.h point estimates, one
    sketch per snapshot): per-user event counts in the first vs second
    half of the month, keeping users whose count moved by >= 3.  At
    collision-free width both probes are exact => strict conditional-
    count oracle."""
    ev = _t(spark, sf_dir, "events")
    cfg = CMConfig(np_bits=16, nh=5, seed=137, conservative=False)
    early = ev.filter(F.dayofmonth("ts") <= 15)
    late = ev.filter(F.dayofmonth("ts") > 15)
    return (Q.cm_drift_frequency(spark, early, late, "user_id", cfg,
                                 min_delta=3)
            .orderBy("key"))


def q_kll_ks_drift_langs(spark, sf_dir):
    """Distribution-drift monitor: two-sample Kolmogorov-Smirnov
    statistic between the doc-length distribution of lang 'en' and
    every other language, computed from per-language KLL sketches built
    through the salted grouped path.  Exact regime (capacity >= group
    size => empirical CDFs are exact), so the SQL grouped-cumsum KS is
    the strict oracle.  Distributed pairwise compare restricted to
    pairs touching the baseline group ('en') via pair_filter — the
    pair set is pruned BEFORE any blob moves (KS is symmetric, so
    either orientation of the pair gives the same statistic)."""
    from sketchlib.sketches.kll import KLL

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select("lang", F.length("text").cast("double").alias("v"))
    grouped = build_grouped_sketches(vals, ["lang"], "v",
                                     partial(KLL, 1 << 15), as_u64=False,
                                     salt_buckets=4)
    pf = (F.col("key_a") == "en") | (F.col("key_b") == "en")
    pw = pairwise_grouped(grouped, _cmp_ks, "ks double", key_col="lang",
                          pair_filter=pf, n_groups_hint=8)
    return (pw.select(F.when(F.col("key_a") == "en", F.col("key_b"))
                      .otherwise(F.col("key_a")).alias("lang"), "ks")
            .orderBy("lang"))


def q_psi_value_drift(spark, sf_dir):
    """Quantile-bucket drift table (the PSI decomposition): decile
    edges from the early-half KLL over events.value, per-bucket item
    counts for the early vs late month halves.  Exact regime (no
    compaction) => integer bucket counts with a strict SQL oracle that
    reproduces the edge rule bit-for-bit (same IEEE ``ceil((i/10.0)*n)``
    order-statistic index); the PSI scalar itself (KLL.psi) is
    ln-based and pytest-gated instead.

    ONE scan of events (round-4 plan fix; was two ``build_sketch``
    calls over separate early/late filters): the half flag is the
    grouping key of a single grouped build, so both KLLs come back as
    two blobs from one pass.  Driver work is just deserializing two
    blobs — the same bounded fan-in every build path has.  KLL merge
    in the exact regime concatenates buffers and quantile/bucket_counts
    sort, so the result is bit-identical to the two-scan plan."""
    from sketchlib.sketches.kll import KLL
    from sketchlib.sketches.base import deserialize

    ev = _t(spark, sf_dir, "events")
    # capacity >= n BY CONSTRUCTION (same rule as kll_quantiles_price):
    # keeps the strict gate in the exact regime at every tested sf —
    # sf1 (1M events) compacted at the old fixed 2^17 and drifted by
    # ~2 counts per 50k (round-4 sf1 sweep); the compacting regime
    # stays property-tested in tests/. n comes from the parquet footer
    # (zero jobs), not a count() scan.
    k = max(1 << 17, _nrows(sf_dir, "events") + 1)
    # NULL ts must be excluded BEFORE grouping: the oracle's early/late
    # CASE buckets count NULL-ts rows in neither half, and a NULL group
    # key here would map via bool(None) -> False into the late blob
    vals = (ev.filter(F.col("ts").isNotNull())
            .select((F.dayofmonth("ts") <= 15).alias("old"),
                    F.col("value").cast("double").alias("v")))
    grouped = build_grouped_sketches(vals, ["old"], "v", partial(KLL, k),
                                     as_u64=False, salt_buckets=4)
    blobs = {bool(r["old"]): bytes(r["sketch"])
             for r in grouped.collect()}
    sko = deserialize(blobs[True]) if True in blobs else KLL(1 << 17)
    skn = deserialize(blobs[False]) if False in blobs else KLL(1 << 17)
    import numpy as np
    edges = np.array([sko.quantile(i / 10) for i in range(1, 10)])
    co = sko.bucket_counts(edges)
    cn = skn.bucket_counts(edges)
    rows = [(i, int(co[i]), int(cn[i])) for i in range(10)]
    return spark.createDataFrame(
        rows, "bucket int, cnt_old bigint, cnt_new bigint")


def q_bloom_xor_custkeys(spark, sf_dir):
    """Bloom XOR symmetric-difference membership (bf.h:540-549 analog):
    emits the SQL-exact xor flag plus ``agree`` asserting the filter
    reproduced it for every probe (bit-collision-free at this width)."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter(F.col("c_acctbal") > 5000)
    b = cust.filter(F.col("c_nationkey") < 12)
    probe = (_t(spark, sf_dir, "orders").select("o_custkey").distinct()
             .orderBy("o_custkey").limit(500))
    mem = Q.bloom_xor_membership(spark, a, "c_custkey", b, "c_custkey",
                                 probe, "o_custkey", p=26, nh=4, seed=1009)
    in_a = a.select(F.col("c_custkey").alias("o_custkey"),
                    F.lit(True).alias("in_a")).distinct()
    in_b = b.select(F.col("c_custkey").alias("o_custkey"),
                    F.lit(True).alias("in_b")).distinct()
    return (mem.join(in_a, "o_custkey", "left")
            .join(in_b, "o_custkey", "left")
            .select("o_custkey",
                    (F.coalesce("in_a", F.lit(False))
                     != F.coalesce("in_b", F.lit(False))).alias("exact_xor"),
                    "xor_member")
            .withColumn("agree", F.col("exact_xor") == F.col("xor_member"))
            .drop("xor_member")
            .orderBy("o_custkey"))


def _lang_tokens(spark, sf_dir):
    # lang rides along in the explode — no join back to docs needed
    docs = _t(spark, sf_dir, "documents")
    return (D.normalized_tokens(docs.select("doc_id", "lang", "text"),
                                keep_cols=["lang"])
            .select("lang", "token", F.xxhash64("token").alias("kh")))


def _pairwise_exact_sets(with_lang):
    """(lang_a, lang_b, n_inter, n_union) exact, via DataFrame ops."""
    tk = with_lang.select("lang", "token").distinct()
    sizes = tk.groupBy("lang").agg(F.count("*").alias("n"))
    a = tk.alias("a")
    b = tk.alias("b")
    inter = (a.join(b, "token")
             .filter(F.col("a.lang") < F.col("b.lang"))
             .groupBy(F.col("a.lang").alias("lang_a"),
                      F.col("b.lang").alias("lang_b"))
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    # pair frame from the size table so zero-intersection pairs survive
    pairs = (sa.crossJoin(sb)
             .filter(F.col("lang_a") < F.col("lang_b")))
    return (pairs.join(inter, ["lang_a", "lang_b"], "left")
            .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
            .select("lang_a", "lang_b", "n_inter",
                    (F.col("na") + F.col("nb") - F.col("n_inter"))
                    .alias("n_union")))


def q_hll_setops_langs(spark, sf_dir):
    """HLL set algebra (hll.h:1124-1140 union, :636-689 joint MLE):
    pairwise union/intersection estimates over per-language token HLLs,
    gated by exact counts + 6-sigma-of-union bound flags."""
    with_lang = _lang_tokens(spark, sf_dir)
    grouped = build_grouped_sketches(with_lang, ["lang"], "kh",
                                     partial(HyperLogLog, _HLL_P),
                                     salt_buckets=8, pre_distinct=True)
    # pairwise set ops computed distributed (pairwise_grouped): the
    # union/joint-MLE runs on executors per pair, no blob collect
    est = (pairwise_grouped(grouped, _cmp_hll_setops,
                            "est_u double, est_i double", key_col="lang",
                            n_groups_hint=8)
           .withColumnsRenamed({"key_a": "lang_a", "key_b": "lang_b"}))
    exact = _pairwise_exact_sets(with_lang)
    bound = F.lit(_HLL_BOUND) * F.col("n_union")
    return (exact.join(est, ["lang_a", "lang_b"])
            .select("lang_a", "lang_b", "n_union",
                    (F.abs(F.col("est_u") - F.col("n_union")) <= bound)
                    .alias("union_ok"),
                    "n_inter",
                    (F.abs(F.col("est_i") - F.col("n_inter")) <= bound)
                    .alias("inter_ok"))
            .orderBy("lang_a", "lang_b"))


def q_kll_quantiles_per_lang(spark, sf_dir):
    """Grouped quantiles through the salted grouped-sketch path +
    distributed finalize: one KLL per language over length(text), exact
    regime (capacity >= group size)."""
    from sketchlib.sketches.kll import KLL

    docs = _t(spark, sf_dir, "documents")
    vals = docs.select("lang", F.length("text").cast("double").alias("v"))
    grouped = build_grouped_sketches(vals, ["lang"], "v",
                                     partial(KLL, 1 << 15), as_u64=False,
                                     salt_buckets=4)
    est = finalize_grouped(grouped, partial(Q.quantiles_list, _QS),
                           "qvals", "array<double>")
    qarr = F.array(*[F.lit(float(q)) for q in _QS])
    return (est.select("lang", F.posexplode("qvals").alias("i", "value"))
            .select("lang",
                    F.element_at(qarr, F.col("i") + 1).alias("q"), "value")
            .orderBy("lang", "q"))


def q_vac_user_spectrum(spark, sf_dir):
    """L22 VAC (vac.h:20-60): multiplicity spectrum — layer i sees the
    stream subsampled at 2^-i (deterministic weighted form), so at
    collision-free width layer i's probe is exactly count >> i."""
    ev = _t(spark, sf_dir, "events")
    return (Q.vac_spectrum_frequency(spark, ev, "user_id", n_layers=8)
            .orderBy("key", "layer"))


def q_swcm_recent_user_freq(spark, sf_dir):
    """L7 sliding-window CM (ccm.h:840-869): per-user frequency within
    the trailing 4096 events under the stable (ts, event_id) stream
    order; deletion-exact ring at collision-free width => the strict
    oracle is a row_number() window count."""
    ev = _t(spark, sf_dir, "events")
    return (Q.swcm_trailing_frequency(spark, ev, "user_id",
                                      ["ts", "event_id"], window=4096)
            .orderBy("key"))


def _shingle_stream(spark, sf_dir):
    """one row per distinct (doc_id, shingle) with the 64-bit key —
    the shared input of the cardinality-sibling estimators."""
    docs = _t(spark, sf_dir, "documents")
    return D.shingles(docs).select(F.col("shingle"),
                                   F.xxhash64("shingle").alias("kh"))


# 6-sigma acceptance bands per estimator (all deterministic given the
# data + seeds, so each flag is a hard gate like the HLL ones):
#   pcsa     n_maps=256: rse 0.78/sqrt(256)=4.9%   -> 0.30
#   setsketch 6 * sk.relative_error() (computed from its own params)
#   hyperbitbit: Sedgewick's coarse 2-register gadget — documented
#                factor-2.2 band (tests/test_siblings_round2.py:112)
#   modsketch mod=64: binomial rse sqrt(mod/n) <= 6.3% at n>=16k -> 0.38
_CARD_SIBLINGS = [
    ("hyperbitbit", None, 2.2),     # factor band
    ("modsketch", None, 0.38),
    ("pcsa", None, 0.30),
    ("setsketch", None, None),      # 6 * relative_error()
]


def q_cardinality_siblings_shingles(spark, sf_dir):
    """L19 PCSA, L18 SetSketch, L20 HyperBitBit, L24 ModSketch: one
    distinct-shingle cardinality estimate per sibling over the same
    deduped key stream (JVM-side distinct, |distinct| kernel rows).
    Output (estimator, n_distinct, within_bound); the oracle asserts
    every flag."""
    from sketchlib.sketches.gadgets import HyperBitBit, ModSketch
    from sketchlib.sketches.pcsa import PCSA
    from sketchlib.sketches.setsketch import SetSketch

    sh = _shingle_stream(spark, sf_dir)
    keys = sh.select("kh").distinct().cache()
    exact = keys.count()
    # the three mergeable gadgets share ONE scan (build_sketches: the
    # scan dominates, pay it once for the whole panel); HyperBitBit is
    # a single-stream gadget whose merge is a lossy heuristic (the
    # reference defines none, hbb.h), so it runs as one sequential
    # kernel where its factor band holds
    sketches = build_sketches(keys, "kh", {
        "pcsa": partial(PCSA, 256),
        "setsketch": partial(SetSketch, 12),
        "modsketch": partial(ModSketch, 64),
    })
    sketches["hyperbitbit"] = build_sketch(keys, "kh", HyperBitBit,
                                           kernel_partitions=1)
    rows = []
    for name, _, band in _CARD_SIBLINGS:
        sk = sketches[name]
        est = float(sk.estimate() if hasattr(sk, "estimate")
                    else sk.cardinality())
        if name == "hyperbitbit":
            ok = exact / band <= est <= exact * band
        else:
            b = band if band is not None else 6 * sk.relative_error
            ok = abs(est - exact) <= b * exact
        rows.append((name, int(exact), bool(ok)))
    keys.unpersist()
    return spark.createDataFrame(
        rows, "estimator string, n_distinct long, within_bound boolean")


def _lang_shingles(spark, sf_dir):
    """(lang, token, kh) distinct per-language shingle sets — 'token'
    column name so _pairwise_exact_sets applies unchanged."""
    docs = _t(spark, sf_dir, "documents")
    sh = D.shingles(docs)
    return (sh.join(docs.select("doc_id", "lang"), "doc_id")
            .select("lang", F.col("shingle").alias("token"))
            .distinct()
            .withColumn("kh", F.xxhash64("token")))


# 6-sigma jaccard bands (deterministic given seeds => hard gates):
#   hyperminhash p=12,r=10: sqrt(J(1-J)/2^12) <= 0.0078; 6s + 2^-r
#     collision bias ~ 0.048 -> 0.06
#   onepermminhash p=10 (b=64): sqrt(J(1-J)/2^10) <= 0.0156 -> 0.10
_SETSIM_BANDS = {"hyperminhash": 0.06, "onepermminhash": 0.10}


def q_setsim_siblings_langs(spark, sf_dir):
    """L17 HyperMinHash (hmh.h) + L16 one-permutation b-bit MinHash
    (bbmh.h): pairwise Jaccard between per-language shingle sets,
    gated by the exact (n_inter, n_union) pair counts + per-estimator
    6-sigma bound flags."""
    from sketchlib.sketches.bbmh import OnePermMinHash
    from sketchlib.sketches.hmh import HyperMinHash

    # one shingle+join frame feeds both estimators and the exact gate,
    # uncached: the query returns lazily, so a cache could never be
    # released; the estimator panel shares ONE grouped pass (the 100 TB shape:
    # the shuffle is paid once for every estimator over the stream);
    # pairwise compare is distributed, stratified by estimator name
    # (block_cols) so pairs only form within an estimator
    with_lang = _lang_shingles(spark, sf_dir)
    factories = {"hyperminhash": partial(HyperMinHash, 12, 10),
                 "onepermminhash": partial(OnePermMinHash, 10)}
    grouped = build_grouped_sketches_multi(with_lang, ["lang"], "kh",
                                           factories, salt_buckets=8,
                                           pre_distinct=True)
    est = (pairwise_grouped(grouped, _cmp_jaccard, "j double",
                            key_col="lang", block_cols=["name"],
                            n_groups_hint=8)
           .withColumnsRenamed({"name": "estimator",
                                "key_a": "lang_a", "key_b": "lang_b"}))
    exact = _pairwise_exact_sets(with_lang)
    bands = F.create_map(*[F.lit(x) for kv in _SETSIM_BANDS.items()
                           for x in kv])
    return (est.join(exact, ["lang_a", "lang_b"])
            .select("estimator", "lang_a", "lang_b", "n_inter", "n_union",
                    (F.abs(F.col("j") - F.col("n_inter") / F.col("n_union"))
                     <= bands[F.col("estimator")]).alias("within_bound"))
            .orderBy("estimator", "lang_a", "lang_b"))


def q_cws_weighted_sim_langs(spark, sf_dir):
    """L23 CWS (Ioffe consistent weighted sampling, cws.h analog):
    pairwise WEIGHTED Jaccard between per-language token multisets via
    1024-sample CWS signatures (signatures built per group inside
    applyInPandas — distributed — then compared distributed through
    pairwise_grouped; no signature ever reaches the driver). Gate:
    exact sum-min/sum-max weighted Jaccard (the wmh oracle) + 6-sigma
    flag (sqrt(J(1-J)/1024) => band 0.10)."""
    import numpy as _np
    import pandas as _pd

    from sketchlib.sketches.cws import CWSSignature

    with_lang = _lang_tokens(spark, sf_dir)
    counts = with_lang.groupBy("lang", "kh").count()

    def sig(pdf: _pd.DataFrame) -> _pd.DataFrame:
        s = CWSSignature(1024).signature(pdf["kh"].to_numpy(),
                                         pdf["count"].to_numpy())
        return _pd.DataFrame({
            "lang": [pdf["lang"].iloc[0]],
            "sketch": [s.astype(_np.int64).tobytes()]})

    sigtab = counts.groupBy("lang").applyInPandas(
        sig, "lang string, sketch binary")
    est = (pairwise_grouped(sigtab, _cmp_cws, "j double", key_col="lang",
                            deser=_cws_deser, n_groups_hint=8)
           .withColumnsRenamed({"key_a": "lang_a", "key_b": "lang_b"}))
    # sum over the union support of max(ca,cb) = tot_a + tot_b -
    # sum(min) (missing tokens contribute min 0), so the exact weighted
    # Jaccard needs only the inner join + per-lang totals — no
    # zero-filled grid
    wc = with_lang.groupBy("lang", "token").count()
    tot = wc.groupBy("lang").agg(F.sum("count").alias("tot"))
    a = wc.select(F.col("lang").alias("lang_a"), "token",
                  F.col("count").alias("ca"))
    b = wc.select(F.col("lang").alias("lang_b"), "token",
                  F.col("count").alias("cb"))
    smin = (a.join(b, "token").filter(F.col("lang_a") < F.col("lang_b"))
            .groupBy("lang_a", "lang_b")
            .agg(F.sum(F.least("ca", "cb")).alias("smin")))
    ta = tot.select(F.col("lang").alias("lang_a"), F.col("tot").alias("ta"))
    tb = tot.select(F.col("lang").alias("lang_b"), F.col("tot").alias("tb"))
    exact = (ta.crossJoin(tb).filter(F.col("lang_a") < F.col("lang_b"))
             .join(smin, ["lang_a", "lang_b"], "left")
             .withColumn("smin", F.coalesce("smin", F.lit(0)))
             .select("lang_a", "lang_b",
                     (F.col("smin")
                      / (F.col("ta") + F.col("tb") - F.col("smin")))
                     .alias("wj")))
    return (est.join(exact, ["lang_a", "lang_b"])
            .select("lang_a", "lang_b",
                    (F.floor(F.col("wj") * 1e6) / 1e6).alias("wjaccard"),
                    (F.abs(F.col("j") - F.col("wj")) <= 0.10)
                    .alias("within_bound"))
            .orderBy("lang_a", "lang_b"))


def q_rnla_dot_embeddings(spark, sf_dir):
    """L26 RNLA kit (rnla.h analog): pairwise dot products between the
    first 6 embedding vectors estimated from 1024-dim CountSketch
    transforms (AMS sketch-and-dot); linearity + unbiasedness are
    property-tested, here the gate is the exact dot (SQL
    list_inner_product) + the 8*||a||*||b||/sqrt(d') two-sided band."""
    import math as _m

    import numpy as _np

    from sketchlib.sketches.rnla import cs_transform_batch, dot

    emb = (_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 6)
           .select("vec_id", "embedding").collect())
    vecs = {r["vec_id"]: _np.asarray(r["embedding"], dtype=_np.float64)
            for r in emb}
    ids = sorted(vecs)
    X = _np.stack([vecs[i] for i in ids])
    S = cs_transform_batch(X, 1024)
    rows = []
    for i, ia in enumerate(ids):
        for j, ib in enumerate(ids):
            if ia < ib:
                true = float(vecs[ia] @ vecs[ib])
                est = dot(S[i], S[j])
                band = (8 * _np.linalg.norm(vecs[ia])
                        * _np.linalg.norm(vecs[ib]) / _np.sqrt(1024))
                rows.append((ia, ib, _m.floor(true * 1e6) / 1e6,
                             bool(abs(est - true) <= band)))
    return spark.createDataFrame(
        rows, "id_a long, id_b long, dot double, within_bound boolean")


def q_estimate_quality_cbf(spark, sf_dir):
    """O19 error analysis (reference output/analysis.py:1-16) as a
    driver query: violations / RMSE / Spearman of the cbf power-of-two
    estimator vs exact per-user counts — an estimator BOTH engines can
    compute exactly, so all three metrics are strict-gated (6-dp floor
    on the two floats for cross-engine float stability)."""
    import math as _m

    from sketchlib.analysis import estimate_metrics

    ev = _t(spark, sf_dir, "events")
    est = Q.point_estimates(spark, ev, "user_id", _CBF)
    exact = (ev.groupBy(F.col("user_id").alias("key"))
             .agg(F.count("*").alias("true_count")))
    m = estimate_metrics(est.join(exact, "key"),
                         "true_count", "est_count")
    return spark.createDataFrame(
        [(m["n"], m["n_violations"],
          _m.floor(m["rmse"] * 1e6) / 1e6,
          _m.floor(m["spearman"] * 1e6) / 1e6)],
        "n long, n_violations long, rmse double, spearman double")


def q_distinct_tokens_per_lang(spark, sf_dir):
    """exact grouped distinct (oracle for the HLL sibling)."""
    docs = _t(spark, sf_dir, "documents")
    toks = D.normalized_tokens(docs.select("doc_id", "lang", "text"),
                               id_col="doc_id", text_col="text")
    with_lang = toks.join(docs.select("doc_id", "lang"), "doc_id")
    return (with_lang.groupBy("lang")
            .agg(F.countDistinct("token").alias("n_distinct"))
            .orderBy("lang"))


def q_bloom_member_custkeys(spark, sf_dir):
    """L8: Bloom membership of high-balance customers, probed with
    order custkeys (FP-free at this width — deterministic)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    probe = (_t(spark, sf_dir, "orders").select("o_custkey").distinct()
             .orderBy("o_custkey").limit(500))
    return (Q.bloom_membership(spark, cust, "c_custkey", probe, "o_custkey",
                               p=22, nh=6)
            .orderBy("o_custkey"))


def q_kll_quantiles_price(spark, sf_dir):
    """L13/KLL in its exact regime (capacity >= n BY CONSTRUCTION, so
    no compaction ever fires and quantile q = smallest value with
    rank >= ceil(q*n) at any test sf; the compacting approximate
    regime is property-tested in tests/)."""
    li = _t(spark, sf_dir, "lineitem")
    k = max(1 << 17, _nrows(sf_dir, "lineitem") + 1)
    return Q.sketch_quantiles(spark, li, "l_extendedprice", _QS,
                              kind="kll", k=k)


def q_ddsketch_quantiles_price(spark, sf_dir):
    """L13 DDSketch (reference include/dd.h; paper semantics — the
    vendored dd.h is itself unfinished, grow_right throws at dd.h:129):
    relative-error quantiles via the pre-aggregate weighted bucket
    path. Strict gate: emits the exact rank quantile
    (SQL-reproducible) plus a within_bound flag from the real DD
    estimate (rel err <= alpha while uncollapsed — deterministic,
    so the flag is a hard gate)."""
    li = _t(spark, sf_dir, "lineitem")
    exact = Q.sketch_quantiles(
        spark, li, "l_extendedprice", _QS, kind="kll",
        k=max(1 << 17, _nrows(sf_dir, "lineitem") + 1))
    dd = (Q.sketch_quantiles(spark, li, "l_extendedprice", _QS,
                             kind="dd", alpha=0.01, max_bins=4096,
                             pre_aggregate=True)
          .withColumnRenamed("value", "dd_est"))
    return (exact.join(dd, "q")
            .select("q", "value",
                    (F.abs(F.col("dd_est") - F.col("value"))
                     <= 0.01 * F.abs(F.col("value"))).alias("within_bound"))
            .orderBy("q"))


def q_tdigest_quantiles_value(spark, sf_dir):
    """L13/t-digest in its exact regime (delta=inf => every point its
    own centroid => rank-exact quantiles, mirroring the KLL gate); the
    approximate regime stays bound-tested in CI."""
    import math
    ev = _t(spark, sf_dir, "events")
    return Q.sketch_quantiles(spark, ev, "value", _QS, kind="tdigest",
                              delta=math.inf, pre_aggregate=True)


def q_dedup_exact(spark, sf_dir):
    docs = _dup_corpus(_t(spark, sf_dir, "documents"))
    return (D.exact_duplicates(docs)
            .orderBy("fingerprint"))


def q_dedup_minhash(spark, sf_dir):
    docs = _dup_corpus(_t(spark, sf_dir, "documents"))
    return (D.minhash_dedup_pairs(docs, threshold=0.9)
            .orderBy("id_a", "id_b"))


def q_dedup_minhash_delta(spark, sf_dir):
    """Incremental LSH dedup against a stored index (dedup.py
    minhash_dedup_delta) — the daily-append shape of a 100 TB pipeline:
    historical corpus = `documents` (indexed once: band table + shingle
    table); today's delta = the re-keyed every-10th copies (+1M, the
    same construction as _dup_corpus). The delta run shingles and signs
    ONLY the new docs and joins the stored index; historical text is
    never re-read (plan-pinned with a parquet-backed index in
    tests/test_dedup_delta.py). Strict oracle: exact Jaccard over the
    appended corpus restricted to pairs touching a new doc — exactly
    the rows a full recompute would add beyond yesterday's output.

    Delta ids re-key at +1e9, NOT the +1e6 the other dedup corpora
    use: the scaled sf1 snapshot has doc_ids up to ~9e6, and an id
    threshold inside the historical range would misclassify high-id
    historical docs as delta (caught by the round-5 sf1 gate)."""
    docs = _t(spark, sf_dir, "documents")
    new = (docs.filter(F.col("doc_id") % 10 == 0)
           .withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
    # yesterday's persisted index, built from the historical corpus.
    # Deliberately NOT persisted: the shingle table feeds two consumers
    # (band-index build + verify semi-join), but an A/B at sf0.1 put
    # the persist at ~2x SLOWER (6.2-7.4 s vs 3.3-3.4 s warm) — the
    # cache write of the full shingle table costs more than shingling
    # twice. In production both tables are parquet READS, so the
    # question doesn't arise.
    sh_old = D.shingles(docs, hashed=True)
    band_index = D.minhash_band_index(shingle_df=sh_old)
    return (D.minhash_dedup_delta(new, band_index, sh_old, threshold=0.9)
            .orderBy("id_a", "id_b"))


def q_dedup_ngram_jaccard(spark, sf_dir):
    docs = _dup_corpus(_t(spark, sf_dir, "documents"))
    return (D.jaccard_pairs(docs, threshold=0.6,
                            shingle_df=D.shingles(docs, hashed=True))
            .orderBy("id_a", "id_b"))


def q_simhash_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return D.simhash(docs).orderBy("doc_id")


def q_simhash_near_pairs(spark, sf_dir):
    docs = _dup_corpus(_t(spark, sf_dir, "documents"))
    return D.simhash_near_pairs(docs, max_hamming=3).orderBy("id_a", "id_b")


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pairs -> duplicate CLUSTERS via distributed connected
    components (alternating large/small-star), with the canonical
    keep-one representative per cluster. The oracle is a DuckDB
    recursive CTE over the identical (md5-derived, engine-portable)
    SimHash pair graph — strict equality on the transitive closure."""
    docs = _cluster_corpus(_t(spark, sf_dir, "documents"))
    pairs = D.simhash_near_pairs(docs, max_hamming=3)
    return (G.duplicate_clusters(pairs, docs=docs)
            .orderBy("doc_id"))


def q_decontam_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination (the GPT-3 Appendix C / Llama-2
    eval-overlap filtering step): training docs sharing >= 5 distinct
    3-gram shingles with the "benchmark" corpus (every 20th doc).
    Runs the bounded-memory Bloom-prefilter + exact-verify scale path
    (sketchlib/decontam.py), whose output equals the exact broadcast
    join's — Bloom filters have no false negatives — so the strict
    DuckDB overlap-join oracle applies."""
    docs = _t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return (DC.contamination(train, bench, n=3, min_overlap=5,
                             method="bloom")
            .orderBy("doc_id"))


def q_dup_spans(spark, sf_dir):
    """Substring-level exact dedup signal (Lee et al. 2021 analog):
    rolling width-10 token windows hashed (md5 — engine-portable),
    counted corpus-wide; rows = windows occurring >= 2 times. One
    hash aggregation on a uniform 128-bit key — no skew, no UDFs."""
    corpus = _dup_corpus(_t(spark, sf_dir, "documents"))
    return (SP.duplicated_spans(corpus, width=10)
            .orderBy("span_hash"))


def q_dup_span_coverage(spark, sf_dir):
    """Per-doc duplicated-substring coverage fraction — the trim/drop
    signal of substring dedup. Interval union via gaps-and-islands
    windows partitioned per doc (bounded state), identical SQL shape
    in the DuckDB oracle."""
    corpus = _dup_corpus(_t(spark, sf_dir, "documents"))
    return (SP.span_dup_coverage(corpus, width=10)
            .orderBy("doc_id"))


def _emb_dup_corpus(emb: DataFrame) -> DataFrame:
    """embeddings plus a re-keyed 2x-scaled copy of every 20th vector:
    cosine(v, 2v) == 1.0 exactly (scaling is exact in IEEE754 and
    cancels between numerator and norms), so the near-dup set is
    deterministic and engine-independent."""
    base = emb.withColumn("embedding",
                          F.col("embedding").cast("array<double>"))
    copies = (base.filter(F.col("vec_id") % 20 == 0)
              .withColumn("vec_id", F.col("vec_id") + 1_000_000)
              .withColumn("embedding",
                          F.transform("embedding", lambda x: x * 2.0)))
    return base.unionByName(copies)


_EMB_DUP_SQL = (
    "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings "
    "UNION ALL "
    "SELECT vec_id + 1000000, "
    " list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2) "
    "FROM embeddings WHERE vec_id % 20 = 0)")


def q_dedup_embedding(spark, sf_dir):
    """embedding-cosine near-dup, exact pairwise regime."""
    corpus = _emb_dup_corpus(_t(spark, sf_dir, "embeddings"))
    return (D.embedding_near_dup_pairs(corpus, threshold=0.99,
                                       method="exact")
            .orderBy("id_a", "id_b"))


def q_dedup_embedding_lsh(spark, sf_dir):
    """embedding-cosine near-dup via SRP-LSH blocking (scale path);
    recall is exactly 1.0 for scaled copies (sign(2v.r)==sign(v.r)),
    so the same oracle applies."""
    corpus = _emb_dup_corpus(_t(spark, sf_dir, "embeddings"))
    return (D.embedding_near_dup_pairs(corpus, threshold=0.99,
                                       method="lsh")
            .orderBy("id_a", "id_b"))


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): within-cluster cosine near-dup
    pairs -> transitive closure -> keep one per duplicate group. The
    strict regime pins the pluggable clustering to an engine-portable
    expression ((vec_id % 1e6) % 8 — copies land in their original's
    cluster, so recall on the planted dups is exactly 1), leaving the
    per-cluster matmul + distributed CC under the oracle gate; the
    k-means clustering + centroid_far keep rule are pytest-covered
    (tests/test_ann_dedup.py)."""
    corpus = _emb_dup_corpus(_t(spark, sf_dir, "embeddings"))
    assign = corpus.select(
        "vec_id",
        ((F.col("vec_id") % 1_000_000) % 8).cast("int").alias("cluster"))
    return D.semdedup(corpus, threshold=0.99, assign=assign).orderBy("vec_id")


def q_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    return (A.cosine_topk(emb, qs, k=5)
            .orderBy("query_id", "rank"))


def _ann_lsh_corpus(emb: DataFrame) -> DataFrame:
    """embeddings plus five power-of-two-scaled copies of each query
    vector (ids 1_000_000 + qid*10 + j, scale 2^j). Scaled copies share
    the query's SRP signature in EVERY table (sign(2^j v.r) ==
    sign(v.r)), so LSH recall of the true top-5 (= the copies, cosine
    exactly 1.0; power-of-two scaling is exact in IEEE754) is
    guaranteed 1.0 — which makes the exact top-k oracle apply to the
    approximate operator."""
    base = emb.select("vec_id",
                      F.col("embedding").cast("array<double>")
                      .alias("embedding"))
    qs = base.filter(F.col("vec_id") < 10)
    copies = (qs.select("vec_id", "embedding",
                        F.explode(F.array(*[F.lit(j) for j in range(1, 6)]))
                        .alias("j"))
              .select((F.lit(1_000_000) + F.col("vec_id") * 10
                       + F.col("j")).alias("vec_id"),
                      F.transform(
                          "embedding",
                          lambda x: x * F.pow(F.lit(2.0), F.col("j")))
                      .alias("embedding")))
    return base.unionByName(copies)


def q_ann_lsh_topk(spark, sf_dir):
    """SRP-LSH ANN posed with a recall-guaranteed construction (see
    _ann_lsh_corpus) so the exact top-k oracle is a strict gate."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _ann_lsh_corpus(emb)
    qs = corpus.filter(F.col("vec_id") < 10)
    return (A.ann_topk_lsh(corpus, qs, k=5)
            .orderBy("query_id", "rank"))


def q_ann_pq_topk(spark, sf_dir):
    """Product-Quantization ANN (ann.py pq_train/pq_encode/ann_topk_pq)
    in its EXACT REGIME — the repo's strict-gate pattern (collision-free
    CM width, no-compaction KLL) applied to PQ: the training corpus is
    exactly ``kcent`` vectors, so the hash-order init selects ALL of
    them, every Lloyd assignment finds its own vector at distance 0,
    and the codebooks are a fixed point from iteration 0 (iters=2
    proves stability). Encoding is then lossless (each subvector IS a
    centroid), ADC distance equals the true squared distance between
    unit vectors, and adc_sim = 1 - d2/2 equals the exact cosine — so
    the DuckDB dense-cosine top-k is a strict value gate over the full
    PQ machinery (train, encode, LUT, codes-only scan, local cut,
    global window). The approximate regime (kcent << n) is
    recall-tested in tests/test_ann_pq.py."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = (emb.filter(F.col("vec_id") < 128)
              .select("vec_id", F.col("embedding").cast("array<double>")
                      .alias("embedding")))
    books = A.pq_train(corpus, m=8, kcent=128, iters=2)
    codes = A.pq_encode(corpus, books)
    qs = corpus.filter(F.col("vec_id") < 8)
    return (A.ann_topk_pq(codes, qs, books, k=5)
            .select("query_id", "neighbor_id",
                    (F.floor(F.col("adc_sim") * 1e6) / 1e6).alias("sim"),
                    "rank")
            .orderBy("query_id", "rank"))


def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ (ann.py ivfpq_index/ann_topk_ivfpq — the FAISS-style
    composition serving 10^12-vector corpora) posed so the strict
    oracle covers the GENUINELY APPROXIMATE regime (nprobe=1):
    the corpus is 78 base vectors plus five power-of-two scaled
    copies of each query (128 rows == kcent, so PQ is lossless and
    ADC equals exact cosine — see q_ann_pq_topk), and a scaled copy
    unit-normalizes BIT-EXACTLY to its query (power-of-two scaling is
    exact in IEEE754), so every copy lands in the query's own coarse
    cell with the query's own codes. Probing one cell therefore finds
    all five true neighbors (cosine exactly 1.0), and the exact
    dense-cosine top-5 is a strict gate over the full machinery:
    coarse train/assign, cell-probe routing, codes-only filtered
    scan, LUT/ADC, local cut, global window."""
    emb = _t(spark, sf_dir, "embeddings")
    # 78 + 50 = 128 = kcent
    corpus = _ann_lsh_corpus(emb.filter(F.col("vec_id") < 78))
    qs = corpus.filter(F.col("vec_id") < 10)
    cents = A.ivf_train(corpus, nlist=8, iters=3)
    books = A.pq_train(corpus, m=8, kcent=128, iters=2)
    idx = A.ivfpq_index(corpus, cents, books)
    return (A.ann_topk_ivfpq(idx, qs, cents, books, k=5, nprobe=1)
            .select("query_id", "neighbor_id",
                    F.round(F.col("adc_sim"), 6).alias("sim"), "rank")
            .orderBy("query_id", "rank"))


def q_ann_ivf_topk(spark, sf_dir):
    """IVF (inverted-file cluster-probe) ANN posed with the same
    recall-guaranteed construction as the SRP query: cosine is
    scale-invariant, so each query's power-of-two scaled copies share
    its coarse-cell assignment bit-exactly (sketchlib/ann.py
    ivf_assign), and probing the query's own top-1 cell — nprobe=1,
    the genuinely approximate regime — finds all five true neighbors.
    The exact top-k oracle is therefore a strict gate over the full
    IVF machinery (train, assign, probe, rerank)."""
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _ann_lsh_corpus(emb)
    qs = corpus.filter(F.col("vec_id") < 10)
    return (A.ann_topk_ivf(corpus, qs, k=5, nlist=8, nprobe=1, iters=3)
            .orderBy("query_id", "rank"))


def q_lang_id(spark, sf_dir):
    return TS.language_id(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_token_stats(spark, sf_dir):
    return TS.token_stats(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_quality_score(spark, sf_dir):
    return TS.quality_score(_t(spark, sf_dir, "documents")).orderBy("doc_id")


def q_doc_fingerprints(spark, sf_dir):
    return (TS.fingerprints(_t(spark, sf_dir, "documents"))
            .select("doc_id", "md5_fp").orderBy("doc_id"))


def q_repetition_stats(spark, sf_dir):
    """Gopher/MassiveText repetition filters over a corpus where every
    5th doc has its text doubled across a newline (so line-dup and
    n-gram-dup signals both fire deterministically). Shuffle-free
    narrow plan (tests/test_textstats_filters.py pins 0 exchanges);
    strict relational oracle."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat("text", F.lit("\n"), "text"))
         .otherwise(F.col("text")))
    return TS.repetition_stats(corpus).orderBy("doc_id")


def q_pii_scan(spark, sf_dir):
    """PII scan + redaction (C4/Dolma scrubbing step) over a corpus
    with deterministically injected emails / phone numbers / IPv4s.
    Counts AND the md5 of the redacted text are strict-gated, so the
    replacement spans must match the oracle byte-for-byte."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.withColumn("text", F.concat(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" call +1 555 010 9999")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit(" host 192.168.0.1 up")).otherwise(F.lit("")),
    ))
    red = (TS.pii_redact(corpus)
           .select("doc_id", F.md5("redacted").alias("redacted_md5")))
    return (TS.pii_stats(corpus).join(red, "doc_id")
            .orderBy("doc_id"))


_SYNTH_HOSTS = ["docs.example.com", "www.example.com",
                "spam.example.com", "news.site.co.uk", "ads.site.co.uk",
                "blog.another.org", "another.org"]


def q_domain_stats(spark, sf_dir):
    """URL/domain curation ops (sketchlib/textstats.py): registrable-
    domain extraction (PSL-approximating regex, engine-portable),
    UT1-style domain blocklist filter, per-domain corpus stats. URLs
    are synthesized deterministically from doc_id over 7 hosts spanning
    www-prefix, ccTLD second-level (co.uk) and bare-apex cases;
    site.co.uk is blocklisted. Strict relational oracle."""
    docs = _t(spark, sf_dir, "documents")
    hosts = F.array(*[F.lit(h) for h in _SYNTH_HOSTS])
    corpus = docs.withColumn(
        "url", F.concat(F.lit("https://"),
                        F.element_at(hosts,
                                     (F.col("doc_id") % 7 + 1).cast("int")),
                        F.lit("/d/"), F.col("doc_id").cast("string")))
    filtered = TS.blocklist_filter(corpus, ["site.co.uk"])
    return TS.domain_stats(filtered).orderBy("domain")


def q_training_mix(spark, sf_dir):
    """Temperature (alpha=0.5) mixture sampling for the training-data
    export (sketchlib/export.py): 400 docs drawn E-S-weighted by
    p_lang^(alpha-1), up-sampling tail languages. STRICT gate in the
    true sampling regime: the md5-derived rank key and the group-mass
    weights are pure deterministic functions DuckDB recomputes, so the
    oracle selects the identical 400 rows. Plan: tiny group-count
    broadcast-joined back + TakeOrderedAndProject — no corpus
    shuffle."""
    from sketchlib.export import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return (temperature_sample(docs.select("doc_id", "lang"), "lang",
                               400, ["doc_id"], alpha=0.5, seed=13)
            .orderBy("doc_id"))


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (sketchlib/dsir.py; Xie et al.
    NeurIPS 2023): hashed uni+bigram bucket models (B=4096) fit on
    target = lang='en' docs vs raw = all docs, per-doc log importance
    weight, Gumbel top-k draw of 300 docs proportional to weight.
    STRICT gate in the true sampling regime: buckets, both
    add-one-smoothed models, the scores, and the Gumbel keys are
    md5-derived pure functions DuckDB recomputes, so the oracle
    selects the identical 300 ids. Plan: two B-row model aggregates,
    codegen element_at log-ratio lookup (no join), map-side-combined
    per-doc sum, TakeOrderedAndProject — the corpus never shuffles."""
    from sketchlib.dsir import dsir_select

    docs = _t(spark, sf_dir, "documents")
    sel = dsir_select(docs.select("doc_id", "lang", "text"),
                      docs.filter(F.col("lang") == "en")
                          .select("doc_id", "text"),
                      300, n_buckets=4096, seed=0)
    return sel.select("doc_id", "lang").orderBy("doc_id")


def q_lm_scores(spark, sf_dir):
    """CCNet-style LM quality scoring (sketchlib/dsir.py lm_scores;
    Wenzek et al. LREC 2020): per-doc mean log-probability of its
    hashed uni+bigram buckets under the corpus's own bucket unigram
    model — the perplexity-bucketing signal, as one B-row fit + one
    joinless codegen scoring scan. STRICT gate: md5 buckets + the
    same libm logs; the mean is floored to 1e-4 against summation-
    order ulps."""
    from sketchlib.dsir import lm_scores

    docs = _t(spark, sf_dir, "documents")
    return lm_scores(docs.select("doc_id", "text")).orderBy("doc_id")


def q_pack_manifest(spark, sf_dir):
    """Sequence packing (sketchlib/packing.py): concat-and-chop the
    shuffled document stream into 2048-token training sequences;
    result is the loader manifest (seq_id, doc_id, tok_from, tok_to).
    STRICT gate: the shuffle key, the two-phase global cumsum, and
    the window slicing are md5-derived integer arithmetic DuckDB
    recomputes exactly with one window function. Plan: one corpus
    scan projecting (doc_id, n_tokens); the ONLY shuffle is the
    window's hashpartitioning on the key-prefix bucket of that skinny
    table (order-preserving, hash-balanced — no range exchange, no
    single-partition window); offsets broadcast back; map-side
    sequence/explode — no Python, the corpus never shuffles."""
    from sketchlib.packing import pack_manifest
    from sketchlib.textstats import token_stats

    docs = _t(spark, sf_dir, "documents")
    nt = token_stats(docs).select("doc_id", "n_tokens")
    return (pack_manifest(nt, 2048, seed=0)
            .orderBy("seq_id", "doc_id"))


def q_fd_gram_embeddings(spark, sf_dir):
    """Frequent Directions matrix sketch (sketchlib/sketches/fd.py;
    Liberty KDD'13 / Ghashami et al. SICOMP'16 — the deterministic
    sibling of the vendored rnla.h count-sketch transforms): gram
    matrix A^T A of the quantized embedding table from a distributed
    partial+merge FD build. STRICT gate in the exact regime: ell >= n
    means no shrink ever fires, and floor(x*1000) quantization makes
    every gram entry an exactly-representable integer sum — order-
    independent in IEEE754, so any partitioning matches DuckDB
    bit-for-bit (the KLL delta>=n pattern). The lossy-regime bound
    ||A^T A - B^T B||_2 <= ||A||_F^2/ell is property-tested
    (tests/test_fd.py). Returns the upper triangle (i, j, g)."""
    from sketchlib.sketches.fd import FrequentDirections

    emb = _t(spark, sf_dir, "embeddings")
    n = _nrows(sf_dir, "embeddings")
    q = emb.select(F.transform(F.col("embedding").cast("array<double>"),
                               lambda x: F.floor(x * 1000)
                               .cast("double")).alias("qv"))
    fd = build_sketch(q, "qv", partial(FrequentDirections, n, 64),
                      as_u64=False)
    G = fd.gram()
    rows = [(i, j, float(G[i, j]))
            for i in range(64) for j in range(i, 64)]
    return (spark.createDataFrame(rows, "i int, j int, g double")
            .orderBy("i", "j"))


def q_fd_gram_per_label(spark, sf_dir):
    """Per-group Frequent Directions through the grouped harness
    (build_grouped_sketches + DISTRIBUTED finalize_grouped — blobs
    never funnel through the driver): one ell=256 FD covariance
    sketch per embedding label, emitting trace(B^T B) and the (0,1)
    gram entry. STRICT gate: ell is sized so no per-group shrink
    fires at the gating scale, and the floor-quantized entries make
    both outputs exact integer sums (order-independent)."""
    from sketchlib.sketches.fd import FrequentDirections, fd_trace_g01

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select("label",
                   F.transform(F.col("embedding").cast("array<double>"),
                               lambda x: F.floor(x * 1000)
                               .cast("double")).alias("qv"))
    g = build_grouped_sketches(q, ["label"], "qv",
                               partial(FrequentDirections, 256, 64),
                               as_u64=False)
    out = finalize_grouped(g, fd_trace_g01, "tg", "array<double>")
    return (out.select("label",
                       F.element_at("tg", 1).alias("tr"),
                       F.element_at("tg", 2).alias("g01"))
            .orderBy("label"))


def q_curation_pipeline(spark, sf_dir):
    """THE composed pipeline (sketchlib/pipeline.py): exact dedup ->
    benchmark decontamination (Bloom-prefilter scale path) -> integer-
    exact quality filter -> temperature mixture sample (alpha=0.5,
    k=300) -> 512-token sequence packing, as ONE lazy Spark plan over
    the dup-injected corpus (benchmark = every 20th doc). Every stage
    is md5-derived / integer-exact, so the final loader manifest is
    strict-equality gated against DuckDB recomputing all five stages.
    Proves the curation operators chain end to end."""
    from sketchlib import pipeline as PL

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "text")
    base = docs.filter(F.col("doc_id") % 20 != 0)
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    return (PL.curate(_dup_corpus(base), bench, 300, 512)
            .orderBy("seq_id", "doc_id"))


def q_export_shards(spark, sf_dir):
    """Deterministic shuffle-shard export layout (sketchlib/export.py):
    shard = md5-derived v % 8, within-shard order by (v, doc_id).
    Gated via per-shard count + a positional checksum
    sum(position * doc_id) that is order-sensitive, so the oracle
    equality pins the exact shard assignment AND the exact within-shard
    order — the byte layout write_shards would materialize."""
    from pyspark.sql import Window

    from sketchlib.export import shuffle_shard

    docs = _t(spark, sf_dir, "documents")
    sh = shuffle_shard(docs.select("doc_id"), ["doc_id"], 8, seed=42)
    w = Window.partitionBy("shard").orderBy("shard_key", "doc_id")
    return (sh.withColumn("pos", F.row_number().over(w).cast("long"))
              .groupBy("shard")
              .agg(F.count("*").alias("n_docs"),
                   F.sum(F.col("pos") * F.col("doc_id"))
                    .alias("pos_checksum"))
              .orderBy("shard"))


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing through the driver contract: synthetic media
    table -> stub-decoded fixed-dim features -> per-kind stats (the
    decode is a deterministic fake; the Spark plumbing is real).
    Strict gate: the payload bytes and the stub features follow a
    closed arithmetic form the DuckDB oracle reproduces exactly."""
    from sketchlib import multimodal as M
    _ensure_shipped(spark)
    media = M.synthetic_media(spark, 300, seed=42, partitions=8)
    feats = M.extract_features(media, dim=16)
    return (feats.select("media_id", "kind",
                         F.aggregate("feature", F.lit(0.0),
                                     lambda a, x: a + x).alias("fsum"))
            .groupBy("kind")
            .agg(F.count("*").alias("n_media"),
                 F.round(F.sum("fsum"), 4).alias("sum_features"))
            .orderBy("kind"))


def q_budget_select_docs(spark, sf_dir):
    """Token-budget corpus selection (round 3): keep the best-quality
    documents until a global token budget fills — a distributed prefix
    sum (range exchange + per-partition numpy cumsum + |partitions|
    scalar offsets), NOT a single-partition window. Strict oracle: the
    same greedy prefix via SQL SUM OVER (ORDER BY quality DESC, id)."""
    from sketchlib.export import select_within_budget
    docs = _t(spark, sf_dir, "documents")
    scored = TS.quality_score(docs).select(
        "doc_id", "quality_score", "n_tokens")
    return select_within_budget(scored, budget=15_000)


_BM25_TERMS = ["hash", "join", "filter"]


def q_bm25_topk_docs(spark, sf_dir):
    """BM25 top-k corpus retrieval (Okapi BM25, Lucene non-negative idf
    variant — round-3 text-pipeline addition): pure Catalyst (tf filter
    pushed before its aggregate, broadcast df/stats joins,
    TakeOrderedAndProject cut). Gate: scores floored at 1e-4 in both
    engines, ordered (score desc, doc_id) — all arithmetic is IEEE
    +,-,*,/ plus one ln, reproduced exactly by the DuckDB oracle."""
    from sketchlib import search as S
    docs = _t(spark, sf_dir, "documents")
    sc = S.bm25_scores(docs, _BM25_TERMS)
    return (sc.select("doc_id",
                      (F.floor(F.col("score") * 1e4) / 1e4)
                      .alias("score"))
            .orderBy(F.col("score").desc(), "doc_id").limit(20))


def q_pricing_summary(spark, sf_dir):
    """agg breadth (TPC-H Q1 shape) with exact decimal arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (li.filter(F.col("l_shipdate") <= "2001-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(d("l_extendedprice")).cast("double")
                  .alias("sum_base_price"),
                 F.sum((d("l_extendedprice")
                        * (F.lit(1).cast("decimal(18,2)") - d("l_discount")))
                       .cast("decimal(24,4)")).cast("double")
                  .alias("sum_disc_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_top_customers_window(spark, sf_dir):
    """join + window breadth: top-3 customers by order value per
    nation (decimal-exact)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    spend = (orders.groupBy("o_custkey")
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                  .alias("spend")))
    j = cust.join(spend, cust.c_custkey == spend.o_custkey)
    from pyspark.sql import Window
    w = (Window.partitionBy("c_nationkey")
         .orderBy(F.col("spend").desc(), F.col("c_custkey").asc()))
    return (j.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("c_nationkey", "c_custkey",
                    F.col("spend").cast("double").alias("spend"), "rnk")
            .orderBy("c_nationkey", "rnk"))


def q_user_sessions(spark, sf_dir):
    """sessionization breadth: 30-min-gap sessions per user."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.unix_timestamp("ts")
           - F.unix_timestamp(F.lag("ts").over(w)))
    sess = ev.withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0))
    return (sess.groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count("*").alias("n_events"))
            .orderBy("user_id"))


def q_profile_orders(spark, sf_dir):
    """One-scan table profiler (sketchlib/profile.py): per-column
    n_values / exact n_distinct / HLL-bound flag / rank-exact median
    over a mixed-type column set — the whole panel from ONE melted
    corpus scan instead of one job per column. Strict gate: exact
    counts + rank median are SQL-reproducible; the HLL estimate is
    gated through its error-bound flag (the (exact, within_bound)
    pattern the other HLL queries use). KLL runs in its exact regime
    (k > rows) so p0_5 is THE rank median, not an approximation."""
    from sketchlib.profile import profile_table

    orders = _t(spark, sf_dir, "orders")
    prof = profile_table(
        spark, orders, ["o_custkey", "o_totalprice", "o_orderstatus"],
        qs=(0.5,), kll_k=_nrows(sf_dir, "orders") + 1)
    return (prof.select(F.col("column").alias("col_name"), "n_values",
                        "n_distinct", "within_bound", "p0_5")
            .orderBy("col_name"))


def q_weighted_sample_orders(spark, sf_dir):
    """Deterministic Efraimidis-Spirakis weighted sample
    (sketchlib/sampling.py): 100 orders drawn proportional to
    o_totalprice, without replacement. STRICT gate in the true
    sampling regime (k << n): the md5-derived rank key is a pure
    function of (seed, o_orderkey) that DuckDB recomputes
    bit-identically, so the oracle selects the same 100 rows. Plan is
    TakeOrderedAndProject — per-task top-k, no corpus shuffle."""
    from sketchlib.sampling import weighted_sample

    orders = _t(spark, sf_dir, "orders")
    return (weighted_sample(orders.select("o_orderkey", "o_totalprice"),
                            100, ["o_orderkey"], "o_totalprice", seed=7)
            .orderBy("o_orderkey"))


def q_stratified_sample_events(spark, sf_dir):
    """Per-stratum deterministic uniform sample: 50 events per
    event_type by descending md5-derived u (no transcendental in the
    uniform key — the oracle equality is exact arithmetic). One hash
    exchange on the strata; same strict-gate argument as
    weighted_sample_orders."""
    from sketchlib.sampling import stratified_sample

    ev = _t(spark, sf_dir, "events")
    return (stratified_sample(ev.select("event_type", "event_id"),
                              ["event_type"], 50, ["event_id"], seed=11)
            .orderBy("event_type", "event_id"))


def q_join_size_countsketch(spark, sf_dir):
    """AMS/AGMS join-size estimation (sketchlib/joins.py): |orders ⋈
    events on o_custkey = user_id| from two independent 4-wise
    count-sketch builds — no join executed for the estimate; this is
    the planner-side cardinality a cost-based optimizer wants.
    Strict gate: n_join is the exact join count (SQL-reproducible)
    and within_bound asserts |est − exact| <= 6·||f_A||2||f_B||2/√w
    (deterministic given seeds). w=2^18 sizes the blob to the key
    space (14.7 MB vs 235 MB at 2^22) — the bound, not collision-free
    exactness, is what the gate asserts."""
    import math

    from sketchlib.joins import join_size_estimate

    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    np_bits = 18
    est = join_size_estimate(orders, "o_custkey", events, "user_id",
                             np_bits=np_bits, nh=7)
    exact = orders.join(events,
                        orders.o_custkey == events.user_id).count()
    f2a = (orders.groupBy("o_custkey").count()
           .agg(F.sum(F.col("count") ** 2)).collect()[0][0])
    f2b = (events.groupBy("user_id").count()
           .agg(F.sum(F.col("count") ** 2)).collect()[0][0])
    bound = 6.0 * math.sqrt(float(f2a) * float(f2b) / (1 << np_bits))
    return spark.createDataFrame(
        [(int(exact), bool(abs(est - exact) <= bound))],
        "n_join long, within_bound boolean")


def q_cm_decayed_user_freq(spark, sf_dir):
    """Forward-decay weighted CM (sketchlib/decay.py, Cormode et al.
    ICDE'09 model with piecewise-halving integer weights): per-user
    recency-weighted event counts, scaled by 2^8 so every weight and
    sum is integral — exact in any engine and summation order, which
    is what lets this be strict-gated rather than tolerance-banded.
    Collision-free CM width => estimate == exact weighted sum."""
    from sketchlib.decay import decayed_frequency

    ev = _t(spark, sf_dir, "events")
    cfg = CMConfig(np_bits=16, nh=5, seed=137, conservative=True)
    return (decayed_frequency(spark, ev, "user_id", "ts",
                              7 * 86400, cfg)
            .orderBy("key"))


def q_decayed_top_users(spark, sf_dir):
    """Recency-weighted heavy hitters (sketchlib/decay.py
    decayed_top_k): top-10 users by forward-decayed event weight
    through a WEIGHTED Misra-Gries summary — one bounded-memory pass.
    Exact regime (summary_k >= |distinct|, no trim) + integral decay
    weights => strict window-rank oracle, (weight desc, key)
    tie-break."""
    from sketchlib.decay import decayed_top_k

    ev = _t(spark, sf_dir, "events")
    return decayed_top_k(spark, ev, "user_id", "ts", 7 * 86400,
                         k=10, summary_k=1 << 14)


def q_decayed_top_users_per_type(spark, sf_dir):
    """GROUPED recency-weighted heavy hitters: per-event-type top-5
    users by forward-decayed weight, through the salted grouped build
    with the new weighted hook (build_grouped_sketches weight_col) —
    one shuffle bounded by |distinct (type, user)|, MG summaries merged
    across salt buckets, DISTRIBUTED finalize. Exact regime + integral
    weights => strict window-rank oracle."""
    from pyspark.sql import Window

    from sketchlib.decay import decay_weight_col
    from sketchlib.sketches.mg import MisraGries

    ev = _t(spark, sf_dir, "events")
    landmark = ev.agg(F.max("ts")).collect()[0][0]
    w = decay_weight_col("ts", landmark, 7 * 86400)
    src = ev.select("event_type", "user_id",
                    F.xxhash64("user_id").alias("kh"), w.alias("__w"))
    grouped = build_grouped_sketches(src, ["event_type"], "kh",
                                     partial(MisraGries, 1 << 14),
                                     salt_buckets=8, pre_aggregate=True,
                                     weight_col="__w")
    pairs = finalize_grouped(grouped, _mg_pairs, "pairs",
                             "array<array<bigint>>")
    flat = (pairs.select("event_type", F.explode("pairs").alias("p"))
            .select("event_type", F.element_at("p", 1).alias("kh"),
                    F.element_at("p", 2).alias("wsum")))
    umap = src.select("kh", "user_id").distinct()
    win = Window.partitionBy("event_type").orderBy(
        F.col("wsum").desc(), "user_id")
    return (flat.join(umap, "kh")
            .withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= 5)
            .select("event_type", "user_id",
                    F.col("wsum").cast("long").alias("decayed_count_scaled"),
                    "rk")
            .orderBy("event_type", "rk"))


def q_decayed_quantiles_value(spark, sf_dir):
    """Recency-weighted value distribution: DDSketch built over
    forward-decay INTEGER weights (the weight_col hook with
    as_u64=False — per-value SUM(weight) JVM-side, weighted bucket
    inserts), answering "what does the value distribution look like
    NOW". Strict gate mirrors ddsketch_quantiles_price: the emitted
    value is the exact WEIGHTED rank quantile (smallest v with
    cumulative weight >= ceil(q*W) — one window cumsum,
    SQL-reproducible) and within_bound is the hard deterministic flag
    that the DD estimate sits within alpha relative error of it.

    Scale note: the exact-quantile leg (single-partition window cumsum
    over |distinct values|) exists FOR THE GATE; the production
    answer at 10^12 rows is the DD estimate alone — blob-sized state,
    pre-aggregated build, no global sort."""
    import math

    from pyspark.sql import Window

    from sketchlib.decay import decay_weight_col
    from sketchlib.sketches.dd import DDSketch

    ev = _t(spark, sf_dir, "events")
    landmark = ev.agg(F.max("ts")).collect()[0][0]
    w = decay_weight_col("ts", landmark, 7 * 86400)
    base = ev.select(F.col("value").cast("double").alias("v"),
                     w.alias("w"))

    alpha = 0.01
    dd = build_sketch(base.select("v", "w"), "v",
                      partial(DDSketch, alpha, 4096),
                      as_u64=False, pre_aggregate=True, weight_col="w")

    agg = base.groupBy("v").agg(F.sum("w").alias("w"))
    win = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = agg.withColumn("cw", F.sum("w").over(win))
    W = int(base.agg(F.sum("w")).collect()[0][0])
    qdf = spark.createDataFrame(
        [(float(q), int(math.ceil(q * W)), float(dd.quantile(q)))
         for q in _QS], "q double, rank long, dd_est double")
    return (cum.join(F.broadcast(qdf), F.col("cw") >= F.col("rank"))
            .groupBy("q", "dd_est").agg(F.min("v").alias("value"))
            .select("q", "value",
                    (F.abs(F.col("dd_est") - F.col("value"))
                     <= alpha * F.abs(F.col("value")))
                    .alias("within_bound"))
            .orderBy("q"))


def q_decayed_sample_events(spark, sf_dir):
    """Recency-weighted training-data sampling: Efraimidis-Spirakis
    draw proportional to the forward-decay weight (sketchlib/decay.py
    x sampling.py composition) — fresher events exponentially more
    likely, weights integral so the rank arithmetic is engine-exact.
    Same strict-gate argument as weighted_sample_orders (md5-derived
    keys, k << n regime); plan is TakeOrderedAndProject."""
    from sketchlib.decay import decay_weight_col
    from sketchlib.sampling import weighted_sample

    ev = _t(spark, sf_dir, "events")
    landmark = ev.agg(F.max("ts")).collect()[0][0]
    w = decay_weight_col("ts", landmark, 7 * 86400)
    return (weighted_sample(ev.select("event_id", w.alias("w")),
                            100, ["event_id"], "w", seed=11)
            .orderBy("event_id"))


def q_event_transitions(spark, sf_dir):
    """First-order transition matrix (sketchlib/transitions.py) over
    the events stream: LAG window per user ordered by (ts, event_id)
    — deterministic total order — then a |states|^2-group Tungsten
    hash agg and one row-normalizing window. The transcript payload's
    role/tool hand-off statistic posed on the driver's events table."""
    from sketchlib.transitions import transition_counts

    ev = _t(spark, sf_dir, "events")
    return (transition_counts(ev, "user_id", ["ts", "event_id"],
                              "event_type")
            .orderBy("prev_state", "state"))


def q_event_trigrams(spark, sf_dir):
    """Order-3 sequence mining (sketchlib/transitions.py
    sequence_ngrams): per-user event trigrams over the deterministic
    (ts, event_id) order — n-1 LAGs in ONE Window operator over one
    key exchange, then a bounded |states|^3-group hash agg."""
    from sketchlib.transitions import sequence_ngrams

    ev = _t(spark, sf_dir, "events")
    return (sequence_ngrams(ev, "user_id", ["ts", "event_id"],
                            "event_type", n=3)
            .orderBy("s0", "s1", "s2"))


def q_range_buckets_price(spark, sf_dir):
    """Sketch-driven equi-depth range partitioning
    (sketchlib/partitioning.py): KLL bounds in the exact regime
    (capacity >= n => bound i = smallest value with rank >=
    ceil(i/8 * n), the same rank spec the KLL quantile gate uses),
    bucket id = codegen sum of (value > bound) comparisons. The gate
    recounts every row's bucket in SQL — bounds AND assignment both
    strict. This is the operator that replaces repartitionByRange's
    sampling pass with a mergeable, reusable sketch (co-partitioning
    two tables from one bounds object)."""
    from sketchlib.partitioning import kll_range_bounds, range_bucket_col

    li = _t(spark, sf_dir, "lineitem")
    bounds = kll_range_bounds(li, "l_extendedprice", 8,
                              k=max(1 << 17, _nrows(sf_dir, "lineitem") + 1))
    return (li.withColumn("bucket",
                          range_bucket_col("l_extendedprice", bounds))
            .groupBy("bucket")
            .agg(F.count("*").alias("n_rows"))
            .orderBy("bucket"))


def q_range_buckets_per_type(spark, sf_dir):
    """PER-GROUP equi-depth partitioning grid
    (sketchlib/partitioning.py grouped_range_bucket_counts): one KLL
    per event_type through the salted grouped build (exact regime),
    bounds finalized DISTRIBUTED as an array column, every row
    bucketed against ITS group's bounds via a broadcast join. The gate
    recounts per-group rank-quantile bounds and bucket membership in
    SQL."""
    from sketchlib.partitioning import grouped_range_bucket_counts

    ev = _t(spark, sf_dir, "events")
    # the table size bounds every group's size: exact regime, zero jobs
    return (grouped_range_bucket_counts(ev, ["event_type"], "value", 4,
                                        k=_nrows(sf_dir, "events") + 1,
                                        salt_buckets=4)
            .orderBy("event_type", "bucket"))


def q_range_join_ship_window(spark, sf_dir):
    """Interval (range) join (sketchlib/joins.py:range_join): lineitems
    shipped inside their order's 30-day fulfillment window
    [o_orderdate, +30d), as a bucketed equi-join on (day-bucket,
    orderkey) + residual filter — Catalyst would plan the bare
    inequality join as a BroadcastNestedLoopJoin. Strict gate: exact
    per-priority pair counts and quantity sums (l_quantity is
    integer-valued, so the double sum is order-independent)."""
    from sketchlib.joins import range_join

    epoch = F.lit("1970-01-01").cast("date")
    li = (_t(spark, sf_dir, "lineitem")
          .select(F.col("l_orderkey").alias("okey"),
                  F.datediff(F.to_date("l_shipdate"), epoch).alias("pd"),
                  "l_quantity"))
    od = (_t(spark, sf_dir, "orders")
          .select(F.col("o_orderkey").alias("okey"), "o_orderpriority",
                  F.datediff(F.to_date("o_orderdate"), epoch).alias("s")))
    od = od.withColumn("e", F.col("s") + 30)
    j = range_join(li, "pd", od, "s", "e", bucket_width=30,
                   keys=["okey"])
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_pairs"),
                 F.sum("l_quantity").alias("sum_qty"))
            .orderBy("o_orderpriority"))


def q_asof_join_error_click(spark, sf_dir):
    """Event-time as-of join (sketchlib/joins.py:asof_join): each
    'error' event matched to the same user's most recent 'click' at or
    before it — tagged-union + per-key running last, ONE shuffle, no
    range cross-product. Strict gate vs DuckDB's native ASOF LEFT
    JOIN: per-user match counts and the summed error→click gap in
    microseconds (tie-insensitive — identical whichever of two
    equal-ts clicks wins)."""
    from sketchlib.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = (ev.filter(F.col("event_type") == "error")
              .select("user_id", "ts"))
    clicks = (ev.filter(F.col("event_type") == "click")
              .select("user_id", "ts"))
    j = asof_join(errors, clicks, on="user_id",
                  left_ts="ts", right_ts="ts")
    return (j.groupBy("user_id")
            .agg(F.count("*").alias("n_errors"),
                 F.count("asof_ts").alias("n_matched"),
                 F.coalesce(
                     F.sum(F.expr(
                         "timestampdiff(MICROSECOND, asof_ts, ts)")),
                     F.lit(0)).alias("sum_gap_us"))
            .orderBy("user_id"))


def _two_refresh_cm_table(spark, sf_dir, prefix: str):
    """A per-event_type CM sketch table (Icebergish snapshots,
    sketchlib/incremental.py) over ``events``, refreshed after an
    even-event_id append and again after an odd-event_id append.
    Returns (events, catalog, [first refresh stats, second])."""
    import tempfile
    from sketchlib.iceberg import IcebergishCatalog
    from sketchlib.incremental import refresh_sketch_table

    ev = _t(spark, sf_dir, "events")
    cat = IcebergishCatalog(tempfile.mkdtemp(prefix=prefix))
    fac = {"cm": partial(CountMin, _CM)}

    def prep(df):
        return df.select("event_type", F.xxhash64("user_id").alias("kh"))

    stats = []
    for parity in (0, 1):
        cat.append("events", ev.filter(F.col("event_id") % 2 == parity))
        stats.append(refresh_sketch_table(spark, cat, "events", "sk",
                                          ["event_type"], "kh", fac,
                                          prepare=prep))
    return ev, cat, stats


def _probe_cm_table(spark, cat, events, snapshot_id=None):
    """(event_type, user_id, est_count) for the distinct pairs of
    ``events``, probed distributed (cogroup) against the table's CM
    panel as of ``snapshot_id`` (default: current)."""
    from sketchlib.incremental import load_sketch_table, probe_grouped

    probes = events.select("event_type", "user_id",
                           F.xxhash64("user_id").alias("kh")).distinct()
    sk_df = load_sketch_table(spark, cat, "sk", name="cm",
                              snapshot_id=snapshot_id)
    return (probe_grouped(probes, sk_df, ["event_type"], "kh")
            .select("event_type", "user_id", "est_count")
            .orderBy("event_type", "user_id"))


def q_incremental_cm_user_freq(spark, sf_dir):
    """Incremental sketch-table maintenance: the second refresh scans
    ONLY the delta files and folds them into the stored blobs. The
    reference can't do this at all (one-shot sketch files over one
    input, main.cpp:43-55); at 100 TB it's the difference between
    O(delta) and O(history) per refresh. Collision-free width => the
    full-table GROUP BY oracle is a strict equality gate, which also
    proves the refresh neither double-counted nor missed rows."""
    ev, cat, stats = _two_refresh_cm_table(spark, sf_dir, "sketchtable_")
    assert stats[1]["mode"] == "incremental", stats[1]
    return _probe_cm_table(spark, cat, ev)


def q_timetravel_cm_user_freq(spark, sf_dir):
    """Snapshot time travel on a DERIVED sketch table: probe it AS OF
    its FIRST snapshot — the estimates must reflect only the even
    half, exactly (collision-free width), even though the table's
    current snapshot has seen everything. Every sketch-table snapshot
    records the source snapshot it reflects, so any historical
    estimate is reproducible — the audit property the reference's
    one-shot sketch files can't offer. Oracle: GROUP BY over the even
    half only."""
    ev, cat, (s1, _) = _two_refresh_cm_table(spark, sf_dir, "timetravel_")
    asof = s1["sketch_snapshot"]
    src = cat.snapshot_properties("sk", asof)["source_snapshot"]
    assert src == s1["source_snapshot"]
    return _probe_cm_table(spark, cat, ev.filter(F.col("event_id") % 2 == 0),
                           snapshot_id=asof)


# --------------------------------------------------------------------------
# query families: each row declares one query and its oracle together
# --------------------------------------------------------------------------

def _count_sql(table: str, col: str) -> str:
    """Exact per-key count: a frequency sketch's answer at
    collision-free width."""
    return (f"SELECT {col} AS key, COUNT(*) AS est_count "
            f"FROM {table} GROUP BY 1 ORDER BY 1")


def _pow2_sql(table: str, col: str) -> str:
    """``2^floor(log2(count))``: the power-of-two multiplicity sketches'
    exact answer through the pre-aggregate path."""
    return (f"SELECT {col} AS key, CAST(power(2, CAST(floor(log2(COUNT(*)))"
            f" AS INT)) AS BIGINT) AS est_count "
            f"FROM {table} GROUP BY 1 ORDER BY 1")


def _cmm_sql(table: str, col: str) -> str:
    """Count-mean-min at collision-free width: every row cell equals the
    true count, so the median-of-corrected-rows estimate is exactly
    ``cnt - (N - cnt) / (w - 1)`` clamped into ``[0, cnt]``."""
    return (f"WITH c AS (SELECT {col} AS key, "
            f"CAST(COUNT(*) AS DOUBLE) AS cnt FROM {table} GROUP BY 1), "
            f"t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM {table}) "
            "SELECT key, floor(least(greatest("
            f"cnt - (n - cnt) / {(1 << _CMM.np_bits) - 1}.0, 0.0), cnt) "
            "* 1e6) / 1e6 AS est_cmm FROM c, t ORDER BY key")


def _point_freq(table: str, key: str, sketch, oracle=_count_sql, **opts):
    """``(query, oracle SQL)``: the distinct keys of ``table[key]``
    annotated with a frequency sketch's estimate, ordered by key.

    ``sketch`` is a ``CMConfig`` (built by ``Q.cm_point_frequency``,
    whose ``offline_rounds`` picks the offline OCM/OCCM build) or a
    sketch factory (``Q.point_estimates``, which takes ``post``,
    ``method``, ``out_col`` and ``out_type``). A double estimate is
    floored at 1e-6, as its oracle is."""
    def q(spark, sf_dir):
        df = _t(spark, sf_dir, table)
        run = (Q.cm_point_frequency if isinstance(sketch, CMConfig)
               else Q.point_estimates)
        est = run(spark, df, key, sketch, **opts)
        if opts.get("out_type") == "double":
            c = opts["out_col"]
            est = est.select("key", (F.floor(F.col(c) * 1e6) / 1e6).alias(c))
        return est.orderBy("key")
    return q, oracle(table, key)


# Reference: include/ccm.h (CM, count-sketch, packed CM, count-mean-min),
# update.h (count-min-log), cbf.h (counting Bloom, pcbf). Widths are
# collision-free at the gated scales, so every estimate is exact.
_POINT_FREQ = {
    "cm_event_type_freq": _point_freq("events", "event_type", _CM),
    "cm_conservative_user_freq": _point_freq("events", "user_id", _CCM),
    "occm_user_freq": _point_freq("events", "user_id", _CCM,
                                  offline_rounds=3),
    # count-mean-min (Deng & Rafiei CIKM'07; the reference's ctor
    # throws): a plain CM core, as the estimator's noise model assumes
    # every update hits every row once
    "cmm_user_freq": _point_freq(
        "events", "user_id", partial(CountMin, _CMM), _cmm_sql,
        method="estimate_mean_min", out_col="est_cmm", out_type="double"),
    "countsketch_event_freq": _point_freq(
        "events", "event_type", partial(CountSketch, 16, 5, 137)),
    # 32-bit packed counters: bit-identical to uint64 ones until overflow
    "cm_packed_user_freq": _point_freq(
        "events", "user_id", partial(CountMinPacked, _CCM, 32)),
    # built at width 2^18 and folded twice: the fold is linear and the
    # hashes width-independent, so it equals a direct 2^16 build
    "cs_fold_event_freq": _point_freq(
        "events", "user_id", partial(CountSketch, 18, 5, 137),
        post=methodcaller("fold", 2)),
    "cs4w_user_freq": _point_freq(
        "events", "user_id", partial(CountSketch4W, 16, 5, 137)),
    "cbf_user_freq": _point_freq("events", "user_id", _CBF, _pow2_sql),
    "cml_user_freq": _point_freq(
        "events", "user_id", partial(CountMinLog, 16, 5, 137), _pow2_sql),
    # stage HLL cardinalities are bound-tested in tests/
    "pcbf_user_freq": _point_freq(
        "events", "user_id", partial(PCBF, 12, 18, 4, 12, 137), _pow2_sql),
}


def _codec_stats(gen, n: int, stats, oracle: str):
    """``(query, oracle)`` for a real media decode: ``n`` genuine
    payloads from ``gen`` decoded inside mapInPandas by ``stats``. The
    payloads follow closed arithmetic forms, so ``oracle`` re-derives
    every decoded value."""
    def q(spark, sf_dir):
        _ensure_shipped(spark)
        return stats(gen(spark, n, seed=42, partitions=8)).orderBy("media_id")
    return q, oracle


def _rgb_sql(w_mul: int, i_mul: int, y_mul: int, x_mul: int,
             ch_mul: int) -> str:
    """Channel sums of truecolor fixtures: image i is
    ``4 + i*w_mul % 29`` wide and ``2 + i*5 % 17`` high, and channel k
    of its pixel (x, y) is
    ``(i*i_mul + y*y_mul + x*x_mul + k*ch_mul + 42) % 256``."""
    px = ",\n".join(
        f"              (m.i * {i_mul} + ys.y * {y_mul} + xs.x * {x_mul}"
        f" + {k} * {ch_mul} + 42) % 256 AS {ch}"
        for k, ch in enumerate("rgb"))
    return f"""
WITH m AS (SELECT i, 4 + (i * {w_mul}) % 29 AS w, 2 + (i * 5) % 17 AS h
           FROM range(150) t(i)),
px AS (SELECT m.i, m.w, m.h,
{px}
       FROM m,
            LATERAL (SELECT unnest(range(m.h)) AS y) ys,
            LATERAL (SELECT unnest(range(m.w)) AS x) xs)
SELECT i AS media_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(MAX(30 * r + 59 * g + 11 * b) AS BIGINT) AS max_luma_x100
FROM px GROUP BY i ORDER BY media_id"""


_CODEC_STATS = {
    # RIFF/WAVE PCM16, written and read back with the stdlib wave module
    "multimodal_wav_stats": _codec_stats(
        M.synthetic_wav_media, 200, M.wav_amplitude_stats, """
WITH m AS (SELECT i, 64 + (i * 31) % 192 AS n FROM range(200) t(i)),
s AS (SELECT m.i,
             ((m.i * 7919 + ks.k * 104729 + 42) % 65536) - 32768 AS v
      FROM m, LATERAL (SELECT unnest(range(m.n)) AS k) ks)
SELECT i AS media_id,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(MAX(ABS(v)) AS BIGINT) AS max_abs,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM s GROUP BY i ORDER BY media_id"""),
    # 24-bit BMP: bottom-up scanlines, stride padding
    "multimodal_bmp_stats": _codec_stats(
        M.synthetic_bmp_media, 150, M.bmp_pixel_stats,
        _rgb_sql(3, 31, 7, 13, 101)),
    # truecolor PNG: CRC-checked chunks, DEFLATE, all five filters
    "multimodal_png_stats": _codec_stats(
        M.synthetic_png_media, 150, M.png_pixel_stats,
        _rgb_sql(7, 29, 11, 19, 73)),
    # GIF87a: LZW to 12-bit codes, CLEAR resets, sub-blocks
    "multimodal_gif_stats": _codec_stats(
        M.synthetic_gif_media, 150, M.gif_pixel_stats, """
WITH m AS (SELECT i, 6 + (i * 5) % 27 AS w, 3 + (i * 7) % 13 AS h
           FROM range(150) t(i)),
px AS (SELECT m.i, m.w, m.h, ys.y,
              (m.i * 17 + ys.y * 23 + xs.x * 29 + 42) % 256 AS idx
       FROM m,
            LATERAL (SELECT unnest(range(m.h)) AS y) ys,
            LATERAL (SELECT unnest(range(m.w)) AS x) xs),
rgb AS (SELECT i, w, h, y,
               (idx * 7) % 256 AS r, (idx * 11) % 256 AS g,
               (idx * 13) % 256 AS b
        FROM px)
SELECT i AS media_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(SUM(r) AS BIGINT) AS sum_r,
       CAST(SUM(g) AS BIGINT) AS sum_g,
       CAST(SUM(b) AS BIGINT) AS sum_b,
       CAST(MAX(30 * r + 59 * g + 11 * b) AS BIGINT) AS max_luma_x100,
       CAST(SUM(y * (30 * r + 59 * g + 11 * b)) AS BIGINT) AS ypos_luma
FROM rgb GROUP BY i ORDER BY media_id"""),
    # baseline JFIF grayscale, DC-only fixtures (exactly integral;
    # the AC path is gated in tests/test_multimodal_jpeg.py):
    # pixel (x,y) = (i*19 + (y//8)*31 + (x//8)*37 + 42) % 256
    "multimodal_jpeg_stats": _codec_stats(
        M.synthetic_jpeg_media, 150, M.jpeg_pixel_stats, """
WITH m AS (SELECT i, 8 + (i * 5) % 33 AS w, 8 + (i * 7) % 17 AS h
           FROM range(150) t(i)),
px AS (SELECT m.i, m.w, m.h, ys.y,
              (m.i * 19 + (ys.y // 8) * 31 + (xs.x // 8) * 37 + 42) % 256
                AS v
       FROM m,
            LATERAL (SELECT unnest(range(m.h)) AS y) ys,
            LATERAL (SELECT unnest(range(m.w)) AS x) xs)
SELECT i AS media_id,
       CAST(MAX(w) AS BIGINT) AS width,
       CAST(MAX(h) AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(MAX(v) AS BIGINT) AS max_v,
       CAST(SUM(y * v) AS BIGINT) AS ypos_v
FROM px GROUP BY i ORDER BY media_id"""),
    # FLAC: CRC-8/16 frames, CONSTANT/FIXED subframes, Rice
    # residuals, PCM MD5 checked; lossless, so every fixture is exact
    "multimodal_flac_stats": _codec_stats(
        M.synthetic_flac_media, 150, M.flac_amplitude_stats, """
WITH m AS (SELECT i, 64 + (i * 37) % 192 AS ns FROM range(150) t(i)),
s AS (SELECT m.i, m.ns,
             ((m.i * 6151
               + (CASE WHEN m.i % 3 = 0 THEN 0 ELSE ks.k END) * 92821
               + 42) % 65536) - 32768 AS v
      FROM m, LATERAL (SELECT unnest(range(m.ns)) AS k) ks),
agg AS (SELECT i, MAX(ns) AS ns, SUM(ABS(v)) AS sa, MAX(ABS(v)) AS ma,
               SUM(v * v) AS sq
        FROM s GROUP BY i)
SELECT i AS media_id,
       CAST(ns AS BIGINT) AS n_samples,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(sa AS BIGINT) AS sum_abs,
       CAST(ma AS BIGINT) AS max_abs,
       CAST(sq AS BIGINT) AS sum_sq
FROM agg ORDER BY media_id"""),
}


_LANG_TOKEN_SETS = ("SELECT DISTINCT d.lang, t.token "
                    f"FROM {_TOKENS_SQL} t JOIN documents d USING (doc_id)")


def _set_pairs_sql(cols: str, sets: str = _LANG_TOKEN_SETS,
                   item: str = "token",
                   tail: str = "ORDER BY lang_a, lang_b") -> str:
    """Exact set algebra between every pair of per-language sets:
    ``sets`` yields distinct ``(lang, <item>)`` rows, and ``cols`` is
    selected from ``pairs p`` (lang_a, lang_b, set sizes na, nb) left
    joined with ``inter i`` (n_inter, NULL for disjoint sets)."""
    return f"""
WITH tk AS ({sets}),
sizes AS (SELECT lang, COUNT(*) AS n FROM tk GROUP BY 1),
inter AS (SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS n_inter
          FROM tk a JOIN tk b ON a.{item} = b.{item} AND a.lang < b.lang
          GROUP BY 1, 2),
pairs AS (SELECT sa.lang AS lang_a, sb.lang AS lang_b,
                 sa.n AS na, sb.n AS nb
          FROM sizes sa, sizes sb WHERE sa.lang < sb.lang)
SELECT {cols}
FROM pairs p LEFT JOIN inter i USING (lang_a, lang_b)
{tail}"""


def _weighted_pairs_sql(extra: str = "") -> str:
    """Exact weighted Jaccard (sum-min / sum-max over the token-count
    grid) between every pair of per-language token multisets."""
    return f"""
WITH tc AS (SELECT d.lang, tk.token, COUNT(*) AS c
            FROM {_TOKENS_SQL} tk JOIN documents d USING (doc_id)
            GROUP BY 1, 2),
langs AS (SELECT DISTINCT lang FROM tc),
pairs AS (SELECT a.lang AS lang_a, b.lang AS lang_b
          FROM langs a, langs b WHERE a.lang < b.lang),
toks AS (SELECT DISTINCT token FROM tc),
grid AS (SELECT p.lang_a, p.lang_b, t.token,
                COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
         FROM pairs p CROSS JOIN toks t
         LEFT JOIN tc ca ON ca.lang = p.lang_a AND ca.token = t.token
         LEFT JOIN tc cb ON cb.lang = p.lang_b AND cb.token = t.token)
SELECT lang_a, lang_b,
       floor((SUM(LEAST(ca, cb)) * 1.0 / SUM(GREATEST(ca, cb))) * 1e6)
         / 1e6 AS wjaccard{extra}
FROM grid GROUP BY 1, 2 ORDER BY 1, 2"""


def _lang_pairwise(factory, reduce: str, cmp, schema: str, oracle: str):
    """``(query, oracle)`` comparing every pair of per-language token
    sketches with ``cmp``: one salted grouped build (``reduce`` is
    ``pre_distinct`` or ``pre_aggregate``), then a distributed pairwise
    compare, so no blob reaches the driver. Exact at
    ``k >= |union support|``."""
    def q(spark, sf_dir):
        grouped = build_grouped_sketches(_lang_tokens(spark, sf_dir),
                                         ["lang"], "kh", factory,
                                         salt_buckets=8, **{reduce: True})
        return (pairwise_grouped(grouped, cmp, schema, key_col="lang",
                                 n_groups_hint=8)
                .withColumnsRenamed({"key_a": "lang_a", "key_b": "lang_b"})
                .orderBy("lang_a", "lang_b"))
    return q, oracle


# the pair's intersection size in a _set_pairs_sql select list
_N_INTER = "COALESCE(i.n_inter, 0)"
_LANG_PAIRWISE = {
    # L15 counting bottom-k MinHash: weighted Jaccard of token multisets
    "wmh_weighted_jaccard_langs": _lang_pairwise(
        partial(CountingMinHash, 1 << 17), "pre_aggregate", _cmp_wjaccard,
        "wjaccard double", _weighted_pairs_sql()),
    # L14 bottom-k MinHash (mh.h:92-126): Jaccard of token sets
    "minhash_jaccard_langs": _lang_pairwise(
        partial(MinHashBottomK, 1 << 17), "pre_distinct", _cmp_mh_jaccard,
        "jaccard double", _set_pairs_sql(
            f"p.lang_a, p.lang_b, floor(({_N_INTER} * 1.0 / "
            f"(p.na + p.nb - {_N_INTER})) * 1e6) / 1e6 AS jaccard")),
    # bottom-k set algebra (Cohen & Kaplan subset-size estimation)
    "minhash_setdiff_langs": _lang_pairwise(
        partial(MinHashBottomK, 1 << 17), "pre_distinct", _cmp_mh_setdiff,
        "n_union bigint, n_inter bigint, n_only_a bigint, n_only_b bigint",
        _set_pairs_sql(
            "p.lang_a, p.lang_b, "
            f"CAST(p.na + p.nb - {_N_INTER} AS BIGINT) AS n_union, "
            f"CAST({_N_INTER} AS BIGINT) AS n_inter, "
            f"CAST(p.na - {_N_INTER} AS BIGINT) AS n_only_a, "
            f"CAST(p.nb - {_N_INTER} AS BIGINT) AS n_only_b")),
}


def _grouping_sets(shape: str, sets):
    """``(query, oracle)`` for ``GROUP BY {shape} (lang, source)`` over
    HLLs of distinct doc texts: the (lang, source) sketches come from
    ONE corpus scan, ``sets`` merges every coarser set from their blobs
    and the estimates are finalized distributed. Strict gate: exact
    distinct counts plus the 6-sigma ``within_bound`` flag."""
    def q(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        keys = ["lang", "source"]
        grouped = build_grouped_sketches(
            docs.select(*keys, F.xxhash64("text").alias("kh")), keys, "kh",
            partial(HyperLogLog, _HLL_P), pre_distinct=True)
        est = finalize_grouped(sets(grouped, keys), Q.hll_estimate,
                               "n_est", "double")
        exact = (getattr(docs, shape.lower())(*keys)
                 .agg(F.countDistinct("text").alias("n_distinct")))
        return (est.join(exact, [est[k].eqNullSafe(exact[k]) for k in keys])
                .select(*(est[k] for k in keys), exact["n_distinct"],
                        (F.abs(F.col("n_est") - F.col("n_distinct"))
                         <= F.lit(_HLL_BOUND) * F.col("n_distinct"))
                        .alias("within_bound"))
                .orderBy(*map(F.asc_nulls_first, keys)))
    return q, f"""
SELECT lang, source,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct,
       TRUE AS within_bound
FROM documents GROUP BY {shape} (lang, source)
ORDER BY lang NULLS FIRST, source NULLS FIRST"""


# merging child blobs, never rescanning the corpus, is valid because
# the HLL merge (register max) is order-independent
_GROUPING_SETS = {
    # hypertable rollup: lang level and grand total from the finest blobs
    "hll_rollup_docs": _grouping_sets("ROLLUP", rollup_grouped_sketches),
    # all 2^2 grouping sets, each merged from the finest blobs
    "hll_cube_docs": _grouping_sets("CUBE", cube_grouped_sketches),
}


def _fact_join(key: str, join, rows: str):
    """``(query, oracle)``: ``join(spark, lineitem, orders)`` aggregated
    to ``(key, n_rows, sum_qty)``, so every kept or dropped row counts.
    Each join is row-identical to the plain SQL join whose rows the
    DuckDB FROM clause ``rows`` gives."""
    def q(spark, sf_dir):
        j = join(spark, _t(spark, sf_dir, "lineitem"),
                 _t(spark, sf_dir, "orders"))
        return (j.groupBy(key)
                .agg(F.count("*").alias("n_rows"),
                     F.sum("l_quantity").alias("sum_qty"))
                .orderBy(key))
    return q, (f"SELECT {key}, CAST(COUNT(*) AS BIGINT) AS n_rows, "
               f"SUM(l_quantity) AS sum_qty FROM {rows} "
               f"GROUP BY {key} ORDER BY {key}")


def _with_f_orders(bloom_join):
    """``bloom_join`` of lineitem with the keys of status-'F' orders."""
    return lambda spark, li, od: bloom_join(
        spark, li, "l_orderkey", od.filter(F.col("o_orderstatus") == "F"),
        "o_orderkey", p=20)


_F_KEYS = "(SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')"
_FACT_JOINS = {
    # a broadcast Bloom blob drops non-members BEFORE the exchange
    # (matches + fp·non-matches shuffle, not the whole fact side); the
    # exact semi-join on the survivors removes the false positives
    "bloom_semijoin_lineitem": _fact_join(
        "l_returnflag", _with_f_orders(J.bloom_semi_join),
        f"lineitem WHERE l_orderkey IN {_F_KEYS}"),
    # the Bloom dual (orphans): a filter NO is definite, so most orphans
    # bypass the join with zero shuffle; only maybes (true members +
    # fp) take the exact anti-join
    "bloom_antijoin_lineitem": _fact_join(
        "l_returnflag", _with_f_orders(J.bloom_anti_join),
        f"lineitem WHERE l_orderkey NOT IN {_F_KEYS}"),
    # keys the library's Misra-Gries summary flags as hot take a
    # broadcast hash join (the skewed mass never shuffles), the rest the
    # shuffle join; any hot set is a pure partition of the key space
    "skew_join_priority": _fact_join(
        "o_orderpriority", lambda spark, li, od: J.skew_split_join(
            li.select("l_orderkey", "l_quantity"),
            od.select("o_orderkey", "o_orderpriority"),
            "l_orderkey", "o_orderkey", top_k=16, summary_k=1024),
        "lineitem JOIN orders ON l_orderkey = o_orderkey"),
}

_ROWS = {**_POINT_FREQ, **_CODEC_STATS, **_LANG_PAIRWISE, **_GROUPING_SETS,
         **_FACT_JOINS}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every driver query by name: the module's ``q_*`` functions plus
    the family rows."""
    qs = {n[2:]: f for n, f in globals().items() if n.startswith("q_")}
    qs.update((n, q) for n, (q, _) in _ROWS.items())
    return qs


def oracle_sql() -> dict[str, str]:
    sw = {
        "en": ["the", "a", "of", "and", "to", "in", "is"],
        "es": ["el", "la", "de", "que", "y", "en", "un"],
        "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
        "fr": ["le", "la", "de", "et", "un", "est", "que"],
    }
    langs = sorted(sw)

    def hits(lg):
        lst = ", ".join(f"'{w}'" for w in sw[lg])
        return ("len(list_filter(string_split_regex(lower(text), '\\s+'), "
                f"t -> list_contains([{lst}], t)))")

    lang_best = "greatest(" + ", ".join(f"hits_{lg}" for lg in langs) + ")"
    lang_pred = "CASE "
    for lg in langs:
        lang_pred += f"WHEN hits_{lg} = best AND best > 0 THEN '{lg}' "
    lang_pred += "ELSE 'und' END"

    def shingles_sql(base: str) -> str:
        return (
            "(SELECT doc_id, shingle FROM ("
            " SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS shingle"
            " FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+')"
            " AS toks"
            f"       FROM {base} d),"
            "      LATERAL (SELECT unnest(range(0, greatest(len(toks)-2, 0)))"
            "               AS i)"
            ") WHERE shingle <> '' GROUP BY doc_id, shingle)")

    shingle_sql = shingles_sql(_DUP_SQL)
    # the decontamination "benchmark": every 20th document
    bench_shingles = shingles_sql(
        "(SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0)")

    jaccard_core = f"""
WITH sh AS {shingle_sql},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       floor((inter * 1.0 / (sa.n_sh + sb.n_sh - inter)) * 1e6) / 1e6
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= {{thr}}
ORDER BY id_a, id_b"""

    def simhash_fp_sql(docs_sql: str) -> str:
        """Engine-portable md5 SimHash: identical per-bit majority-vote
        fingerprint as sketchlib.dedup.simhash (two 32-bit halves)."""
        vh = ", ".join(
            f"SUM(CASE WHEN (h_hi >> {j}) & 1 = 1 THEN 1 ELSE -1 END)"
            f" AS vh{j}" for j in range(32))
        vl = ", ".join(
            f"SUM(CASE WHEN (h_lo >> {j}) & 1 = 1 THEN 1 ELSE -1 END)"
            f" AS vl{j}" for j in range(32))
        fp_hi = " + ".join(
            f"(CASE WHEN vh{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(32))
        fp_lo = " + ".join(
            f"(CASE WHEN vl{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(32))
        return f"""
WITH tk AS (SELECT doc_id, t AS token FROM (SELECT doc_id,
  unnest(string_split_regex(lower(text), '\\s+')) AS t
  FROM {docs_sql} d) WHERE t <> ''),
h AS (SELECT doc_id,
  CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) AS h_hi,
  CAST(concat('0x', substr(md5(token), 9, 8)) AS BIGINT) AS h_lo
  FROM tk),
v AS (SELECT doc_id, {vh}, {vl} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, {fp_hi} AS fp_hi, {fp_lo} AS fp_lo FROM v)"""

    simhash_sql = (simhash_fp_sql("documents")
                   + " SELECT doc_id, fp_hi, fp_lo FROM fp ORDER BY doc_id")
    # brute-force pair scan is exactly equivalent to the 16-bit-chunk
    # pigeonhole blocking for hamming <= 3 (blocking has perfect recall)
    simhash_pairs_sql = (simhash_fp_sql(_DUP_SQL) + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo))
         AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.fp_hi, b.fp_hi))
      + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3
ORDER BY id_a, id_b""")

    # transitive closure of the (identical) SimHash pair graph via a
    # recursive CTE: reach(node, r) = r reaches node; component = the
    # minimum reaching id — the same labeling connected_components
    # produces. Exact because both engines compute the same pairs.
    dedup_clusters_sql = (
        simhash_fp_sql(_CLUSTER_SQL).replace("WITH tk", "WITH RECURSIVE tk", 1)
        + f""",
pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fp_hi, b.fp_hi))
        + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
nodes AS (SELECT doc_id AS node FROM {_CLUSTER_SQL} d),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node)
SELECT node AS doc_id, MIN(r) AS component,
       (node = MIN(r)) AS is_representative
FROM reach GROUP BY node ORDER BY doc_id""")

    # rolling width-10 token-window md5 spans over the dup corpus —
    # element-for-element sketchlib/spans.py (1-based inclusive DuckDB
    # slice == F.slice; start stays 0-based in both engines)
    _span_sql = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     x -> x <> '') AS tk
  FROM {_DUP_SQL} d),
spans AS (
  SELECT doc_id, i AS start,
         md5(array_to_string(tk[i+1:i+10], ' ')) AS span_hash
  FROM toks, UNNEST(range(len(tk) - 9)) AS t(i)
  WHERE len(tk) >= 10)"""

    def rank_quantile_sql(table: str, col: str) -> str:
        return f"""
WITH s AS (SELECT {col} AS v,
                  row_number() OVER (ORDER BY {col}) AS rn,
                  COUNT(*) OVER () AS n
           FROM {table}),
qs AS (SELECT unnest([{', '.join(str(q) for q in _QS)}]) AS q)
SELECT q, v AS value FROM qs JOIN s
  ON s.rn = CAST(ceil(q * s.n) AS BIGINT)
ORDER BY q"""

    quantile_sql = rank_quantile_sql("lineitem", "l_extendedprice")

    def cosine_topk_sql(where: str, n_q: int, sim: str,
                        copies: bool = False) -> str:
        """Exact dense-cosine top-5 of the first ``n_q`` vectors over the
        embeddings ``where`` selects, plus (``copies``) five power-of-two
        scaled copies of each of the first 10 vectors."""
        corpus = "base"
        if copies:
            corpus = """base UNION ALL
  SELECT 1000000 + b.vec_id * 10 + j AS vec_id,
         list_transform(v, x -> x * power(2.0, j)) AS v
  FROM base b, (SELECT unnest([1, 2, 3, 4, 5]) AS j) WHERE b.vec_id < 10"""
        return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings {where}),
corpus AS (SELECT * FROM {corpus}),
qs AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < {n_q}),
scored AS (
  SELECT query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(qv, c.v) AS sim
  FROM qs CROSS JOIN corpus c WHERE c.vec_id <> query_id),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, {sim} AS sim, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""

    ann_lsh_sql = cosine_topk_sql("", 10, "round(sim, 6)", copies=True)

    def quality_body(extra: str = "") -> str:
        """Quality-score SELECT over documents (shared by the
        quality_score and budget_select_docs oracles); ``extra``
        adds columns before quality_score."""
        return (
            "SELECT doc_id, n_tokens, " + extra +
            " floor((0.4 * (CASE WHEN n_tokens BETWEEN 5 AND 5000 "
            "                    THEN 1.0 ELSE 0.0 END)"
            "        + 0.3 * least((sw * 1.0 / n_tokens) * 10.0, 1.0)"
            "        + 0.3 * (n_alnum * 1.0 / n_chars)) * 1e6) / 1e6"
            "   AS quality_score "
            "FROM ("
            " SELECT doc_id, "
            "  len(list_filter(string_split_regex(lower(text), '\\s+'), "
            "      t -> t <> '')) AS n_tokens, "
            "  length(text) AS n_chars, "
            "  length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) "
            "    AS n_alnum, "
            + " + ".join(hits(lg) for lg in langs) + " AS sw "
            " FROM documents)")

    budget_select_sql = f"""
WITH scored AS ({quality_body()}),
c AS (SELECT doc_id, quality_score, n_tokens,
             SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id)
               AS cum_tokens
      FROM scored)
SELECT doc_id, quality_score, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM c WHERE cum_tokens <= 15000 ORDER BY doc_id"""

    # forward-decay weight (sketchlib/decay.py): 2^(8 - whole weeks
    # before the newest event), clamped into [1, 2^8]
    decay_w = ("CAST(pow(2, 8 - LEAST(8, GREATEST(0, CAST(floor("
               "date_diff('second', ts, (SELECT m FROM lm)) / 604800.0) "
               "AS INTEGER)))) AS BIGINT)")

    # per-doc md5 uni+bigram buckets, B=4096 (sketchlib/dsir.py)
    gram_buckets_sql = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x != '') AS toks
  FROM documents),
grams AS (
  SELECT doc_id, unnest(list_concat(
      toks,
      [toks[i] || ' ' || toks[i+1]
       for i in generate_series(1, len(toks) - 1)])) AS gram
  FROM toks),
feat AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(concat_ws(chr(31), '0', gram)),
                             1, 13)) AS BIGINT) % 4096 AS bucket
  FROM grams)"""

    emb_dup_pairs_sql = (
        f"WITH base AS {_EMB_DUP_SQL} "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        " round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim "
        "FROM base a JOIN base b ON a.vec_id < b.vec_id "
        "WHERE list_cosine_similarity(a.v, b.v) >= 0.99 "
        "ORDER BY id_a, id_b")

    multimodal_sql = """
WITH m AS (SELECT i,
                  CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                             ELSE 'video' END AS kind,
                  256 + (i * 37) % 256 AS L
           FROM range(300) t(i)),
b AS (SELECT m.i, m.kind, (m.i * 131 + ks.k * 17 + 42) % 256 AS byte
      FROM m, LATERAL (SELECT unnest(range(m.L)) AS k) ks),
s AS (SELECT i, kind, SUM(byte) AS fsum FROM b GROUP BY 1, 2)
SELECT kind, COUNT(*) AS n_media,
       ROUND(CAST(SUM(fsum) AS DOUBLE), 4) AS sum_features
FROM s GROUP BY kind ORDER BY kind"""

    return {
        **{n: sql for n, (_, sql) in _ROWS.items()},
        "profile_orders": ("""
WITH med AS (
  SELECT col_name, v AS p0_5 FROM (
    SELECT 'o_custkey' AS col_name, CAST(o_custkey AS DOUBLE) AS v,
           row_number() OVER (ORDER BY o_custkey) AS rn,
           COUNT(*) OVER () AS n
    FROM orders WHERE o_custkey IS NOT NULL
    UNION ALL
    SELECT 'o_totalprice', CAST(o_totalprice AS DOUBLE),
           row_number() OVER (ORDER BY o_totalprice),
           COUNT(*) OVER ()
    FROM orders WHERE o_totalprice IS NOT NULL)
  WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
prof AS (
  SELECT 'o_custkey' AS col_name, COUNT(o_custkey) AS n_values,
         COUNT(DISTINCT o_custkey) AS n_distinct,
         TRUE AS within_bound FROM orders
  UNION ALL
  SELECT 'o_totalprice', COUNT(o_totalprice),
         COUNT(DISTINCT o_totalprice), TRUE FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(o_orderstatus),
         COUNT(DISTINCT o_orderstatus), TRUE FROM orders)
SELECT p.col_name, p.n_values, p.n_distinct, p.within_bound, m.p0_5
FROM prof p LEFT JOIN med m USING (col_name)
ORDER BY p.col_name"""),
        "weighted_sample_orders": ("""
SELECT o_orderkey, o_totalprice FROM (
  SELECT o_orderkey, o_totalprice,
         ln((CAST(concat('0x', substr(md5(concat_ws(chr(31), '7',
                CAST(o_orderkey AS VARCHAR))), 1, 13)) AS BIGINT) + 0.5)
            / 4503599627370496.0) / o_totalprice AS p
  FROM orders)
ORDER BY p DESC, o_orderkey LIMIT 100"""),
        "domain_stats": ("""
WITH u AS (SELECT doc_id, text,
    'https://' || (['docs.example.com','www.example.com',
      'spam.example.com','news.site.co.uk','ads.site.co.uk',
      'blog.another.org','another.org'])[CAST(doc_id % 7 AS INT) + 1]
    || '/d/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents),
h AS (SELECT doc_id, text,
    regexp_replace(lower(regexp_extract(url,
        '""" + TS.URL_HOST_PATTERN + """', 1)), '^www\\.', '') AS host
  FROM u),
d AS (SELECT doc_id, text, host,
    CASE WHEN regexp_extract(host, '""" + TS.DOMAIN3_PATTERN + """', 1)
              <> '' THEN
           regexp_extract(host, '""" + TS.DOMAIN3_PATTERN + """', 1)
         WHEN regexp_extract(host, '""" + TS.DOMAIN2_PATTERN + """', 1)
              <> '' THEN
           regexp_extract(host, '""" + TS.DOMAIN2_PATTERN + """', 1)
         ELSE host END AS domain
  FROM h)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
FROM d WHERE domain NOT IN ('site.co.uk')
GROUP BY domain ORDER BY domain"""),
        "training_mix": ("""
WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
w AS (SELECT lang, power(n / SUM(n) OVER (), -0.5) AS wt FROM c),
k AS (SELECT d.doc_id, d.lang,
    ln((CAST(concat('0x', substr(md5(concat_ws(chr(31), '13',
          CAST(d.doc_id AS VARCHAR))), 1, 13)) AS BIGINT) + 0.5)
       / 4503599627370496.0) / wt AS p
  FROM documents d JOIN w USING (lang))
SELECT doc_id, lang FROM
  (SELECT doc_id, lang FROM k ORDER BY p DESC, doc_id LIMIT 400)
ORDER BY doc_id"""),
        "dsir_select": (gram_buckets_sql + """,
tc AS (SELECT bucket, COUNT(*) AS n FROM feat
       JOIN documents USING (doc_id) WHERE lang = 'en'
       GROUP BY bucket),
rc AS (SELECT bucket, COUNT(*) AS n FROM feat GROUP BY bucket),
nt AS (SELECT SUM(n) AS N FROM tc),
nr AS (SELECT SUM(n) AS N FROM rc),
ratio AS (
  SELECT COALESCE(tc.bucket, rc.bucket) AS bucket,
         COALESCE(ln((tc.n + 1.0) / ((SELECT N FROM nt) + 4096)),
                  ln(1.0 / ((SELECT N FROM nt) + 4096)))
       - COALESCE(ln((rc.n + 1.0) / ((SELECT N FROM nr) + 4096)),
                  ln(1.0 / ((SELECT N FROM nr) + 4096))) AS lr
  FROM tc FULL JOIN rc ON tc.bucket = rc.bucket),
scores AS (
  SELECT doc_id, SUM(lr) AS logw
  FROM feat JOIN ratio USING (bucket) GROUP BY doc_id),
sel AS (
  SELECT doc_id,
         logw - ln(-ln((CAST(concat('0x', substr(md5(concat_ws(
             chr(31), 'g0', CAST(doc_id AS VARCHAR))), 1, 13))
             AS BIGINT) + 0.5) / 4503599627370496.0)) AS sel_key
  FROM scores
  ORDER BY sel_key DESC, doc_id LIMIT 300)
SELECT d.doc_id, d.lang FROM documents d JOIN sel USING (doc_id)
ORDER BY d.doc_id"""),
        "lm_scores": (gram_buckets_sql + """,
rc AS (SELECT bucket, COUNT(*) AS n FROM feat GROUP BY bucket),
nr AS (SELECT SUM(n) AS nt FROM rc),
lp AS (SELECT bucket,
              ln((n + 1.0) / ((SELECT nt FROM nr) + 4096)) AS lp
       FROM rc)
SELECT doc_id, COUNT(*) AS n_grams,
       floor(AVG(l.lp) * 1e4) / 1e4 AS lm_score
FROM feat JOIN lp l USING (bucket)
GROUP BY doc_id ORDER BY doc_id"""),
        "pack_manifest": ("""
WITH t AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x != '')) AS ntok,
    CAST(concat('0x', substr(md5(concat_ws(chr(31), 'pack0',
        CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) AS k
  FROM documents),
o AS (SELECT doc_id, ntok,
             CAST(SUM(ntok) OVER (ORDER BY k, doc_id) - ntok
                  AS BIGINT) AS strt
      FROM t),
p AS (SELECT doc_id, ntok, strt,
             strt // 2048 AS f, (strt + ntok - 1) // 2048 AS l
      FROM o WHERE ntok > 0),
m AS (SELECT doc_id, ntok, strt,
             unnest(generate_series(f, l)) AS seq_id FROM p)
SELECT seq_id, doc_id, strt AS start,
       GREATEST(0, seq_id * 2048 - strt) AS tok_from,
       LEAST(ntok, (seq_id + 1) * 2048 - strt) AS tok_to
FROM m ORDER BY seq_id, doc_id"""),
        "fd_gram_embeddings": ("""
WITH q AS (SELECT list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> floor(x * 1000)) AS v
           FROM embeddings),
ij AS (SELECT a.i, b.j
       FROM (SELECT unnest(range(64)) AS i) a,
            (SELECT unnest(range(64)) AS j) b
       WHERE b.j >= a.i)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       SUM(v[i + 1] * v[j + 1]) AS g
FROM q, ij GROUP BY 1, 2 ORDER BY i, j"""),
        "fd_gram_per_label": ("""
WITH q AS (SELECT label,
                  list_transform(CAST(embedding AS DOUBLE[]),
                                 x -> floor(x * 1000)) AS v
           FROM embeddings)
SELECT label,
       SUM(list_sum(list_transform(v, x -> x * x))) AS tr,
       SUM(v[1] * v[2]) AS g01
FROM q GROUP BY label ORDER BY label"""),
        "curation_pipeline": ("""
WITH base AS (SELECT doc_id, lang, text FROM documents
              WHERE doc_id % 20 <> 0),
corpus AS (SELECT doc_id, lang, text FROM base
           UNION ALL
           SELECT doc_id + 1000000, lang, text FROM base
           WHERE doc_id % 10 = 0),
reps AS (SELECT md5(lower(text)) AS fp, MIN(doc_id) AS doc_id
         FROM corpus GROUP BY 1),
kept AS (SELECT c.* FROM corpus c
         JOIN reps r ON md5(lower(c.text)) = r.fp
                    AND c.doc_id = r.doc_id),
tsh AS """ + shingles_sql("kept") + """,
bsh AS (SELECT DISTINCT shingle FROM """ + bench_shingles + """ b),
flagged AS (SELECT doc_id FROM tsh JOIN bsh USING (shingle)
            GROUP BY doc_id HAVING COUNT(*) >= 5),
clean AS (SELECT * FROM kept
          WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
good AS (SELECT doc_id, lang,
    len(list_filter(string_split_regex(lower(text), '\\s+'),
                    t -> t <> '')) AS ntok
  FROM clean
  WHERE len(list_filter(string_split_regex(lower(text), '\\s+'),
                        t -> t <> '')) >= 5
    AND length(regexp_replace(lower(text), '[^\\p{L}\\p{N}]', '', 'g')) * 2
        >= length(text)),
gc AS (SELECT lang, COUNT(*) AS cnt FROM good GROUP BY lang),
gw AS (SELECT lang, power(cnt / SUM(cnt) OVER (), -0.5) AS wt FROM gc),
samp AS (SELECT g.doc_id, g.ntok FROM good g JOIN gw USING (lang)
  ORDER BY ln((CAST(concat('0x', substr(md5(concat_ws(chr(31), '13',
      CAST(g.doc_id AS VARCHAR))), 1, 13)) AS BIGINT) + 0.5)
      / 4503599627370496.0) / wt DESC, g.doc_id
  LIMIT 300),
o AS (SELECT doc_id, ntok,
    CAST(SUM(ntok) OVER (ORDER BY k, doc_id) - ntok AS BIGINT) AS strt
  FROM (SELECT doc_id, ntok,
          CAST(concat('0x', substr(md5(concat_ws(chr(31), 'pack13',
              CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) AS k
        FROM samp)),
p AS (SELECT doc_id, ntok, strt, strt // 512 AS f,
             (strt + ntok - 1) // 512 AS l FROM o WHERE ntok > 0),
m AS (SELECT doc_id, ntok, strt,
             unnest(generate_series(f, l)) AS seq_id FROM p)
SELECT seq_id, doc_id, strt AS start,
       GREATEST(0, seq_id * 512 - strt) AS tok_from,
       LEAST(ntok, (seq_id + 1) * 512 - strt) AS tok_to
FROM m ORDER BY seq_id, doc_id"""),
        "export_shards": ("""
WITH s AS (SELECT doc_id,
    CAST(concat('0x', substr(md5(concat_ws(chr(31), '42',
        CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) AS v
  FROM documents),
p AS (SELECT CAST(v % 8 AS INT) AS shard, doc_id,
    row_number() OVER (PARTITION BY CAST(v % 8 AS INT)
                       ORDER BY v, doc_id) AS pos
  FROM s)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pos * doc_id) AS BIGINT) AS pos_checksum
FROM p GROUP BY shard ORDER BY shard"""),
        "stratified_sample_events": ("""
SELECT event_type, event_id FROM (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY
           (CAST(concat('0x', substr(md5(concat_ws(chr(31), '11',
              CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) + 0.5)
           / 4503599627370496.0 DESC, event_id) AS rn
  FROM events)
WHERE rn <= 50 ORDER BY event_type, event_id"""),
        "join_size_countsketch": (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_join, "
            "TRUE AS within_bound FROM orders "
            "JOIN events ON o_custkey = user_id"),
        "decayed_quantiles_value": (f"""
WITH lm AS (SELECT MAX(ts) AS m FROM events),
base AS (SELECT CAST(value AS DOUBLE) AS v,
                {decay_w} AS w
        FROM events),
agg AS (SELECT v, SUM(w) AS w FROM base GROUP BY v),
cum AS (SELECT v, SUM(w) OVER (ORDER BY v) AS cw FROM agg),
tot AS (SELECT SUM(w) AS W FROM base),
qs AS (SELECT unnest([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS q)
SELECT q, MIN(v) AS value, TRUE AS within_bound
FROM qs, cum, tot
WHERE cw >= CAST(ceil(q * W) AS BIGINT)
GROUP BY q ORDER BY q"""),
        "decayed_top_users_per_type": (f"""
WITH lm AS (SELECT MAX(ts) AS m FROM events),
dc AS (SELECT event_type, user_id,
              CAST(SUM({decay_w}) AS BIGINT) AS w
       FROM events GROUP BY 1, 2),
rk AS (SELECT event_type, user_id, w,
              ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY w DESC, user_id) AS rk
       FROM dc)
SELECT event_type, user_id, w AS decayed_count_scaled,
       CAST(rk AS INT) AS rk
FROM rk WHERE rk <= 5 ORDER BY event_type, rk"""),
        "decayed_sample_events": (f"""
WITH lm AS (SELECT MAX(ts) AS m FROM events),
base AS (
  SELECT event_id,
         {decay_w} AS w
  FROM events)
SELECT event_id, w FROM (
  SELECT event_id, w,
         ln((CAST(concat('0x', substr(md5(concat_ws(chr(31), '11',
                CAST(event_id AS VARCHAR))), 1, 13)) AS BIGINT) + 0.5)
            / 4503599627370496.0) / w AS p
  FROM base)
ORDER BY p DESC, event_id LIMIT 100"""),
        "decayed_top_users": (f"""
WITH lm AS (SELECT MAX(ts) AS m FROM events),
dc AS (SELECT user_id AS key,
              CAST(SUM({decay_w}) AS BIGINT) AS decayed_count_scaled
       FROM events GROUP BY user_id),
rk AS (SELECT key, decayed_count_scaled,
              ROW_NUMBER() OVER (ORDER BY decayed_count_scaled DESC,
                                 key) AS rk
       FROM dc)
SELECT key, decayed_count_scaled, CAST(rk AS INT) AS rk
FROM rk WHERE rk <= 10 ORDER BY rk"""),
        "cm_decayed_user_freq": (f"""
WITH lm AS (SELECT MAX(ts) AS m FROM events)
SELECT user_id AS key,
       CAST(SUM({decay_w}) AS BIGINT) AS decayed_count_scaled
FROM events GROUP BY user_id ORDER BY key"""),
        "event_trigrams": ("""
WITH lagged AS (
  SELECT lag(event_type, 2) OVER w AS s0,
         lag(event_type, 1) OVER w AS s1,
         event_type AS s2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT s0, s1, s2, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM lagged WHERE s0 IS NOT NULL AND s1 IS NOT NULL
GROUP BY s0, s1, s2 ORDER BY s0, s1, s2"""),
        "event_transitions": ("""
WITH lagged AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_state,
         event_type AS state
  FROM events),
c AS (SELECT prev_state, state, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM lagged WHERE prev_state IS NOT NULL
      GROUP BY prev_state, state)
SELECT prev_state, state, n_transitions,
       n_transitions / SUM(n_transitions)
         OVER (PARTITION BY prev_state) AS prob
FROM c ORDER BY prev_state, state"""),
        "range_buckets_per_type": ("""
WITH s AS (SELECT event_type, value AS v,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value) AS rn,
                  COUNT(*) OVER (PARTITION BY event_type) AS n
           FROM events),
qs AS (SELECT unnest([0.25, 0.5, 0.75]) AS q),
bounds AS (SELECT s.event_type, s.v AS b FROM qs JOIN s
             ON s.rn = CAST(ceil(q * s.n) AS BIGINT))
SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM (SELECT t.event_type,
             CASE WHEN t.v IS NULL THEN NULL
                  ELSE CAST((SELECT COUNT(*) FROM bounds b
                             WHERE b.event_type = t.event_type
                               AND t.v > b.b) AS BIGINT)
             END AS bucket
      FROM (SELECT event_type, value AS v FROM events) t)
GROUP BY event_type, bucket ORDER BY event_type, bucket"""),
        "range_buckets_price": ("""
WITH s AS (SELECT l_extendedprice AS v,
                  row_number() OVER (ORDER BY l_extendedprice) AS rn,
                  COUNT(*) OVER () AS n
           FROM lineitem),
qs AS (SELECT unnest([0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS q),
bounds AS (SELECT v AS b FROM qs JOIN s
             ON s.rn = CAST(ceil(q * s.n) AS BIGINT))
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM (SELECT CAST((SELECT COUNT(*) FROM bounds WHERE t.v > b) AS BIGINT)
               AS bucket
      FROM (SELECT l_extendedprice AS v FROM lineitem) t)
GROUP BY bucket ORDER BY bucket"""),
        "range_join_ship_window": ("""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       SUM(l_quantity) AS sum_qty
FROM orders o JOIN lineitem l
  ON l.l_orderkey = o.o_orderkey
 AND l.l_shipdate >= o.o_orderdate
 AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY
GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
        "asof_join_error_click": ("""
SELECT e.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_errors,
       CAST(COUNT(c.ts) AS BIGINT) AS n_matched,
       CAST(COALESCE(SUM(epoch_us(e.ts) - epoch_us(c.ts)), 0)
            AS BIGINT) AS sum_gap_us
FROM (SELECT user_id, ts FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN
     (SELECT user_id, ts FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id AND e.ts >= c.ts
GROUP BY e.user_id ORDER BY e.user_id"""),
        "incremental_cm_user_freq": (
            "SELECT event_type, user_id, COUNT(*) AS est_count "
            "FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
        "timetravel_cm_user_freq": (
            "SELECT event_type, user_id, COUNT(*) AS est_count "
            "FROM events WHERE event_id % 2 = 0 "
            "GROUP BY 1, 2 ORDER BY 1, 2"),
        "budget_select_docs": budget_select_sql,
        "bm25_topk_docs": (f"""
WITH toks AS (SELECT doc_id, token FROM {_TOKENS_SQL} t),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
tf AS (SELECT doc_id, token, COUNT(*) AS tfc FROM toks
       WHERE token IN ('hash', 'join', 'filter') GROUP BY 1, 2),
dft AS (SELECT token, COUNT(DISTINCT doc_id) AS dft FROM tf GROUP BY 1),
stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
sc AS (SELECT tf.doc_id,
              SUM(ln(1 + (s.n - d.dft + 0.5) / (d.dft + 0.5))
                  * tf.tfc * (1.2 + 1)
                  / (tf.tfc + 1.2 * (1 - 0.75
                                     + 0.75 * dl.dl / s.avgdl))) AS score
       FROM tf JOIN dl USING (doc_id) JOIN dft d USING (token)
            CROSS JOIN stats s
       GROUP BY 1)
SELECT doc_id, FLOOR(score * 1e4) / 1e4 AS score
FROM sc ORDER BY 2 DESC, 1 LIMIT 20"""),
        "heavy_hitter_tokens": (
            f"SELECT token, COUNT(*) AS cnt FROM {_TOKENS_SQL} tk "
            "GROUP BY token ORDER BY cnt DESC, token ASC LIMIT 20"),
        "mg_top_tokens_per_lang": f"""
WITH tc AS (SELECT d.lang, t.token, COUNT(*) AS cnt
            FROM {_TOKENS_SQL} t JOIN documents d USING (doc_id)
            GROUP BY 1, 2),
rk AS (SELECT lang, token, cnt,
              ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY cnt DESC, token) AS rk
       FROM tc)
SELECT lang, token, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS INT) AS rk
FROM rk WHERE rk <= 5 ORDER BY lang, rk""",
        "heavy_hitter_events_hk": (
            "SELECT CAST(CAST(floor(sqrt(event_id)) AS BIGINT) AS VARCHAR) "
            "AS key, COUNT(*) AS cnt FROM events "
            "GROUP BY 1 ORDER BY cnt DESC, key ASC LIMIT 20"),
        "filterhll_repeated_shingles": (
            "SELECT COUNT(*) AS n_repeated, TRUE AS within_bound FROM ("
            f" SELECT shingle FROM {shingles_sql('documents')} sh"
            "  GROUP BY shingle HAVING COUNT(*) >= 2)"),
        "cm_intersect_user_freq": """
SELECT user_id AS key,
       CAST(least(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END),
                  sum(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END))
            AS BIGINT) AS est_count
FROM events GROUP BY 1 ORDER BY 1""",
        "cm_drift_user_freq": """
SELECT * FROM (
  SELECT user_id AS key,
         CAST(sum(CASE WHEN date_part('day', ts) <= 15
                       THEN 1 ELSE 0 END) AS BIGINT) AS cnt_old,
         CAST(sum(CASE WHEN date_part('day', ts) > 15
                       THEN 1 ELSE 0 END) AS BIGINT) AS cnt_new,
         CAST(sum(CASE WHEN date_part('day', ts) > 15 THEN 1 ELSE 0 END)
              - sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END)
              AS BIGINT) AS delta
  FROM events GROUP BY 1)
WHERE abs(delta) >= 3 ORDER BY key""",
        "kll_ks_drift_langs": """
WITH v AS (SELECT lang, CAST(length(text) AS DOUBLE) AS v FROM documents),
langs AS (SELECT DISTINCT lang FROM v WHERE lang <> 'en'),
u AS (SELECT l.lang AS lang, x.v,
             SUM(CASE WHEN x.lang = 'en' THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN x.lang = l.lang THEN 1 ELSE 0 END) AS cb
      FROM langs l JOIN v x ON x.lang IN ('en', l.lang)
      GROUP BY 1, 2),
c AS (SELECT lang, v,
             SUM(ca) OVER (PARTITION BY lang ORDER BY v) AS cuma,
             SUM(cb) OVER (PARTITION BY lang ORDER BY v) AS cumb
      FROM u),
t AS (SELECT lang, MAX(cuma) AS na, MAX(cumb) AS nb FROM c GROUP BY 1)
SELECT c.lang,
       floor(MAX(ABS(c.cuma * 1.0 / t.na - c.cumb * 1.0 / t.nb)) * 1e6)
         / 1e6 AS ks
FROM c JOIN t USING (lang)
GROUP BY 1 ORDER BY 1""",
        "psi_value_drift": """
WITH v AS (SELECT CAST(value AS DOUBLE) AS v,
                  date_part('day', ts) <= 15 AS old FROM events),
o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v WHERE old),
n AS (SELECT COUNT(*) AS c FROM v WHERE old),
edges AS (SELECT o.v AS e
          FROM range(1, 10) t(i) CROSS JOIN n
          JOIN o ON o.rn = GREATEST(
              1, CAST(ceil((t.i / 10.0) * n.c) AS BIGINT))),
agg AS (SELECT bucket,
               SUM(CASE WHEN old THEN 1 ELSE 0 END) AS co,
               SUM(CASE WHEN NOT old THEN 1 ELSE 0 END) AS cn
        FROM (SELECT (SELECT COUNT(*) FROM edges WHERE e < v.v) AS bucket,
                     old
              FROM v)
        GROUP BY 1)
SELECT CAST(t.i AS INT) AS bucket,
       CAST(COALESCE(a.co, 0) AS BIGINT) AS cnt_old,
       CAST(COALESCE(a.cn, 0) AS BIGINT) AS cnt_new
FROM range(0, 10) t(i) LEFT JOIN agg a ON a.bucket = t.i
ORDER BY 1""",
        "bloom_xor_custkeys": """
SELECT o_custkey,
       ((o_custkey IN (SELECT c_custkey FROM customer
                       WHERE c_acctbal > 5000))
        <> (o_custkey IN (SELECT c_custkey FROM customer
                          WHERE c_nationkey < 12))) AS exact_xor,
       TRUE AS agree
FROM (SELECT DISTINCT o_custkey FROM orders ORDER BY o_custkey LIMIT 500)
ORDER BY o_custkey""",
        "hll_setops_langs": _set_pairs_sql(
            f"p.lang_a, p.lang_b, p.na + p.nb - {_N_INTER} AS n_union, "
            f"TRUE AS union_ok, {_N_INTER} AS n_inter, TRUE AS inter_ok"),
        "kll_quantiles_per_lang": f"""
WITH s AS (SELECT lang, CAST(length(text) AS DOUBLE) AS v,
                  row_number() OVER (PARTITION BY lang
                                     ORDER BY length(text)) AS rn,
                  COUNT(*) OVER (PARTITION BY lang) AS n
           FROM documents),
qs AS (SELECT unnest([{', '.join(str(q) for q in _QS)}]) AS q)
SELECT lang, q, v AS value FROM qs JOIN s
  ON s.rn = CAST(ceil(q * s.n) AS BIGINT)
ORDER BY lang, q""",
        "distinct_tokens_per_lang": (
            "SELECT d.lang, COUNT(DISTINCT tk.token) AS n_distinct "
            f"FROM {_TOKENS_SQL} tk JOIN documents d USING (doc_id) "
            "GROUP BY d.lang ORDER BY d.lang"),
        "vac_user_spectrum": """
WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
layers AS (SELECT unnest(range(0, 8)) AS layer)
SELECT c.user_id AS key, CAST(l.layer AS INT) AS layer,
       CAST(c.cnt >> l.layer AS BIGINT) AS est_count
FROM c CROSS JOIN layers l ORDER BY key, layer""",
        "swcm_recent_user_freq": """
WITH ordered AS (SELECT user_id, row_number() OVER
                   (ORDER BY ts DESC, event_id DESC) AS rn FROM events),
w AS (SELECT user_id, COUNT(*) AS cnt FROM ordered
      WHERE rn <= 4096 GROUP BY 1)
SELECT u.user_id AS key, CAST(COALESCE(w.cnt, 0) AS BIGINT) AS est_count
FROM (SELECT DISTINCT user_id FROM events) u
LEFT JOIN w USING (user_id) ORDER BY key""",
        "cardinality_siblings_shingles": (
            "SELECT v.estimator, n.n AS n_distinct, TRUE AS within_bound "
            "FROM (SELECT COUNT(DISTINCT shingle) AS n FROM "
            f"{shingles_sql('documents')} sh) n "
            "CROSS JOIN (VALUES ('hyperbitbit'), ('modsketch'), ('pcsa'), "
            "('setsketch')) AS v(estimator) ORDER BY v.estimator"),
        "setsim_siblings_langs": _set_pairs_sql(
            f"v.estimator, p.lang_a, p.lang_b, "
            f"CAST({_N_INTER} AS BIGINT) AS n_inter, "
            f"CAST(p.na + p.nb - {_N_INTER} AS BIGINT) AS n_union, "
            "TRUE AS within_bound",
            sets=("SELECT DISTINCT d.lang, s.shingle FROM "
                  f"{shingles_sql('documents')} s "
                  "JOIN documents d USING (doc_id)"),
            item="shingle",
            tail=("CROSS JOIN (VALUES ('hyperminhash'), ('onepermminhash'))"
                  " AS v(estimator)\nORDER BY v.estimator, p.lang_a, "
                  "p.lang_b")),
        "cws_weighted_sim_langs": _weighted_pairs_sql(
            ", TRUE AS within_bound"),
        "rnla_dot_embeddings": """
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 6)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       floor(list_inner_product(a.v, b.v) * 1e6) / 1e6 AS dot,
       TRUE AS within_bound
FROM base a JOIN base b ON a.vec_id < b.vec_id ORDER BY id_a, id_b""",
        "estimate_quality_cbf": """
WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS t
           FROM events GROUP BY 1),
e AS (SELECT CAST(t AS DOUBLE) AS t,
             CAST(power(2, CAST(floor(log2(t)) AS INT)) AS DOUBLE) AS est
      FROM c),
r AS (SELECT t, est,
             rank() OVER (ORDER BY t)
               + (COUNT(*) OVER (PARTITION BY t) - 1) / 2.0 AS rt,
             rank() OVER (ORDER BY est)
               + (COUNT(*) OVER (PARTITION BY est) - 1) / 2.0 AS re
      FROM e)
SELECT COUNT(*) AS n,
       CAST(SUM(CASE WHEN t > est THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       floor(sqrt(AVG((est - t) * (est - t))) * 1e6) / 1e6 AS rmse,
       floor(corr(rt, re) * 1e6) / 1e6 AS spearman
FROM r""",
        "bloom_member_custkeys": (
            "SELECT o_custkey, o_custkey IN "
            " (SELECT c_custkey FROM customer WHERE c_acctbal > 5000) "
            " AS maybe_member "
            "FROM (SELECT DISTINCT o_custkey FROM orders "
            "      ORDER BY o_custkey LIMIT 500) "
            "ORDER BY o_custkey"),
        "kll_quantiles_price": quantile_sql,
        "ddsketch_quantiles_price": (
            "SELECT q, value, TRUE AS within_bound FROM ("
            + rank_quantile_sql("lineitem", "l_extendedprice")
            + ") ORDER BY q"),
        "tdigest_quantiles_value": rank_quantile_sql("events", "value"),
        "hll_distinct_tokens": (
            f"SELECT COUNT(DISTINCT token) AS n_distinct, TRUE AS "
            f"within_bound FROM {_TOKENS_SQL} tk"),
        "hll_distinct_per_lang": (
            "SELECT d.lang, COUNT(DISTINCT tk.token) AS n_distinct, "
            "TRUE AS within_bound "
            f"FROM {_TOKENS_SQL} tk JOIN documents d USING (doc_id) "
            "GROUP BY d.lang ORDER BY d.lang"),
        "ann_lsh_topk": ann_lsh_sql,
        # identical exact-top-k oracle: the IVF query uses the same
        # recall-guaranteed scaled-copy corpus, so the true top-5 is
        # the same and the oracle SQL is shared verbatim
        "ann_ivf_topk": ann_lsh_sql,
        "multimodal_features": multimodal_sql,
        "dedup_exact": (
            "SELECT md5(lower(text)) AS fingerprint, COUNT(*) AS n_dups, "
            f"MIN(doc_id) AS min_id FROM {_DUP_SQL} d "
            "GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fingerprint"),
        "dedup_minhash": jaccard_core.format(thr=0.9),
        # delta run == full recompute on the appended corpus restricted
        # to pairs touching a new doc; delta ids re-key at +1e9 (above
        # every sf's historical id range — sf1 ids reach ~9e6)
        "dedup_minhash_delta": jaccard_core.replace(
            _DUP_SQL, _DUP_SQL.replace("1000000", "1000000000")
        ).format(thr=0.9).replace(
            "ORDER BY id_a, id_b",
            "  AND (id_a >= 1000000000 OR id_b >= 1000000000)\n"
            "ORDER BY id_a, id_b"),
        "simhash_fingerprints": simhash_sql,
        "simhash_near_pairs": simhash_pairs_sql,
        "dedup_clusters": dedup_clusters_sql,
        "decontam_ngram_overlap": f"""
WITH tsh AS {shingles_sql(
    "(SELECT doc_id, text FROM documents WHERE doc_id % 20 <> 0)")},
bsh AS (SELECT DISTINCT shingle FROM {bench_shingles} b),
agg AS (
  SELECT t.doc_id, COUNT(*) AS n_shingles,
         SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM tsh t LEFT JOIN bsh b USING (shingle)
  GROUP BY t.doc_id)
SELECT doc_id, n_shingles, CAST(n_hit AS BIGINT) AS n_hit,
       floor(n_hit * 1e6 / n_shingles) / 1e6 AS overlap_frac
FROM agg WHERE n_hit >= 5 ORDER BY doc_id""",
        "dup_spans": _span_sql + """
SELECT span_hash, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS first_doc
FROM spans GROUP BY span_hash HAVING COUNT(*) >= 2
ORDER BY span_hash""",
        "dup_span_coverage": _span_sql + """,
dup AS (SELECT span_hash FROM spans GROUP BY span_hash
        HAVING COUNT(*) >= 2),
-- DISTINCT: duplicate (doc_id, start) rows would make ORDER BY start
-- a non-total order, and ROWS frames over ties are implementation-
-- defined (observed run-to-run drift in this engine at sf1)
hits AS (SELECT DISTINCT s.doc_id, s.start, s.start + 10 AS e
         FROM spans s JOIN dup USING (span_hash)),
marked AS (
  SELECT doc_id, start, e,
         MAX(e) OVER (PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING) AS prev_max
  FROM hits),
isl AS (
  SELECT doc_id, start, e,
         SUM(CASE WHEN prev_max IS NULL OR start > prev_max
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY start
                 ROWS UNBOUNDED PRECEDING) AS island
  FROM marked),
grp AS (SELECT doc_id, island, MIN(start) AS s, MAX(e) AS e2
        FROM isl GROUP BY doc_id, island),
cov AS (SELECT doc_id, SUM(e2 - s) AS covered FROM grp GROUP BY doc_id)
SELECT c.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
       CAST(c.covered AS BIGINT) AS covered,
       floor(c.covered * 1000000 / len(t.tk)) / 1000000.0
         AS coverage_frac
FROM cov c JOIN toks t USING (doc_id) ORDER BY c.doc_id""",
        # the LSH scale path has recall 1.0 on the scaled copies
        "dedup_embedding": emb_dup_pairs_sql,
        "dedup_embedding_lsh": emb_dup_pairs_sql,
        "semdedup": f"""
WITH RECURSIVE raw AS {_EMB_DUP_SQL},
base AS (SELECT vec_id, CAST((vec_id % 1000000) % 8 AS INT) AS cluster,
                v AS vec FROM raw),
pairs AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM base a JOIN base b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.vec, b.vec) >= 0.99),
edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM base
  UNION
  SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.node),
comp AS (SELECT node AS vec_id, MIN(r) AS component
         FROM reach GROUP BY node)
SELECT b.vec_id, b.cluster, c.component,
       (b.vec_id = c.component) AS keep
FROM base b JOIN comp c USING (vec_id) ORDER BY vec_id""",
        "dedup_ngram_jaccard": jaccard_core.format(thr=0.6),
        # IVF-PQ: lossless-PQ regime + recall-guaranteed copies (see
        # q_ann_ivfpq_topk) make the exact dense-cosine top-5 a strict
        # gate at nprobe=1 — the genuinely approximate probe regime
        "ann_ivfpq_topk": cosine_topk_sql("WHERE vec_id < 78", 10,
                                          "round(sim, 6)", copies=True),
        # PQ runs in its exact regime (corpus == kcent, lossless codes,
        # ADC == exact cosine — see q_ann_pq_topk), so the oracle is
        # plain dense cosine top-k over the same 128-vector corpus
        "ann_pq_topk": cosine_topk_sql("WHERE vec_id < 128", 8,
                                       "floor(sim * 1e6) / 1e6"),
        "ann_cosine_topk": cosine_topk_sql("", 10, "floor(sim * 1e6) / 1e6"),
        "lang_id": (
            "SELECT doc_id, " + lang_pred + " AS pred_lang, "
            "best AS stopword_hits FROM ("
            " SELECT doc_id, " + ", ".join(f"hits_{lg}" for lg in langs)
            + ", " + lang_best + " AS best FROM ("
            "  SELECT doc_id, "
            + ", ".join(f"{hits(lg)} AS hits_{lg}" for lg in langs)
            + "  FROM documents)) ORDER BY doc_id"),
        "token_stats": (
            "SELECT doc_id, "
            "len(list_filter(string_split_regex(lower(text), '\\s+'), "
            "    t -> t <> '')) AS n_tokens, "
            "len(regexp_extract_all(lower(text), "
            "    '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_pieces, "
            "length(text) AS n_chars "
            "FROM documents ORDER BY doc_id"),
        "quality_score": (
            quality_body(
                " floor(((n_chars - (n_tokens - 1)) * 1.0 / n_tokens) * 1e6)"
                " / 1e6 AS mean_token_len, "
                " floor((sw * 1.0 / n_tokens) * 1e6) / 1e6 AS stopword_ratio, "
                " floor((n_alnum * 1.0 / n_chars) * 1e6) / 1e6"
                " AS alnum_ratio, ")
            + " ORDER BY doc_id"),
        "doc_fingerprints": (
            "SELECT doc_id, md5(lower(text)) AS md5_fp "
            "FROM documents ORDER BY doc_id"),
        "repetition_stats": """
WITH c AS (SELECT doc_id,
    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || text
         ELSE text END AS text
  FROM documents),
base AS (SELECT doc_id,
    string_split(text, chr(10)) AS lines,
    length(text) AS n_chars,
    list_filter(string_split_regex(lower(text), '\\s+'),
                x -> x <> '') AS toks
  FROM c),
g2 AS (SELECT doc_id, array_to_string(toks[i+1:i+2], ' ') AS g
       FROM base, LATERAL (SELECT unnest(range(0,
            greatest(len(toks)-1, 0))) AS i)),
g3 AS (SELECT doc_id, array_to_string(toks[i+1:i+3], ' ') AS g
       FROM base, LATERAL (SELECT unnest(range(0,
            greatest(len(toks)-2, 0))) AS i)),
d2 AS (SELECT doc_id, SUM(cnt * length(g)) AS dup_chars FROM
       (SELECT doc_id, g, COUNT(*) AS cnt FROM g2
        GROUP BY doc_id, g HAVING COUNT(*) >= 2) GROUP BY doc_id),
d3 AS (SELECT doc_id, SUM(cnt * length(g)) AS dup_chars FROM
       (SELECT doc_id, g, COUNT(*) AS cnt FROM g3
        GROUP BY doc_id, g HAVING COUNT(*) >= 2) GROUP BY doc_id),
l AS (SELECT doc_id, n_chars,
    len(lines) AS nl, len(list_distinct(lines)) AS nd,
    list_aggregate(list_transform(lines, x -> length(x)), 'sum') AS lc,
    list_aggregate(list_transform(list_distinct(lines),
                                  x -> length(x)), 'sum') AS dc
  FROM base)
SELECT l.doc_id,
  floor(((nl - nd) / nl) * 1e6) / 1e6 AS dup_line_frac,
  CASE WHEN lc > 0 THEN floor(((lc - dc) / lc) * 1e6) / 1e6
       ELSE 0.0 END AS dup_line_char_frac,
  CASE WHEN n_chars > 0 THEN
    floor(least(coalesce(d2.dup_chars, 0) / n_chars, 1.0) * 1e6) / 1e6
    ELSE 0.0 END AS dup_2gram_char_frac,
  CASE WHEN n_chars > 0 THEN
    floor(least(coalesce(d3.dup_chars, 0) / n_chars, 1.0) * 1e6) / 1e6
    ELSE 0.0 END AS dup_3gram_char_frac
FROM l LEFT JOIN d2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
ORDER BY doc_id""",
        "pii_scan": ("""
WITH c AS (SELECT doc_id, text
    || CASE WHEN doc_id % 7 = 0
            THEN ' contact user' || doc_id || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' call +1 555 010 9999'
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN ' host 192.168.0.1 up'
            ELSE '' END AS text
  FROM documents),
r AS (SELECT doc_id,
    len(regexp_extract_all(text, '""" + TS.PII_PATTERNS["email"]
                     + """')) AS n_email,
    len(regexp_extract_all(text, '""" + TS.PII_PATTERNS["ipv4"]
                     + """')) AS n_ipv4,
    len(regexp_extract_all(text, '""" + TS.PII_PATTERNS["phone"]
                     + """')) AS n_phone,
    regexp_replace(regexp_replace(regexp_replace(text,
      '""" + TS.PII_PATTERNS["email"] + """', '<EMAIL>', 'g'),
      '""" + TS.PII_PATTERNS["ipv4"] + """', '<IPV4>', 'g'),
      '""" + TS.PII_PATTERNS["phone"] + """', '<PHONE>', 'g') AS red
  FROM c)
SELECT doc_id, n_email, n_ipv4, n_phone,
  (n_email + n_ipv4 + n_phone) > 0 AS has_pii,
  md5(red) AS redacted_md5
FROM r ORDER BY doc_id"""),
        "pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2))
                   - CAST(l_discount AS DECIMAL(18,2)))
                AS DECIMAL(24,4))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= '2001-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
        "top_customers_window": """
WITH spend AS (SELECT o_custkey,
                      sum(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
               FROM orders GROUP BY o_custkey),
j AS (SELECT c.c_nationkey, c.c_custkey, s.spend,
             row_number() OVER (PARTITION BY c.c_nationkey
                                ORDER BY s.spend DESC, c.c_custkey ASC)
               AS rnk
      FROM customer c JOIN spend s ON c.c_custkey = s.o_custkey)
SELECT c_nationkey, c_custkey, CAST(spend AS DOUBLE) AS spend, rnk FROM j
WHERE rnk <= 3 ORDER BY c_nationkey, rnk""",
        "user_sessions": """
WITH w AS (SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS prev_ts
           FROM events)
SELECT user_id,
       CAST(sum(CASE WHEN prev_ts IS NULL
                 OR date_diff('second', prev_ts, ts) > 1800
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM w GROUP BY user_id ORDER BY user_id""",
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: token heavy-hitters with conservative-CM
    estimates over the documents corpus — exercises tokenize -> build
    -> merge -> probe -> verify end-to-end (SURVEY.md §7.6)."""
    sf = "/root/testdata/sf0.001"
    docs = _t(spark, sf, "documents")
    toks = D.normalized_tokens(docs)
    hh = Q.heavy_hitters(toks, "token", 25)
    cfg = CMConfig(np_bits=18, nh=5, seed=137, conservative=True)
    est = Q.cm_point_frequency(spark, toks, "token", cfg)
    return (hh.join(est, hh.token == est.key)
            .select("token", "cnt", "est_count")
            .orderBy(F.col("cnt").desc(), F.col("token").asc()))
