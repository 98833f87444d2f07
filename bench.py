"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "throughput": {...},
   "window": {...host-window probe evidence...}}

The sketch-build throughput entries are the numbers comparable to the
reference's single-thread build (BASELINE.md: ~2.5 M updates/s for the
conservative CM count pass); ours is measured over the same kind of
update stream but built distributed.

Host window: this sandbox is a shared VM whose effective CPU can
drift minute-to-minute without load-average evidence
(BENCH/BASELINE.md). The harness runs the tools/host_health.py probe
BEFORE the suite (waiting, bounded, for a clean window) and AFTER it,
and ships both verdicts in the JSON so a reader can see whether the
number comes from a clean window. Every timing is one run: nothing is
retried or re-run to keep the better value. Disable the probe with
SKETCHLIB_BENCH_GATE=0.
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import partial

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

# the headline driver-contract query subset (sized for sf0.1)
SUITE = [
    "cm_event_type_freq", "cm_conservative_user_freq",
    "occm_user_freq", "heavy_hitter_tokens",
    "heavy_hitter_events_hk", "mg_top_tokens_per_lang",
    "cm_intersect_user_freq",
    "cm_drift_user_freq", "kll_ks_drift_langs", "psi_value_drift",
    "cm_decayed_user_freq", "decayed_top_users",
    "decayed_top_users_per_type", "decayed_quantiles_value",
    "cbf_user_freq", "cml_user_freq", "cs4w_user_freq",
    "cmm_user_freq",
    "wmh_weighted_jaccard_langs", "filterhll_repeated_shingles",
    "pcbf_user_freq", "vac_user_spectrum",
    "swcm_recent_user_freq", "cardinality_siblings_shingles",
    "setsim_siblings_langs", "cws_weighted_sim_langs",
    "rnla_dot_embeddings", "fd_gram_embeddings", "fd_gram_per_label",
    "estimate_quality_cbf",
    "hll_distinct_tokens", "hll_setops_langs",
    "minhash_jaccard_langs", "minhash_setdiff_langs",
    "bloom_xor_custkeys",
    "kll_quantiles_price", "kll_quantiles_per_lang",
    "ddsketch_quantiles_price",
    "tdigest_quantiles_value", "dedup_exact", "dedup_minhash",
    "dedup_minhash_delta",
    "dedup_embedding_lsh", "dedup_clusters", "semdedup",
    "decontam_ngram_overlap",
    "dup_spans", "dup_span_coverage",
    "simhash_fingerprints",
    "countsketch_event_freq", "ann_cosine_topk", "ann_lsh_topk",
    "ann_ivf_topk", "ann_pq_topk", "ann_ivfpq_topk",
    "lang_id", "quality_score", "repetition_stats",
    "pii_scan", "domain_stats", "training_mix", "dsir_select", "lm_scores",
    "pack_manifest", "curation_pipeline",
    "export_shards", "multimodal_features",
    "multimodal_wav_stats", "cs_fold_event_freq",
    "cm_packed_user_freq", "multimodal_bmp_stats",
    "multimodal_png_stats", "multimodal_gif_stats",
    "multimodal_jpeg_stats", "multimodal_flac_stats",
    "bm25_topk_docs", "budget_select_docs",
    "pricing_summary", "top_customers_window",
    "user_sessions", "profile_orders",
    "weighted_sample_orders", "stratified_sample_events",
    "decayed_sample_events",
    "join_size_countsketch", "bloom_semijoin_lineitem",
    "bloom_antijoin_lineitem",
    "skew_join_priority", "range_buckets_price",
    "range_buckets_per_type",
    "event_transitions", "event_trigrams",
    "asof_join_error_click", "hll_rollup_docs",
    "range_join_ship_window",
]


def _timed(fn, *args, **kwargs) -> float:
    t0 = time.time()
    fn(*args, **kwargs)
    return time.time() - t0


def _probe():
    """Host-window health probe (tools/host_health.py). Returns the
    machine-readable verdict dict, or None if the probe is unavailable
    (never let evidence collection break the measurement)."""
    try:
        sys.path.insert(0, os.path.join(_HERE, "tools"))
        import host_health
        return host_health.probe()
    except Exception as exc:  # pragma: no cover
        print(f"  window probe unavailable: {exc}", file=sys.stderr)
        return None


def _query_suite(spark, sf_dir: str, qs) -> dict[str, float]:
    """One timed pass over the headline queries."""
    timings: dict[str, float] = {}
    for name in SUITE:
        t0 = time.time()
        n = qs[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        print(f"  {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        assert n >= 0
    return timings


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]
    gate = os.environ.get("SKETCHLIB_BENCH_GATE", "1") != "0"

    window: dict = {"gated": gate}
    if gate:
        # wait (bounded) for a clean window before measuring anything
        for attempt in range(4):
            before = _probe()
            window["before"] = before
            if before is None or before["clean"]:
                break
            print(f"  window degraded (r1={before['r1']} "
                  f"r8={before['r8']}), waiting 45s "
                  f"(attempt {attempt + 1}/4)", file=sys.stderr)
            time.sleep(45)

    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from sketchlib.aggregate import build_sketch
    from sketchlib.offline import build_offline
    from sketchlib.session import get_spark
    from sketchlib.sketches.cm import CMConfig, CountMin
    from sketchlib.synth import transcripts
    from sketchlib.tokenize import transcript_tokens

    spark = get_spark("sketchlib-bench", cpus=cpus,
                      shuffle_partitions=max(cpus, 16))
    spark.sparkContext.setLogLevel("ERROR")

    throughput: dict[str, float] = {}

    # untimed warm-up: JVM codegen JIT + Python worker pool spin-up,
    # so the first timed query doesn't absorb session start-up cost
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    from sketchlib import dedup as _D
    _D.normalized_tokens(
        spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    ).groupBy("token").count().count()
    # ...and the Arrow/Python-worker paths the sketch kernels use.
    # Each mapInPandas/applyInPandas shape spawns its own Python worker
    # chain on first use (~0.5 s/worker x up-to-cpus workers of module
    # imports); paying that here keeps the timed entries measuring the
    # engine, not interpreter start-up — exactly what a long-lived
    # cluster amortizes away.
    _tiny = (spark.read.parquet(f"{sf_dir}/events.parquet").limit(64)
             .select(F.xxhash64("event_type").alias("kh")))
    build_sketch(_tiny, "kh", partial(CountMin, CMConfig(8, 3, 1, True)),
                 pre_aggregate=True)
    from sketchlib.aggregate import build_grouped_sketches, build_sketches
    from sketchlib.sketches.pcsa import PCSA
    build_sketches(_tiny, "kh", {"pcsa": partial(PCSA, 16)})
    build_grouped_sketches(
        _tiny.withColumn("g", F.lit("w")), ["g"], "kh",
        partial(PCSA, 16), salt_buckets=2).count()

    # ---- headline driver-contract queries, window-certified ----------
    timings = _query_suite(spark, sf_dir, E.queries())
    if gate:
        window["after"] = _probe()

    # ---- sketch-build throughput over synthetic transcripts ----------
    n_convs = int(os.environ.get("SKETCHLIB_BENCH_CONVS", "60000"))
    tdf = transcripts(spark, n_convs, seed=42,
                      partitions=max(cpus, 16)).cache()
    n_turns = tdf.count()  # materialize outside the timed window
    toks = transcript_tokens(tdf).cache()
    n_updates = toks.count()

    cfg = CMConfig(np_bits=20, nh=7, seed=137, conservative=True)
    t0 = time.time()
    sk = build_sketch(toks, "token_u64", partial(CountMin, cfg),
                      pre_aggregate=True)
    dt = time.time() - t0
    timings["cm_build_transcripts"] = round(dt, 3)
    throughput["turns_per_sec"] = round(n_turns / dt, 1)
    throughput["cm_updates_per_sec"] = round(n_updates / dt, 1)
    throughput["n_turns"] = n_turns
    throughput["n_updates"] = n_updates

    # ---- CM point-query epsilon-bound pass rate (the other half of
    # BASELINE.json's metric). Published guarantee (Cormode &
    # Muthukrishnan 2005): est >= true always (one-sided), and
    # Pr[est - true > (e/w)*N] <= e^-depth. Checked distributed over
    # EVERY distinct token: exact counts from a Tungsten hash agg,
    # estimates from the broadcast sketch, bound flags aggregated
    # JVM-side — no row ever reaches the driver.
    import math

    from sketchlib.queries import _estimate_col

    truth = toks.groupBy("token_u64").agg(
        F.count(F.lit(1)).alias("true_count"))
    eps_n = math.ceil(math.e * n_updates / (1 << cfg.np_bits))
    flags = _estimate_col(spark, sk, truth, "token_u64").agg(
        F.sum((F.col("est_count") >= F.col("true_count"))
              .cast("long")).alias("one_sided_ok"),
        F.sum((F.col("est_count") - F.col("true_count") <= F.lit(eps_n))
              .cast("long")).alias("within_bound"),
        F.count(F.lit(1)).alias("n_keys")).collect()[0]
    throughput["cm_epsilon_bound_pass_rate"] = round(
        flags["within_bound"] / flags["n_keys"], 6)
    throughput["cm_one_sided_pass_rate"] = round(
        flags["one_sided_ok"] / flags["n_keys"], 6)
    throughput["cm_probe_keys"] = flags["n_keys"]
    # delta = e^-nh ~ 0.09%: the pass rate must clear 1 - delta
    assert throughput["cm_one_sided_pass_rate"] == 1.0
    assert throughput["cm_epsilon_bound_pass_rate"] >= \
        1.0 - math.e ** (-cfg.nh)

    # payload-op leg: per-conversation stats over the same cached
    # transcripts (one hash agg + distinct-tool layer, JVM-side)
    from sketchlib.convstats import conversation_stats
    t0 = time.time()
    n_convs_out = conversation_stats(tdf).count()
    timings["conv_stats_transcripts"] = round(time.time() - t0, 3)
    assert n_convs_out == n_convs

    # Spark-path throughput (local_threshold=0 disables the
    # small-key-space driver-local shortcut, so the rounds run in Spark
    # tasks: one task for all rounds when the key table fits one task)
    dto = _timed(build_offline, toks, "token_u64", cfg, 3,
                 pre_aggregate=True, local_threshold=0)
    timings["occm_build_transcripts_3r"] = round(dto, 3)
    throughput["occm_updates_per_sec_per_pass"] = round(
        3 * n_updates / dto, 1)
    # adaptive path (what a user actually gets at this key count)
    timings["occm_build_adaptive"] = round(
        _timed(build_offline, toks, "token_u64", cfg, 3,
               pre_aggregate=True), 3)

    tdf.unpersist()
    toks.unpersist()
    spark.stop()

    out = {
        "metric": "headline query suite + CM sketch-build throughput",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": cpus,
        "throughput": throughput,
        "window": window,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
