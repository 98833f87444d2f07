"""DSIR-style data selection: hashed n-gram importance resampling.

Selecting pre-training data that "looks like" a high-quality target
corpus is a standard step in large-scale pipelines. This module
implements Data Selection with Importance Resampling (Xie et al.,
"Data Selection for Language Models via Importance Resampling",
NeurIPS 2023) in its hashed n-gram form:

1. featurize every document into hashed uni+bigram buckets,
2. fit two add-one-smoothed bucket unigram models — p_target over a
   (small) target corpus and p_raw over the raw corpus,
3. score each raw document with the log importance weight
   ``log w(x) = sum_b n_b(x) * (log p_target[b] - log p_raw[b])``,
4. resample k documents via the Gumbel top-k trick, which draws
   exactly proportional-to-w without replacement.

Engine-portable determinism (same recipe as :mod:`sketchlib.sampling`):
the bucket hash and the Gumbel uniforms are md5-derived, so the
featurization, the fitted models, the scores, and the SAMPLE are pure
functions of (corpus, seed) that DuckDB recomputes bit-for-bit modulo
float-sum rounding — the driver query is gated on the selected ids.

Scale shape (the 100 TB view):
- featurize = one scan, explode to (doc, bucket) with whole-stage
  codegen expressions only (split / transform / md5 / conv);
- each model = one map-side-combined aggregation down to B rows
  (B = 2^12 by default — KBs, not MBs);
- scoring = codegen ``element_at`` lookup into the B-element
  log-ratio array literal + one map-side-combined sum per doc: the
  only shuffle is (doc_id, partial-sum) pairs — no join at all;
- selection = TakeOrderedAndProject (per-task top-k heaps), no
  corpus shuffle, no Python anywhere.

The reference has no analog (its corpora fit one machine); the
operator family matches SURVEY.md §2.3's "beyond the reference"
pipeline set alongside dedup / decontam / mixture sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sketchlib.tokenize import split_words

__all__ = ["ngram_buckets", "importance_scores", "dsir_select",
           "lm_scores"]

_SEP = "\x1f"  # unit separator; DuckDB spells it chr(31)
_TWO52 = float(1 << 52)


def _md5_u52(col) -> F.Column:
    """52-bit integer from md5 — exact in IEEE754 double, identical
    in Spark and DuckDB (same construction as sketchlib.sampling)."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def ngram_buckets(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n_buckets: int = 4096,
                  seed: int = 0) -> DataFrame:
    """(id, bucket) — one row per uni/bigram OCCURRENCE (multiplicity
    kept: the model is fit on counts, per the paper). Bigrams are
    built with the same guarded index-sequence trick as
    sketchlib.dedup.shingles; the bucket is md5-derived so the
    featurization is engine-portable."""
    toks = df.select(
        id_col,
        split_words(text_col).alias("toks"))
    big_idx = F.when(
        F.size("toks") >= 2,
        F.sequence(F.lit(0), F.size("toks") - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        id_col,
        F.explode(F.concat(
            F.col("toks"),
            F.transform(big_idx,
                        lambda i: F.concat_ws(
                            " ", F.element_at("toks", i + 1),
                            F.element_at("toks", i + 2)))
        )).alias("gram"))
    b = _md5_u52(F.concat_ws(_SEP, F.lit(str(seed)), F.col("gram")))
    return grams.select(id_col,
                        (b % F.lit(n_buckets)).cast("int")
                        .alias("bucket"))


def _smoothed_log_probs(kv: dict, n_buckets: int) -> list:
    """Dense add-one-smoothed bucket log-probability vector
    ``lp[b] = log((n_b + 1) / (N + B))`` from a {bucket: count} dict —
    the ONE place the smoothing formula lives (shared by the
    importance-ratio fit and the LM-score fit)."""
    import math

    n_total = sum(kv.values())
    return [math.log((kv.get(b, 0) + 1.0) / (n_total + n_buckets))
            for b in range(n_buckets)]


def _log_ratio(feat_t: DataFrame, feat_r: DataFrame,
               n_buckets: int) -> list:
    """Driver-side dense log-ratio vector
    ``lr[b] = log p_target[b] - log p_raw[b]`` (both add-one
    smoothed). Both fits run as ONE map-side-combined aggregation
    over a source-tagged union (one job, not two sequential ones;
    on a cluster the two corpus scans share a single stage); only
    <= 2B (src, bucket, count) rows reach the driver — B is a fixed
    hyper-parameter (KBs), independent of corpus size."""
    both = feat_t.select(F.lit(0).alias("src"), "bucket").unionByName(
        feat_r.select(F.lit(1).alias("src"), "bucket"))
    rows = (both.groupBy("src", "bucket")
            .agg(F.count("*").alias("n")).collect())
    out = [_smoothed_log_probs(
        {r["bucket"]: r["n"] for r in rows if r["src"] == src},
        n_buckets) for src in (0, 1)]
    return [t - r for t, r in zip(out[0], out[1])]


def importance_scores(raw: DataFrame, target: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n_buckets: int = 4096, seed: int = 0) -> DataFrame:
    """(id, logw) — per-raw-document log importance weight under the
    hashed n-gram bigram models. Three corpus scans total (target
    fit, raw fit, raw score), each collapsing map-side; the score
    scan looks the log-ratio up in a B-element array LITERAL
    (whole-stage codegen ``element_at``) — no join, nothing but
    (doc_id, partial sum) pairs ever shuffle. Docs with zero
    features (empty text) carry no weight mass and are absent."""
    rawf = ngram_buckets(raw, id_col, text_col, n_buckets, seed)
    tgtf = ngram_buckets(target, id_col, text_col, n_buckets, seed)
    lr = _log_ratio(tgtf, rawf, n_buckets)
    lr_col = F.element_at(F.lit(lr), F.col("bucket") + 1)
    return (rawf.select(id_col, lr_col.alias("lr"))
            .groupBy(id_col).agg(F.sum("lr").alias("logw")))


def lm_scores(docs: DataFrame, model: DataFrame | None = None,
              id_col: str = "doc_id", text_col: str = "text",
              n_buckets: int = 4096, seed: int = 0) -> DataFrame:
    """CCNet-style LM quality proxy (Wenzek et al., LREC 2020 score
    documents with a reference LM and filter/bucket by perplexity —
    here with the hashed n-gram bucket unigram model standing in for
    the Kneser-Ney LM): ``(id, n_grams, lm_score)`` where lm_score is
    the per-doc MEAN log-probability of its uni+bigram buckets under
    the model corpus (``model=None`` fits on ``docs`` itself), i.e. a
    negative-cross-entropy; higher = more typical text. Same plan
    shape as :func:`importance_scores`: one B-row fit + one scoring
    scan with a codegen ``element_at`` lookup, no join. The score is
    floored to 1e-4 so the strict gate is robust to last-ulp
    summation-order differences between engines (the per-bucket logs
    themselves are bit-identical: both engines call the same libm)."""
    feat = ngram_buckets(docs, id_col, text_col, n_buckets, seed)
    mfeat = (feat if model is None
             else ngram_buckets(model, id_col, text_col,
                                n_buckets, seed))
    kv = dict(mfeat.groupBy("bucket")
              .agg(F.count("*").alias("n")).collect())
    lp = _smoothed_log_probs(kv, n_buckets)
    lp_col = F.element_at(F.lit(lp), F.col("bucket") + 1)
    return (feat.select(id_col, lp_col.alias("lp"))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_grams"),
                 (F.floor(F.avg("lp") * 1e4) / 1e4).alias("lm_score")))


def dsir_select(raw: DataFrame, target: DataFrame, k: int,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = 4096, seed: int = 0,
                gumbel: bool = True) -> DataFrame:
    """Select k raw documents by importance resampling. ``gumbel=True``
    is the paper's sampler (inclusion probability exactly proportional
    to w, without replacement, via key = logw + Gumbel(md5-u)); False
    degrades to deterministic top-k by weight. Plans as
    TakeOrderedAndProject over the score join — no corpus shuffle."""
    scores = importance_scores(raw, target, id_col, text_col,
                               n_buckets, seed)
    if gumbel:
        h = _md5_u52(F.concat_ws(_SEP, F.lit(f"g{seed}"),
                                 F.col(id_col).cast("string")))
        u = (h.cast("double") + F.lit(0.5)) / F.lit(_TWO52)
        key = F.col("logw") - F.log(-F.log(u))
    else:
        key = F.col("logw")
    sel = (scores.withColumn("sel_key", key)
           .orderBy(F.desc("sel_key"), F.asc(id_col))
           .limit(k))
    return raw.join(sel, id_col).drop("sel_key")
