"""Benchmark decontamination: flag training documents whose n-gram
shingles overlap an evaluation/benchmark corpus.

This is the eval-overlap filtering step every large-scale training-data
pipeline runs before pretraining (GPT-3 Appendix C's 13-gram overlap
removal; Llama 2's token-overlap contamination analysis): given a
training corpus and the text of the benchmarks you will evaluate on,
remove (or at least flag) training documents that contain benchmark
n-grams, so downstream eval numbers measure generalization rather than
memorization.

Semantics: a training document's *overlap count* is the number of its
DISTINCT n-token shingles that appear anywhere in the benchmark corpus;
it is *contaminated* when that count reaches ``min_overlap``. Both the
count and the overlap fraction (count / distinct shingles in the doc)
are reported, so callers can threshold either way.

Scale architecture (100 TB training corpus, benchmark suite MBs-GBs):

- The asymmetry is the whole design: the benchmark side is ~10 orders
  of magnitude smaller than the training side. The benchmark shingle
  set (or a Bloom filter over it) broadcasts; the training corpus is
  scanned ONCE and never shuffles on the text — the only aggregation
  is the per-doc hit count, which partial-aggregates map-side.
- ``method="exact"``: broadcast hash join of training shingle hashes
  against the distinct benchmark shingle-hash set. Right whenever the
  benchmark shingle set fits the broadcast budget (8 bytes/shingle —
  hundreds of millions of shingles fit in a few GB).
- ``method="bloom"``: bounded-memory variant for oversized benchmark
  suites. A Bloom filter over benchmark shingle hashes (fixed 2^p bits
  regardless of benchmark size) broadcasts; an Arrow-batch probe
  prefilters training shingles, docs whose *maybe*-hit count reaches
  ``min_overlap`` become candidates, and an exact verify join
  restricted to candidate docs removes Bloom false positives (the
  verify join's strategy is left to the planner — the benchmark set
  is by assumption too big to force-broadcast here, and the candidate
  side has already been cut to the contamination-suspect sliver).
  Bloom filters have NO false negatives, so the candidate set is a
  superset of the truth and the verified output is EXACT — identical
  to ``method="exact"`` (tests/test_decontam.py asserts this with a
  deliberately undersized, FP-heavy filter).

Reference framing: the reference library answers membership with bf.h
Bloom filters (include/bf.h:318-366 insert/query); this operator is
that membership primitive applied to the decontamination join, with
the exact-verify step making the approximate structure exact.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, functions as F

from sketchlib.dedup import shingles


def benchmark_shingle_set(bench: DataFrame, n: int = 3,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Distinct 64-bit shingle hashes of the benchmark corpus: one
    column ``sh64``. Small by construction (eval suites), so callers
    broadcast it."""
    return (shingles(bench, n=n, id_col=id_col, text_col=text_col,
                     hashed=True)
            .select("sh64").distinct())


def _doc_overlap(tsh: DataFrame, bset: DataFrame, id_col: str,
                 broadcast_bench: bool = True) -> DataFrame:
    """Per-doc (n_shingles, n_hit) from a (id, sh64) training shingle
    stream and the benchmark shingle set — one scan, one
    partial-aggregating groupBy. ``broadcast_bench=False`` leaves the
    join strategy to the planner (the bloom path exists precisely for
    benchmark sets too large to broadcast, so its verify join must not
    force a broadcast of the full set — AQE still broadcasts it when
    it does fit)."""
    marked = bset.withColumn("__hit", F.lit(1))
    if broadcast_bench:
        marked = F.broadcast(marked)
    ann = (tsh.join(marked, "sh64", "left")
              .select(id_col, F.coalesce("__hit", F.lit(0)).alias("hit")))
    return (ann.groupBy(id_col)
               .agg(F.count("*").alias("n_shingles"),
                    F.sum("hit").alias("n_hit")))


def contamination(train: DataFrame, bench: DataFrame, n: int = 3,
                  min_overlap: int = 1, method: str = "exact",
                  bloom_p: int = 22, bloom_nh: int = 6,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Contaminated training docs: ``(id, n_shingles, n_hit,
    overlap_frac)`` for every training document sharing at least
    ``min_overlap`` distinct n-gram shingles with the benchmark corpus.

    Exact under both methods (see module docstring); ``overlap_frac``
    is floored to 1e-6 so the value is engine-portable bit-for-bit.
    Documents shorter than ``n`` tokens have no shingles and cannot be
    flagged.
    """
    if method not in ("exact", "bloom"):
        raise ValueError(f"unknown method {method!r}")
    tsh = shingles(train, n=n, id_col=id_col, text_col=text_col,
                   hashed=True)
    bset = benchmark_shingle_set(bench, n=n, id_col=id_col,
                                 text_col=text_col)

    if method == "bloom":
        from sketchlib.aggregate import build_sketch
        from sketchlib.queries import probe
        from sketchlib.sketches.bloom import BloomFilter

        bf = build_sketch(bset, "sh64", partial(BloomFilter, bloom_p,
                                                bloom_nh))
        maybe = probe(train.sparkSession, bf, "sh64", "contains", "boolean")
        # prefilter: candidate docs by MAYBE-hit count (superset of the
        # truth — no false negatives); clean docs exit before any join
        cand = (tsh.withColumn("maybe", maybe)
                   .groupBy(id_col)
                   .agg(F.sum(F.col("maybe").cast("int")).alias("m"))
                   .filter(F.col("m") >= min_overlap)
                   .select(id_col))
        tsh = tsh.join(F.broadcast(cand), id_col, "left_semi")

    agg = _doc_overlap(tsh, bset, id_col,
                       broadcast_bench=(method == "exact"))
    return (agg.filter(F.col("n_hit") >= min_overlap)
               .select(id_col,
                       "n_shingles",
                       "n_hit",
                       (F.floor(F.col("n_hit") * 1e6 /
                                F.col("n_shingles")) / 1e6)
                       .alias("overlap_frac")))
