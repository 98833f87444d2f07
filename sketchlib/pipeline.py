"""End-to-end training-data curation pipeline: the composition every
LLM data team runs between a raw crawl and the data loader, expressed
as ONE lazy Spark plan over the library's own operators:

    exact dedup  ->  benchmark decontamination  ->  quality filter
      ->  temperature mixture sample  ->  sequence packing

Each stage is an already-oracle-gated sketchlib operator; composing
them proves the operators actually chain (column contracts line up,
only the two fan-out points persist — see :func:`curate`) and gives
the driver contract a single strict gate over the WHOLE pipeline:
every stage is md5-derived / integer-exact, so DuckDB recomputes the
final loader manifest byte-for-byte.

Scale shape: dedup is one fingerprint aggregation + semi-join;
decontam is the Bloom-prefilter path (benchmark side compresses to a
fixed-size blob, the training corpus never shuffles); the quality
filter is a narrow integer-exact predicate (no floats near a
threshold); the mixture sample plans as TakeOrderedAndProject (per-
task top-k heaps); packing shuffles only the (id, n_tokens) skinny
table. The corpus itself crosses an exchange exactly once (the dedup
fingerprint aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sketchlib.decontam import contamination
from sketchlib.export import temperature_sample
from sketchlib.packing import pack_manifest
from sketchlib.tokenize import split_words

__all__ = ["exact_dedup_keep", "quality_keep", "curate"]


def exact_dedup_keep(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of every exact-duplicate group
    (fingerprint = md5 of lowercased text). One hash aggregation down
    to |distinct texts| rows + a semi-join back — the standard
    keep-one exact-dedup step."""
    fp = F.md5(F.lower(F.col(text_col)))
    with_fp = docs.withColumn("__fp", fp)
    reps = with_fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return with_fp.join(reps, ["__fp", id_col], "left_semi").drop("__fp")


def quality_keep(docs: DataFrame, text_col: str = "text",
                 min_tokens: int = 5) -> DataFrame:
    """Integer-exact quality predicate: at least ``min_tokens``
    whitespace tokens and an alphanumeric-character majority
    (2 * n_alnum >= n_chars). Alphanumeric means the UNICODE letter /
    digit classes, not ASCII [a-z0-9] — an ASCII class silently drops
    every Cyrillic/CJK/Arabic document, emptying exactly the language
    groups the downstream temperature mixture is meant to up-weight.
    Deliberately integer arithmetic only — a float score compared
    against a threshold is not engine-portable at the boundary;
    integer comparisons are exact everywhere (both Spark's Java regex
    and DuckDB's RE2 support \\p{L} / \\p{N})."""
    toks = split_words(text_col)
    n_alnum = F.length(F.regexp_replace(F.lower(F.col(text_col)),
                                        r"[^\p{L}\p{N}]", ""))
    return docs.filter((F.size(toks) >= min_tokens)
                       & (n_alnum * 2 >= F.length(text_col)))


def curate(docs: DataFrame, bench: DataFrame, k: int, max_len: int,
           alpha: float = 0.5, seed: int = 13, min_overlap: int = 5,
           id_col: str = "doc_id", text_col: str = "text",
           group_col: str = "lang") -> DataFrame:
    """Run the full curation pipeline; returns the loader manifest
    ``(seq_id, id, start, tok_from, tok_to)`` over the k sampled
    documents.

    Execution is partially eager by design — the Bloom build, the
    packing offset totals, and the fan-out materialization below each
    run Spark jobs inside this call; the returned manifest itself is
    lazy. Two fan-out points are persisted: ``kept`` feeds both the
    decontam shingle scan and the anti-join (without the persist the
    dedup aggregation + semi-join run twice), and the skinny ``good``
    projection feeds the mixture-weight counts, the sample, and the
    packing scans. ``kept`` (full survivor rows incl. text) is
    UNPERSISTED before returning — materializing ``good`` first makes
    it no longer needed — so only the (id, group, n_tokens) skinny
    cache outlives the call, released when the caller unpersists it
    or the session ends."""
    kept = exact_dedup_keep(docs, id_col, text_col).persist()
    flagged = contamination(kept, bench, n=3, min_overlap=min_overlap,
                            method="bloom", id_col=id_col,
                            text_col=text_col).select(id_col)
    clean = kept.join(F.broadcast(flagged), id_col, "left_anti")
    ntok = F.size(split_words(text_col))
    good = (quality_keep(clean, text_col)
            .select(id_col, group_col, ntok.alias("n_tokens"))
            .persist())
    good.count()  # materialize the skinny fan-out; kept is now done
    kept.unpersist()
    sample = temperature_sample(good, group_col, k, [id_col],
                                alpha=alpha, seed=seed)
    return pack_manifest(sample.select(id_col, "n_tokens"), max_len,
                         id_col=id_col, seed=seed)
