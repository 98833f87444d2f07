"""Substring-level (span) duplication detection — the signal behind
exact-substring training-data dedup (Lee et al. 2021, "Deduplicating
Training Data Makes Language Models Better", arXiv:2107.06499).

The reference pipeline there builds a single-machine suffix array; the
distributed analog used at corpus scale is rolling fixed-width token
windows hashed and counted — any substring of >= width duplicated
tokens is caught by at least one duplicated window, so width-w window
counting has perfect recall for duplicated runs >= w tokens (and by
construction finds nothing shorter). This module implements that
analog Spark-first:

- window hashing is ONE Arrow-batched kernel (``mapInPandas``) that
  md5-hashes byte slices of the space-rejoined token stream — a
  narrow map over the scan, O(tokens) per document, emitting exactly
  one (16-byte hash, int) row per token position. The pure-Catalyst
  formulation (md5 o concat_ws o slice inside an array transform)
  re-evaluated the token split per window element after projection
  collapse and ran ~7x slower at sf0.1;
- the duplicate count is one hash aggregation keyed by a uniform
  128-bit hash — no skew salting needed;
- per-doc coverage marks duplicated windows with a window COUNT over
  span_hash (one shuffle — no groupBy + join back, which would
  recompute or re-shuffle the span stream a second time), then merges
  intervals with the gaps-and-islands trick partitioned BY DOC, so
  window state is bounded by document length, never corpus length;
- md5 is the fingerprint so a SQL engine (the DuckDB oracle)
  reproduces hashes bit-for-bit: the hashed bytes are exactly
  ``" ".join(tokens[i:i+w])`` with tokens = lowercased text split on
  whitespace, empties dropped.

At 100 TB the driver never sees row data; every stage is a narrow map
or a single keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sketchlib.tokenize import split_words

TOKEN_SPLIT = r"\s+"


def span_hashes(docs: DataFrame, width: int = 10,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """``(id, start, span_hash)`` — md5 hex of every width-token
    window (space-rejoined), one row per 0-based start position.
    Documents shorter than ``width`` tokens (or with NULL text) emit
    nothing.

    The kernel hashes byte slices of one pre-joined token stream per
    doc (token-boundary offsets precomputed), so each window costs one
    md5 over ~window bytes — no per-window string rebuilds, no
    re-tokenization."""
    w = int(width)

    def kernel(it):
        import hashlib
        import re

        import pandas as pd
        ws = re.compile(TOKEN_SPLIT)
        for pdf in it:
            ids, starts, hashes = [], [], []
            for doc, text in zip(pdf[id_col].to_numpy(), pdf[text_col]):
                if not text:
                    continue
                toks = [t for t in ws.split(text.lower()) if t]
                n = len(toks)
                if n < w:
                    continue
                joined = " ".join(toks).encode()
                offs = [0]
                for t in toks:
                    offs.append(offs[-1] + len(t.encode()) + 1)
                for i in range(n - w + 1):
                    ids.append(doc)
                    starts.append(i)
                    hashes.append(hashlib.md5(
                        joined[offs[i]:offs[i + w] - 1]).hexdigest())
            yield pd.DataFrame({id_col: ids, "start": starts,
                                "span_hash": hashes})

    return (docs.select(id_col, text_col)
            .mapInPandas(kernel,
                         f"{id_col} long, start int, span_hash string"))


def duplicated_spans(docs: DataFrame, width: int = 10,
                     min_count: int = 2, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Span-level duplicate table: every width-token window occurring
    at least ``min_count`` times corpus-wide (within-doc repeats
    count), with occurrence / distinct-doc counts and the minimum
    holding doc. One shuffle: the hash aggregation on span_hash."""
    return (span_hashes(docs, width, id_col, text_col)
            .groupBy("span_hash")
            .agg(F.count("*").alias("n_occurrences"),
                 F.countDistinct(id_col).alias("n_docs"),
                 F.min(id_col).alias("first_doc"))
            .filter(F.col("n_occurrences") >= min_count))


def span_dup_coverage(docs: DataFrame, width: int = 10,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document duplicated-substring coverage: the fraction of
    token positions lying inside at least one corpus-duplicated
    width-token window — THE drop/trim signal of substring-level
    dedup (Lee et al. 2021 cut any duplicated substring; pipelines
    since filter on coverage fraction).

    Plan: span kernel (one row/token) -> duplicated-window mark via
    COUNT over a span_hash window (single shuffle; a groupBy + join
    back would shuffle the stream twice) -> per-doc interval union
    via gaps-and-islands (window partitioned by doc: running max of
    interval end, new island when a start clears it) -> one sum per
    doc. Returns ``(id, n_tokens, covered, coverage_frac)`` for
    covered docs; frac is floor(1e6*covered/n_tokens)/1e6 so any SQL
    engine reproduces the rounding exactly."""
    spans = span_hashes(docs, width, id_col, text_col)
    # DISTINCT before the island window is a CORRECTNESS requirement,
    # not an optimization: duplicate (id, start) rows (e.g. two docs
    # sharing an id after a corpus union, each with a duplicated
    # window at the same position) make ORDER BY start a non-total
    # order, and a ROWS frame over a non-total order is
    # implementation-defined in every engine — DuckDB's parallel
    # window produced run-to-run different covered sums on exactly
    # this shape at sf1 (round-5 gate). Distinct intervals restore a
    # total order per doc; a duplicate interval adds nothing to the
    # union anyway.
    hits = (spans
            .withColumn("cnt", F.count("*").over(
                Window.partitionBy("span_hash")))
            .filter(F.col("cnt") >= 2)
            .select(id_col, "start",
                    (F.col("start") + width).alias("end"))
            .distinct())

    w = Window.partitionBy(id_col).orderBy("start")
    prev_max = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    island = F.sum(
        F.when(prev_max.isNull() | (F.col("start") > prev_max), 1)
        .otherwise(0)).over(w.rowsBetween(Window.unboundedPreceding, 0))
    covered = (hits.withColumn("island", island)
               .groupBy(id_col, "island")
               .agg(F.min("start").alias("s"), F.max("end").alias("e"))
               .groupBy(id_col)
               .agg(F.sum(F.col("e") - F.col("s")).alias("covered")))

    n_tok = docs.select(id_col,
                        F.size(split_words(text_col)).alias("n_tokens"))
    return (covered.join(n_tok, id_col)
            .select(id_col,
                    F.col("n_tokens").cast("long").alias("n_tokens"),
                    F.col("covered").cast("long").alias("covered"),
                    (F.floor(F.col("covered") * 1_000_000
                             / F.col("n_tokens"))
                     / 1_000_000).alias("coverage_frac")))
