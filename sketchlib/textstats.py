"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting, Gopher-style
repetition filters, PII scan/redaction.

All deterministic, all expressible as Catalyst expressions (and as
ANSI SQL for the DuckDB oracles) — no UDFs in these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from sketchlib.tokenize import split_words

# tiny deterministic stopword lists (heuristic language ID)
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu"],
    "fr": ["le", "la", "de", "et", "un", "est", "que"],
}

TOKEN_SPLIT = r"\s+"
# BPE-ish word/number/punct segmentation (GPT-2-style simplification)
BPE_ISH = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _stopword_hits(lang: str):
    """Count of tokens that are stopwords of ``lang``."""
    words = STOPWORDS[lang]
    toks = F.split(F.lower(F.col("text")), TOKEN_SPLIT)
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def language_id(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword hits,
    ties broken by language name, 'und' when no stopword matched."""
    langs = sorted(STOPWORDS)
    scored = df.select(id_col, "text",
                       *[_stopword_hits(lg).alias(f"hits_{lg}")
                         for lg in langs])
    best = F.greatest(*[F.col(f"hits_{lg}") for lg in langs])
    pred = F.lit("und")
    for lg in reversed(langs):  # earlier langs win ties
        pred = F.when((F.col(f"hits_{lg}") == best) & (best > 0),
                      F.lit(lg)).otherwise(pred)
    return scored.select(id_col, pred.alias("pred_lang"),
                         best.alias("stopword_hits"))


def token_stats(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Whitespace-token and BPE-ish-piece counts per document."""
    return df.select(
        id_col,
        F.size(split_words("text")).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                    F.lit(BPE_ISH), 0)).alias("n_bpe_pieces"),
        F.length("text").alias("n_chars"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic quality heuristics: token count, mean token
    length, stopword ratio, non-alnum ratio, composite score in [0,1].
    Ratios floored to 6 decimals for cross-engine comparability."""
    n_tok = F.size(split_words("text"))
    n_chars = F.length("text")
    n_alnum = F.length(F.regexp_replace(F.lower(F.col("text")),
                                        "[^a-z0-9]", ""))
    sw = None
    for lg in sorted(STOPWORDS):
        h = _stopword_hits(lg)
        sw = h if sw is None else sw + h
    r6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731
    mean_tok_len = (n_chars - (n_tok - 1)) / n_tok  # separators removed
    stop_ratio = sw / n_tok
    alnum_ratio = n_alnum / n_chars
    len_ok = F.when((n_tok >= 5) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    score = (0.4 * len_ok
             + 0.3 * F.least(stop_ratio * F.lit(10.0), F.lit(1.0))
             + 0.3 * alnum_ratio)
    return df.select(
        id_col,
        n_tok.alias("n_tokens"),
        r6(mean_tok_len).alias("mean_token_len"),
        r6(stop_ratio).alias("stopword_ratio"),
        r6(alnum_ratio).alias("alnum_ratio"),
        r6(score).alias("quality_score"),
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Gopher/MassiveText repetition filters (Rae et al. 2021,
    Table A1), simplified but deterministic:

    - ``dup_line_frac``: duplicate lines / total lines
    - ``dup_line_char_frac``: characters in repeat occurrences of
      duplicated lines / total line characters
    - ``dup_2gram_char_frac`` / ``dup_3gram_char_frac``: characters in
      ALL occurrences of word n-grams that occur >= 2 times in the doc
      / total doc characters, capped at 1 (overlapping occurrences
      double-count — documented simplification, mirrored exactly in
      the SQL oracle)

    Scale: entirely narrow Catalyst array expressions — NO shuffle,
    NO UDF; the n-gram duplicate count uses ``array_sort`` + an
    equal-neighbor scan (an occurrence belongs to a duplicated n-gram
    iff it equals a sorted neighbor), so per-doc work is O(n log n),
    not O(n * distinct). Fractions floored to 1e-6 for cross-engine
    value equality.

    The tokenize / gram / sort arrays are materialized as columns in
    staged projections (each producer is non-cheap and multiply
    referenced, so CollapseProject keeps the stages): Spark's
    interpreted higher-order lambdas re-evaluate inlined argument
    subtrees PER ELEMENT, so leaving the sort+tokenize chain inline
    under the neighbor-scan ``aggregate`` is O(n² · m) per row — 27
    CPU-minutes for 500 docs when first measured.
    """
    r6 = lambda c: F.floor(c * 1e6) / 1e6  # noqa: E731

    toks = split_words(text_col)
    stage1 = df.select(
        id_col,
        F.length(text_col).cast("long").alias("_nc"),
        F.split(F.col(text_col), "\n").alias("_lines"),
        toks.alias("_toks"),
    )

    def grams_sorted(tcol, n: int):
        return F.array_sort(F.when(
            F.size(tcol) >= n,
            F.transform(F.sequence(F.lit(0), F.size(tcol) - n),
                        lambda i: F.array_join(F.slice(tcol, i + 1, n),
                                               " "))
        ).otherwise(F.array().cast("array<string>")))

    t = F.col("_toks")
    stage2 = stage1.select(
        id_col, "_nc", "_lines",
        grams_sorted(t, 2).alias("_g2"),
        grams_sorted(t, 3).alias("_g3"),
    )

    def dup_chars(srt):
        # occurrence i is part of a duplicated n-gram iff it equals a
        # sorted neighbor (covers every member of each run of length>=2)
        last = F.size(srt) - 1
        return F.aggregate(
            F.sequence(F.lit(0), F.greatest(last, F.lit(0))),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.when(
                (F.size(srt) > 0) &
                (((i > 0) & (F.get(srt, i) == F.get(srt, i - 1))) |
                 ((i < last) & (F.get(srt, i) == F.get(srt, i + 1)))),
                F.length(F.get(srt, i))).otherwise(F.lit(0)))

    lines = F.col("_lines")
    n_lines = F.size(lines)
    n_dist_lines = F.size(F.array_distinct(lines))
    line_chars = F.aggregate(lines, F.lit(0).cast("long"),
                             lambda acc, x: acc + F.length(x))
    dist_chars = F.aggregate(F.array_distinct(lines),
                             F.lit(0).cast("long"),
                             lambda acc, x: acc + F.length(x))
    n_chars = F.col("_nc")

    safe = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    return stage2.select(
        id_col,
        r6(safe(n_lines - n_dist_lines, n_lines)).alias("dup_line_frac"),
        r6(safe(line_chars - dist_chars,
                line_chars)).alias("dup_line_char_frac"),
        r6(F.least(safe(dup_chars(F.col("_g2")), n_chars),
                   F.lit(1.0))).alias("dup_2gram_char_frac"),
        r6(F.least(safe(dup_chars(F.col("_g3")), n_chars),
                   F.lit(1.0))).alias("dup_3gram_char_frac"),
    )


# engine-portable PII patterns (no lookaround/backrefs: valid in both
# Java regex and RE2); applied in REDACT_ORDER so both engines replace
# identically even where patterns could touch
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+[0-9][0-9 ()-]{6,}[0-9]",
}
REDACT_ORDER = ["email", "ipv4", "phone"]


def pii_stats(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-doc PII hit counts (emails, IPv4 addresses, +international
    phone numbers) — the C4/Dolma scrubbing pre-scan. Pure Catalyst
    ``regexp_count``; no shuffle, no UDF."""
    cols = [F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k]))
            .alias(f"n_{k}") for k in REDACT_ORDER]
    out = df.select(id_col, *cols)
    total = sum(F.col(f"n_{k}") for k in REDACT_ORDER)
    return out.withColumn("has_pii", total > 0)


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text",
               out_col: str = "redacted") -> DataFrame:
    """Replace every PII span with a typed placeholder token
    (``<EMAIL>``, ``<IPV4>``, ``<PHONE>``), in a fixed pattern order
    so the output is engine-reproducible byte-for-byte."""
    c = F.col(text_col)
    for k in REDACT_ORDER:
        c = F.regexp_replace(c, PII_PATTERNS[k], f"<{k.upper()}>")
    return df.select(id_col, c.alias(out_col))


# engine-portable (Java regex + RE2) URL/domain patterns, shared with
# the SQL oracles verbatim
URL_HOST_PATTERN = r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:\s]+)"
DOMAIN3_PATTERN = r"([^.]+\.(?:co|com|net|org|gov|ac|edu)\.[^.]+)$"
DOMAIN2_PATTERN = r"([^.]+\.[^.]+)$"


def extract_domain(url_col) -> "F.Column":
    """Registrable domain from a URL column (expression, no UDF):
    lowercase host minus a leading ``www.``, reduced to the last two
    labels — or three when the second-to-last is a common second-level
    registry label (co/com/net/org/gov/ac/edu, the ccTLD convention:
    ``news.site.co.uk`` -> ``site.co.uk``). A deterministic
    approximation of the Public Suffix List that both engines compute
    identically; single-label hosts pass through unchanged."""
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url_col, URL_HOST_PATTERN, 1)),
        r"^www\.", "")
    d3 = F.regexp_extract(host, DOMAIN3_PATTERN, 1)
    d2 = F.regexp_extract(host, DOMAIN2_PATTERN, 1)
    return (F.when(d3 != "", d3)
             .when(d2 != "", d2)
             .otherwise(host))


def domain_stats(df: DataFrame, url_col: str = "url",
                 text_col: str = "text") -> DataFrame:
    """Per-registrable-domain corpus stats (the crawl-curation view:
    which domains dominate the mix): doc count, distinct hosts, total
    text chars. One hash aggregation on the derived domain."""
    host = F.regexp_replace(
        F.lower(F.regexp_extract(url_col, URL_HOST_PATTERN, 1)),
        r"^www\.", "")
    return (df.select(extract_domain(F.col(url_col)).alias("domain"),
                      host.alias("__host"),
                      F.length(text_col).alias("__chars"))
              .groupBy("domain")
              .agg(F.count("*").alias("n_docs"),
                   F.countDistinct("__host").alias("n_hosts"),
                   F.sum("__chars").alias("sum_chars")))


def blocklist_filter(df: DataFrame, blocked: list[str],
                     url_col: str = "url") -> DataFrame:
    """Drop rows whose registrable domain is on a blocklist (UT1-style
    domain-level blocking). The list form broadcasts as a literal IN
    set; for blocklists too large for that, express the list as a
    DataFrame and use a broadcast ``left_anti`` join instead — same
    semantics, same single scan."""
    return df.filter(
        ~extract_domain(F.col(url_col)).isin([b.lower() for b in blocked]))


def fingerprints(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: md5 of normalized text plus a positional
    rolling-hash-style signature (xxhash64 of 8-token windows, min/max
    kept) for shift-robust matching."""
    toks = F.split(F.lower(F.col("text")), TOKEN_SPLIT)
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - 8, F.lit(0))),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, 8), " ")))
    return df.select(
        id_col,
        F.md5(F.lower(F.col("text"))).alias("md5_fp"),
        F.array_min(windows).alias("winhash_min"),
        F.array_max(windows).alias("winhash_max"),
    )
