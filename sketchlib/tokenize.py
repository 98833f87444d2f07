"""Transcript tokenization — entirely JVM-side (Catalyst built-ins).

Maps the reference's FASTA rolling tokenizer (include/ocm.h:526-584)
onto the transcripts data model from BASELINE.json ``input_hint``:
``(conv_id, turn_idx, role, text, tool, ts)``. Tokens are namespaced
strings (``w:`` words, ``t:`` tools, ``r:`` roles) hashed to 64 bits
with Spark's built-in ``xxhash64`` — no Python in this path, so the
whole stage stays inside whole-stage codegen and the parquet scan only
reads the referenced columns.

The sketch key is the int64 xxhash64 value reinterpreted as uint64 in
the numpy kernels (two's-complement bit pattern is preserved
end-to-end). DuckDB oracles operate on the token *strings*, never the
hashes, so hash parity with DuckDB is not required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

WORD_SPLIT = r"\s+"


def _words_sql(text: str) -> str:
    """:func:`split_words` as Spark SQL text over the column ``text``,
    for ``selectExpr``. The regex is a raw literal (``r'...'``), which
    Spark does not unescape, so ``\\s`` reaches the regex engine as
    written."""
    return f"array_remove(split(lower(`{text}`), r'{WORD_SPLIT}'), '')"


def split_words(text: str) -> Column:
    """Lowercased whitespace words of the column ``text`` as an
    ``array<string>``, empties dropped; NULL text gives NULL. Element
    for element what DuckDB's ``list_filter(string_split_regex(
    lower(text), '\\s+'), x -> x <> '')`` and Python's ``re.split`` with
    empties dropped give on ASCII whitespace, which the oracles rely on.

    ``array_remove`` rather than a ``filter`` lambda: higher-order
    functions are interpreted (``CodegenFallback``) inside a generated
    pipeline, ``array_remove`` compiles. ``split`` never yields NULL
    elements, so the arrays are the same."""
    return F.expr(_words_sql(text))


def word_tokens(df: DataFrame, text_col: str = "text",
                extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """One row per whitespace word of ``text_col``, lowercased,
    namespaced ``w:``; empty strings dropped."""
    keep = [F.col(c) for c in extra_cols]
    return (
        df.select(*keep, F.explode(split_words(text_col)).alias("raw"))
          .select(*keep, F.concat(F.lit("w:"), F.col("raw")).alias("token"))
    )


def transcript_tokens(df: DataFrame) -> DataFrame:
    """Token stream ``(conv_id, token, token_u64)`` for a transcripts
    DataFrame — the engine's equivalent of the reference's k-mer stream
    (one sketch update per row): every word of the turn, then its tool
    (when not NULL), then its role.

    Single-scan design: all token kinds are built as one array per
    turn and exploded once. A union of three per-kind scans would read
    the input 3x and triple the map-task count — the driver's
    task-launch path is serial, so at 128-partition inputs the extra
    256 tasks per pass cost more than the tokenization itself
    (measured: 3.7s -> ~1.3s map stage at local[32]).

    No higher-order function in this path: Spark evaluates ``filter``
    and ``transform`` lambdas interpreted, row by row, inside the
    generated pipeline, one struct allocated per word. The three parts
    are plain ``array<string>`` columns staged in one projection and
    ``posexplode``d once; a token's kind (0 word, 1 tool, 2 role) is
    read off its position against the part sizes. The stage compiles
    whole, ``Generate`` included: 2M tokens to the ``noop`` sink took
    0.80 s with the lambdas and 0.45 s without (4 vCPUs, median of 8).

    The namespacing ("w:" words / "t:" tools / "r:" roles) is carried
    as the small int kind hashed alongside the value (multi-column
    xxhash64) rather than a string concat — at 10^8 updates/pass the
    concat's per-token byte copy is pure memory-bandwidth waste. The
    readable ``token`` string column is still provided, but lazily:
    select it and Catalyst computes the concat, don't and it's
    pruned.

    The projections are SQL text (``selectExpr``): building the same
    plan from ``Column`` functions sent 502 py4j commands to the JVM
    and took 87 ms of driver time, against 34 commands and 38 ms
    (warm session, median of 11)."""
    empty = "cast(array() AS array<string>)"
    # coalesce: a NULL text must yield an empty word array, not a NULL
    # one — concat is null-intolerant, so a NULL part would nullify the
    # turn's whole token array and drop its tool/role tokens too
    return (df.selectExpr(
                "conv_id",
                f"coalesce({_words_sql('text')}, {empty}) AS words",
                f"CASE WHEN tool IS NOT NULL THEN array(tool) ELSE {empty} "
                "END AS tool",
                "array(role) AS role")
              .selectExpr(
                "conv_id", "size(words) AS n_words", "size(tool) AS n_tool",
                "posexplode(concat(words, tool, role)) AS (pos, val)")
              .selectExpr(
                "conv_id", "val",
                "CASE WHEN pos < n_words THEN 0 "
                "WHEN pos < n_words + n_tool THEN 1 ELSE 2 END AS kind")
              .selectExpr(
                "conv_id",
                "concat(element_at(array('w:', 't:', 'r:'), kind + 1), val)"
                " AS token",
                "xxhash64(kind, val) AS token_u64"))


def balanced_repartition(df: DataFrame, n: int) -> DataFrame:
    """Perfectly balanced round-robin repartition. Sketch builds don't
    need key co-location (merge is associative & commutative), so the
    strongest anti-skew move is to not partition by key at all — a hot
    conversation's tokens spread evenly. AQE alone cannot rebalance the
    input of a custom aggregation."""
    return df.repartition(n)


def salted_repartition(df: DataFrame, n: int, key: str = "conv_id",
                       salt_col: str = "turn_idx", buckets: int = 64) -> DataFrame:
    """Keyed-but-salted repartition for operators that *do* group per
    key (e.g. per-conversation kernels): hash on ``(key, salt_col %
    buckets)`` so a hot key splits across up to ``buckets`` partitions.
    Note a constant salt would NOT help — same key ⇒ same partition;
    the salt must vary within the key."""
    return df.repartition(
        n, F.xxhash64(F.col(key), F.col(salt_col) % F.lit(buckets)))
