"""The token path compiles whole: `transcript_tokens` and the
`split_words` sites build no higher-order lambda, and their frames
equal the struct/`transform` formulation they replaced."""
from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from sketchlib.synth import transcripts
from sketchlib.tokenize import WORD_SPLIT, transcript_tokens, word_tokens

from .conftest import executed_plan

SCHEMA = ("conv_id string, turn_idx int, role string, text string, "
          "tool string, ts timestamp")


def _struct_tokens(df):
    """The lambda formulation `transcript_tokens` replaced: one
    ``struct(kind, val)`` per token, words through ``filter`` and
    ``transform``, exploded once. Kept as the oracle."""
    st = lambda k, v: F.struct(F.lit(k).cast("int").alias("kind"),  # noqa: E731
                               v.alias("val"))
    empty = F.array().cast("array<struct<kind:int,val:string>>")
    words = F.coalesce(
        F.transform(F.filter(F.split(F.lower(F.col("text")), WORD_SPLIT),
                             lambda x: x != ""),
                    lambda x: st(0, x)),
        empty)
    tool = (F.when(F.col("tool").isNotNull(), F.array(st(1, F.col("tool"))))
            .otherwise(empty))
    role = F.array(st(2, F.col("role")))
    prefix = F.element_at(F.array(F.lit("w:"), F.lit("t:"), F.lit("r:")),
                          F.col("tk.kind") + 1)
    return (df.select("conv_id", F.explode(F.concat(words, tool, role))
                      .alias("tk"))
              .select("conv_id",
                      F.concat(prefix, F.col("tk.val")).alias("token"),
                      F.xxhash64("tk.kind", "tk.val").alias("token_u64")))


def _with_null_rows(spark):
    odd = spark.createDataFrame([
        ("n0", 0, "user", None, None, None),
        ("n0", 1, "assistant", None, "bash", None),
        ("n1", 0, None, "  Leading and  TRAILING  ", None, None),
        ("n1", 1, None, None, None, None),
        ("n2", 0, "tool", "", "grep", None),
        ("n2", 1, "user", "one", None, None),
    ], SCHEMA)
    return transcripts(spark, 60, seed=11, partitions=3).unionByName(odd)


def test_transcript_tokens_frame_equals_struct_formulation(spark):
    df = _with_null_rows(spark)
    got = transcript_tokens(df).toPandas()
    want = _struct_tokens(df).toPandas()
    assert len(got) > 1000
    assert got.equals(want)
    by_conv = lambda c: got.loc[got["conv_id"] == c, "token"].tolist()  # noqa: E731
    assert by_conv("n0") == ["r:user", "t:bash", "r:assistant"]
    assert by_conv("n1") == ["w:leading", "w:and", "w:trailing", None, None]
    assert by_conv("n2") == ["t:grep", "r:tool", "w:one", "r:user"]


def test_transcript_tokens_plans_in_few_py4j_calls(spark, py4j_calls):
    """Building the token frame is a handful of ``selectExpr`` calls:
    a Column-API formulation sent ~500 py4j commands, ~100 ms of
    driver time per build."""
    df = _with_null_rows(spark)
    before = py4j_calls()
    transcript_tokens(df)
    assert py4j_calls() - before <= 60


def _docs(spark):
    return spark.createDataFrame(
        [(1, "The cat  sat on the mat"), (2, None), (3, "  a b c d e f "),
         (4, "")], "doc_id long, text string")


def _transcript_agg(spark):
    return (transcript_tokens(_with_null_rows(spark))
            .groupBy("token_u64").count())


def _word_tokens(spark):
    return word_tokens(_docs(spark), extra_cols=("doc_id",))


def _token_stats(spark):
    from sketchlib.textstats import token_stats
    return token_stats(_docs(spark))


def _quality_keep(spark):
    from sketchlib.pipeline import quality_keep
    return quality_keep(_docs(spark), min_tokens=2)


@pytest.mark.parametrize("build, generates", [
    (_transcript_agg, True),
    (_word_tokens, True),
    (_token_stats, False),
    (_quality_keep, False),
], ids=["transcript_tokens", "word_tokens", "token_stats", "quality_keep"])
def test_token_path_has_no_lambda_and_compiles(spark, build, generates):
    df = build(spark)
    df.collect()  # on df itself: a writer would plan its own copy
    plan = executed_plan(df)
    assert "lambdafunction" not in plan, plan
    if generates:
        assert re.search(r"\*\(\d+\) Generate ", plan), plan
