"""Incremental (delta-mode) MinHash-LSH dedup against a stored index
(round 5, VERDICT item 6): the daily operation of a 100 TB pipeline.

Gates:
- delta run == full recompute restricted to pairs touching the delta
  (the semantic contract that makes the incremental path trustworthy);
- with a parquet-backed index, the delta plan never scans the
  historical corpus file — only the delta and the index tables;
- neither dedup path, nor the other operators that return a lazy frame
  (``heavy_hitters_hk``, the ``setsim_siblings_langs`` query), leaves
  a cached frame behind.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from sketchlib import dedup as D

from tests.conftest import plan_of

SF = "/root/testdata/sf0.001"
THR = 0.9


def _split(spark):
    docs = spark.read.parquet(SF + "/documents.parquet")
    # +1e9 re-key: above every sf's historical id range (sf1 ~9e6)
    new = (docs.filter(F.col("doc_id") % 10 == 0)
           .withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
    return docs, new


def test_delta_equals_full_recompute_restricted(spark):
    docs, new = _split(spark)
    sh_old = D.shingles(docs, hashed=True)
    idx = D.minhash_band_index(shingle_df=sh_old)
    delta = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
             D.minhash_dedup_delta(new, idx, sh_old, THR).collect()}

    full = D.minhash_dedup_pairs(docs.unionByName(new), THR)
    want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            full.filter((F.col("id_a") >= 1_000_000_000)
                        | (F.col("id_b") >= 1_000_000_000)).collect()}
    assert delta == want
    assert len(delta) > 0  # the construction guarantees exact dups


def test_delta_plan_never_scans_historical_corpus(spark, tmp_path):
    """The whole point of the stored index: with the index persisted to
    parquet, tomorrow's run reads the DELTA and the INDEX — a plan that
    still scans the historical corpus text would be a silent full
    recompute at 100 TB."""
    docs, new = _split(spark)
    corpus_p = str(tmp_path / "hist_corpus.parquet")
    bands_p = str(tmp_path / "band_index.parquet")
    sh_p = str(tmp_path / "shingle_index.parquet")
    docs.write.parquet(corpus_p)
    hist = spark.read.parquet(corpus_p)
    sh_old = D.shingles(hist, hashed=True)
    sh_old.write.parquet(sh_p)
    D.minhash_band_index(shingle_df=sh_old).write.parquet(bands_p)

    delta_p = str(tmp_path / "delta.parquet")
    new.write.parquet(delta_p)

    out = D.minhash_dedup_delta(
        spark.read.parquet(delta_p),
        spark.read.parquet(bands_p),
        spark.read.parquet(sh_p), THR)
    plan = plan_of(out)
    assert "hist_corpus" not in plan
    assert "delta.parquet" in plan
    assert "band_index" in plan and "shingle_index" in plan
    # and it still finds the dup pairs (every 10th doc duplicated)
    n = out.count()
    assert n >= hist.filter(F.col("doc_id") % 10 == 0).count()


def test_band_index_shape(spark):
    docs, _ = _split(spark)
    idx = D.minhash_band_index(docs.limit(20), bands=16)
    rows = idx.collect()
    assert {r["band"] for r in rows} == set(range(16))
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], set()).add(r["band"])
    assert all(len(b) == 16 for b in per_doc.values())


def test_two_day_loop_equals_full_recompute(spark):
    """The complete daily cycle: day-1 delta dedups against the
    historical index and APPENDS to it (minhash_index_append); day-2's
    delta then sees both the original corpus and day-1's docs. The
    union of the three runs' pairs must equal one full recompute over
    everything — i.e. incremental processing loses nothing across
    days, including day-1 x day-2 cross pairs."""
    docs = spark.read.parquet(SF + "/documents.parquet")
    day1 = (docs.filter(F.col("doc_id") % 10 == 0)
            .withColumn("doc_id", F.col("doc_id") + 1_000_000_000))
    day2 = (docs.filter(F.col("doc_id") % 10 == 5)
            .withColumn("doc_id", F.col("doc_id") + 2_000_000_000))
    # also make day2 overlap day1: a copy of one day-1 doc
    dup_of_day1 = day1.filter(F.col("doc_id") == 1_000_000_000).select(
        (F.col("doc_id") + 2_000_000_000).alias("doc_id"), "text")
    day2 = (day2.select("doc_id", "text")
            .unionByName(dup_of_day1))

    sh0 = D.shingles(docs, hashed=True)
    bi0 = D.minhash_band_index(shingle_df=sh0)
    p1 = D.minhash_dedup_delta(day1, bi0, sh0, THR)
    bi1, sh1 = D.minhash_index_append(bi0, sh0, day1)
    p2 = D.minhash_dedup_delta(day2, bi1, sh1, THR)

    got = {(r["id_a"], r["id_b"]) for r in p1.collect()} \
        | {(r["id_a"], r["id_b"]) for r in p2.collect()}
    full = D.minhash_dedup_pairs(
        docs.select("doc_id", "text")
        .unionByName(day1.select("doc_id", "text"))
        .unionByName(day2), THR)
    want = {(r["id_a"], r["id_b"]) for r in
            full.filter((F.col("id_a") >= 1_000_000_000)
                        | (F.col("id_b") >= 1_000_000_000)).collect()}
    assert got == want
    # the day1 x day2 cross pair exists and was found by the DAY-2 run
    assert any(a == 1_000_000_000 and b == 3_000_000_000
               for a, b in {(r["id_a"], r["id_b"])
                            for r in p2.collect()})


def test_reingested_ids_count_their_shingles_once(spark):
    """Re-ingesting already-indexed documents under their own ids: the
    stored shingles of a delta id must not ride into the verify join
    beside the delta's own, or every Jaccard touching it is wrong."""
    docs = spark.read.parquet(SF + "/documents.parquet")
    again = docs.filter(F.col("doc_id") % 10 == 0)
    sh_old = D.shingles(docs, hashed=True)
    idx = D.minhash_band_index(shingle_df=sh_old)
    delta = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
             D.minhash_dedup_delta(again, idx, sh_old, THR).collect()}

    touches = (F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0)
    want = {(r["id_a"], r["id_b"], r["jaccard"]) for r in
            D.minhash_dedup_pairs(docs, THR).filter(touches).collect()}
    assert delta == want
    assert len(want) > 0


def test_delta_leaves_no_cached_frames(spark):
    """The delta runs once per streaming micro-batch, so it must not
    persist anything it cannot release: the session's persistent RDD
    count is unchanged after two runs."""
    docs, new = _split(spark)
    sh_old = D.shingles(docs, hashed=True)
    idx = D.minhash_band_index(shingle_df=sh_old)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for k in (10, 20):
        D.minhash_dedup_delta(new.limit(k), idx, sh_old, THR).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_pairs_leave_no_cached_frames(spark):
    """The batch dedup returns a lazy frame, so it must not persist
    anything: the session's persistent RDD count is unchanged after
    two runs."""
    docs, _ = _split(spark)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        D.minhash_dedup_pairs(docs, THR).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_heavy_hitters_hk_leaves_no_cached_frames(spark):
    """``heavy_hitters_hk`` also returns a lazy frame: two runs leave
    the session's persistent RDD count unchanged."""
    from sketchlib import queries as Q

    ev = spark.read.parquet(SF + "/events.parquet")
    keyed = ev.select(F.floor(F.sqrt("event_id")).cast("long")
                      .cast("string").alias("hkey"))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        Q.heavy_hitters_hk(keyed, "hkey", 5, np_bits=8, nh=3).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_setsim_query_leaves_no_cached_frames(spark):
    """The driver query ``setsim_siblings_langs`` returns a lazy frame:
    two runs leave the session's persistent RDD count unchanged once
    ``release_caches`` drops the bounded scoped persist that
    ``pairwise_grouped`` registers."""
    import __spark_entry__ as E
    from sketchlib.cache import release_caches

    jsc = spark.sparkContext._jsc
    release_caches()
    before = jsc.getPersistentRDDs().size()
    for _ in range(2):
        E.queries()["setsim_siblings_langs"](spark, SF).collect()
    release_caches()
    assert jsc.getPersistentRDDs().size() == before
