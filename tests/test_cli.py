"""CLI (sketchlib.cli) parity tests — FASTA/reference-format paths.

The parquet/token paths share the same build/query machinery tested in
test_spark_cm.py / test_offline_spark.py; here we pin the CLI surface
itself: flag parsing, the reference round-loop quirks, binary output
byte-equality, and the query CSV format (main.cpp:92-133).
"""

from __future__ import annotations

import filecmp
import os

from sketchlib.cli import main

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
FA = os.path.join(FIX, "rymv.guard.fa")
QUERIES = os.path.join(FIX, "rymv.sim.22counts.txt")


def test_cli_count_cm_conservative_bitexact(tmp_path):
    out = str(tmp_path / "cm.bin")
    assert main(["count", "--fa", FA, "-k", "22", "-w", "1024", "-H", "7",
                 "-c", "-o", out]) == 0
    assert filecmp.cmp(out, os.path.join(FIX, "golden_cm_cons_w1024.bin"),
                       shallow=False)


def test_cli_count_ocm_plain_bitexact(tmp_path):
    out = str(tmp_path / "ocm.bin")
    assert main(["count", "--fa", FA, "-k", "22", "-w", "1024", "-H", "7",
                 "-n", "4", "-o", out]) == 0
    assert filecmp.cmp(out, os.path.join(FIX, "golden_ocm_n4_w1024.bin"),
                       shallow=False)


def test_cli_count_occm_and_query_bitexact(tmp_path):
    out = str(tmp_path / "occm.bin")
    csv_out = str(tmp_path / "q.csv")
    assert main(["count", "--fa", FA, "-k", "22", "-w", "1024", "-H", "7",
                 "-n", "4", "-c", "-o", out]) == 0
    assert filecmp.cmp(out, os.path.join(FIX, "golden_occm_n4_w1024.bin"),
                       shallow=False)
    assert main(["query", "-f", out, "-q", QUERIES, "-o", csv_out,
                 "-k", "22"]) == 0
    assert filecmp.cmp(csv_out,
                       os.path.join(FIX, "golden_occm_n4_w1024_q.csv"),
                       shallow=False)


def test_cli_rejects_non_power_of_two_width(tmp_path):
    import pytest
    with pytest.raises(SystemExit):
        main(["count", "--fa", FA, "-w", "1000",
              "-o", str(tmp_path / "x.bin")])


def test_cli_analyze_matches_library_metrics(spark, capsys):
    """``analyze`` (the reference's output/analysis.py step) on the
    committed golden query CSV: JSON line == estimate_metrics, and the
    --scalable rank path agrees."""
    import json
    import os

    from sketchlib.analysis import estimate_metrics

    fix = os.path.join(FIX, "golden_occm_n4_w1024_q.csv")
    expected = estimate_metrics(
        spark.read.option("header", True).csv(fix))

    for flag in ([], ["--scalable"]):
        assert main(["analyze", "-i", fix] + flag) == 0
        got = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert got["n"] == expected["n"]
        assert got["n_violations"] == expected["n_violations"]
        assert abs(got["rmse"] - expected["rmse"]) < 1e-9
        assert abs(got["spearman"] - expected["spearman"]) < 1e-9


def test_cli_ingest_writes_bucketed_table(spark, tmp_path):
    """``ingest`` persists the bucketed layout: the resulting table's
    self-join on the bucket key plans with zero shuffle exchanges."""
    from tests.conftest import n_shuffles, plan_of

    assert main(["ingest", "--parquet",
                 "/root/testdata/sf0.001/documents.parquet",
                 "--table", "cli_docs", "--key", "doc_id",
                 "--buckets", "4", "--path", str(tmp_path / "cli_docs")]) == 0
    try:
        t = spark.table("cli_docs")
        j = (t.select("doc_id", "lang").hint("merge")
             .join(t.select("doc_id", "source"), "doc_id"))
        assert n_shuffles(plan_of(j)) == 0
        assert j.count() == t.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS cli_docs")


def test_cli_count_catalog_table_snapshot_pinned(spark, tmp_path):
    """``count --catalog/--table`` builds from a pinned snapshot: the
    sketch equals one built from the same snapshot's data directly,
    and the printed snapshot id is the one the build actually read."""
    from sketchlib.iceberg import IcebergishCatalog
    from sketchlib.offline import build_offline
    from sketchlib.sketches.cm import CMConfig, read_reference
    from sketchlib.synth import transcripts
    from sketchlib.tokenize import transcript_tokens

    cat = IcebergishCatalog(str(tmp_path / "wh"))
    s1 = cat.append("tr", transcripts(spark, 20, seed=21, partitions=2))
    cat.append("tr", transcripts(spark, 20, seed=22, partitions=2))

    out = str(tmp_path / "sk.bin")
    assert main(["count", "--catalog", str(tmp_path / "wh"),
                 "--table", "tr", "-w", "512", "-H", "3", "-n", "2",
                 "-c", "--snapshot", s1, "-o", out]) == 0

    cfg = CMConfig(np_bits=9, nh=3, seed=137, conservative=True)
    want = build_offline(
        transcript_tokens(cat.load_table(spark, "tr", s1)),
        "token_u64", cfg, 2, pre_aggregate=True)
    got = read_reference(out)
    assert (got.core == want.core).all()
    assert (got.collision == want.collision).all()


def test_cli_append_refresh_incremental(spark, tmp_path, capsys):
    """``append`` commits snapshots; ``refresh`` builds the derived
    sketch table, then refreshes O(delta) on the next append; the
    final estimates equal the exact GROUP BY over everything."""
    import json

    import numpy as np
    from pyspark.sql import functions as F

    from sketchlib.iceberg import IcebergishCatalog
    from sketchlib.incremental import load_sketch_table, probe_grouped

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").limit(3000)
    p1, p2 = str(tmp_path / "p1"), str(tmp_path / "p2")
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(p1)
    ev.filter(F.col("event_id") % 2 == 1).write.parquet(p2)
    wh = str(tmp_path / "wh")

    def run(argv):
        assert main(argv) == 0
        return capsys.readouterr().out.strip().splitlines()[-1]

    run(["append", "--catalog", wh, "--table", "ev", "--parquet", p1])
    s1 = json.loads(run(["refresh", "--catalog", wh, "--source", "ev",
                         "--sketch-table", "sk", "--group-cols",
                         "event_type", "--key", "user_id"]))
    assert s1["mode"] == "initial"
    run(["append", "--catalog", wh, "--table", "ev", "--parquet", p2])
    s2 = json.loads(run(["refresh", "--catalog", wh, "--source", "ev",
                         "--sketch-table", "sk", "--group-cols",
                         "event_type", "--key", "user_id"]))
    assert s2["mode"] == "incremental"

    cat = IcebergishCatalog(wh)
    exact = (ev.groupBy("event_type", "user_id")
             .agg(F.count("*").alias("n"))
             .withColumn("kh", F.xxhash64("user_id")))
    got = probe_grouped(exact, load_sketch_table(spark, cat, "sk", name="cm"),
                        ["event_type"], "kh").toPandas()
    np.testing.assert_array_equal(got["est_count"].to_numpy(),
                                  got["n"].to_numpy())


def test_cli_profile_one_scan_panel(spark, capsys):
    """``profile`` emits one JSON line per column with the exact panel
    (SQL-checkable counts) and exact-regime flags."""
    import json

    assert main(["profile", "--parquet",
                 "/root/testdata/sf0.001/orders.parquet",
                 "--columns", "o_custkey,o_orderstatus",
                 "--quantiles", "0.5"]) == 0
    out = [json.loads(l) for l in
           capsys.readouterr().out.strip().splitlines() if l.startswith("{")]
    prof = {r["column"]: r for r in out}
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    assert prof["o_custkey"]["n_values"] == orders.count()
    assert (prof["o_custkey"]["n_distinct"]
            == orders.select("o_custkey").distinct().count())
    assert prof["o_custkey"]["within_bound"] is True
    assert prof["o_orderstatus"]["p0_5"] is None  # non-numeric


def test_cli_sample_deterministic(spark, tmp_path, capsys):
    """``sample`` writes the same rows for the same seed regardless of
    run, and per-stratum k with --strata."""
    out1 = str(tmp_path / "s1")
    out2 = str(tmp_path / "s2")
    argv = ["sample", "--parquet",
            "/root/testdata/sf0.001/orders.parquet", "-k", "10",
            "--id-cols", "o_orderkey", "--weight", "o_totalprice",
            "--seed", "5"]
    assert main(argv + ["-o", out1]) == 0
    assert main(argv + ["-o", out2]) == 0
    a = sorted(r["o_orderkey"] for r in spark.read.parquet(out1).collect())
    b = sorted(r["o_orderkey"] for r in spark.read.parquet(out2).collect())
    assert a == b and len(a) == 10

    st = str(tmp_path / "s3")
    assert main(["sample", "--parquet",
                 "/root/testdata/sf0.001/orders.parquet", "-k", "4",
                 "--id-cols", "o_orderkey", "--strata", "o_orderstatus",
                 "-o", st]) == 0
    got = (spark.read.parquet(st).groupBy("o_orderstatus").count()
           .collect())
    assert all(r["count"] == 4 for r in got) and len(got) >= 2


def test_cli_dedup_exact_and_simhash(spark, tmp_path):
    import pandas as pd

    src = str(tmp_path / "docs.parquet")
    # 8 docs over 5 distinct texts: ids 0/5 share, 1/6 share, 2/7 share
    pd.DataFrame({"doc_id": range(8),
                  "text": [f"some document text {i % 5} with words"
                           for i in range(8)]}).to_parquet(src)

    out = str(tmp_path / "clusters.parquet")
    assert main(["dedup", "--parquet", src, "--method", "exact",
                 "-o", out]) == 0
    got = {r["doc_id"]: (r["component"], r["is_representative"])
           for r in spark.read.parquet(out).collect()}
    assert got == {0: (0, True), 1: (1, True), 2: (2, True),
                   3: (3, True), 4: (4, True),
                   5: (0, False), 6: (1, False), 7: (2, False)}

    keep = str(tmp_path / "keep.parquet")
    assert main(["dedup", "--parquet", src, "--method", "simhash",
                 "--keep-only", "-o", keep]) == 0
    kept = spark.read.parquet(keep).toPandas()
    # identical texts collide at hamming 0 -> representatives 0..4 only
    assert sorted(kept["doc_id"]) == [0, 1, 2, 3, 4]
    assert set(kept.columns) == {"doc_id", "text"}


def test_cli_decontam_flag_and_clean(spark, tmp_path):
    import pandas as pd

    train = str(tmp_path / "train.parquet")
    bench = str(tmp_path / "bench.parquet")
    pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["the quick brown fox is here today",
                 "a totally clean training document body",
                 "nothing shared with evals whatsoever here"],
    }).to_parquet(train)
    pd.DataFrame({"doc_id": [9],
                  "text": ["the quick brown fox jumps high"]}
                 ).to_parquet(bench)

    out = str(tmp_path / "flags.parquet")
    assert main(["decontam", "--parquet", train, "--benchmark", bench,
                 "-n", "3", "-o", out]) == 0
    flags = spark.read.parquet(out).toPandas()
    assert list(flags["doc_id"]) == [0]
    assert list(flags["n_hit"]) == [2]  # "the quick brown", "quick brown fox"

    clean = str(tmp_path / "clean.parquet")
    assert main(["decontam", "--parquet", train, "--benchmark", bench,
                 "-n", "3", "--method", "bloom", "--clean-only",
                 "-o", clean]) == 0
    kept = spark.read.parquet(clean).toPandas()
    assert sorted(kept["doc_id"]) == [1, 2]
    assert set(kept.columns) == {"doc_id", "text"}
