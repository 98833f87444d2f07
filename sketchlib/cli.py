"""spark-submit entry point mirroring the reference drivers' CLI.

The reference exposes two modes (``count`` / ``query``) in
``main.cpp:14-32`` (OCM/OCCM) and ``cm.cpp:15-25`` (single-pass CM);
this CLI keeps those modes and flags (``-k -h -w -n -c -r -o -q -f``)
but reads either a transcripts parquet table (the engine's native
input, BASELINE.json input_hint) or a FASTA file (the reference's
input, for cross-validation), builds the sketch distributed, and
writes the reference's exact binary format so ``/root/reference/cm``
and ``ocm`` can consume the output directly.

Usage (spark-submit --py-files sketchlib.zip -m sketchlib.cli ...):

  count over transcripts parquet:
    python -m sketchlib.cli count --parquet /data/transcripts \
        -w 1048576 -H 7 -n 4 -c -o sketch.bin [--checkpoint dir]
  count over an Icebergish catalog table (snapshot-pinned, resumable):
    python -m sketchlib.cli count --catalog /wh --table transcripts \
        -w 1048576 -H 7 -n 4 -c -o sketch.bin --checkpoint ckpt/
  count over FASTA (reference parity):
    python -m sketchlib.cli count --fa input.fa -k 22 -w 1048576 \
        -H 7 -n 4 -c -o sketch.bin
  query:
    python -m sketchlib.cli query -f sketch.bin -q queries.txt \
        -o result.csv [-k 22]
  analyze (the reference's ``python output/analysis.py`` step):
    python -m sketchlib.cli analyze -i result.csv [--scalable]
  ingest (bucketed layout for write-once/join-many corpus tables):
    python -m sketchlib.cli ingest --parquet src/ --table docs \
        --key doc_id --buckets 512 [--path dst/]
  append (snapshot commit to an Icebergish catalog table):
    python -m sketchlib.cli append --catalog /wh --table events \
        --parquet new_batch/
  refresh (derived per-group sketch table, O(delta) on appends):
    python -m sketchlib.cli refresh --catalog /wh --source events \
        --sketch-table sk --group-cols event_type --key user_id \
        [-w 65536 -H 5 --hll]

Query files are the reference's whitespace format ``key true_count``
(main.cpp:121-132); with ``-k`` the key is 2-bit-encoded as a k-mer
(forward strand only, main.cpp:131), otherwise it is hashed like a
transcript token. ``analyze`` consumes the query CSV (the same file
the reference's output/analysis.py:1-16 reads) and prints one JSON
line ``{"n", "n_violations", "rmse", "spearman"}``; ``--scalable``
switches Spearman ranking to the distributed range-partitioned path
for corpus-sized result tables (sketchlib/analysis.py).
"""

from __future__ import annotations

import argparse
import csv
import math
import sys
from functools import partial


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="sketchlib", description=__doc__)
    sub = p.add_subparsers(dest="mode", required=True)

    c = sub.add_parser("count", help="build a sketch")
    src = c.add_mutually_exclusive_group(required=True)
    src.add_argument("--parquet", help="transcripts parquet path")
    src.add_argument("--fa", help="FASTA input (reference parity mode)")
    src.add_argument("--table", help="Icebergish catalog table name "
                                     "(requires --catalog)")
    c.add_argument("--catalog", help="Icebergish catalog root dir")
    c.add_argument("--snapshot", help="table snapshot id to read "
                                      "(default: pinned or current)")
    c.add_argument("-k", "--kmer", type=int, default=22,
                   help="k-mer length (FASTA mode)")
    c.add_argument("-w", "--width", type=int, default=1 << 20,
                   help="sketch width (power of two)")
    c.add_argument("-H", "--hashes", type=int, default=7, dest="nh",
                   help="hash rows (reference -h; renamed, -h is help)")
    c.add_argument("-n", "--rounds", type=int, default=1,
                   help="offline rounds; 1 = single-pass CM")
    c.add_argument("-c", "--conservative", action="store_true")
    c.add_argument("-r", "--no-canonicalize", action="store_true",
                   help="FASTA mode: disable reverse-complement insert")
    c.add_argument("--seed", type=int, default=137)
    c.add_argument("-o", "--output", required=True, help="sketch file out")
    c.add_argument("--checkpoint", help="checkpoint/lineage directory")
    c.add_argument("--cpus", type=int, default=None)

    q = sub.add_parser("query", help="query a sketch")
    q.add_argument("-f", "--sketch", required=True)
    q.add_argument("-q", "--queries", required=True,
                   help="text file: 'key true_count' per line")
    q.add_argument("-o", "--output", required=True, help="CSV out")
    q.add_argument("-k", "--kmer", type=int, default=None,
                   help="if set, keys are k-mers (2-bit encoded)")
    q.add_argument("--namespace", choices=["word", "tool", "role"],
                   default="word",
                   help="token namespace for non-kmer keys")

    a = sub.add_parser("analyze",
                       help="metrics over a query CSV (analysis.py)")
    a.add_argument("-i", "--input", required=True,
                   help="query result CSV (kmer,true_count,estimated_count)")
    a.add_argument("--scalable", action="store_true",
                   help="distributed ranking (corpus-sized inputs)")
    a.add_argument("--cpus", type=int, default=None)

    i = sub.add_parser("ingest",
                       help="persist a table bucketed on its key")
    i.add_argument("--parquet", required=True, help="source parquet")
    i.add_argument("--table", required=True, help="catalog table name")
    i.add_argument("--key", required=True, help="bucket/sort key column")
    i.add_argument("--buckets", type=int, default=64)
    i.add_argument("--path", help="external table location")
    i.add_argument("--cpus", type=int, default=None)

    ap = sub.add_parser("append",
                        help="append parquet data to an Icebergish "
                             "catalog table (one snapshot commit)")
    ap.add_argument("--catalog", required=True, help="catalog root dir")
    ap.add_argument("--table", required=True)
    ap.add_argument("--parquet", required=True, help="data to append")
    ap.add_argument("--cpus", type=int, default=None)

    r = sub.add_parser(
        "refresh",
        help="incrementally refresh a derived per-group sketch table "
             "(scans only source files appended since last refresh)")
    r.add_argument("--catalog", required=True, help="catalog root dir")
    r.add_argument("--source", required=True, help="source table name")
    r.add_argument("--sketch-table", required=True,
                   help="derived sketch table name")
    r.add_argument("--group-cols", required=True,
                   help="comma-separated grouping columns")
    r.add_argument("--key", required=True,
                   help="column hashed (xxhash64) into the sketches")
    r.add_argument("-w", "--width", type=int, default=1 << 16)
    r.add_argument("-H", "--hashes", type=int, default=5, dest="nh")
    r.add_argument("--seed", type=int, default=137)
    r.add_argument("--hll", action="store_true",
                   help="add an HLL(p=12) panel member (same scan)")
    r.add_argument("--cpus", type=int, default=None)

    pr = sub.add_parser(
        "profile",
        help="one-scan per-column profile of a parquet table "
             "(n_values, distinct exact+HLL, KLL quantiles)")
    pr.add_argument("--parquet", required=True, help="table to profile")
    pr.add_argument("--columns", help="comma-separated subset "
                                      "(default: all atomic columns)")
    pr.add_argument("--quantiles", default="0.5",
                    help="comma-separated q values for numeric columns")
    pr.add_argument("--no-exact", action="store_true",
                    help="skip the exact COUNT(DISTINCT) leg "
                         "(sketch-only, the corpus-scale regime)")
    pr.add_argument("--cpus", type=int, default=None)

    sa = sub.add_parser(
        "sample",
        help="deterministic weighted/stratified sample of a parquet "
             "table (Efraimidis-Spirakis, reproducible by seed)")
    sa.add_argument("--parquet", required=True, help="table to sample")
    sa.add_argument("-k", type=int, required=True,
                    help="rows to keep (per stratum with --strata)")
    sa.add_argument("--id-cols", required=True,
                    help="comma-separated row-identity columns")
    sa.add_argument("--weight", help="weight column (> 0); "
                                     "omit for uniform sampling")
    sa.add_argument("--strata", help="comma-separated strata columns "
                                     "(per-stratum k instead of global)")
    sa.add_argument("--seed", type=int, default=0)
    sa.add_argument("-o", "--output", required=True,
                    help="output parquet path")
    sa.add_argument("--cpus", type=int, default=None)

    dd = sub.add_parser(
        "dedup",
        help="duplicate-cluster resolution over a document table: "
             "pairs (exact/simhash/minhash) -> connected components "
             "-> (id, component, is_representative)")
    dd.add_argument("--parquet", required=True, help="documents table")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--method", choices=["exact", "simhash", "minhash"],
                    default="simhash")
    dd.add_argument("--max-hamming", type=int, default=3,
                    help="simhash hamming radius")
    dd.add_argument("--threshold", type=float, default=0.8,
                    help="minhash Jaccard threshold")
    dd.add_argument("--keep-only", action="store_true",
                    help="write the deduplicated KEEP-set (original "
                         "rows of cluster representatives) instead of "
                         "the assignment table")
    dd.add_argument("-o", "--output", required=True,
                    help="output parquet path")
    dd.add_argument("--cpus", type=int, default=None)

    dc = sub.add_parser(
        "decontam",
        help="benchmark decontamination: flag (or drop) training docs "
             "whose n-gram shingles overlap a benchmark corpus")
    dc.add_argument("--parquet", required=True, help="training table")
    dc.add_argument("--benchmark", required=True,
                    help="benchmark/eval corpus parquet table")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--text-col", default="text")
    dc.add_argument("-n", type=int, default=13,
                    help="shingle width in tokens (GPT-3 used 13)")
    dc.add_argument("--min-overlap", type=int, default=1,
                    help="distinct shared shingles to flag a doc")
    dc.add_argument("--method", choices=["exact", "bloom"],
                    default="exact",
                    help="bloom = bounded-memory prefilter + exact "
                         "verify (same output)")
    dc.add_argument("--clean-only", action="store_true",
                    help="write the DECONTAMINATED training table "
                         "(original rows minus flagged docs) instead "
                         "of the flag table")
    dc.add_argument("-o", "--output", required=True,
                    help="output parquet path")
    dc.add_argument("--cpus", type=int, default=None)
    return p


def _np_bits(width: int) -> int:
    np_bits = int(math.log2(width))
    if (1 << np_bits) != width:
        raise SystemExit(f"width {width} is not a power of two")
    return np_bits


def cmd_count(args) -> int:
    from sketchlib.sketches.cm import CMConfig, CountMin

    cfg = CMConfig(np_bits=_np_bits(args.width), nh=args.nh,
                   seed=args.seed, conservative=args.conservative)

    if args.fa:
        # reference parity mode: single-node FASTA ingest (the input
        # format is line-oriented and small; distributed ingest of
        # FASTA is out of scope — parquet is the scale path)
        from sketchlib.fasta import file_kmers
        from sketchlib.sketches.cm import OfflineCountMin

        kmers = file_kmers(args.fa, args.kmer,
                           canonicalize=not args.no_canonicalize)
        if args.rounds > 1:
            # reference round loop incl. the dead-OCCM-pre-pass quirk
            # (main.cpp:35-90, SURVEY.md O16)
            sk = OfflineCountMin(cfg)
            for r in range(args.rounds):
                if cfg.conservative:
                    sk.clear_core()
                    sk.update_count_collision_strict(kmers, r, args.rounds)
                else:
                    if r > 0:
                        sk.update_collision_strict(kmers, r, 0)
                    sk.clear_core()
                    sk.update_count_strict(kmers, r, 0)
            sk.save_reference(args.output)
        else:
            sk = CountMin(cfg)
            sk.update(kmers, strict_order=True)
            sk.save_reference(args.output)
        print(f"wrote {args.output} ({len(kmers)} updates)")
        return 0

    from sketchlib.aggregate import build_sketch
    from sketchlib.offline import build_offline
    from sketchlib.session import borrowed_spark
    from sketchlib.tokenize import transcript_tokens

    with borrowed_spark("sketchlib-count", cpus=args.cpus) as spark:
        if args.table:
            # catalog mode: snapshot-pinned multi-pass build (resumable
            # against the exact input snapshot even if the table
            # advances)
            if not args.catalog:
                raise SystemExit("--table requires --catalog")
            from sketchlib.iceberg import IcebergishCatalog
            cat = IcebergishCatalog(args.catalog)
            if args.rounds > 1:
                from sketchlib.offline import build_offline_from_table
                sk, snap = build_offline_from_table(
                    spark, cat, args.table, cfg, args.rounds,
                    checkpoint_dir=args.checkpoint,
                    snapshot_id=args.snapshot, pre_aggregate=True)
            else:
                # single-pass CM: one scan, no cross-pass consistency
                # concern — just resolve the snapshot and build
                snap = args.snapshot or cat.current_snapshot(args.table)
                toks = transcript_tokens(
                    cat.load_table(spark, args.table, snap))
                sk = build_sketch(toks, "token_u64",
                                  partial(CountMin, cfg),
                                  pre_aggregate=True)
            sk.save_reference(args.output)
            print(f"wrote {args.output} (snapshot {snap})")
            return 0
        toks = transcript_tokens(spark.read.parquet(args.parquet))
        if args.rounds > 1:
            sk = build_offline(toks, "token_u64", cfg, args.rounds,
                               checkpoint_dir=args.checkpoint,
                               pre_aggregate=True)
        else:
            sk = build_sketch(toks, "token_u64", partial(CountMin, cfg),
                              pre_aggregate=True)
        sk.save_reference(args.output)
        print(f"wrote {args.output}")
    return 0


def cmd_query(args) -> int:
    import numpy as np

    from sketchlib.fasta import encode_kmer
    from sketchlib.sketches.cm import read_reference

    sk = read_reference(args.sketch)
    trues, raw = [], []
    with open(args.queries) as fh:
        for line in fh:
            parts = line.split()
            if len(parts) < 2:
                continue
            raw.append(parts[0])
            trues.append(int(parts[1]))
    if args.kmer:
        keys = [encode_kmer(k) for k in raw]
    else:
        # hash through Spark's own xxhash64 so query-side hashing is
        # bit-identical to the build-side tokenizer (no reimplemented
        # hash to drift)
        from pyspark.sql import functions as F

        from sketchlib.session import borrowed_spark

        kind = {"word": 0, "tool": 1, "role": 2}[args.namespace]
        with borrowed_spark("sketchlib-query") as spark:
            keys = [r.h for r in
                    spark.createDataFrame([(v,) for v in raw],
                                          "val string")
                    .select(F.xxhash64(F.lit(kind).cast("int"), "val")
                            .alias("h")).collect()]
    est = sk.estimate(np.asarray(keys, dtype=np.int64).view(np.uint64))
    with open(args.output, "w", newline="") as fh:
        w = csv.writer(fh, lineterminator="\n")  # match reference's CSV
        w.writerow(["kmer", "true_count", "estimated_count"])
        for k, t, e in zip(raw, trues, est):
            w.writerow([k, t, int(e)])
    print(f"wrote {args.output} ({len(raw)} queries)")
    return 0


def cmd_analyze(args) -> int:
    import json

    from sketchlib.analysis import estimate_metrics
    from sketchlib.session import borrowed_spark

    with borrowed_spark("sketchlib-analyze", cpus=args.cpus) as spark:
        df = spark.read.csv(args.input, header=True, schema=(
            "kmer string, true_count bigint, estimated_count bigint"))
        m = estimate_metrics(df, scalable=args.scalable)
    print(json.dumps(m, sort_keys=True))
    return 0


def cmd_ingest(args) -> int:
    from sketchlib.session import borrowed_spark
    from sketchlib.storage import write_bucketed

    with borrowed_spark("sketchlib-ingest", cpus=args.cpus) as spark:
        write_bucketed(spark.read.parquet(args.parquet), args.table,
                       args.key, n_buckets=args.buckets, path=args.path)
    print(f"wrote table {args.table} bucketed by {args.key} "
          f"x{args.buckets}")
    return 0


def cmd_append(args) -> int:
    from sketchlib.iceberg import IcebergishCatalog
    from sketchlib.session import borrowed_spark

    with borrowed_spark("sketchlib-append", cpus=args.cpus) as spark:
        cat = IcebergishCatalog(args.catalog)
        snap = cat.append(args.table, spark.read.parquet(args.parquet))
    print(f"committed snapshot {snap} to {args.table}")
    return 0


def cmd_refresh(args) -> int:
    """Refresh a derived sketch table: CM (+ optional HLL) per group,
    O(delta) when the source advanced by appends only."""
    import json

    from pyspark.sql import functions as F

    from sketchlib.iceberg import IcebergishCatalog
    from sketchlib.incremental import refresh_sketch_table
    from sketchlib.session import borrowed_spark
    from sketchlib.sketches.cm import CMConfig, CountMin

    group_cols = [c.strip() for c in args.group_cols.split(",") if c.strip()]
    cfg = CMConfig(np_bits=_np_bits(args.width), nh=args.nh,
                   seed=args.seed, conservative=False)
    factories = {"cm": partial(CountMin, cfg)}
    if args.hll:
        from sketchlib.sketches.hll import HyperLogLog
        factories["hll"] = partial(HyperLogLog, 12)

    def prep(df):
        return df.select(*group_cols,
                         F.xxhash64(args.key).alias("kh"))

    with borrowed_spark("sketchlib-refresh", cpus=args.cpus) as spark:
        cat = IcebergishCatalog(args.catalog)
        stats = refresh_sketch_table(spark, cat, args.source,
                                     args.sketch_table, group_cols,
                                     "kh", factories, prepare=prep)
    print(json.dumps(stats, sort_keys=True))
    return 0


def cmd_profile(args) -> int:
    """One-scan per-column profile; prints one JSON line per column."""
    import json

    from sketchlib.profile import profile_table
    from sketchlib.session import borrowed_spark

    cols = ([c.strip() for c in args.columns.split(",") if c.strip()]
            if args.columns else None)
    qs = tuple(float(q) for q in args.quantiles.split(","))
    with borrowed_spark("sketchlib-profile", cpus=args.cpus) as spark:
        prof = profile_table(spark, spark.read.parquet(args.parquet),
                             cols, qs=qs, exact=not args.no_exact)
        for row in prof.toLocalIterator():
            print(json.dumps(row.asDict(), sort_keys=True))
    return 0


def cmd_sample(args) -> int:
    """Deterministic E-S sample to parquet."""
    from sketchlib.sampling import stratified_sample, weighted_sample
    from sketchlib.session import borrowed_spark

    id_cols = [c.strip() for c in args.id_cols.split(",") if c.strip()]
    with borrowed_spark("sketchlib-sample", cpus=args.cpus) as spark:
        df = spark.read.parquet(args.parquet)
        if args.strata:
            strata = [c.strip() for c in args.strata.split(",") if c.strip()]
            out = stratified_sample(df, strata, args.k, id_cols,
                                    args.weight, seed=args.seed)
        else:
            out = weighted_sample(df, args.k, id_cols,
                                  args.weight, seed=args.seed)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    print(f"wrote {args.output} ({n} rows, seed {args.seed})")
    return 0


def cmd_dedup(args) -> int:
    """Cluster assignments (or the keep-set) for a document table."""
    from pyspark.sql import functions as F

    from sketchlib import dedup as D
    from sketchlib.graph import duplicate_clusters
    from sketchlib.session import borrowed_spark

    with borrowed_spark("sketchlib-dedup", cpus=args.cpus) as spark:
        docs = spark.read.parquet(args.parquet)
        if args.method == "exact":
            # byte-identical text needs no closure: component = min id
            # over the fingerprint group, one hash aggregation
            fp = docs.select(
                F.md5(F.lower(F.col(args.text_col))).alias("fp"),
                F.col(args.id_col).alias("node"))
            mins = fp.groupBy("fp").agg(F.min("node").alias("component"))
            out = (fp.join(mins, "fp")
                   .select(F.col("node").alias(args.id_col), "component",
                           (F.col("node") == F.col("component"))
                           .alias("is_representative")))
        else:
            if args.method == "simhash":
                pairs = D.simhash_near_pairs(
                    docs, max_hamming=args.max_hamming,
                    id_col=args.id_col, text_col=args.text_col)
            else:
                pairs = D.minhash_dedup_pairs(
                    docs, threshold=args.threshold,
                    id_col=args.id_col, text_col=args.text_col)
            out = duplicate_clusters(pairs, docs=docs, id_col=args.id_col)
        if args.keep_only:
            out = docs.join(out.filter("is_representative")
                            .select(args.id_col), args.id_col)
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        kept = (n if args.keep_only else
                spark.read.parquet(args.output)
                .filter("is_representative").count())
    print(f"wrote {args.output} ({n} rows, {kept} representatives, "
          f"method {args.method})")
    return 0


def cmd_decontam(args) -> int:
    """Flag table (or the cleaned training table) for eval overlap."""
    from pyspark.sql import functions as F

    from sketchlib.decontam import contamination
    from sketchlib.session import borrowed_spark

    with borrowed_spark("sketchlib-decontam", cpus=args.cpus) as spark:
        train = spark.read.parquet(args.parquet)
        bench = spark.read.parquet(args.benchmark)
        flagged = contamination(train, bench, n=args.n,
                                min_overlap=args.min_overlap,
                                method=args.method,
                                id_col=args.id_col,
                                text_col=args.text_col)
        if args.clean_only:
            out = train.join(flagged.select(args.id_col),
                             args.id_col, "left_anti")
        else:
            out = flagged
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        n_train = train.count()
    what = "clean rows" if args.clean_only else "flagged docs"
    print(f"wrote {args.output} ({n} {what} of {n_train} training rows, "
          f"n={args.n}, min_overlap={args.min_overlap}, "
          f"method {args.method})")
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    if args.mode == "analyze":
        return cmd_analyze(args)
    if args.mode == "ingest":
        return cmd_ingest(args)
    if args.mode == "append":
        return cmd_append(args)
    if args.mode == "refresh":
        return cmd_refresh(args)
    if args.mode == "profile":
        return cmd_profile(args)
    if args.mode == "sample":
        return cmd_sample(args)
    if args.mode == "dedup":
        return cmd_dedup(args)
    if args.mode == "decontam":
        return cmd_decontam(args)
    return cmd_count(args) if args.mode == "count" else cmd_query(args)


if __name__ == "__main__":
    sys.exit(main())
