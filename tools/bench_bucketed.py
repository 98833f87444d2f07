"""Bucketed-layout A/B: the same merge join + keyed aggregation over
the SAME rows stored (a) as plain parquet and (b) bucketed+sorted on
the join key (sketchlib/storage.py). The bucketed variant plans zero
shuffle exchanges (tests/test_storage.py proves the plan shape); this
tool measures what that is worth in wall time at a size where the
shuffle actually dominates.

Protocol (shared-VM load drift, BENCH/BASELINE.md): variants interleave A,B,A,B,... within one JVM after warm-up,
and each variant keeps its best round.

Usage: python tools/bench_bucketed.py [n_rows] [rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    base = "/tmp/bench_bucketed"
    shutil.rmtree(base, ignore_errors=True)

    from pyspark.sql import functions as F

    from sketchlib.session import get_spark
    from sketchlib.storage import write_bucketed

    spark = get_spark("bucketed-bench", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic synthetic fact rows; two column sets so the join
    # isn't trivially self-eliminated
    df = (spark.range(n_rows).withColumnRenamed("id", "doc_id")
          .withColumn("lang", (F.col("doc_id") % 40).cast("string"))
          .withColumn("n_chars", (F.col("doc_id") * 37) % 5000))
    a_cols = df.select("doc_id", "lang")
    b_cols = df.select("doc_id", "n_chars")

    # write both layouts once; read-side cost is what we measure
    a_cols.write.mode("overwrite").parquet(f"{base}/plain_a")
    b_cols.write.mode("overwrite").parquet(f"{base}/plain_b")
    write_bucketed(a_cols, "bb_a", "doc_id", n_buckets=32,
                   path=f"{base}/bucket_a")
    write_bucketed(b_cols, "bb_b", "doc_id", n_buckets=32,
                   path=f"{base}/bucket_b")

    def workload(a, b) -> int:
        # merge hint on both variants: identical join strategy, so the
        # measured delta is the exchange (+sort), not a strategy switch
        j = a.hint("merge").join(b, "doc_id")
        n1 = j.count()
        n2 = (a.groupBy("doc_id").agg(F.count("*").alias("c"))
                .filter("c > 0").count())
        return n1 + n2

    def plain():
        return workload(spark.read.parquet(f"{base}/plain_a"),
                        spark.read.parquet(f"{base}/plain_b"))

    def bucketed():
        return workload(spark.table("bb_a"), spark.table("bb_b"))

    assert plain() == bucketed()  # same rows either way (also warm-up)

    best = {"plain": None, "bucketed": None}
    for _ in range(rounds):
        for name, fn in (("plain", plain), ("bucketed", bucketed)):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            if best[name] is None or dt < best[name]:
                best[name] = dt

    speedup = best["plain"] / best["bucketed"]
    result = {"n_rows": n_rows, "plain_sec": round(best["plain"], 2),
              "bucketed_sec": round(best["bucketed"], 2),
              "speedup": round(speedup, 2)}
    print(json.dumps(result))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as fh:
        fh.write(
            f"\n## Bucketed-layout A/B ({n_rows:,} rows, merge join on "
            f"doc_id + keyed agg, best of {rounds} interleaved rounds)\n\n"
            f"| layout | sec | plan shuffles |\n|---|---|---|\n"
            f"| plain parquet | {best['plain']:.2f} | 2 (join) + 1 (agg) |\n"
            f"| bucketed (storage.py) | {best['bucketed']:.2f} | 0 |\n\n"
            f"Speedup **{speedup:.2f}x** — the write-once/join-many "
            f"amortization the 100 TB layout banks on.\n")
    spark.stop()
    shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
