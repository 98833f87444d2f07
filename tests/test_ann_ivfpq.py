"""IVF-PQ composition: ivfpq_index / ann_topk_ivfpq — the FAISS-style
cell-routed codes scan that serves 10^12-vector corpora. Gates:
full-probe equivalence to the plain PQ scan, per-query partial-probe
exactness, layout-independent tie order of the shared ADC scan (PQ and
IVF-PQ), partial-probe cluster recall, index layout, and the
scale-invariance that makes the recall-guaranteed driver oracle strict.
"""

from __future__ import annotations

import numpy as np
import pytest
from pandas.testing import assert_frame_equal
from pyspark.sql import functions as F

from sketchlib.ann import (ann_topk_ivfpq, ann_topk_pq, ivf_assign,
                           ivf_probe, ivf_train, ivfpq_index, pq_encode,
                           pq_train)

DIM = 32


def _clustered(spark, n_clusters=8, per=30, seed=3):
    rng = np.random.default_rng(seed)
    cents = rng.normal(size=(n_clusters, DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    rows, vid = [], 0
    for c in range(n_clusters):
        for _ in range(per):
            v = cents[c] + 0.05 * rng.normal(size=DIM)
            rows.append((vid, c, v.tolist()))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, cluster int, embedding array<double>")


def test_full_probe_equals_plain_pq(spark):
    """nprobe >= nlist scans every cell: the IVF routing must be a
    pure no-op and the result identical to ann_topk_pq."""
    df = _clustered(spark)
    cents = ivf_train(df, nlist=4, iters=3)
    books = pq_train(df, m=4, kcent=16, iters=3)
    idx = ivfpq_index(df, cents, books)
    qs = df.filter(F.col("vec_id") < 5)
    a = [(r["query_id"], r["neighbor_id"]) for r in
         ann_topk_ivfpq(idx, qs, cents, books, k=5, nprobe=4).collect()]
    b = [(r["query_id"], r["neighbor_id"]) for r in
         ann_topk_pq(pq_encode(df, books), qs, books, k=5).collect()]
    assert a == b


def test_partial_probe_equals_pq_over_probed_cells(spark):
    """nprobe < nlist: each query's IVF-PQ top-k is exactly the plain
    PQ top-k over the codes of that query's own probed cells — the
    probe restriction applies per query, not as the union of all."""
    df = _clustered(spark)
    cents = ivf_train(df, nlist=4, iters=3)
    books = pq_train(df, m=4, kcent=16, iters=3)
    idx = ivfpq_index(df, cents, books).cache()
    qs = df.filter(F.col("vec_id") % 40 == 0)
    got = ann_topk_ivfpq(idx, qs, cents, books, k=5, nprobe=2).toPandas()
    probes = {r["vec_id"]: r["probe"]
              for r in ivf_probe(qs, cents, 2).collect()}
    assert len(probes) == 6 and all(len(p) == 2 for p in probes.values())
    for qid, cells in probes.items():
        # the same query batch, so the LUTs (one matmul over all the
        # queries) are bit-identical; only the scanned cells differ
        want = ann_topk_pq(idx.filter(F.col("cell").isin(cells)), qs,
                           books, k=5).toPandas()
        want = want[want["query_id"] == qid].reset_index(drop=True)
        mine = got[got["query_id"] == qid].reset_index(drop=True)
        assert len(mine) == 5
        assert_frame_equal(mine, want, check_exact=True)
    idx.unpersist()


# Two codewords whose squared distances to the query [1, 0] differ by
# one ulp (0.25 and 0.25 + 2**-54) while both give adc_sim exactly
# 0.875: an exact ADC tie, which the global window breaks to the
# smaller neighbor id.
_TIE_BOOKS = np.array([[[0.5, 0.0], [0.5, 2.0 ** -27]]])


@pytest.mark.parametrize("ivf", [False, True], ids=["pq", "ivfpq"])
@pytest.mark.parametrize("parts", [1, 2])
def test_local_cut_uses_window_order(spark, ivf, parts):
    """The per-batch local cut must order by the window's own key
    (adc_sim desc, neighbor_id asc). A cut on raw distance keeps id 7
    (the smaller distance) when both neighbors share a batch and id 3
    when they do not, so the top-k would depend on partition layout."""
    rows = [(7, 0, [0]), (3, 0, [1])]
    codes = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts),
        "vec_id long, cell int, codes array<bigint>")
    qs = spark.createDataFrame([(100, [1.0, 0.0])],
                               "vec_id long, embedding array<double>")
    if ivf:
        top = ann_topk_ivfpq(codes, qs, np.array([[1.0, 0.0]]),
                             _TIE_BOOKS, k=1, nprobe=1)
    else:
        top = ann_topk_pq(codes.drop("cell"), qs, _TIE_BOOKS, k=1)
    got = [(r["query_id"], r["neighbor_id"], r["adc_sim"])
           for r in top.collect()]
    assert got == [(100, 3, 0.875)]


def test_partial_probe_cluster_recall(spark):
    """nprobe=1 on well-separated clusters: every returned neighbor
    comes from the query's own cluster (the cell it probes)."""
    df = _clustered(spark, n_clusters=8, per=30)
    cents = ivf_train(df, nlist=8, iters=4)
    books = pq_train(df, m=8, kcent=32, iters=4)
    idx = ivfpq_index(df, cents, books)
    qs = df.filter(F.col("vec_id") % 30 == 0)
    rows = ann_topk_ivfpq(idx, qs, cents, books, k=5, nprobe=1).collect()
    cl = {r["vec_id"]: r["cluster"] for r in
          df.select("vec_id", "cluster").collect()}
    assert len(rows) == 8 * 5
    same = sum(cl[r["query_id"]] == cl[r["neighbor_id"]] for r in rows)
    assert same / len(rows) >= 0.95


def test_index_layout_and_keep_cols(spark):
    df = _clustered(spark, 4, 20)
    cents = ivf_train(df, nlist=4, iters=2)
    books = pq_train(df, m=4, kcent=16, iters=2)
    idx = ivfpq_index(df, cents, books)
    assert set(idx.columns) == {"vec_id", "codes", "cell"}
    rows = idx.collect()
    assert len(rows) == 80
    assert all(0 <= r["cell"] < 4 for r in rows)
    assert all(len(r["codes"]) == 4 for r in rows)
    # cells agree with a standalone assignment pass
    want = {r["vec_id"]: r["ivf_cluster"] for r in
            ivf_assign(df, cents).collect()}
    assert all(want[r["vec_id"]] == r["cell"] for r in rows)


def test_scaled_copies_share_cell_and_codes(spark):
    """Power-of-two scaled copies unit-normalize bit-exactly to the
    original, so they land in ITS cell with ITS codes — the property
    the strict driver oracle rests on."""
    df = _clustered(spark, 4, 20)
    cents = ivf_train(df, nlist=4, iters=2)
    books = pq_train(df, m=4, kcent=16, iters=2)
    copies = df.filter(F.col("vec_id") < 3).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "cluster",
        F.transform("embedding", lambda x: x * 8.0).alias("embedding"))
    idx = {r["vec_id"]: (r["cell"], tuple(r["codes"])) for r in
           ivfpq_index(df.unionByName(copies), cents, books).collect()}
    for q in range(3):
        assert idx[q] == idx[q + 1000]
