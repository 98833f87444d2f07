"""Similarity search over embedding columns.

One exact baseline and three scale paths, each a top-k per query:

- ``cosine_topk``: brute-force cosine, JVM-side (the correctness
  baseline the other paths are tested against);
- ``ann_topk_lsh`` / ``ann_topk_ivf``: SRP-LSH buckets or IVF coarse
  cells turn the cross join into an equi-join on ids only, and
  ``exact_rerank_topk`` scores the candidates;
- ``ann_topk_pq`` / ``ann_topk_ivfpq``: Product Quantization codes
  scanned by one ADC kernel; IVF-PQ is that scan restricted to each
  query's probed cells.

Vector math runs in Arrow-batched numpy kernels (pandas UDFs and
``mapInPandas``). The IVF quantizer and the PQ codebooks are trained
by one Lloyd pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0),
                              lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y:
                                  x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, x: acc + x)


def _stack(vs) -> np.ndarray:
    """Stack an Arrow column of vectors into a (batch, dim) float64
    matrix."""
    return np.stack([np.asarray(v, dtype=np.float64) for v in vs])


def with_norms(df: DataFrame, vec_col: str, out_col: str = "nv") -> DataFrame:
    """Attach the L2 norm of ``vec_col`` — computed ONCE per vector in
    a vectorized pandas UDF (one einsum per Arrow batch), so pair-scoring
    stages never recompute norms per pair. Catalyst higher-order-function
    lambdas (F.aggregate/zip_with) are interpreted, not codegen; the
    Arrow-batched numpy kernel is the fast path for vector math."""
    @F.pandas_udf("double")
    def _n(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=np.float64)
        m = _stack(vs)
        return pd.Series(np.sqrt(np.einsum("ij,ij->i", m, m)))

    return df.withColumn(out_col, _n(F.col(vec_col)))


def pair_cosine_udf():
    """Row-wise cosine over (va, vb, na, nb) columns: one numpy matmul
    per Arrow batch (einsum over the stacked pair block), norms taken
    from the precomputed columns. ~10-100x the interpreted
    aggregate/zip_with expression path on wide vectors."""
    @F.pandas_udf("double")
    def _cos(va, vb, na, nb):
        if len(va) == 0:
            return pd.Series([], dtype=np.float64)
        a, b = _stack(va), _stack(vb)
        dots = np.einsum("ij,ij->i", a, b)
        return pd.Series(dots / (na.to_numpy() * nb.to_numpy()))

    return _cos


def _vectors(df: DataFrame, key: str, side: str, id_col: str,
             vec_col: str) -> DataFrame:
    """``(key, v<side>, n<side>)``: each id with its vector and its norm,
    computed once per vector, ready to join onto id-only pairs."""
    return with_norms(df.select(F.col(id_col).alias(key),
                                F.col(vec_col).alias("v" + side)),
                      "v" + side, "n" + side)


def _cosine(pairs: DataFrame) -> DataFrame:
    """Add ``sim``: the cosine of the ``va``/``vb`` vectors of each pair
    from their precomputed norms ``na``/``nb``."""
    return pairs.withColumn("sim", pair_cosine_udf()(
        F.col("va"), F.col("vb"), F.col("na"), F.col("nb")))


def _top_ranked(df: DataFrame, k: int, sim_col: str = "sim") -> DataFrame:
    """Each query's k best rows by (``sim_col`` desc, neighbor_id asc),
    numbered 1..k in ``rank`` — the one global top-k cut."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(sim_col).desc(), F.col("neighbor_id").asc())
    return (df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def cosine_topk(df: DataFrame, queries: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                sim_decimals: int = 6) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector (brute force —
    the correctness baseline; O(nq * n) dot products, JVM-side).

    Output: (query_id, neighbor_id, sim) with sim floored to
    ``sim_decimals``; ranking by (sim desc, neighbor_id asc); the
    query itself excluded.
    """
    base = df.select(F.col(id_col).alias("neighbor_id"),
                     F.col(vec_col).alias("v"),
                     _norm(F.col(vec_col)).alias("nv"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"),
                       _norm(F.col(vec_col)).alias("nq"))
    joined = (q.crossJoin(F.broadcast(base))
               .filter(F.col("neighbor_id") != F.col("query_id"))
               .withColumn("sim", _dot(F.col("qv"), F.col("v"))
                           / (F.col("nq") * F.col("nv"))))
    return _top_ranked(joined, k).select(
        "query_id", "neighbor_id",
        (F.floor(F.col("sim") * (10 ** sim_decimals))
         / (10 ** sim_decimals)).alias("sim"), "rank")


def srp_signatures(df: DataFrame, n_bits: int = 16, seed: int = 7,
                   dim: int = 64, id_col: str = "vec_id",
                   vec_col: str = "embedding", n_tables: int = 1) -> DataFrame:
    """Signed-random-projection LSH signatures (Charikar 2002): bit i =
    sign(v . r_i) for fixed seeded Gaussian hyperplanes. Vectors with
    high cosine share many bits => bucket on the signature.

    All ``n_tables`` signatures are computed in ONE vectorized pandas
    UDF via a single (batch, dim) @ (dim, n_tables*n_bits) matmul —
    Arrow batch in, Arrow batch out, no per-row Python — then packed to
    int64 per table. Output adds ``srp_sigs: array<long>`` (len =
    n_tables). At 100 TB this is a narrow map over the scan: no
    shuffle, embarrassingly parallel, ~1 GFLOP per million rows."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_tables * n_bits))
    weights = (1 << np.arange(n_bits - 1, -1, -1, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def _sigs(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = _stack(vecs)
        bits = (m @ planes > 0).reshape(len(m), n_tables, n_bits)
        sigs = (bits * weights).sum(axis=2)
        return pd.Series(list(sigs))

    return df.withColumn("srp_sigs", _sigs(F.col(vec_col)))


def _srp_buckets(df: DataFrame, key: str, n_bits: int, seed: int,
                 dim: int, id_col: str, vec_col: str,
                 n_tables: int) -> DataFrame:
    """``(key, tbl, sig)``: one row per vector and SRP table — the
    bucket side of every SRP equi-join, ids only."""
    return (srp_signatures(df, n_bits, seed, dim, id_col, vec_col, n_tables)
            .select(F.col(id_col).alias(key),
                    F.posexplode("srp_sigs").alias("tbl", "sig")))


def ann_topk_lsh(df: DataFrame, queries: DataFrame, k: int,
                 n_bits: int = 8, n_tables: int = 8, seed: int = 7,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: union of ``n_tables`` SRP bucket joins, exact
    cosine re-rank inside the candidate set. The cross join of the
    brute-force baseline becomes an equi-join on (table, signature) —
    the scale path: candidate count ~ n / 2^n_bits per table instead
    of n, and the join shuffles only (id, tbl, sig) tuples."""
    # candidates carry IDS ONLY through the bucket join + dedup — the
    # (n_tables x replicated) vector payloads never cross that shuffle;
    # vectors (with norms precomputed once each) are joined back to the
    # deduplicated candidate set, and cosine runs as one numpy einsum
    # per Arrow batch
    srp = (n_bits, seed, dim, id_col, vec_col, n_tables)
    cand = (_srp_buckets(queries, "query_id", *srp)
            .join(_srp_buckets(df, "neighbor_id", *srp), ["tbl", "sig"]))
    return exact_rerank_topk(cand, df, queries, k, id_col, vec_col)


def exact_rerank_topk(cand: DataFrame, df: DataFrame, queries: DataFrame,
                      k: int, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) candidate set:
    self pairs and duplicates dropped on the ids alone, vectors (norms
    precomputed once each) joined back, cosine as one numpy einsum per
    Arrow batch, bounded top-k per query. Shared by every ANN blocking
    strategy (SRP-LSH, IVF) — only the candidate-generation join
    differs."""
    cand = (cand.select("query_id", "neighbor_id")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .dropDuplicates(["query_id", "neighbor_id"]))
    scored = _cosine(
        cand.join(F.broadcast(_vectors(queries, "query_id", "a", id_col,
                                       vec_col)), "query_id")
        .join(_vectors(df, "neighbor_id", "b", id_col, vec_col),
              "neighbor_id"))
    # round (not floor): engineered recall-guaranteed corpora put the
    # true neighbors at cosine exactly 1.0, where both engines land
    # within ~1e-15 of 1.0 from opposite sides — floor at the 1e-6
    # grid is discontinuous there, round is not
    return _top_ranked(scored, k).select(
        "query_id", "neighbor_id", F.round(F.col("sim"), 6).alias("sim"),
        "rank")


# --------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-probe scale path
# --------------------------------------------------------------------

def _unit_rows(vs) -> np.ndarray:
    """Stack an Arrow column of vectors into a (batch, dim) float64
    matrix with L2-normalized rows (zero vectors pass through)."""
    m = _stack(vs)
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _lloyd_sums(df: DataFrame, vec_col: str, assign) -> list:
    """One Lloyd data pass, shared by IVF (m=1) and PQ training.
    ``assign`` maps a batch of unit rows (n, dim) to (n, m) cluster
    ids, one per subspace of width dim // m. ONE Spark job: each Arrow
    batch emits its partial sums (at most m * kcent rows) and the
    driver folds them per (sub, cluster) in partition order. Returns
    ``[(sub, cluster, psum, n)]``."""
    def part(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = _unit_rows(pdf[vec_col])
            codes = assign(X)
            dsub = X.shape[1] // codes.shape[1]
            rows = []
            for j in range(codes.shape[1]):
                Xs, a = X[:, j * dsub:(j + 1) * dsub], codes[:, j]
                for c in np.unique(a):
                    sel = Xs[a == c]
                    rows.append((j, int(c), sel.sum(axis=0).tolist(),
                                 len(sel)))
            yield pd.DataFrame(rows, columns=["sub", "cluster", "psum", "n"])

    parts = (df.select(vec_col)
             .mapInPandas(part, "sub int, cluster int, psum array<double>, "
                                "n long")
             .toPandas())
    return [(j, c, np.sum(np.stack(grp["psum"].to_numpy()), axis=0),
             grp["n"].sum())
            for (j, c), grp in parts.groupby(["sub", "cluster"])]


def ivf_train(df: DataFrame, nlist: int = 16, iters: int = 5,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> np.ndarray:
    """Train the IVF coarse quantizer: spherical k-means (cosine
    assignment, mean-then-renormalize update), fully deterministic —
    centroids initialize from the ``nlist`` smallest-id vectors and
    every step is order-independent numpy float64.

    Each Lloyd iteration is one :func:`_lloyd_sums` job (m=1), so
    driver traffic is O(nlist * partitions * dim) per iteration,
    independent of corpus size. At 100 TB, train on
    ``df.sample(...)``: a coarse quantizer needs ~10^3-10^4 points per
    centroid, not the corpus; assignment (below) still maps the full
    table."""
    init = (df.orderBy(F.col(id_col).asc()).limit(nlist)
            .select(vec_col).toPandas())
    cents = _unit_rows(init[vec_col])
    if len(cents) < nlist:
        raise ValueError(f"need >= nlist={nlist} vectors to train")

    for _ in range(iters):
        sums = _lloyd_sums(
            df, vec_col, lambda X, C=cents: (X @ C.T).argmax(axis=1)[:, None])
        new = cents.copy()
        for _sub, c, s, _n in sums:
            nrm = np.linalg.norm(s)
            if nrm > 0.0:  # empty/degenerate cluster keeps its centroid
                new[c] = s / nrm
        cents = new
    return cents


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding",
               out_col: str = "ivf_cluster") -> DataFrame:
    """Attach each vector's coarse cell: argmax cosine against the
    (nlist, dim) centroid matrix — one matmul per Arrow batch, a
    narrow map over the scan (no shuffle). Ties break to the lowest
    cluster index (numpy argmax), and cosine is scale-invariant, so
    positively-scaled copies of a vector land in ITS cell bit-exactly
    (normalization by a power-of-two norm is exact in IEEE754)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("int")
    def _a(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="int32")
        return pd.Series((_unit_rows(vs) @ C.T).argmax(axis=1)
                         .astype("int32"))

    return df.withColumn(out_col, _a(F.col(vec_col)))


def _nearest_cells(U: np.ndarray, C: np.ndarray,
                   nprobe: int) -> np.ndarray:
    """The ``nprobe`` nearest coarse cells of each unit row of ``U`` by
    cosine, nearest first: ``(len(U), min(nprobe, nlist))``. Stable
    argsort, so ties break to the lowest cell index."""
    return np.argsort(-(U @ C.T), axis=1,
                      kind="stable")[:, :min(int(nprobe), len(C))]


def ivf_probe(queries: DataFrame, centroids: np.ndarray, nprobe: int,
              vec_col: str = "embedding",
              out_col: str = "probe") -> DataFrame:
    """Attach each query's ``nprobe`` nearest coarse cells (stable
    argsort — ties break to the lowest cluster index)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def _p(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        return pd.Series(list(_nearest_cells(_unit_rows(vs), C, nprobe)
                              .astype("int32")))

    return queries.withColumn(out_col, _p(F.col(vec_col)))


def ann_topk_ivf(df: DataFrame, queries: DataFrame, k: int,
                 nlist: int = 16, nprobe: int = 4, iters: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 centroids: np.ndarray | None = None) -> DataFrame:
    """Approximate top-k via an inverted file (IVF): train an
    nlist-cell coarse quantizer, assign every corpus vector to its
    cell, probe each query's ``nprobe`` nearest cells, and exact-rerank
    the candidates. The brute-force cross join becomes an equi-join on
    ``cluster`` — candidate count ~ n * nprobe / nlist — and, like the
    SRP path, only ids cross the candidate shuffle. ``nprobe == nlist``
    probes every cell and is EXACTLY ``cosine_topk`` (tested); at
    ``nprobe < nlist`` recall degrades gracefully with measured
    trade-off (tests/test_ann_ivf.py). Pass ``centroids`` to reuse a
    trained quantizer across query batches (at scale the index is
    built once and persisted with the table)."""
    if centroids is None:
        centroids = ivf_train(df, nlist=nlist, iters=iters,
                              id_col=id_col, vec_col=vec_col)
    base = ivf_assign(df, centroids, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("ivf_cluster").alias("cluster"))
    qs = (ivf_probe(queries, centroids, nprobe, vec_col)
          .select(F.col(id_col).alias("query_id"),
                  F.explode("probe").alias("cluster")))
    return exact_rerank_topk(qs.join(base, "cluster"), df, queries, k,
                             id_col, vec_col)


# ----------------------------------------------------------------- PQ

def _pq_init_sample(df: DataFrame, kcent: int, id_col: str,
                    vec_col: str, seed: int = 0x5EEDC0DE) -> DataFrame:
    """Deterministic shuffle-free pick of ``kcent`` init vectors: the
    kcent rows with the smallest seeded xxhash64(id). orderBy+limit
    compiles to TakeOrderedAndProject — each task keeps a local
    top-kcent, the driver merges; no Exchange, Sort, or Window node
    ever touches the training set (plan-pinned in tests/test_plans.py).
    Hash order doubles as a uniform pseudo-random spread across the
    corpus regardless of id density or layout."""
    return (df.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col), F.lit(seed)).asc(),
                     F.col(id_col).asc())
            .limit(kcent)
            .select(vec_col))


def _pq_codes(X: np.ndarray, books: np.ndarray) -> np.ndarray:
    """PQ codes ``(n, m)`` of unit rows ``X``: per subspace j, the
    nearest codeword of ``books[j]`` (argmin ||x - c||^2 = argmax
    2 x.c - ||c||^2; ties to the lowest index)."""
    m, _, dsub = books.shape
    codes = np.empty((len(X), m), dtype=np.int64)
    for j in range(m):
        B = books[j]
        codes[:, j] = ((X[:, j * dsub:(j + 1) * dsub] @ B.T) * 2
                       - np.einsum("kd,kd->k", B, B)[None, :]).argmax(axis=1)
    return codes


def pq_train(df: DataFrame, m: int = 8, kcent: int = 256,
             iters: int = 5, id_col: str = "vec_id",
             vec_col: str = "embedding") -> np.ndarray:
    """Train a Product Quantizer (Jegou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11 — the canonical 100 TB ANN
    compression): split unit-normalized vectors into ``m`` subspaces
    and k-means each subspace to ``kcent`` centroids. Returns
    codebooks ``(m, kcent, dsub)`` float64.

    Fully deterministic: centroids initialize from the ``kcent``
    vectors with the smallest seeded xxhash64(id) — a pseudo-random
    spread over the whole corpus (unlike ivf_train's smallest-id rule,
    a contiguous id prefix is usually one locality cluster, which
    starves Lloyd of spread at PQ's much larger kcent). The selection
    compiles to TakeOrderedAndProject: per-partition local top-kcent
    merged on the driver — NO global sort, window, count job, or
    shuffle exchange (plan-pinned in tests/test_plans.py). Every Lloyd
    step is order-independent float64, and each iteration is one
    :func:`_lloyd_sums` job for ALL subspaces (mean update); at 100 TB
    train on ``df.sample(...)`` (a quantizer needs ~10^3 points per
    centroid, not the corpus)."""
    init = _pq_init_sample(df, kcent, id_col, vec_col).toPandas()
    X0 = _unit_rows(init[vec_col])
    dim = X0.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    if len(X0) < kcent:
        raise ValueError(f"need >= kcent={kcent} vectors to train")
    books = np.stack([X0[:, j * dsub:(j + 1) * dsub]
                      for j in range(m)])            # (m, kcent, dsub)

    for _ in range(iters):
        sums = _lloyd_sums(df, vec_col, lambda X, B=books: _pq_codes(X, B))
        new = books.copy()
        for j, c, s, n in sums:
            if n:
                new[j, c] = s / n
        books = new
    return books


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              id_col: str = "vec_id",
              vec_col: str = "embedding",
              keep_cols: list[str] | None = None) -> DataFrame:
    """Encode unit-normalized vectors to ``(id, codes array<int>)`` —
    m codes of 0..kcent-1 each, 8-256x smaller than the raw vectors
    (the representation that actually fits 10^12 vectors in cluster
    memory). One mapInPandas pass; codebooks ride the task closure.
    ``keep_cols`` carries extra columns (e.g. the IVF cell) through the
    kernel, so index layouts like (id, cell, codes) need no join."""
    keep = list(keep_cols or [])

    def enc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = _pq_codes(_unit_rows(pdf[vec_col]), codebooks)
            out = {"id": pdf[id_col], "codes": list(codes)}
            for c in keep:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in keep)
    return (df.select(id_col, vec_col, *keep)
            .mapInPandas(enc, f"id long, codes array<bigint>{keep_schema}")
            .withColumnsRenamed({"id": id_col}))


def _adc_topk(codes_df: DataFrame, queries: DataFrame,
              codebooks: np.ndarray, k: int, id_col: str, vec_col: str,
              centroids: np.ndarray | None = None,
              nprobe: int = 0) -> DataFrame:
    """The one ADC scan behind :func:`ann_topk_pq` and
    :func:`ann_topk_ivfpq`. Per query, a ``(m, kcent)`` look-up table
    of exact subvector-to-codeword squared distances; each Arrow batch
    of codes sums m entries per row and emits its LOCAL top-k per query
    in the global window's own order (adc_sim desc, neighbor_id asc):
    exact ADC ties are common, and any other local order would make
    the top-k depend on partition layout. The query itself, and with
    ``centroids`` every row outside the query's ``nprobe`` nearest
    cells (an (nq, nlist) boolean table indexed by ``cell``), is
    dropped before that cut. The corpus never shuffles."""
    m, kcent, dsub = codebooks.shape
    qp = queries.select(id_col, vec_col).toPandas()
    qids = qp[id_col].to_numpy()
    Q = _unit_rows(qp[vec_col])
    probe = None
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
        cells = _nearest_cells(Q, C, nprobe)
        probe = np.zeros((len(qids), len(C)), dtype=bool)
        np.put_along_axis(probe, cells, True, axis=1)
        codes_df = codes_df.filter(
            F.col("cell").isin(np.unique(cells).tolist()))
    # LUT[q, j, c] = ||q_j - c_{j,c}||^2 (exact, float64)
    lut = np.empty((len(qids), m, kcent))
    for j in range(m):
        Qs, B = Q[:, j * dsub:(j + 1) * dsub], codebooks[j]
        lut[:, j, :] = (np.einsum("id,id->i", Qs, Qs)[:, None]
                        - 2 * (Qs @ B.T)
                        + np.einsum("kd,kd->k", B, B)[None, :])

    def scan(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy())        # (n, m)
            ids = pdf[id_col].to_numpy()
            # dist2[q, n] = sum_j LUT[q, j, codes[n, j]]
            d2 = np.zeros((len(qids), len(ids)))
            for j in range(m):
                d2 += lut[:, j, codes[:, j]]
            sim = 1.0 - d2 / 2.0
            ok = ids[None, :] != qids[:, None]
            if probe is not None:
                ok &= probe[:, pdf["cell"].to_numpy()]
            q, n = np.nonzero(ok)
            order = np.lexsort((ids[n], -sim[q, n], q))   # last key primary
            q, n = q[order], n[order]
            top = np.arange(len(q)) - np.searchsorted(q, q) < k
            q, n = q[top], n[top]
            yield pd.DataFrame({"query_id": qids[q], "neighbor_id": ids[n],
                                "adc_sim": sim[q, n]})

    local = codes_df.mapInPandas(
        scan, "query_id long, neighbor_id long, adc_sim double")
    return _top_ranked(local, k, "adc_sim").orderBy("query_id", "rank")


def ann_topk_pq(codes_df: DataFrame, queries: DataFrame,
                codebooks: np.ndarray, k: int,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k by Asymmetric Distance Computation (ADC): a
    scan of the :func:`pq_encode` CODES, never the raw vectors, with
    LUTs riding the closure (nq * m * kcent doubles; see
    :func:`_adc_topk`). Output (query_id, neighbor_id, adc_sim, rank)
    where adc_sim = 1 - dist2/2 (the cosine a unit query would have
    with the reconstruction), ranked (adc_sim desc, neighbor_id)."""
    return _adc_topk(codes_df, queries, codebooks, k, id_col, vec_col)


def ivfpq_index(df: DataFrame, centroids: np.ndarray,
                codebooks: np.ndarray, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """``(id, cell, codes)`` — the stored IVF-PQ layout (Jegou et al.
    TPAMI'11; the index structure behind every billion-scale ANN
    service): coarse cell for probe pruning, PQ codes for in-cell ADC.
    One narrow pass (assignment pandas_udf + encode kernel chained —
    no shuffle, no join: the cell rides through pq_encode's
    ``keep_cols``). At scale, WRITE THIS PARTITIONED BY ``cell``: a
    probe then prunes at the file level and the ADC scan touches only
    nprobe/nlist of the corpus bytes."""
    a = ivf_assign(df, centroids, vec_col, out_col="cell")
    return pq_encode(a, codebooks, id_col, vec_col, keep_cols=["cell"])


def ann_topk_ivfpq(codes_df: DataFrame, queries: DataFrame,
                   centroids: np.ndarray, codebooks: np.ndarray,
                   k: int, nprobe: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ search — the composition that serves 10^12-vector
    corpora: each query probes its ``nprobe`` nearest coarse cells and
    ADC-scans ONLY the codes stored in those cells. ``codes_df`` is
    the (id, cell, codes) table from :func:`ivfpq_index`; raw vectors
    are never touched at query time.

    It is the :func:`ann_topk_pq` scan restricted to each query's
    probed cells; the probed-cell union also becomes a Catalyst
    ``isin`` filter on the codes scan (partition-prunable when the
    index is stored partitioned by cell). ``nprobe >= nlist`` equals
    :func:`ann_topk_pq` exactly (tested)."""
    return _adc_topk(codes_df, queries, codebooks, k, id_col, vec_col,
                     centroids, nprobe)
