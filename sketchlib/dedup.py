"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard.

Everything stays JVM-side (explode / xxhash64 / groupBy / joins) so
Catalyst plans the shuffles; the only Python is driver-side plan
construction. The MinHash signature trick: ``xxhash64(shingle_hash,
perm_id)`` is an independent 64-bit hash family indexed by perm —
min-aggregated per doc entirely in whole-stage codegen.

Scale notes (100 TB): the LSH band join is an equi-join on
(band_id, band_key) — no cross product; candidate verification is a
shingle-set semi-join restricted to candidate pairs. Exact dedup is a
single hash aggregation on a fingerprint column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOKEN_SPLIT = r"\s+"


def normalized_tokens(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      keep_cols: list[str] | None = None) -> DataFrame:
    """(id, [keep_cols...,] pos, token) — lowercased whitespace
    tokens. ``keep_cols`` ride along through the explode, saving a
    join back to the source table for per-group token streams."""
    return (df.select(id_col, *(keep_cols or []),
                      F.posexplode(F.split(F.lower(F.col(text_col)),
                                           TOKEN_SPLIT))
                       .alias("pos", "token"))
              .filter(F.col("token") != ""))


def shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text", hashed: bool = False) -> DataFrame:
    """(id, shingle) distinct n-word shingles (n-grams of tokens).

    ``hashed=True`` returns (id, sh64) with the shingle identity as
    ``xxhash64(shingle)``: the string is built transiently inside the
    scan stage but only the 8-byte hash is kept/cached/joined — the
    same distinct/join semantics (modulo 2^-64 collisions) at a
    fraction of the shuffle, cache and join-key cost. The string form
    remains for readability/oracle parity."""
    toks = (df.select(id_col,
                      F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)
                       .alias("toks")))
    # docs shorter than n tokens have no shingles: guard the index
    # sequence (an unguarded F.sequence(0, size-n) DESCENDS when
    # size < n, and slice(start=0) then throws)
    idx = F.when(F.size("toks") >= n,
                 F.sequence(F.lit(0), F.size("toks") - n)
                 ).otherwise(F.array().cast("array<int>"))
    sh = toks.select(
        id_col,
        F.explode(F.transform(
            idx,
            lambda i: F.array_join(F.slice("toks", i + 1, n), " ")
        )).alias("shingle"))
    sh = sh.filter(F.col("shingle") != "")
    if hashed:
        return (sh.select(id_col, F.xxhash64("shingle").alias("sh64"))
                .distinct())
    return sh.distinct()


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical normalized text: (fingerprint, n_dups,
    min_id). One hash aggregation — the 100 TB-scale exact pass."""
    fp = df.select(F.md5(F.lower(F.col(text_col))).alias("fingerprint"),
                   F.col(id_col).alias("id"))
    return (fp.groupBy("fingerprint")
              .agg(F.count("*").alias("n_dups"),
                   F.min("id").alias("min_id"))
              .filter(F.col("n_dups") > 1))


def minhash_signatures(df: DataFrame | None, n_perm: int = 64,
                       shingle_n: int = 3, id_col: str = "doc_id",
                       text_col: str = "text",
                       shingle_df: DataFrame | None = None,
                       bands: int | None = None) -> DataFrame:
    """(id, sig: array<long>) MinHash signature per document; with
    ``bands`` also (id, bands: array<long>) — the LSH band keys
    (WangHash fold of each band's rows) computed inside the SAME numpy
    merge kernel, so the downstream bucket join is a plain
    posexplode + equi-join with no wide Catalyst hash expressions.

    The n_perm hash family runs as ONE vectorized numpy kernel per
    partition (WangHash of ``sh64 ^ seed_p`` over an (n, n_perm)
    block, per-doc column mins via ``minimum.reduceat``) with manual
    map-side combine: each partition emits one partial signature row
    per doc it saw, and a tiny (|docs| x n_partitions rows max)
    elementwise-min merge finishes the job. The previous form — 64
    independent ``F.min(xxhash64(...))`` aggregate columns — evaluated
    64 expression trees per shingle row and was the dominant cost of
    the whole minhash pipeline (27s -> ~4s at sf0.1).

    ``shingle_df`` lets callers reuse an already-computed (cached)
    shingle table instead of re-shingling the corpus.
    """
    import numpy as np
    import pandas as pd

    from sketchlib.hashing import to_u64, wang_hash_u64

    sh = shingle_df if shingle_df is not None \
        else shingles(df, shingle_n, id_col, text_col)
    hashed = sh.select(id_col, "sh64") if "sh64" in sh.columns \
        else sh.select(F.col(id_col), F.xxhash64("shingle").alias("sh64"))
    seeds = np.random.default_rng(0x5EED).integers(
        0, 1 << 63, n_perm, dtype=np.uint64)

    def _reduce(ids: np.ndarray, sigs: np.ndarray):
        order = np.argsort(ids, kind="stable")
        ids, sigs = ids[order], sigs[order]
        starts = np.flatnonzero(
            np.r_[True, ids[1:] != ids[:-1]]) if ids.size else np.empty(0, int)
        return ids[starts], np.minimum.reduceat(sigs, starts, axis=0)

    def partial(batches):
        acc_ids, acc_sigs = [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            v = to_u64(pdf["sh64"])
            h = wang_hash_u64(v[:, None] ^ seeds[None, :]).view(np.int64)
            uids, mins = _reduce(ids, h)
            acc_ids.append(uids)
            acc_sigs.append(mins)
        if acc_ids:
            uids, mins = _reduce(np.concatenate(acc_ids),
                                 np.concatenate(acc_sigs))
            yield pd.DataFrame({id_col: uids, "sig": list(mins)})

    partials = hashed.mapInPandas(partial,
                                  schema=f"{id_col} long, sig array<long>")

    def merge_partition(batches):
        from sketchlib.hashing import wang_hash_u64 as _wh

        ids, sigs = [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids.append(pdf[id_col].to_numpy())
            sigs.append(np.stack([np.asarray(s, dtype=np.int64)
                                  for s in pdf["sig"]]))
        if not ids:
            return
        uids, mins = _reduce(np.concatenate(ids), np.vstack(sigs))
        out = pd.DataFrame({id_col: uids, "sig": list(mins)})
        if bands:
            rows = n_perm // bands
            grp = mins.view(np.uint64).reshape(len(uids), bands, rows)
            keys = _wh(grp[:, :, 0] ^ np.uint64(0x9E3779B97F4A7C15))
            for r in range(1, rows):
                keys = _wh(keys ^ grp[:, :, r])
            out["bands"] = list(keys.view(np.int64))
        yield out

    schema = f"{id_col} long, sig array<long>"
    if bands:
        schema += ", bands array<long>"
    # hash-exchange on the doc id, then ONE numpy reduce per partition
    # (a per-group applyInPandas costs a Python call per doc — at 10^5+
    # docs per partition that dominates the whole pipeline)
    return (partials.repartition(id_col)
            .mapInPandas(merge_partition, schema=schema))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Equi-join matching band buckets: returns distinct
    (id_a, id_b), id_a < id_b. Band keys come precomputed from the
    signature kernel (the ``bands`` array column of
    :func:`minhash_signatures` built with ``bands`` bands) —
    posexplode + join, no wide hash expressions."""
    banded = sigs.select(id_col, F.posexplode("bands").alias("band", "key"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, ["band", "key"])
             .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"))
             .distinct())


def jaccard_pairs(df: DataFrame, threshold: float, shingle_n: int = 3,
                  id_col: str = "doc_id", text_col: str = "text",
                  candidates: DataFrame | None = None,
                  shingle_df: DataFrame | None = None) -> DataFrame:
    """Exact n-gram-Jaccard similar pairs: (id_a, id_b, jaccard).

    Without ``candidates`` this is the all-pairs shingle join (the
    exact oracle); with candidates (from LSH) the join is restricted —
    the scale path. ``shingle_df`` reuses a precomputed (cached)
    shingle table."""
    sh = shingle_df if shingle_df is not None \
        else shingles(df, shingle_n, id_col, text_col)
    key = "sh64" if "sh64" in sh.columns else "shingle"
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    if candidates is not None:
        # restrict BEFORE the shingle join: candidates x a-side shingles,
        # then equi-join the b side on (id_b, shingle). Work is linear in
        # |candidates| * shingles-per-doc — the all-pairs self-join never
        # materializes (it would dominate everything at scale)
        inter = (candidates
                 .join(sh.select(F.col(id_col).alias("id_a"), key),
                       "id_a")
                 .join(sh.select(F.col(id_col).alias("id_b"), key),
                       ["id_b", key])
                 .groupBy("id_a", "id_b")
                 .agg(F.count("*").alias("inter")))
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (a.join(b, key)
                  .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                  .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                           F.col(f"b.{id_col}").alias("id_b"))
                  .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.col("inter")
                        / (F.col("na") + F.col("nb") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b",
                    (F.floor(F.col("jaccard") * 1e6) / 1e6).alias("jaccard")))


def minhash_dedup_pairs(df: DataFrame, threshold: float = 0.8,
                        n_perm: int = 64, bands: int = 16,
                        shingle_n: int = 3, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """MinHash LSH candidates verified by exact Jaccard — the standard
    near-dup pipeline (signature scan -> band join -> verify).

    Returns a lazy frame and persists nothing: the caller runs it after
    this returns, so a cache made here could never be released."""
    sh = shingles(df, shingle_n, id_col, text_col, hashed=True)
    sigs = minhash_signatures(None, n_perm, shingle_n, id_col, text_col,
                              shingle_df=sh, bands=bands)
    cands = lsh_candidate_pairs(sigs, id_col)
    return jaccard_pairs(df, threshold, shingle_n, id_col, text_col,
                         candidates=cands, shingle_df=sh)


def minhash_band_index(df: DataFrame | None = None, n_perm: int = 64,
                       bands: int = 16, shingle_n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text",
                       shingle_df: DataFrame | None = None) -> DataFrame:
    """``(id, band, key)`` LSH band rows for a corpus — the table a
    production pipeline PERSISTS (with the ``(id, sh64)`` shingle
    table) so that tomorrow's delta run never re-reads today's corpus.
    Plain exploded form: the delta path equi-joins it on (band, key),
    so storing it bucketed/partitioned by key makes that join
    shuffle-free on the stored side."""
    sigs = minhash_signatures(df, n_perm, shingle_n, id_col, text_col,
                              shingle_df=shingle_df, bands=bands)
    return sigs.select(id_col,
                       F.posexplode("bands").alias("band", "key"))


def minhash_index_append(band_index: DataFrame, shingle_index: DataFrame,
                         new_docs: DataFrame, n_perm: int = 64,
                         bands: int = 16, shingle_n: int = 3,
                         id_col: str = "doc_id",
                         text_col: str = "text"
                         ) -> tuple[DataFrame, DataFrame]:
    """Fold a processed delta into the stored index — the other half of
    the daily loop: after :func:`minhash_dedup_delta` reports today's
    near-dup pairs, today's band and shingle rows append to the stored
    tables so TOMORROW's delta joins against them too. Pure union (the
    index rows of distinct doc ids are disjoint); at scale this is an
    appender write into the cell/key-partitioned index tables, no
    shuffle, no rewrite of yesterday's files. Returns the appended
    (band_index, shingle_index) pair."""
    sh_new = shingles(new_docs, shingle_n, id_col, text_col, hashed=True)
    banded_new = minhash_band_index(None, n_perm, bands, shingle_n,
                                    id_col, text_col, shingle_df=sh_new)
    return (band_index.unionByName(banded_new),
            shingle_index.unionByName(sh_new))


def minhash_dedup_delta(new_docs: DataFrame, band_index: DataFrame,
                        shingle_index: DataFrame, threshold: float = 0.8,
                        n_perm: int = 64, bands: int = 16,
                        shingle_n: int = 3, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Incremental near-dup detection against a STORED index — the
    operation a real 100 TB pipeline runs daily: yesterday's corpus was
    indexed once (``band_index`` = (id, band, key) from
    minhash_band_index; ``shingle_index`` = (id, sh64) from
    shingles(hashed=True)); today only the DELTA is shingled and
    signed. Candidates are new x new (band self-join) plus
    new x indexed (band join against the stored table); the exact
    Jaccard verify reads new shingles plus ONLY the matched old docs'
    stored shingles (semi-join on candidate ids). The historical
    corpus TEXT is never touched — the delta plan scans the delta and
    the index tables, nothing else (plan-pinned in
    tests/test_dedup_delta.py). Verdicts are identical to a full
    recompute on the appended corpus restricted to pairs involving a
    new doc (the old x old pairs were yesterday's output).

    Returns (id_a, id_b, jaccard >= threshold), id_a < id_b, same
    contract as minhash_dedup_pairs."""
    sh_new = shingles(new_docs, shingle_n, id_col, text_col, hashed=True)
    sigs_new = minhash_signatures(None, n_perm, shingle_n, id_col, text_col,
                                  shingle_df=sh_new, bands=bands)
    nn = lsh_candidate_pairs(sigs_new, id_col)
    banded_new = sigs_new.select(id_col,
                                 F.posexplode("bands").alias("band", "key"))
    n = banded_new.alias("n")
    o = band_index.alias("o")
    no = (n.join(o, ["band", "key"])
          .filter(F.col(f"n.{id_col}") != F.col(f"o.{id_col}"))
          .select(F.least(F.col(f"n.{id_col}"),
                          F.col(f"o.{id_col}")).alias("id_a"),
                  F.greatest(F.col(f"n.{id_col}"),
                             F.col(f"o.{id_col}")).alias("id_b")))
    cands = nn.unionByName(no).distinct()
    # stored shingles of ONLY the candidate-matched old docs ride into
    # the verify join; a delta id's shingles come from sh_new alone,
    # also when the id is already indexed (a re-ingest), so none counts
    # twice
    need = (cands.select(F.explode(F.array("id_a", "id_b"))
                         .alias(id_col)).distinct())
    old_sh = (shingle_index.join(need, id_col, "left_semi")
              .join(new_docs.select(id_col).distinct(), id_col, "left_anti"))
    union_sh = sh_new.unionByName(old_sh)
    return jaccard_pairs(None, threshold, shingle_n, id_col, text_col,
                         candidates=cands, shingle_df=union_sh)


def simhash(df: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """64-bit SimHash fingerprint per doc as two 32-bit halves
    ``(fp_hi, fp_lo)``: per-bit majority vote of token-hash bits,
    token weight = term frequency. JVM-side: 64 conditional sums over
    the exploded token stream.

    The token hash is md5-derived (first/second 8 hex chars as two
    unsigned 32-bit words) so the fingerprint is engine-portable —
    DuckDB computes the identical value, which makes the operator
    oracle-checkable end-to-end."""
    toks = normalized_tokens(df, id_col, text_col)
    m = F.md5("token")
    h = toks.select(
        id_col,
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h_lo"))
    votes = [
        F.sum(F.when((F.shiftright(half, j).bitwiseAND(F.lit(1))) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{tag}{j}")
        for tag, half in (("h", "h_hi"), ("l", "h_lo"))
        for j in range(32)
    ]
    agg = h.groupBy(id_col).agg(*votes)

    def pack(tag: str):
        terms = [F.when(F.col(f"v{tag}{j}") > 0,
                        F.lit(2 ** j).cast("long"))
                  .otherwise(F.lit(0).cast("long")) for j in range(32)]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    return agg.select(id_col, pack("h").alias("fp_hi"),
                      pack("l").alias("fp_lo"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on 16-bit
    chunks (a pair within distance<=3 shares at least one of 4 chunks
    exactly — pigeonhole), so no cross join."""
    # materialize the fingerprint table (n_docs x 4 longs — tiny even
    # at corpus scale) so the blocked SELF-join below doesn't recompute
    # the whole tokenize+md5+vote pipeline once per side
    sh = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    chunk_exprs = [
        (F.col("fp_hi").bitwiseAND(F.lit(0xFFFF))).alias("c0"),
        F.shiftrightunsigned("fp_hi", 16).alias("c1"),
        (F.col("fp_lo").bitwiseAND(F.lit(0xFFFF))).alias("c2"),
        F.shiftrightunsigned("fp_lo", 16).alias("c3"),
    ]
    blocked = sh.select(id_col, "fp_hi", "fp_lo", *chunk_exprs)
    blocks = blocked.select(
        id_col, "fp_hi", "fp_lo",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"), F.col(f"c{c}").alias("val"))
            for c in range(4)])).alias("b")
    ).select(id_col, "fp_hi", "fp_lo", "b.chunk", "b.val")
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (a.join(b, ["chunk", "val"])
              .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
              .select(F.col(f"a.{id_col}").alias("id_a"),
                      F.col(f"b.{id_col}").alias("id_b"),
                      F.col("a.fp_hi").alias("ha"),
                      F.col("a.fp_lo").alias("la"),
                      F.col("b.fp_hi").alias("hb"),
                      F.col("b.fp_lo").alias("lb"))
              .distinct())
    return (pairs.withColumn(
                "hamming",
                F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                + F.bit_count(F.col("la").bitwiseXOR(F.col("lb"))))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             method: str = "exact", n_bits: int = 8,
                             n_tables: int = 8, seed: int = 7,
                             dim: int = 64, id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos_sim)
    with cosine >= threshold.

    method='exact' broadcasts the smaller side for a full pairwise
    scan (the oracle-checkable regime); method='lsh' blocks on SRP
    signatures first (``sketchlib.ann.srp_signatures``) so only
    bucket-colliding pairs get the exact cosine — the 100 TB path:
    at 0.95 cosine the angular distance is ~18deg, so an 8-bit SRP
    signature agrees with probability (1 - 18/180)^8 ~= 0.43 per
    table; 8 tables give ~98.9% recall with no cross join.

    Scale shape of the LSH path: candidate IDS ONLY go through the
    (tbl, sig) self-join and the pair dedup — the n_tables-replicated
    vector payloads never cross that shuffle. Vectors (norms
    precomputed once per vector) are equi-joined back to the
    deduplicated candidates, and the cosine runs as one numpy einsum
    per Arrow batch instead of interpreted Catalyst lambdas.
    """
    from sketchlib.ann import _cosine, _srp_buckets, _vectors

    side_a = _vectors(emb, "id_a", "a", id_col, vec_col)
    side_b = _vectors(emb, "id_b", "b", id_col, vec_col)
    if method == "lsh":
        blocks = _srp_buckets(emb, "id", n_bits, seed, dim, id_col, vec_col,
                              n_tables)
        cand = (blocks.alias("a")
                .join(blocks.alias("b"), ["tbl", "sig"])
                .filter(F.col("a.id") < F.col("b.id"))
                .select(F.col("a.id").alias("id_a"),
                        F.col("b.id").alias("id_b"))
                .dropDuplicates(["id_a", "id_b"]))
        pairs = cand.join(side_a, "id_a").join(side_b, "id_b")
    else:
        pairs = side_a.join(F.broadcast(side_b),
                            F.col("id_a") < F.col("id_b"))

    # round (not floor): surviving pairs sit within ~1e-12 of exact
    # cosine values, and floor at the 1e-6 grid is discontinuous there
    return (_cosine(pairs)
            .filter(F.col("sim") >= threshold)
            .select("id_a", "id_b",
                    F.round(F.col("sim"), 6).alias("cos_sim")))


def semantic_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                       cluster_col: str = "cluster",
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       block_rows: int = 4096) -> DataFrame:
    """Within-cluster embedding-cosine near-dup pairs — the pair step
    of SemDeDup (Abbas et al. 2023, arXiv:2303.09540): all-pairs
    cosine is computed only INSIDE each cluster of a coarse
    clustering, never across the corpus.

    Spark shape: ONE shuffle (groupBy the cluster key), then a numpy
    blocked ``X̂ X̂ᵀ`` matmul per cluster inside ``applyInPandas`` —
    O(block_rows * n_c) peak memory per task, no per-pair Python, no
    cross join. Total cost is Σ n_c², the quantity the paper's
    cluster-count choice controls; at 100 TB pick nlist so the
    largest cluster fits one task (the paper uses ~11k clusters for
    100M+ points). All-pairs needs the whole cluster in one task, so
    a hot cluster is capped by nlist, not salting.

    Returns ``(id_a < id_b, cos_sim)`` with cosine >= threshold,
    cos_sim rounded to 1e-6 like
    :func:`embedding_near_dup_pairs`.
    """
    import numpy as np
    import pandas as pd

    from sketchlib.ann import _unit_rows

    thr = float(threshold)
    empty = {"id_a": pd.Series([], dtype="int64"),
             "id_b": pd.Series([], dtype="int64"),
             "cos_sim": pd.Series([], dtype="float64")}

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(empty)
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        ids = pdf[id_col].to_numpy()
        m = _unit_rows(pdf[vec_col])
        out_a, out_b, out_s = [], [], []
        for lo in range(0, n, block_rows):
            s = m[lo:lo + block_rows] @ m.T
            r, c = np.nonzero(s >= thr)
            keep = (r + lo) < c  # strict upper triangle: id_a < id_b
            if keep.any():
                out_a.append(ids[r[keep] + lo])
                out_b.append(ids[c[keep]])
                out_s.append(s[r[keep], c[keep]])
        if not out_a:
            return pd.DataFrame(empty)
        return pd.DataFrame({
            "id_a": np.concatenate(out_a),
            "id_b": np.concatenate(out_b),
            "cos_sim": np.round(np.concatenate(out_s), 6)})

    return (emb.select(F.col(cluster_col).alias("_cl"), id_col, vec_col)
            .groupBy("_cl")
            .applyInPandas(per_cluster,
                           "id_a long, id_b long, cos_sim double"))


def semdedup(emb: DataFrame, threshold: float = 0.95,
             assign: DataFrame | None = None,
             centroids=None, nlist: int = 16, iters: int = 5,
             keep: str = "min_id", id_col: str = "vec_id",
             vec_col: str = "embedding", **cc_kwargs) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication of an
    embedded corpus. Cluster the embeddings coarsely, find
    within-cluster cosine near-duplicates, resolve them into
    duplicate GROUPS (transitive closure via
    :func:`sketchlib.graph.duplicate_clusters`), and keep exactly one
    member per group.

    Clustering is pluggable: pass ``assign`` — a ``(id, cluster)``
    DataFrame — to use any precomputed partition (the strict driver
    oracle does, with an engine-portable expression cluster), or
    leave it None to train the deterministic spherical k-means coarse
    quantizer from :func:`sketchlib.ann.ivf_train` (pass ``centroids``
    to skip training). Like the paper, pairs crossing cluster
    boundaries are missed by construction — that is the accepted
    recall/cost trade.

    ``keep``:
      - ``"min_id"`` — the group's minimum id (deterministic,
        engine-portable; what the strict gate checks);
      - ``"centroid_far"`` — the paper's rule: keep the member with
        the LOWEST cosine similarity to its cluster centroid (the
        most atypical example), ties to the lower id. Requires
        k-means centroids (``assign=None`` or ``centroids=...``).

    Returns ``(id, cluster, component, keep)`` — one row per input
    vector; pair-free vectors are singleton components with
    keep=true. Every stage is a bounded shuffle: cluster groupBy,
    O(log n)-round star CC on the pair graph (tiny vs the corpus),
    and one component-keyed min — nothing driver-side but the
    centroid fold.
    """
    import numpy as np

    from sketchlib import graph as G
    from sketchlib.ann import ivf_assign, ivf_train

    if assign is not None:
        tagged = emb.join(assign.select(id_col, "cluster"), id_col)
        if keep == "centroid_far" and centroids is None:
            raise ValueError("keep='centroid_far' needs k-means "
                             "centroids; pass centroids= or assign=None")
    else:
        if centroids is None:
            centroids = ivf_train(emb, nlist=nlist, iters=iters,
                                  id_col=id_col, vec_col=vec_col)
        tagged = ivf_assign(emb, centroids, vec_col=vec_col,
                            out_col="cluster")
    tagged = tagged.select(id_col, "cluster", vec_col)

    pairs = semantic_dup_pairs(tagged, threshold, "cluster",
                               id_col, vec_col)
    comp = G.duplicate_clusters(pairs, docs=tagged, id_col=id_col,
                                **cc_kwargs)
    out = tagged.join(comp, id_col)

    if keep == "min_id":
        return out.select(id_col, "cluster", "component",
                          F.col("is_representative").alias("keep"))
    if keep != "centroid_far":
        raise ValueError(f"unknown keep rule {keep!r}")

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from sketchlib.ann import _unit_rows as _unit

    C = np.asarray(centroids, dtype=np.float64)

    @pandas_udf("double")
    def _csim(vs, cl):
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        m = _unit(vs)
        return pd.Series(
            np.einsum("ij,ij->i", m, C[cl.to_numpy()]))

    scored = out.withColumn("cent_sim",
                            _csim(F.col(vec_col), F.col("cluster")))
    winner = (scored.groupBy("component")
              .agg(F.min(F.struct("cent_sim", id_col)).alias("w"))
              .select("component", F.col(f"w.{id_col}").alias("_win")))
    return (scored.join(winner, "component")
            .select(id_col, "cluster", "component",
                    (F.col(id_col) == F.col("_win")).alias("keep")))
