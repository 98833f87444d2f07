"""Distributed sketch builds: the partial/final aggregate model the
reference implies with its elementwise merges (reference:
include/ccm.h:401-407 sum for CM, include/hll.h:957-991 max for HLL,
include/bf.h:515-539 OR for Bloom), expressed Spark-natively.

Every ungrouped build goes through :func:`build_sketches`, which makes
one sketch per name over the same key column in one scan:

    keys DF ──mapInPandas──▶ one (name, blob) row per name per partition
            [──repartition(tree_width) + mapInPandas──▶ folded blobs,
             only when there can be more than tree_width partitions]
            ──Arrow collect──▶ driver folds them per name

:func:`build_sketch` is its one-name case. ``pre_aggregate=True``
first collapses the keys JVM-side to (key, count) rows and the kernel
makes each partition's blob in one :func:`_weighted_blob` step per
fresh sketch: ``update_weighted`` then ``to_bytes``, or the sketch's
own ``weighted_blob`` (the conservative CM's runs on a compact table
of the cells its keys touch and never allocates the full one).
Otherwise ``update`` runs once per Arrow batch. Grouped builds (one
sketch per key group, the same weighted step) go through
:func:`build_grouped_sketches_multi`, with :func:`build_grouped_sketches`
as its one-name case. ROLLUP and CUBE over a grouped table
(:func:`rollup_grouped_sketches`, :func:`cube_grouped_sketches`) are
one grouping-sets builder: every coarser set is merged from the finest
level's blobs. Blobs are folded everywhere with
:func:`sketchlib.sketches.base.fold_blobs`.

Everything stays on the DataFrame/Arrow path, and the driver folds at
most ``tree_width`` blobs per name wherever the kernel's partition
count is known (see :func:`build_sketches`). Merges are associative
and commutative, so for order-independent sketches the result does not
depend on the partitioning.
"""

from __future__ import annotations

from itertools import combinations
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from sketchlib.hashing import to_u64
from sketchlib.sketches.base import deserialize, fold_blobs

_NAMED = "name string, sketch binary"


def _counted(df: DataFrame, group_cols: list[str],
             weight_col: str | None) -> DataFrame:
    """``group_cols`` collapsed JVM-side to one row per distinct tuple
    with its weight in ``__cnt``: ``COUNT(*)``, or ``SUM(weight_col)``
    when given (integral weights)."""
    if weight_col is None:
        return (df.select(*group_cols).groupBy(*group_cols)
                .agg(F.count("*").alias("__cnt")))
    # NULL-weight rows contribute nothing: SUM over an all-NULL key
    # would reach the numpy kernel as NaN
    return (df.select(*group_cols, weight_col)
            .filter(F.col(weight_col).isNotNull())
            .groupBy(*group_cols)
            .agg(F.sum(weight_col).cast("long").alias("__cnt")))


def _weighted_blob(sketch, vals: np.ndarray, counts: np.ndarray) -> bytes:
    """The blob of a fresh ``sketch`` after ``update_weighted(vals,
    counts)``: the sketch's own ``weighted_blob`` step where it has one
    (the conservative CM packs it from the touched cells only), else
    ``update_weighted`` then ``to_bytes``."""
    step = getattr(sketch, "weighted_blob", None)
    if step is not None:
        return step(vals, counts)
    sketch.update_weighted(vals, counts)
    return sketch.to_bytes()


def _fold_named(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: fold each name's blobs into one."""
    accs: dict[str, object] = {}
    for pdf in batches:
        for name, blobs in pdf.groupby("name", sort=False)["sketch"]:
            accs[name] = fold_blobs(blobs, accs.get(name))
    if accs:
        yield pd.DataFrame({"name": list(accs),
                            "sketch": [s.to_bytes() for s in accs.values()]})


def build_sketches(df: DataFrame, col: str,
                   factories: dict[str, Callable[[], object]],
                   tree_width: int = 8, as_u64: bool = True,
                   pre_aggregate: bool = False,
                   kernel_partitions: int | None = None,
                   weight_col: str | None = None) -> dict[str, object]:
    """Build one merged sketch per name over ``df[col]`` in one scan;
    returns ``{name: sketch}`` on the driver (``factory()`` for every
    name on empty input).

    ``factories`` maps names to picklable zero-arg callables returning
    a fresh sketch (e.g. ``partial(CountMin, cfg)``). ``as_u64`` feeds
    the kernels :func:`sketchlib.hashing.to_u64` keys, else the raw
    column (value sketches such as KLL).

    ``pre_aggregate=True`` is the scale path for frequency sketches: a
    JVM-side ``groupBy(col).count()`` collapses the stream to
    |distinct| weighted rows before any Python runs, and each partition
    makes ONE weighted update (:func:`_weighted_blob`), so an
    order-sensitive kernel (conservative CM) is a pure function of the
    partition's multiset whatever the Arrow batch size. Every factory
    must implement ``update_weighted``.

    ``weight_col`` (pre_aggregate only) makes the build weighted:
    per-key weight = ``SUM(weight_col)`` instead of ``COUNT(*)``, still
    one hash aggregate (the hook for time-decayed frequency,
    sketchlib/decay.py); weights must be integral.

    The kernel emits one blob per name per partition. They pass
    through a ``repartition(tree_width)`` fold stage only when there can
    be more than ``tree_width`` of them; otherwise the driver folds them
    directly. The bound is ``kernel_partitions`` (which repartitions the
    kernel's input) when given, else with ``pre_aggregate`` the
    aggregate's exchange width: AQE's initial partition number when
    set, else ``spark.sql.shuffle.partitions`` (AQE only coalesces
    below it). A raw build over a scan keeps the fold stage. Catalyst
    adds no exchange when ``df`` is already hash- or range-partitioned
    on ``col``, so the kernel keeps ``df``'s own partition count; pass
    ``kernel_partitions`` as the bound there, or the driver folds one
    blob per input partition.
    """
    if weight_col is not None and not pre_aggregate:
        raise ValueError("weight_col requires pre_aggregate=True")
    names = sorted(factories)
    src = _counted(df, [col], weight_col) if pre_aggregate else df.select(col)
    if kernel_partitions is not None:
        src = src.repartition(kernel_partitions)

    def keys(pdf: pd.DataFrame) -> np.ndarray:
        return to_u64(pdf[col]) if as_u64 else pdf[col].to_numpy()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = (pdf for pdf in batches if len(pdf))
        if pre_aggregate:
            frames = list(batches)
            if not frames:
                return
            vals = np.concatenate([keys(pdf) for pdf in frames])
            wts = np.concatenate([pdf["__cnt"].to_numpy() for pdf in frames])
            blobs = [_weighted_blob(factories[name](), vals, wts)
                     for name in names]
        else:
            sks = [factories[name]() for name in names]
            for pdf in batches:
                vals = keys(pdf)
                for sk in sks:
                    sk.update(vals)
            blobs = [sk.to_bytes() for sk in sks]
        yield pd.DataFrame({"name": names, "sketch": blobs})

    blobs = src.mapInPandas(kernel, schema=_NAMED)
    bound = kernel_partitions
    if bound is None and pre_aggregate:
        # Spark's own width rule for the aggregate's exchange
        bound = (df.sparkSession._jsparkSession.sessionState().conf()
                 .numShufflePartitions())
    if bound is None or bound > tree_width:
        blobs = (blobs.repartition(tree_width)
                 .mapInPandas(_fold_named, schema=_NAMED))
    out = {name: fold_blobs(grp)
           for name, grp in blobs.toPandas().groupby("name")["sketch"]}
    return {name: out[name] if name in out else factories[name]()
            for name in names}


def build_sketch(df: DataFrame, col: str, factory: Callable[[], object],
                 tree_width: int = 8, as_u64: bool = True,
                 pre_aggregate: bool = False,
                 kernel_partitions: int | None = None,
                 weight_col: str | None = None):
    """One merged sketch over ``df[col]``: the one-name case of
    :func:`build_sketches`, which documents the options."""
    return build_sketches(df, col, {"sketch": factory}, tree_width,
                          as_u64, pre_aggregate, kernel_partitions,
                          weight_col)["sketch"]


def build_grouped_sketches(df: DataFrame, key_cols: list[str], col: str,
                           factory: Callable[[], object],
                           as_u64: bool = True,
                           salt_buckets: int | None = None,
                           pre_aggregate: bool = False,
                           pre_distinct: bool = False,
                           weight_col: str | None = None) -> DataFrame:
    """One sketch per key group: ``(key..., sketch binary)`` DataFrame.

    Uses applyInPandas (hash exchange on the keys planned by Catalyst);
    suitable when the number of groups is large and results stay
    distributed (e.g. per-language token sketches).

    ``salt_buckets`` is the hot-key defense: with it, aggregation runs
    in two stages — partial sketches per ``(key, salt)`` where salt =
    ``pmod(xxhash64(col), salt_buckets)`` splits a hot key's rows
    across up to ``salt_buckets`` tasks, then a second (tiny: one blob
    per key-salt) exchange merges blobs per key. Merges are
    associative & commutative, so the result is identical to the
    unsalted plan for order-independent sketches (bit-exact for plain
    CM / HLL / Bloom / count-sketch). AQE's skew handling cannot split
    a single group of a custom aggregation — the salt must be in the
    grouping key, which is exactly what this does.

    ``pre_aggregate`` / ``pre_distinct`` are the grouped analogs of
    :func:`build_sketch`'s scale path — see
    :func:`build_grouped_sketches_multi`.

    Implemented as the single-factory case of
    :func:`build_grouped_sketches_multi` so the salting and merge
    machinery exist in exactly one place.
    """
    return build_grouped_sketches_multi(
        df, key_cols, col, {"sketch": factory},
        as_u64=as_u64, salt_buckets=salt_buckets,
        pre_aggregate=pre_aggregate,
        pre_distinct=pre_distinct,
        weight_col=weight_col).drop("name")


def finalize_grouped(grouped: DataFrame, finalize: Callable[[object], object],
                     out_col: str, out_type: str = "double") -> DataFrame:
    """Finalize grouped sketch blobs *distributed*: replace the
    ``sketch`` column with ``finalize(sketch)`` via mapInPandas, so at
    10^5+ groups the estimates never funnel through the driver (the
    driver-side collect-and-rebuild anti-pattern). ``finalize`` must be
    picklable (module-level function or partial)."""
    key_fields = [f for f in grouped.schema if f.name != "sketch"]
    key_names = [f.name for f in key_fields]
    schema = (", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in key_fields)
              + f", {out_col} {out_type}")

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[key_names].copy()
            out[out_col] = [finalize(deserialize(bytes(b)))
                            for b in pdf["sketch"]]
            yield out

    return grouped.mapInPandas(per_batch, schema=schema)


def pairwise_grouped(grouped: DataFrame,
                     compare: Callable[[object, object], tuple],
                     out_schema: str,
                     key_col: str | None = None,
                     block_cols: list[str] | tuple = (),
                     pair_filter=None,
                     num_partitions: int | None = None,
                     deser: Callable[[bytes], object] = deserialize,
                     max_pairs: int = 2_000_000,
                     n_groups_hint: int | None = None) -> DataFrame:
    """Distributed pairwise comparison over a grouped sketch-blob table
    ``(key..., sketch binary)``: one output row per unordered pair
    ``key_a < key_b`` (within each ``block_cols`` stratum), columns
    ``(block..., key_a, key_b, *out_schema)`` where the values come
    from ``compare(sketch_a, sketch_b)`` (must return a tuple matching
    ``out_schema``; must be picklable — module-level fn or partial).

    This replaces the driver-side ``{k: deser(b) for ...
    grouped.collect()}`` + nested-loop anti-pattern: at 10^4-10^5
    groups the blobs would funnel through (and be compared on) the
    driver. Scale shape here instead:

    - the PAIR SET is enumerated over a keys-only projection (the
      skinny side is broadcast; blobs are never broadcast), then
      optionally narrowed by ``pair_filter`` (a Column over
      ``key_a``/``key_b``/block cols) *before* any sketch bytes move;
    - blobs are attached by two shuffled equi-joins (each blob is
      replicated once per pair it participates in — inherent to
      pairwise output, not a plan defect);
    - ``compare`` runs inside ``mapInPandas`` on executors; the driver
      sees only the final comparison rows.

    Pairwise output is inherently O(|groups|^2) per stratum — at large
    group counts callers must bound it with ``block_cols`` (compare
    only within a stratum, e.g. LSH bucket / estimator name) and/or
    ``pair_filter``; that is a semantic choice the helper can't make.
    ``max_pairs`` enforces it: when the
    unfiltered per-stratum pair count exceeds it, the call FAILS with
    guidance unless a ``pair_filter`` brings the actual pair count
    back under the cap (verified by a keys-only count — no blob ever
    moves first). An accidental all-pairs enumeration at 10^5 groups
    (~5*10^9 pairs) is therefore an immediate error, not a hung job.
    ``n_groups_hint`` lets a caller that KNOWS its group count (e.g.
    the per-language queries: 4 langs) skip the guard's count job when
    ``hint*(hint-1)/2 <= max_pairs`` — the count job is trivial at
    scale but is a fixed extra Spark job a 1-second query shouldn't
    pay. The hint is an upper bound on total group rows; an honest
    hint is the caller's contract (a wrong huge-understating hint
    reintroduces the unbounded enumeration the guard exists to stop).
    """
    cols = grouped.columns
    if "sketch" not in cols:
        raise ValueError("grouped must have a 'sketch' binary column")
    # grouped feeds three legs below (keys projection + two blob
    # attaches); without a persist Catalyst re-runs the expensive
    # applyInPandas grouped build up to 3x. Bounded registry, so
    # repeated calls don't accumulate cache forever.
    from sketchlib.cache import scoped_persist
    grouped = scoped_persist(grouped)
    block_cols = list(block_cols)
    if key_col is None:
        rest = [c for c in cols
                if c != "sketch" and c not in block_cols]
        if len(rest) != 1:
            raise ValueError(f"ambiguous key column among {rest}; "
                             "pass key_col=")
        key_col = rest[0]
    types = {f.name: f.dataType.simpleString() for f in grouped.schema}

    keys = grouped.select(*block_cols, F.col(key_col).alias("__k"))
    ka = keys.select(*block_cols, F.col("__k").alias("key_a"))
    kb = keys.select(*[F.col(c).alias(f"__b_{c}") for c in block_cols],
                     F.col("__k").alias("key_b"))
    cond = F.col("key_a") < F.col("key_b")
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"__b_{c}"))
    kp = (F.broadcast(ka).join(kb, cond)
          .drop(*[f"__b_{c}" for c in block_cols]))
    if pair_filter is not None:
        kp = kp.filter(pair_filter)

    # scale guard: bound the materialized pair set BEFORE any blob
    # moves. Per-stratum group counts are one cheap agg over the
    # keys-only projection; the exact filtered count is only computed
    # when the unfiltered bound already exceeds the cap.
    if (max_pairs is not None and n_groups_hint is not None
            and n_groups_hint * (n_groups_hint - 1) // 2 <= max_pairs):
        max_pairs = None  # hinted small: no count job needed
    if max_pairs is not None:
        strata = (keys.groupBy(*block_cols).agg(F.count("*").alias("n"))
                  if block_cols else
                  keys.agg(F.count("*").alias("n")))
        worst = int(strata.agg(F.sum(
            F.col("n") * (F.col("n") - 1) / 2).alias("p")).collect()[0]["p"]
            or 0)
        if worst > max_pairs:
            if pair_filter is None:
                raise ValueError(
                    f"pairwise_grouped would enumerate ~{worst:,} pairs "
                    f"(> max_pairs={max_pairs:,}); bound the pair set "
                    "with block_cols (compare within strata) and/or "
                    "pair_filter, or raise max_pairs explicitly if you "
                    "really want an all-pairs run")
            actual = kp.count()
            if actual > max_pairs:
                raise ValueError(
                    f"pairwise_grouped pair_filter still keeps "
                    f"{actual:,} pairs (> max_pairs={max_pairs:,}); "
                    "tighten the filter/blocking or raise max_pairs")

    blob_a = grouped.select(*block_cols, F.col(key_col).alias("key_a"),
                            F.col("sketch").alias("__sk_a"))
    blob_b = grouped.select(*block_cols, F.col(key_col).alias("key_b"),
                            F.col("sketch").alias("__sk_b"))
    pairs = (kp.join(blob_a, ["key_a", *block_cols])
             .join(blob_b, ["key_b", *block_cols]))
    if num_partitions:
        pairs = pairs.repartition(num_partitions, "key_a", "key_b")

    out_names = [p.strip().split()[0]
                 for p in out_schema.split(",") if p.strip()]
    schema = (", ".join([f"{c} {types[c]}" for c in block_cols]
                        + [f"key_a {types[key_col]}",
                           f"key_b {types[key_col]}"])
              + ", " + out_schema)
    carry = [*block_cols, "key_a", "key_b"]

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = [compare(deser(bytes(a)), deser(bytes(b)))
                    for a, b in zip(pdf["__sk_a"], pdf["__sk_b"])]
            out = pdf[carry].copy()
            for i, name in enumerate(out_names):
                out[name] = [v[i] for v in vals]
            yield out

    return pairs.mapInPandas(per_batch, schema=schema)


def build_grouped_sketches_multi(df: DataFrame, key_cols: list[str],
                                 col: str,
                                 factories: dict[str, Callable[[], object]],
                                 as_u64: bool = True,
                                 salt_buckets: int | None = None,
                                 pre_aggregate: bool = False,
                                 pre_distinct: bool = False,
                                 weight_col: str | None = None
                                 ) -> DataFrame:
    """SEVERAL named sketches per key group in ONE scan:
    ``(key..., name string, sketch binary)`` DataFrame.

    The grouped analog of :func:`build_sketches` — a panel of
    estimators over the same per-group key stream (e.g. HyperMinHash +
    b-bit MinHash per language) pays the shuffle once instead of once
    per estimator. Same hot-key salting as
    :func:`build_grouped_sketches`; merges are associative &
    commutative, so per-name results are identical to independent
    build_grouped_sketches calls for order-independent sketches
    (tested).

    Scale paths (mirroring :func:`build_sketches`): ``pre_aggregate=True``
    collapses the stream JVM-side to ``groupBy(key..., col).count()``
    (Tungsten hash agg, map-side combine) and feeds the kernels
    ``update_weighted(values, counts)`` — Python input is bounded by
    |distinct (key, value)|, not |rows|; every factory must implement
    ``update_weighted``. ``pre_distinct=True`` instead dedups
    ``(key..., col)`` JVM-side and keeps the plain ``update`` kernel —
    for duplicate-INsensitive sketches (HLL / MinHash / SetSketch /
    PCSA / Bloom), where a repeated value is a no-op by definition.
    Both are bit-exact vs the unreduced stream for order-independent
    sketches; pre-collapse happens BEFORE salting, so weighted rows
    are never split across salt buckets.

    ``weight_col`` (pre_aggregate only, mirroring :func:`build_sketches`)
    makes the grouped build WEIGHTED: per-(key, value) weight =
    ``SUM(weight_col)`` instead of ``COUNT(*)`` — the hook for grouped
    time-decayed statistics; weights must be integral."""
    if pre_aggregate and pre_distinct:
        raise ValueError("pre_aggregate and pre_distinct are exclusive")
    if weight_col is not None and not pre_aggregate:
        raise ValueError("weight_col requires pre_aggregate=True")

    names = sorted(factories)
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema if f.name in key_cols)
    out_schema = f"{key_schema}, name string, sketch binary"

    if pre_aggregate:
        df = _counted(df, [*key_cols, col], weight_col)
    elif pre_distinct:
        df = df.select(*key_cols, col).distinct()
    else:
        df = df.select(*key_cols, col)

    def _per_group(group_cols: list[str]):
        def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
            vals = to_u64(pdf[col]) if as_u64 else pdf[col].to_numpy()
            wts = pdf["__cnt"].to_numpy() if pre_aggregate else None
            head = pdf.iloc[:1][group_cols]
            out = (head.loc[head.index.repeat(len(names))]
                   .reset_index(drop=True))
            blobs = []
            for name in names:
                sk = factories[name]()
                if pre_aggregate:
                    blobs.append(_weighted_blob(sk, vals, wts))
                else:
                    sk.update(vals)
                    blobs.append(sk.to_bytes())
            out["name"] = names
            out["sketch"] = blobs
            return out
        return per_group

    if not salt_buckets:
        return (df.groupBy(*key_cols)
                  .applyInPandas(_per_group(key_cols), schema=out_schema))

    salted = df.withColumn("__salt",
                           F.pmod(F.xxhash64(col), F.lit(salt_buckets)))
    partials = (salted.groupBy(*key_cols, "__salt")
                .applyInPandas(_per_group(key_cols + ["__salt"]),
                               schema=f"{key_schema}, __salt bigint, "
                                      "name string, sketch binary")
                .drop("__salt"))
    return (partials.groupBy(*key_cols, "name")
            .applyInPandas(merge_blob_group, schema=out_schema))


def merge_blob_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: fold one group's ``sketch`` blobs into one
    row that keeps the group's other columns. A single-blob group
    round-trips byte-identically (deserialize→to_bytes is stable for
    every registered format)."""
    head = pdf.iloc[:1].drop(columns=["sketch"]).copy()
    head["sketch"] = [fold_blobs(pdf["sketch"]).to_bytes()]
    return head


def _merge_to_level(grouped: DataFrame, keys: list[str],
                    key_fields: dict[str, str],
                    tree_width: int) -> DataFrame:
    """Merge a grouped sketch table down to granularity ``keys``
    (empty = grand total via a tree_width-way parallel fold; the
    repartition(1) barrier — NOT coalesce — keeps the fold stage its
    own parallel stage and ships only tree_width folded blobs to the
    final task)."""
    if keys:
        schema = ", ".join(f"{k} {key_fields[k]}" for k in keys) \
            + ", sketch binary"
        return (grouped.select(*keys, "sketch").groupBy(*keys)
                .applyInPandas(merge_blob_group, schema=schema))
    return (grouped.select(F.lit("").alias("name"), "sketch")
            .repartition(tree_width)
            .mapInPandas(_fold_named, schema=_NAMED)
            .repartition(1)
            .mapInPandas(_fold_named, schema=_NAMED)
            .drop("name"))


def _grouping_sets(grouped: DataFrame, key_cols: list[str],
                   sets: list[list[str]], tree_width: int) -> DataFrame:
    """The finest level plus each coarser grouping set in ``sets``,
    every one merged from the finest level's blobs and NULL-padded to
    the full key schema."""
    key_fields = {f.name: f.dataType.simpleString()
                  for f in grouped.schema if f.name != "sketch"}
    assert list(key_fields) == key_cols, (list(key_fields), key_cols)

    out = _pad_keys(grouped, key_cols, key_cols, key_fields)
    for keys in sets:
        lvl = _merge_to_level(grouped, keys, key_fields, tree_width)
        out = out.unionByName(_pad_keys(lvl, keys, key_cols, key_fields))
    return out


def rollup_grouped_sketches(grouped: DataFrame,
                            key_cols: list[str],
                            tree_width: int = 8) -> DataFrame:
    """SQL ``ROLLUP`` over an already-built grouped sketch table —
    the hypertable-rollup pattern: every coarser level (k1..kn-1), …,
    (k1), () is produced by MERGING the finest level's blobs (never by
    rescanning the base data), so a full hierarchy costs ONE base scan
    plus n tiny blob-count shuffles. Requires an order-independent
    merge (HLL max / Bloom OR / CM sum / MinHash trim — every
    registered sketch except the strict sequential kernels), for which
    each level is bit-identical to a direct build at that granularity.

    Input: ``(k1..kn, sketch binary)`` at the finest granularity
    (:func:`build_grouped_sketches` output). Output: the union of all
    n+1 levels with rolled-up key columns NULL, exactly the row set
    ``GROUP BY ROLLUP (k1..kn)`` produces — finalize with
    :func:`finalize_grouped` and compare against a GROUPING-SETS
    oracle. The grand-total level folds through ``tree_width``
    partitions before the final single-task merge, so driver-free
    fan-in stays bounded at any group count."""
    sets = [key_cols[:i] for i in range(len(key_cols) - 1, -1, -1)]
    return _grouping_sets(grouped, key_cols, sets, tree_width)


def _pad_keys(df: DataFrame, present: list[str], key_cols: list[str],
              key_fields: dict[str, str]) -> DataFrame:
    """NULL-pad rolled-up key columns to the full key schema."""
    cols = [F.col(k) if k in present
            else F.lit(None).cast(key_fields[k]).alias(k)
            for k in key_cols]
    return df.select(*cols, "sketch")


def cube_grouped_sketches(grouped: DataFrame,
                          key_cols: list[str],
                          tree_width: int = 8) -> DataFrame:
    """``GROUP BY CUBE`` analog of :func:`rollup_grouped_sketches`:
    one row set per SUBSET of ``key_cols`` (2^n grouping sets), every
    coarser set merged from the finest level's blobs — still ONE base
    scan; each subset costs one shuffle over |group| blobs, not a
    rescan. Same order-independence requirement and bit-exactness
    guarantee as rollup."""
    sets = [list(keys) for r in range(len(key_cols) - 1, -1, -1)
            for keys in combinations(key_cols, r)]
    return _grouping_sets(grouped, key_cols, sets, tree_width)
