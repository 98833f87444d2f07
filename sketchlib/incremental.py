"""Incremental maintenance of per-group sketch tables.

The 100 TB motivation: transcript tables grow by appends (new turns
land every hour); the per-group sketches answering steady queries
(per-language distinct tokens, per-user frequencies, per-tool
quantiles) must NOT be rebuilt by rescanning 100 TB of history each
time. Because every registered sketch merges associatively and
commutatively, a sketch table is an incrementally-maintainable
materialized view:

    sketch(old data ∪ delta) == merge(sketch(old data), sketch(delta))

so a refresh costs O(delta) scan + a blob-sized shuffle — independent
of history size. This is the Spark/Iceberg-native analog of what the
reference cannot do at all (its sketches are one-shot files over one
FASTA input; rebuilding means re-reading the input, main.cpp:43-55).

Mechanics on top of :class:`sketchlib.iceberg.IcebergishCatalog`:

- the SOURCE table advances by append commits;
- the SKETCH table (rows ``key..., name, sketch binary``) is a
  derived table whose snapshot ``properties`` record the exact source
  snapshot it reflects (`source_snapshot`) — the refresh watermark;
- ``refresh_sketch_table`` diffs source snapshots via the catalog's
  incremental append scan, builds grouped partials over ONLY the new
  files, and folds them into the stored blobs with one blob-sized
  ``groupBy(key, name)`` merge;
- a non-append-only source range (overwrite/compaction) is detected
  by the scan and triggers a full rebuild instead of a silent
  double-count.

Guarantee (tested in tests/test_incremental.py): for
order-independent sketches (plain CM, count-sketch, HLL, Bloom, PCSA,
KLL, ...) the refreshed blobs are BIT-IDENTICAL to a from-scratch
build over the whole table. Order-sensitive strict kernels
(conservative CM's sequential semantics) are out of scope here, as
everywhere in the distributed regime (SURVEY.md §7.5).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sketchlib.aggregate import build_grouped_sketches_multi, merge_blob_group
from sketchlib.hashing import to_u64
from sketchlib.iceberg import IcebergishCatalog
from sketchlib.sketches.base import deserialize


def _merge_sketch_frames(existing: DataFrame, delta: DataFrame,
                         key_cols: list[str]) -> DataFrame:
    """merge(existing, delta) per (key..., name): a union of two
    blob-sized frames + one hash exchange on the group key — the only
    shuffle in a refresh, and it moves sketches, not data."""
    unioned = existing.unionByName(delta)
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in unioned.schema)
    return (unioned.groupBy(*key_cols, "name")
            .applyInPandas(merge_blob_group, schema=schema))


def refresh_sketch_table(
        spark: SparkSession,
        catalog: IcebergishCatalog,
        source_table: str,
        sketch_table: str,
        key_cols: list[str],
        col: str,
        factories: dict[str, Callable[[], object]],
        prepare: Callable[[DataFrame], DataFrame] | None = None,
        as_u64: bool = True,
        salt_buckets: int | None = None,
        snapshot_id: str | None = None) -> dict:
    """Bring ``sketch_table`` up to date with ``source_table``.

    ``prepare`` maps a raw source DataFrame to one exposing
    ``key_cols + [col]`` (e.g. the transcript tokenizer); default
    identity. ``factories`` names the sketch panel kept per group
    (one scan builds all of them, via build_grouped_sketches_multi).

    Returns a stats dict: ``mode`` in {"initial", "incremental",
    "rebuild", "noop"}, the source snapshot reflected, and the sketch
    table's new snapshot id (None for noop).
    """
    prep = prepare if prepare is not None else (lambda df: df)
    src_snap = snapshot_id or catalog.current_snapshot(source_table)
    if src_snap is None:
        raise ValueError(f"source table {source_table!r} is empty")

    cur_sketch_snap = catalog.current_snapshot(sketch_table)
    mode = "initial"
    delta_df = None
    if cur_sketch_snap is not None:
        props = catalog.snapshot_properties(sketch_table, cur_sketch_snap)
        last = props.get("source_snapshot")
        if last == src_snap:
            return {"mode": "noop", "source_snapshot": src_snap,
                    "sketch_snapshot": cur_sketch_snap}
        try:
            delta_df = catalog.load_incremental(
                spark, source_table, last, src_snap)
            if delta_df is None:  # watermark moved but no new files
                return {"mode": "noop", "source_snapshot": src_snap,
                        "sketch_snapshot": cur_sketch_snap}
            mode = "incremental"
        except ValueError:  # overwrite in range — rebuild from scratch
            mode = "rebuild"

    if mode in ("initial", "rebuild"):
        src = catalog.load_table(spark, source_table, src_snap)
        new_blobs = build_grouped_sketches_multi(
            prep(src), key_cols, col, factories,
            as_u64=as_u64, salt_buckets=salt_buckets)
    else:
        delta_blobs = build_grouped_sketches_multi(
            prep(delta_df), key_cols, col, factories,
            as_u64=as_u64, salt_buckets=salt_buckets)
        existing = catalog.load_table(spark, sketch_table,
                                      cur_sketch_snap)
        new_blobs = _merge_sketch_frames(existing, delta_blobs, key_cols)

    new_snap = catalog.overwrite(
        sketch_table, new_blobs,
        properties={"source_table": source_table,
                    "source_snapshot": src_snap,
                    "parent_source_snapshot":
                        (catalog.snapshot_properties(
                            sketch_table, cur_sketch_snap)
                         .get("source_snapshot")
                         if cur_sketch_snap else None),
                    "mode": mode})
    return {"mode": mode, "source_snapshot": src_snap,
            "sketch_snapshot": new_snap}


def probe_grouped(probes: DataFrame, sketch_df: DataFrame,
                  key_cols: list[str], hash_col: str,
                  out_col: str = "est_count",
                  out_type: str = "long") -> DataFrame:
    """Annotate ``probes`` with per-group sketch point estimates.

    ``sketch_df`` is one blob per key group (a sketch table panel from
    :func:`load_sketch_table`); ``probes`` carries the same key columns
    plus ``hash_col`` (the u64 the sketch was built over). Implemented
    as a cogroup — probes and blobs hash-exchange on the group key and
    each task estimates its groups' probe batch in one vectorized
    call, so neither the probe set nor the sketch table ever funnels
    through the driver (works at 10^5+ groups). Groups with no sketch
    are dropped (inner semantics).
    """
    import numpy as np

    probe_names = [f.name for f in probes.schema]
    out_schema = (", ".join(f"{f.name} {f.dataType.simpleString()}"
                            for f in probes.schema)
                  + f", {out_col} {out_type}")

    def est_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            out = left.iloc[:0].copy()
            out[out_col] = np.array([], dtype=np.int64)
            return out
        sk = deserialize(bytes(right["sketch"].iloc[0]))
        out = left[probe_names].copy()
        out[out_col] = sk.estimate(to_u64(left[hash_col])).astype(np.int64)
        return out

    return (probes.groupBy(*key_cols)
            .cogroup(sketch_df.groupBy(*key_cols))
            .applyInPandas(est_group, schema=out_schema))


def load_sketch_table(spark: SparkSession, catalog: IcebergishCatalog,
                      sketch_table: str, name: str | None = None,
                      snapshot_id: str | None = None) -> DataFrame:
    """Read the sketch table (optionally one named panel member).
    Results stay distributed — finalize with
    :func:`sketchlib.aggregate.finalize_grouped`."""
    df = catalog.load_table(spark, sketch_table, snapshot_id)
    if name is not None:
        from pyspark.sql import functions as F
        df = df.filter(F.col("name") == name).drop("name")
    return df
