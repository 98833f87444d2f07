"""Structured Streaming integration: windowed sketch building over an
event stream.

The reference is pure batch (multi-pass offline is its whole point —
SURVEY.md §2.3); its vendored library's SlidingWindow CM (reference:
include/ccm.h:840-869) is the stream-window gadget this module maps to
Spark semantics:

- mergeable sketches make streaming trivial: each micro-batch produces
  per-window partial sketches (the batch grouped builder,
  ``aggregate.build_grouped_sketches``), and ``foreachBatch`` merges
  them into a window-keyed store. Late data within the watermark just
  merges into its window — no special case.
- exactly-once: the store commit is keyed by (window, epoch); replayed
  epochs overwrite their own partials before the merge, so recovery
  after failure never double-counts.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, functions as F

from sketchlib.aggregate import build_grouped_sketches
from sketchlib.hashing import to_u64
from sketchlib.sketches.base import deserialize, fold_blobs


class WindowedSketchStore:
    """Thread-safe window->sketch-blob store fed by foreachBatch.

    Partials are kept per (window, epoch) and folded on read, so a
    replayed micro-batch (failure recovery) replaces its own epoch's
    contribution instead of double-merging.
    """

    def __init__(self) -> None:
        self._partials: dict[tuple, dict[int, bytes]] = {}
        self._lock = threading.Lock()

    def commit(self, window_key, epoch_id: int, blob: bytes) -> None:
        with self._lock:
            self._partials.setdefault(window_key, {})[epoch_id] = blob

    def windows(self) -> list:
        with self._lock:
            return sorted(self._partials)

    def sketch(self, window_key):
        with self._lock:
            blobs = list(self._partials.get(window_key, {}).values())
        return fold_blobs(blobs)


def windowed_sketch_sink(store: WindowedSketchStore,
                         factory: Callable[[], object],
                         key_col: str, ts_col: str,
                         window: str = "5 minutes",
                         hash_values: bool = True):
    """Returns a foreachBatch function building one sketch per tumbling
    window per micro-batch and committing it to ``store``.

    ``hash_values=True`` (frequency/cardinality sketches) feeds the
    kernel xxhash64 of the column; ``hash_values=False`` feeds the raw
    column cast to double — the path for value-distribution sketches
    (KLL / t-digest / DDSketch) where the magnitude is the datum."""

    def per_batch(df: DataFrame, epoch_id: int) -> None:
        datum = (F.xxhash64(key_col) if hash_values
                 else F.col(key_col).cast("double"))
        hashed = df.select(
            F.window(F.col(ts_col), window).alias("w"),
            datum.alias("kh")
        ).select(F.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                  .alias("ws"), "kh")
        rows = build_grouped_sketches(hashed, ["ws"], "kh", factory,
                                      as_u64=hash_values).collect()
        for r in rows:
            store.commit(str(r.ws), int(epoch_id), bytes(r.sketch))

    return per_batch


def window_drift(store: WindowedSketchStore,
                 stat: str = "ks") -> list[tuple]:
    """Distribution drift between consecutive tumbling windows of a
    value-sketch stream: ``[(window_a, window_b, statistic), ...]`` for
    each adjacent window pair, where the statistic is the two-sample
    KS distance (``stat="ks"``) or PSI (``stat="psi"``) between the two
    windows' KLL sketches.  The streaming half of the batch drift
    monitors (queries.cm_drift_frequency / KLL.ks_distance): windows
    accumulate across micro-batches in ``store`` with per-epoch
    exactly-once commits, so a recovered stream reports the same drift
    series as an uninterrupted one."""
    wins = store.windows()
    out = []
    for a, b in zip(wins, wins[1:]):
        sa, sb = store.sketch(a), store.sketch(b)
        val = sa.ks_distance(sb) if stat == "ks" else sa.psi(sb)
        out.append((a, b, float(val)))
    return out


def catalog_ingest_sink(catalog, table: str, query_name: str = "stream"):
    """foreachBatch sink that appends each micro-batch to an
    Icebergish table with exactly-once semantics — the ingest half of
    the streaming -> incremental-sketch-maintenance loop (the other
    half is :func:`sketchlib.incremental.refresh_sketch_table`, which
    scans only the appended delta files).

    Exactly-once: each append commit records ``(stream, epoch)`` in
    its snapshot properties; a replayed micro-batch (recovery after
    failure re-runs the last uncommitted epoch) finds its epoch
    already committed and skips, so the table never double-ingests.
    The check-then-append window is safe under Structured Streaming's
    contract that a query runs one micro-batch at a time; real Iceberg
    makes the same idempotence check inside the commit via the
    snapshot summary's checkpoint id.

    The committed-epoch lookup walks the snapshot log (one small JSON
    read per snapshot); Iceberg proper keeps this in table metadata —
    at this adapter's single-node scope the walk is bounded by
    snapshot count, not data size.
    """

    def committed_epochs() -> set:
        out = set()
        for snap in catalog.snapshots(table):
            props = catalog.snapshot_properties(table, snap)
            if props.get("stream") == query_name:
                out.add(props.get("epoch"))
        return out

    def per_batch(df: DataFrame, epoch_id: int) -> None:
        if int(epoch_id) in committed_epochs():
            return  # replayed epoch — already durable, skip
        catalog.append(table, df,
                       properties={"stream": query_name,
                                   "epoch": int(epoch_id)})

    return per_batch


def windowed_counts(stream_df: DataFrame, key_col: str, ts_col: str,
                    window: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Pure-Catalyst streaming baseline: watermarked tumbling-window
    counts (the exact oracle for the sketch path)."""
    return (stream_df
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"), key_col)
            .agg(F.count("*").alias("n")))


def streaming_dedup(stream_df: DataFrame, text_col: str = "text",
                    ts_col: str | None = None,
                    watermark: str = "10 minutes") -> DataFrame:
    """First-seen exact deduplication of a document stream: emit the
    first arrival of each content fingerprint, drop every later exact
    duplicate — the streaming analog of dedup.exact_duplicates for an
    ingest pipeline that filters duplicates BEFORE they land.

    State lives in Spark's native streaming-dedup state store (per-
    fingerprint, RocksDB-backed on a real cluster), so it survives
    checkpoint recovery and scales with |distinct fingerprints|, not
    rows. Without ``ts_col`` state grows unboundedly (only right for
    bounded backfills); with it, ``dropDuplicatesWithinWatermark``
    ages fingerprints out past the watermark — the standard
    infinite-stream regime, dedup within a time horizon."""
    fp = stream_df.withColumn("fingerprint", F.md5(F.col(text_col)))
    if ts_col is not None:
        return (fp.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["fingerprint"]))
    return fp.dropDuplicates(["fingerprint"])


def stateful_sketch_stream(stream_df: DataFrame, key_col: str,
                           value_col: str, factory: Callable[[], object],
                           probe_keys: list | None = None):
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    one persistent sketch per key, updated incrementally across
    micro-batches; emits (key, n_seen, estimate_blob_len, blob) after
    each batch touches the key.

    This is the ``applyInPandasWithState`` path for operators Spark's
    built-in windowed aggregates can't express — the per-key sketch
    lives in the state store (binary blob), so recovery replays from
    the checkpoint exactly like any stateful aggregation. The batch
    harness (aggregate.py) and this share the same Sketch protocol.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        sk = deserialize(bytes(state.get[1])) if state.exists else factory()
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            sk.update(to_u64(pdf["vh"]))
            n += len(pdf)
        blob = sk.to_bytes()
        state.update((int(n), bytearray(blob)))
        yield pd.DataFrame({"key": [key[0]], "n_seen": [int(n)],
                            "blob": [blob]})

    out_schema = "key string, n_seen long, blob binary"
    state_schema = "n long, blob binary"
    # CAST: the output schema declares key as string; a non-string key
    # column (e.g. bigint user_id) would otherwise type-mismatch inside
    # applyInPandasWithState at runtime
    return (stream_df
            .selectExpr(f"CAST({key_col} AS STRING) AS key",
                        f"xxhash64({value_col}) AS vh")
            .groupBy("key")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def minhash_delta_sink(index_dir: str, pairs_dir: str,
                       threshold: float = 0.8, n_perm: int = 64,
                       bands: int = 16, shingle_n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text"):
    """``foreachBatch`` sink for STREAMING near-dup detection — the
    continuous form of the daily delta-dedup loop (dedup.py
    minhash_dedup_delta): every micro-batch is treated as a delta
    against the PERSISTENT band+shingle index on disk; its near-dup
    pairs (batch x history and batch x batch) land under
    ``pairs_dir/epoch=<id>/``, then the batch's own band and shingle
    rows append to the index so later micro-batches match against it.

    Exactly-once: the pairs write is an epoch-keyed OVERWRITE
    (idempotent under replay), and an ``_epoch_<id>`` marker written
    AFTER the index append makes a replayed epoch skip entirely. A
    crash between the append and the marker can leave duplicate index
    rows for one epoch — harmless for candidates (distinct) and
    neutralized for the Jaccard sizes by the ``distinct()`` applied to
    the shingle index on read. (A production deployment replaces the
    marker file with a transactional table commit — the
    iceberg.catalog_ingest_sink epoch-property pattern; the dedup
    semantics are identical.)"""
    import os

    from sketchlib.dedup import (minhash_band_index, minhash_dedup_delta,
                                 shingles)

    band_p = os.path.join(index_dir, "bands")
    sh_p = os.path.join(index_dir, "shingles")

    def per_batch(df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(index_dir, f"_epoch_{int(epoch_id)}")
        if os.path.exists(marker):
            return                      # replayed, fully committed
        spark = df.sparkSession
        batch = df.select(id_col, text_col)
        have_idx = os.path.exists(band_p)
        if have_idx:
            band_idx = spark.read.parquet(band_p)
            sh_idx = spark.read.parquet(sh_p).distinct()
        else:
            band_idx = spark.createDataFrame(
                [], f"{id_col} long, band int, key long")
            sh_idx = spark.createDataFrame([], f"{id_col} long, sh64 long")
        pairs = minhash_dedup_delta(batch, band_idx, sh_idx, threshold,
                                    n_perm, bands, shingle_n,
                                    id_col, text_col)
        (pairs.write.mode("overwrite")
         .parquet(os.path.join(pairs_dir, f"epoch={int(epoch_id)}")))
        sh_new = shingles(batch, shingle_n, id_col, text_col, hashed=True)
        sh_new.write.mode("append").parquet(sh_p)
        (minhash_band_index(None, n_perm, bands, shingle_n, id_col,
                            text_col, shingle_df=sh_new)
         .write.mode("append").parquet(band_p))
        open(marker, "w").close()

    return per_batch
