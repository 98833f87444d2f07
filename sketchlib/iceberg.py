"""Iceberg-style table adapter: snapshot catalog over parquet.

The north rule targets Iceberg tables of transcripts; this sandbox has
no Iceberg runtime jars (verified), so the adapter implements the
Iceberg *contract* the engine depends on — immutable data files, an
atomic snapshot manifest, append/overwrite commits, time travel, and
snapshot-scoped reads — over plain parquet with a JSON catalog. The
API (``load_table`` / ``append`` / ``current_snapshot`` /
``snapshots``) is what the engine codes against; pointing it at a real
Iceberg catalog is a config change, not a rewrite.

Layout:
    <root>/<table>/
      catalog.json           # atomic pointer: current snapshot id + log
      snap-<id>.json         # manifest: list of data files + row counts
      data/<uuid>.parquet    # immutable data files

Commits take an exclusive file lock around the read-modify-write of
catalog.json (the local-FS stand-in for Iceberg's compare-and-swap on
the expected current snapshot) and publish via write-temp +
``os.replace``, so concurrent committers serialize instead of losing
updates.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from sketchlib.storage import parquet_num_rows


class IcebergishCatalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _catalog_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "catalog.json")

    def _read_catalog(self, table: str) -> dict:
        p = self._catalog_path(table)
        if not os.path.exists(p):
            return {"current": None, "log": []}
        with open(p) as fh:
            return json.load(fh)

    def _write_catalog(self, table: str, cat: dict) -> None:
        tdir = self._tdir(table)
        fd, tmp = tempfile.mkstemp(dir=tdir, suffix=".tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(cat, fh, indent=1)
        os.replace(tmp, self._catalog_path(table))  # atomic pointer swap

    # ---------------------------------------------------------- commits
    def append(self, table: str, df: DataFrame,
               operation: str = "append",
               properties: dict | None = None) -> str:
        """Write ``df`` as new immutable data files and commit a new
        snapshot (previous files retained for ``append``, dropped for
        ``overwrite``). ``properties`` is an arbitrary JSON-able dict
        stored on the snapshot (Iceberg snapshot summary analog) —
        derived tables use it to record which SOURCE snapshot they were
        computed from. Returns the snapshot id."""
        tdir = self._tdir(table)
        data_dir = os.path.join(tdir, "data")
        os.makedirs(data_dir, exist_ok=True)
        file_dir = os.path.join(data_dir, uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(file_dir)
        # row count from the parquet footers (Iceberg gets this from
        # write metrics) — not a second Spark scan of what was written
        n_rows = parquet_num_rows(file_dir)

        # Commit under an exclusive file lock: Iceberg's catalog commit
        # is compare-and-swap on the expected current snapshot; without
        # the lock two concurrent committers would both read the same
        # 'current' and the second os.replace would silently drop the
        # first commit from the log (lost update).
        import fcntl
        lock_path = os.path.join(tdir, ".catalog.lock")
        with open(lock_path, "w") as lock_fh:
            fcntl.flock(lock_fh, fcntl.LOCK_EX)
            cat = self._read_catalog(table)
            prev_files: list = []
            if operation == "append" and cat["current"] is not None:
                prev_files = self._read_snapshot(table,
                                                 cat["current"])["files"]
            snap_id = f"{len(cat['log']):06d}-{uuid.uuid4().hex[:8]}"
            snap = {
                "snapshot_id": snap_id,
                "parent": cat["current"],
                "operation": operation,
                "files": prev_files + [{"path": file_dir, "rows": n_rows}],
                "properties": dict(properties or {}),
            }
            with open(os.path.join(tdir, f"snap-{snap_id}.json"), "w") as fh:
                json.dump(snap, fh, indent=1)
            cat["log"].append(snap_id)
            cat["current"] = snap_id
            self._write_catalog(table, cat)
        return snap_id

    def overwrite(self, table: str, df: DataFrame,
                  properties: dict | None = None) -> str:
        return self.append(table, df, operation="overwrite",
                           properties=properties)

    # ------------------------------------------------------------ reads
    def _read_snapshot(self, table: str, snap_id: str) -> dict:
        with open(os.path.join(self._tdir(table),
                               f"snap-{snap_id}.json")) as fh:
            return json.load(fh)

    def current_snapshot(self, table: str) -> str | None:
        return self._read_catalog(table)["current"]

    def snapshots(self, table: str) -> list[str]:
        return list(self._read_catalog(table)["log"])

    def snapshot_properties(self, table: str, snap_id: str) -> dict:
        return self._read_snapshot(table, snap_id).get("properties", {})

    def load_table(self, spark: SparkSession, table: str,
                   snapshot_id: str | None = None) -> DataFrame:
        """Read the table at a snapshot (default: current). Time
        travel = pass any id from ``snapshots()``."""
        snap_id = snapshot_id or self.current_snapshot(table)
        if snap_id is None:
            raise ValueError(f"table {table!r} has no snapshots")
        files = self._read_snapshot(table, snap_id)["files"]
        paths = [f["path"] for f in files]
        return spark.read.parquet(*paths)

    def load_incremental(self, spark: SparkSession, table: str,
                         from_snapshot: str,
                         to_snapshot: str | None = None) -> DataFrame | None:
        """Incremental APPEND scan: only the data files committed
        AFTER ``from_snapshot`` up to ``to_snapshot`` (default:
        current) — the Iceberg ``incremental append scan`` contract
        that makes derived-table refresh O(new data), not O(table).

        Data files are immutable, so the delta is a pure file-list
        diff. If any of ``from_snapshot``'s files are missing from
        ``to_snapshot`` (an ``overwrite``/compaction happened in
        between), an incremental read would double-count or miss rows
        — raise instead, the caller must rebuild from scratch.
        Returns None when the range is empty (nothing new).
        """
        to_snap = to_snapshot or self.current_snapshot(table)
        if to_snap is None:
            raise ValueError(f"table {table!r} has no snapshots")
        old_files = {f["path"]
                     for f in self._read_snapshot(table,
                                                  from_snapshot)["files"]}
        new_list = self._read_snapshot(table, to_snap)["files"]
        new_set = {f["path"] for f in new_list}
        if not old_files <= new_set:
            raise ValueError(
                f"snapshots {from_snapshot}..{to_snap} of {table!r} are "
                "not append-only (overwrite/compaction in range); "
                "incremental scan invalid — rebuild required")
        delta = [f["path"] for f in new_list if f["path"] not in old_files]
        if not delta:
            return None
        return spark.read.parquet(*delta)
