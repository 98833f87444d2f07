"""Checkpoint / lineage store for multi-round sketch builds.

Emulates Iceberg-style snapshot commits with an atomic JSON manifest +
blob files (no Iceberg jars in this sandbox — the adapter API is kept
so a real catalog is a config flag, SURVEY.md §7.4):

    <dir>/
      manifest.json            # atomic pointer: latest committed snapshot
      snapshots/<id>.json      # per-snapshot metadata + lineage
      blobs/<id>.bin           # serialized sketch state

Lineage per snapshot: round/pass, input partition ids with row counts,
and sketch-fill metrics (nonzero-cell fraction, max counter) — the
"per-partition lineage + metrics" required by the north rule.

Resume is snapshot-granular: a build finding a committed snapshot for
(config_key, round, pass) skips recomputing it. Merges are sums/maxes,
so replays of a whole pass are idempotent; partial replays are
prevented by only committing complete passes.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict, dataclass, field
from typing import Any


@dataclass
class Snapshot:
    snapshot_id: str
    config: dict
    round_: int
    pass_name: str
    blob_file: str
    lineage: list[dict] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


class CheckpointStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "snapshots"), exist_ok=True)
        os.makedirs(os.path.join(root, "blobs"), exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def _read_manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"snapshots": []}
        with open(p) as fh:
            return json.load(fh)

    def _write_manifest(self, m: dict) -> None:
        # atomic replace, like an Iceberg metadata pointer swap
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json.tmp")
        with os.fdopen(fd, "w") as fh:
            json.dump(m, fh, indent=1)
        os.replace(tmp, self._manifest_path())

    # -- commits ----------------------------------------------------------
    def commit(self, snap: Snapshot, blob: bytes) -> None:
        blob_path = os.path.join(self.root, "blobs", f"{snap.snapshot_id}.bin")
        with open(blob_path + ".tmp", "wb") as fh:
            fh.write(blob)
        os.replace(blob_path + ".tmp", blob_path)
        snap.blob_file = os.path.relpath(blob_path, self.root)
        meta_path = os.path.join(self.root, "snapshots",
                                 f"{snap.snapshot_id}.json")
        with open(meta_path, "w") as fh:
            json.dump(asdict(snap), fh, indent=1)
        m = self._read_manifest()
        m["snapshots"] = [s for s in m["snapshots"]
                          if s != snap.snapshot_id] + [snap.snapshot_id]
        self._write_manifest(m)

    def find(self, snapshot_id: str) -> tuple[dict, bytes] | None:
        m = self._read_manifest()
        if snapshot_id not in m["snapshots"]:
            return None
        with open(os.path.join(self.root, "snapshots",
                               f"{snapshot_id}.json")) as fh:
            meta = json.load(fh)
        with open(os.path.join(self.root, meta["blob_file"]), "rb") as fh:
            return meta, fh.read()

    def snapshots(self) -> list[str]:
        return list(self._read_manifest()["snapshots"])

    # -- pins ---------------------------------------------------------
    # A pin records the INPUT-table snapshot a multi-pass build started
    # from. Every pass (and any resume) must read that exact snapshot:
    # the collision table computed in round r is only meaningful
    # against the data that round 0 counted, so a table that advanced
    # between passes would silently corrupt the estimate. Mirrors
    # Iceberg's practice of resolving a snapshot id once per job and
    # scanning it for the job's whole lifetime.
    def get_pin(self, key: str) -> str | None:
        return self._read_manifest().get("pins", {}).get(key)

    def set_pin(self, key: str, value: str) -> None:
        m = self._read_manifest()
        m.setdefault("pins", {})[key] = value
        self._write_manifest(m)


def sketch_fill_metrics(core) -> dict[str, Any]:
    import numpy as np
    total = core.size
    nz = int(np.count_nonzero(core))
    return {
        "nonzero_cell_fraction": nz / total if total else 0.0,
        "max_counter": int(core.max()) if total else 0,
        "sum_counter": int(core.sum(dtype=np.uint64)) if total else 0,
    }
