"""SnapshotStore — the Iceberg shim (SURVEY §7.3.5, §2.8 T2/T5).

Production target is Iceberg (``MERGE INTO``, snapshots, time-travel);
no Iceberg jars exist in the sandbox, so this layer provides the exact
subset of semantics the engine needs over plain Parquet directories:

- versioned table writes (one directory per table per round)
- append-only tables as lists of delta directories
- binary state blobs (bloom/cuckoo per partition) as rows of small
  per-round parquet tables
- **atomic round commit**: everything is staged under ``rounds/r{N}/``,
  then a manifest JSON naming every table path + blob path + row counts
  is atomically renamed into place last (``os.replace``). A crash
  mid-round leaves the previous manifest intact ⇒ re-running the round
  is idempotent (exact resume — BASELINE.json:14).

The manifest also carries per-partition lineage (blob path, rows added,
counts per stage) and small scalar state (cron ticks).
"""

from __future__ import annotations

import json
import os
import shutil
import time


class SnapshotStore:
    MANIFEST = "manifest.json"

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- manifest -------------------------------------------------------
    def manifest_path(self) -> str:
        return os.path.join(self.root, self.MANIFEST)

    def read_manifest(self) -> dict | None:
        p = self.manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit(self, manifest: dict) -> None:
        """Atomic: write tmp then rename over the live manifest. A copy
        lands in the round's own dir as snapshot history — the Iceberg
        time-travel analog: any round still inside the GC retention
        window can be read as-of via :meth:`read_manifest_asof`."""
        manifest = dict(manifest)
        manifest["committed_at"] = time.time()
        tmp = self.manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        if "round" in manifest:
            hist = os.path.join(self.round_dir(int(manifest["round"])), self.MANIFEST)
            shutil.copyfile(tmp, hist)
        os.replace(tmp, self.manifest_path())

    def read_manifest_asof(self, r: int) -> dict | None:
        """The manifest as committed at round `r` (None once gc'd) —
        read any table of that snapshot through its `tables` paths."""
        p = os.path.join(self.root, "rounds", f"r{r:06d}", self.MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    # ---- paths ----------------------------------------------------------
    def round_dir(self, r: int) -> str:
        d = os.path.join(self.root, "rounds", f"r{r:06d}")
        os.makedirs(d, exist_ok=True)
        return d

    def table_dir(self, r: int, name: str) -> str:
        return os.path.join(self.round_dir(r), name)

    def abspath(self, rel: str) -> str:
        return os.path.join(self.root, rel)

    def rel(self, path: str) -> str:
        return os.path.relpath(path, self.root)

    # ---- housekeeping ----------------------------------------------------
    def gc(self, keep_rounds: int = 3) -> None:
        """Drop round dirs not referenced by the manifest and older than
        the newest `keep_rounds` (state blobs may be carried forward, so
        only unreferenced dirs go)."""
        man = self.read_manifest()
        if man is None:
            return
        referenced: set[str] = set()

        def _mark(p) -> None:
            """Recursively mark every path string in the table entry —
            plain rel, list of rels, pid->rel maps, and merge-on-read
            frontier entries ({pid: {"base": rel, "deltas": [rel...]}})."""
            if isinstance(p, str):
                parts = p.split(os.sep)
                if len(parts) >= 2 and parts[0] == "rounds":
                    referenced.add(parts[1])
            elif isinstance(p, dict):
                for v in p.values():
                    _mark(v)
            elif isinstance(p, (list, tuple)):
                for v in p:
                    _mark(v)

        _mark(man.get("tables", {}))
        _mark(man.get("blobs", {}))  # {pid: {"table": rel, ...}}
        rounds_root = os.path.join(self.root, "rounds")
        if not os.path.isdir(rounds_root):
            return
        names = sorted(os.listdir(rounds_root))
        for name in names[:-keep_rounds] if keep_rounds else names:
            if name not in referenced:
                shutil.rmtree(os.path.join(rounds_root, name), ignore_errors=True)
