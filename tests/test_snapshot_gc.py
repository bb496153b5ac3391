"""SnapshotStore.gc — unreferenced round dirs are dropped; tables and
carried-forward state blobs referenced by the live manifest survive."""

from __future__ import annotations

import os

from pyspider_spark.engine.snapshot import SnapshotStore


def _touch(path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("x")


def test_gc_keeps_referenced_rounds(tmp_path):
    snap = SnapshotStore(str(tmp_path))
    for r in range(5):
        _touch(os.path.join(snap.table_dir(r, "frontier"), "part-0.parquet"))
        _touch(os.path.join(snap.table_dir(r, "blobs_tbl"), "part-0.parquet"))
    # manifest references round 4 tables plus a blob table carried from round 1
    snap.commit(
        {
            "round": 4,
            "tables": {
                "frontier": "rounds/r000004/frontier",
                "results": ["rounds/r000004/results"],
            },
            "blobs": {
                "1": {"table": "rounds/r000001/blobs_tbl", "n_keys": 3, "capacity": 8},
            },
        }
    )
    snap.gc(keep_rounds=1)
    alive = sorted(os.listdir(os.path.join(str(tmp_path), "rounds")))
    # r4 (referenced + newest), r1 (blob carried forward) stay; r0/r2/r3 go
    assert alive == ["r000001", "r000004"]


def test_gc_noop_without_manifest(tmp_path):
    snap = SnapshotStore(str(tmp_path))
    snap.round_dir(0)
    snap.gc()
    assert os.path.isdir(os.path.join(str(tmp_path), "rounds", "r000000"))

def test_manifest_history_asof(tmp_path):
    """commit() drops a manifest copy into the round dir; as-of reads
    return the snapshot of that round until its dir is gc'd."""
    snap = SnapshotStore(str(tmp_path))
    for r in range(3):
        _touch(os.path.join(snap.table_dir(r, "frontier"), "part-0.parquet"))
        snap.commit({"round": r, "tables": {"frontier": f"rounds/r{r:06d}/frontier"}})
    assert snap.read_manifest()["round"] == 2
    m1 = snap.read_manifest_asof(1)
    assert m1["round"] == 1
    assert m1["tables"]["frontier"] == "rounds/r000001/frontier"
    snap.gc(keep_rounds=1)
    assert snap.read_manifest_asof(0) is None  # outside retention
    assert snap.read_manifest_asof(2)["round"] == 2
