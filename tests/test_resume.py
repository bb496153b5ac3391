"""Crash-resume (SURVEY §5.2.4, T5): a crash after round-k+1 state
writes but BEFORE the manifest commit must leave the store resumable —
re-running produces tables identical to an uninterrupted run. The
manifest is the commit point; everything staged under rounds/r{k+1}
without a manifest update is invisible and idempotently overwritten.
"""

from __future__ import annotations

import json
import shutil

import pytest

from pyspider_spark.config import RoundConfig
from pyspider_spark.engine.round import CrawlEngine

ROUNDS = 4
CFG = RoundConfig(n_partitions=4, round_budget=1000)
PHASES = [
    "normalize_probe", "merge", "schedule",
    "fetch_settle", "frontier_write", "sinks_commit",
]


def _engine(spark, fixtures, state_dir):
    return CrawlEngine(
        spark,
        state_dir,
        CFG,
        pages_path=fixtures["pages"],
        projects_path=fixtures["projects"],
        robots_path=fixtures["robots"],
    )


def _persisted(spark) -> set:
    """Ids of the RDDs the Spark session holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _run(spark, fixtures, state_dir, rounds, seeds=True):
    eng = _engine(spark, fixtures, state_dir)
    sdf = spark.read.parquet(fixtures["seeds"]) if seeds else None
    eng.run_rounds(rounds, seeds=sdf)
    return eng


def _final_state(spark, eng):
    man = eng.snap.read_manifest()
    fr = sorted(
        (r["project"], r["taskid"], r["status"], r["retries_left"], r["exetime"])
        for r in eng.frontier().collect()
    )
    res_paths = [eng.snap.abspath(p) for p in man["tables"]["results"]]
    res = sorted(
        (r["project"], r["taskid"], r["result"], r["updatetime"])
        for r in spark.read.parquet(*res_paths).collect()
    )
    sched_paths = [eng.snap.abspath(p) for p in man["tables"]["schedule"]]
    sched = sorted(
        tuple(r) for r in spark.read.parquet(*sched_paths).collect()
    )
    return man["round"], fr, res, sched


@pytest.mark.usefixtures("smoke_fixtures")
def test_crash_before_commit_resumes_identically(spark, smoke_fixtures, tmp_path):
    # uninterrupted reference run
    eng_a = _run(spark, smoke_fixtures, str(tmp_path / "a"), ROUNDS)
    want = _final_state(spark, eng_a)

    # crashed run: 2 clean rounds, then round 2 "crashes" after all its
    # writes but before the manifest rename — simulated by restoring
    # the round-1 manifest over the committed one (staged round-2 dirs
    # and blob files remain on disk as a real crash would leave them).
    b_dir = str(tmp_path / "b")
    eng_b = _run(spark, smoke_fixtures, b_dir, 2)
    man1 = json.load(open(eng_b.snap.manifest_path()))
    assert man1["round"] == 1
    eng_b.run_rounds(1)  # round 2 commits...
    json.dump(man1, open(eng_b.snap.manifest_path(), "w"))  # ...crash: roll back manifest

    # resume with a FRESH engine (new process analog): must redo round
    # 2 idempotently over the stale staged files, then run 3.
    eng_b2 = _run(spark, smoke_fixtures, b_dir, 2, seeds=False)
    got = _final_state(spark, eng_b2)
    assert got == want


def test_partial_stage_dir_is_overwritten(spark, smoke_fixtures, tmp_path):
    """A torn write (partial parquet dir, no manifest) must not poison
    the resume — mode=overwrite truncates staged dirs."""
    b_dir = str(tmp_path / "c")
    eng = _run(spark, smoke_fixtures, b_dir, 2)
    # fake a torn round-2 staging: garbage files where round 2 writes
    # its merge-on-read delta dir
    stage = eng.snap.table_dir(2, "frontier_delta")
    shutil.rmtree(stage, ignore_errors=True)
    import os

    os.makedirs(os.path.join(stage, "pid=0"), exist_ok=True)
    with open(os.path.join(stage, "pid=0", "part-garbage.parquet"), "wb") as f:
        f.write(b"not parquet")
    eng2 = _run(spark, smoke_fixtures, b_dir, 1, seeds=False)
    man = eng2.snap.read_manifest()
    assert man["round"] == 2
    # frontier reads cleanly (garbage gone)
    assert eng2.frontier().count() > 0


def test_failed_round_joins_background_sinks(spark, smoke_fixtures, tmp_path, monkeypatch):
    """A phase that raises must not leave the round's background writes
    running: the follows/results/host_state sinks are joined before the
    error reaches the caller, so a resume never races a detached write
    into the same rounds/rN dirs. Nor may it leave the frames it cached
    persisted. (The session is shared, so frames other tests left
    persisted are excluded by comparing against the set before.)"""
    import threading
    import time

    from pyspider_spark.engine import frontier as FR

    state = str(tmp_path / "d")
    eng = _run(spark, smoke_fixtures, state, 1)  # committed seed round
    before = _persisted(spark)

    failed = threading.Event()  # the phase error has been raised
    follows_done = threading.Event()

    def boom(*a, **k):
        failed.set()
        raise RuntimeError("injected frontier_write failure")

    write = eng._write

    def slow_write(df, r, name, *a, **k):
        if name != "follows":
            return write(df, r, name, *a, **k)
        failed.wait(60)  # still writing when the phase fails ...
        time.sleep(2)
        rel = write(df, r, name, *a, **k)
        follows_done.set()  # ... and finished before run_round returns
        return rel

    monkeypatch.setattr(FR, "append_round_delta", boom)
    monkeypatch.setattr(eng, "_write", slow_write)
    with pytest.raises(RuntimeError, match="injected"):
        eng.run_round(1)
    assert follows_done.is_set()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert eng.snap.read_manifest()["round"] == 0
    assert _persisted(spark) - before == set()
    monkeypatch.undo()

    m = _engine(spark, smoke_fixtures, state).run_round(1)
    assert m["round"] == 1 and eng.snap.read_manifest()["round"] == 1
    assert _persisted(spark) - before == set()
    # the phase clock crawlbench rebuilds its stage windows from
    assert list(m["phase_s"]) == PHASES
    assert all(v >= 0 for v in m["phase_s"].values())
