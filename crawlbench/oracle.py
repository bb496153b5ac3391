"""Expected crawl rounds from the single-threaded reference simulator,
and the check of an engine crawl against them.

For each round the check compares the engine's six counts
(scheduled, ok, failed, robots_blocked, new_urls, frontier) and a
digest of its per-(round, host) schedule order with
``pyspider_spark.oracle.simulator.Simulator`` run on the same inputs
and ``RoundConfig``. It also checks ``ok + failed == scheduled`` and
``frontier[r] == frontier[r-1] + new_urls[r]``.

Expected rounds of the reference seeds are stored in
``crawlbench/expected/<workload>.json``; other seeds are simulated when
a run needs them. Rebuild the stored file after a deliberate change of
the round semantics or of the web:

    python3 crawlbench/oracle.py --rebuild [--seeds 1-10]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected")
COUNTS = ("scheduled", "ok", "failed", "robots_blocked", "new_urls", "frontier")
# sources whose change alters what the simulator computes
ORACLE_SOURCES = (
    "pyspider_spark/oracle/simulator.py",
    "pyspider_spark/oracle/extractor.py",
    "pyspider_spark/kernels/canon.py",
    "pyspider_spark/kernels/bucket.py",
    "pyspider_spark/handlers.py",
    "pyspider_spark/config.py",
)


def schedule_digest(rows) -> str:
    """sha256 of one round's schedule, rows (host, seq_in_host, project,
    taskid) taken in (host, seq_in_host) order."""
    h = hashlib.sha256()
    for host, seq, project, taskid in sorted(rows, key=lambda r: (r[0], r[1])):
        h.update(f"{host}\t{seq}\t{project}\t{taskid}\n".encode())
    return h.hexdigest()[:32]


def oracle_key(name: str) -> str:
    from inputs import web_key

    h = hashlib.sha256(web_key(name).encode())
    for rel in ORACLE_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def simulate(name: str, seed: int) -> list[dict]:
    """Per-round counts and schedule digest from the Simulator: the
    seed round from the base seeds, then round 1 with the seed's URLs
    injected."""
    import pyarrow.parquet as pq

    from inputs import WORKLOADS, base_keys, inject_keys, round_config, seed_rows, web_paths
    from pyspider_spark.kernels.canon import canonicalize
    from pyspider_spark.oracle.simulator import Simulator

    paths = web_paths(name)
    pages_t = pq.read_table(paths["pages"], columns=["url", "html"])
    pages = {
        canonicalize(u): h
        for u, h in zip(pages_t["url"].to_pylist(), pages_t["html"].to_pylist())
    }
    robots_t = pq.read_table(paths["robots"])
    robots = dict(zip(robots_t["host"].to_pylist(), robots_t["robots_txt"].to_pylist()))
    projects = {r["project"]: r for r in pq.read_table(paths["projects"]).to_pylist()}
    sim = Simulator(round_config(WORKLOADS[name]), pages, robots, projects)
    sim.run(
        2,
        seed_rows(name, base_keys(name)).to_pylist(),
        inject_at={1: seed_rows(name, inject_keys(name, seed)).to_pylist()},
    )
    by_round: dict[int, list] = {m["round"]: [] for m in sim.state.metrics}
    for e in sim.state.schedule_log:
        by_round[e["round"]].append((e["host"], e["seq_in_host"], e["project"], e["taskid"]))
    return [
        {**{k: m[k] for k in COUNTS}, "schedule": schedule_digest(by_round[m["round"]])}
        for m in sim.state.metrics
    ]


def expected_rounds(name: str, seed: int) -> list[dict]:
    """Stored expectation when it was built from the same web and oracle
    code; otherwise a fresh simulation."""
    path = os.path.join(EXPECTED, f"{name}.json")
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
        if stored.get("key") == oracle_key(name) and str(seed) in stored.get("seeds", {}):
            return stored["seeds"][str(seed)]
    return simulate(name, seed)


def engine_rounds(state_dir: str, metrics: list[dict]) -> list[dict]:
    """Counts as ``run_round`` returned them plus the digest of each
    round's committed schedule table."""
    import pyarrow.parquet as pq

    with open(os.path.join(state_dir, "manifest.json")) as f:
        man = json.load(f)
    digests = {}
    for rel in man["tables"].get("schedule", []):
        t = pq.read_table(
            os.path.join(state_dir, rel), columns=["round", "host", "seq_in_host", "project", "taskid"]
        ).to_pydict()
        rows: dict[int, list] = {}
        for r, *row in zip(t["round"], t["host"], t["seq_in_host"], t["project"], t["taskid"]):
            rows.setdefault(r, []).append(tuple(row))
        for r, rr in rows.items():
            digests[r] = schedule_digest(rr)
    return [
        {**{k: m[k] for k in COUNTS}, "schedule": digests.get(m["round"], schedule_digest([]))}
        for m in metrics
    ]


def check_round(r: int, got: dict, want: dict, prev: dict | None) -> list[str]:
    """Problems with engine round ``r`` (empty when it is correct)."""
    bad = [f"round {r}: {k} {got[k]} != oracle {want[k]}" for k in (*COUNTS, "schedule") if got[k] != want[k]]
    if got["ok"] + got["failed"] != got["scheduled"]:
        bad.append(f"round {r}: ok {got['ok']} + failed {got['failed']} != scheduled {got['scheduled']}")
    before = prev["frontier"] if prev else 0
    if got["frontier"] != before + got["new_urls"]:
        bad.append(f"round {r}: frontier {got['frontier']} != {before} + new_urls {got['new_urls']}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description="Rebuild the stored oracle expectations.")
    ap.add_argument("--rebuild", action="store_true", required=True)
    ap.add_argument("--seeds", default="1-10", help="seed range a-b")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from inputs import BENCHMARK_WORKLOADS, ensure_built

    lo, _, hi = args.seeds.partition("-")
    os.makedirs(EXPECTED, exist_ok=True)
    for name in BENCHMARK_WORKLOADS:
        ensure_built(name)
        out = {"key": oracle_key(name), "seeds": {}}
        for seed in range(int(lo), int(hi or lo) + 1):
            out["seeds"][str(seed)] = simulate(name, seed)
            print(name, seed, [r["scheduled"] for r in out["seeds"][str(seed)]], flush=True)
        with open(os.path.join(EXPECTED, f"{name}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
