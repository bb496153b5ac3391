"""Fast self-test of the benchmark harness on the sf0.001 keyspace
(1 500 pages, workload ``selftest``).

    python3 crawlbench/selftest.py

1. ``run.py`` with ``--trace 0`` and ``--trace 1`` prints, as its last
   line, ``correct``/``attempted``/``failed`` and every metric that
   BENCHMARK.json names for that mode, with the unit named there.
2. The oracle check accepts the cached seed round, and rejects it once
   one scheduled row is perturbed or one count is off.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

NAME = "selftest"


def check_printed(bench: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = subprocess.run(
            [*bench["command"], "--workload", NAME, "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        assert p.returncode == 0, p.stderr[-3000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
        assert out["correct"] is True and out["attempted"] >= 1 and out["failed"] == 0, out
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == want, f"--trace {trace}: missing {set(want) - set(got)}, extra {set(got) - set(want)}, " \
            f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}"
        assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
        print(f"ok: --trace {trace} prints all {len(want)} {key} metrics with their units")


def check_oracle_rejects_perturbation() -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from inputs import WORK, base_dir, ensure_built
    from oracle import check_round, engine_rounds, simulate

    ensure_built(NAME)
    base = base_dir(NAME)
    with open(os.path.join(base, "round0.json")) as f:
        round0 = json.load(f)
    want = simulate(NAME, 1)[0]
    state = os.path.join(WORK, f"selftest-{os.getpid()}")
    shutil.copytree(os.path.join(base, "state"), state)
    try:
        got = engine_rounds(state, [round0])[0]
        assert check_round(0, got, want, None) == [], check_round(0, got, want, None)
        bad = check_round(0, {**got, "scheduled": got["scheduled"] + 1}, want, None)
        assert any("scheduled" in b for b in bad), bad
        # perturb one scheduled row: reverse the first row's taskid
        with open(os.path.join(state, "manifest.json")) as f:
            sched_dir = os.path.join(state, json.load(f)["tables"]["schedule"][0])
        t = pq.read_table(sched_dir)
        tid = t["taskid"].to_pylist()
        tid[0] = tid[0][::-1]
        t = t.set_column(t.schema.get_field_index("taskid"), "taskid", pa.array(tid, pa.string()))
        shutil.rmtree(sched_dir)
        os.makedirs(sched_dir)
        pq.write_table(t, os.path.join(sched_dir, "part-0.parquet"))
        bad = check_round(0, engine_rounds(state, [round0])[0], want, None)
        assert any("schedule" in b for b in bad), bad
        print("ok: the oracle check accepts the seed round and rejects a perturbed row or count")
    finally:
        shutil.rmtree(state, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check_oracle_rejects_perturbation()
    check_printed(bench)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
