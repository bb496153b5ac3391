"""Crawl-round benchmark: times ``CrawlEngine.run_round`` on one workload.

    python3 crawlbench/run.py --workload sparse_rounds --seed 1 --seconds 10 --trace 0

A run copies the workload's cached base state (the seed round, built
once per checkout) into a fresh state dir, sets up once (``get_spark``
launches the JVM, then the first ``CrawlEngine`` is constructed in it)
and times the steady round after the seed round, round 1; while
``--seconds`` have not passed it repeats from a fresh copy. Every timed
round and the seed round it continues are checked against the reference
simulator. The last stdout line is one JSON object: ``correct``,
``attempted`` and ``failed`` (timed rounds; a round fails when it raises
or its check fails) and ``metrics``, each ``{"value", "unit"}``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics, from the same crawl run with the Spark UI on, plus the kernel
tier. When no round passes, ``metrics`` is empty and the exit status 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

T0 = time.perf_counter()
END_TO_END_UNITS = {"urls_per_s": "URL/s", "round_p50_s": "s", "setup_s": "s"}


def per_layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_per_s"):
        return "1/s"
    if suffix.endswith("_s"):
        return "s"
    if suffix == "mb" or suffix.endswith("_mb"):
        return "MB"
    if suffix in ("task_skew", "new_per_probe"):
        return "ratio"
    return "count"


def run(name: str, seed: int, seconds: float, trace: bool, work: str, log=sys.stderr) -> dict:
    from inputs import (
        WORKLOADS, base_dir, ensure_built, inject_keys, round_config, stop_spark, web_paths, write_seeds,
    )
    from layers import PHASES, MemoryProbe, phase_windows, stage_metrics, state_metrics
    from oracle import check_round, engine_rounds, expected_rounds

    from pyspider_spark.engine.round import CrawlEngine
    from pyspider_spark.engine.session import get_spark

    w = WORKLOADS[name]
    cfg = round_config(w)
    ensure_built(name)
    base = base_dir(name)
    paths = web_paths(name)
    inject_path = os.path.join(work, "inject.parquet")
    write_seeds(name, inject_keys(name, seed), inject_path)
    with open(os.path.join(base, "round0.json")) as f:
        round0 = json.load(f)

    # stored for seeds 1-10, otherwise simulated here, before set-up
    want = expected_rounds(name, seed)

    def fresh_state(i: int) -> str:
        state = os.path.join(work, f"state{i}")
        shutil.copytree(os.path.join(base, "state"), state)
        return state

    def engine(state: str):
        return CrawlEngine(
            spark, state, cfg, pages_path=paths["pages"],
            projects_path=paths["projects"], robots_path=paths["robots"],
        )

    spark = None
    walls, scheduled, windows, phase_s, state_rows = [], [], [], [], []
    values: dict = {}
    attempted = failed = 0
    correct = True
    try:
        # set-up, timed once and cold: get_spark launches the JVM, and
        # the engine is the first one constructed in it
        state = fresh_state(0)
        t0 = time.perf_counter()
        spark = get_spark(app_name="crawlbench")
        t1 = time.perf_counter()
        eng = engine(state)
        start_s, init_s = t1 - t0, time.perf_counter() - t1
        print(f"crawlbench: set-up done after {time.perf_counter() - T0:.1f}s "
              f"(start {start_s:.2f}s, init {init_s:.2f}s)", file=log)
        t_run = time.perf_counter()
        jvm_pid = spark.sparkContext._gateway.proc.pid
        with MemoryProbe(jvm_pid) if trace else contextlib.nullcontext() as mem:
            while True:
                if attempted:
                    state = fresh_state(attempted)
                    eng = engine(state)
                attempted += 1
                inject = spark.read.parquet(inject_path)
                t_wall, t0 = time.time(), time.perf_counter()
                try:
                    m = eng.run_round(1, inject)
                except Exception:
                    traceback.print_exc(file=log)
                    failed += 1
                else:
                    wall = time.perf_counter() - t0
                    print(f"crawlbench: round 1 {wall:.1f}s {m['phase_s']}", file=log)
                    # checked with the cached seed round it continues
                    got = engine_rounds(state, [round0, m])
                    bad = check_round(0, got[0], want[0], None) + check_round(1, got[1], want[1], got[0])
                    if bad:
                        print("\n".join(bad), file=log)
                        correct = False
                        failed += 1
                    else:
                        walls.append(wall)
                        scheduled.append(m["scheduled"])
                        if trace:
                            windows.append(phase_windows(t_wall, m["phase_s"]))
                            phase_s.append(m["phase_s"])
                            state_rows.append(state_metrics(state, 1, m))
                shutil.rmtree(state)
                if time.perf_counter() - t_run >= seconds:
                    break
        if walls and trace:
            values = {"round.wall_s": statistics.median(walls)}
            for p in PHASES:
                values[f"{p}.wall_s"] = statistics.median(ps.get(p, 0.0) for ps in phase_s)
            values.update(stage_metrics(spark, windows))
            values.update({k: statistics.median(row[k] for row in state_rows) for k in state_rows[0]})
            values["jvm.peak_rss_mb"] = mem.jvm_peak_bytes() / 1e6
            values["python.workers_peak_mb"] = mem.workers_peak_bytes / 1e6
            values["session.start_s"] = start_s
            values["engine.init_s"] = init_s
        elif walls:
            values = {
                "urls_per_s": sum(scheduled) / sum(walls),
                "round_p50_s": statistics.median(walls),
                "setup_s": start_s + init_s,
            }
    finally:
        if spark is not None:
            stop_spark(spark)
    if trace and walls:
        from kernels import kernel_metrics

        values.update(kernel_metrics(paths["pages"], seed))
        units = {k: per_layer_unit(k) for k in values}
    else:
        units = END_TO_END_UNITS
    print(f"crawlbench: done after {time.perf_counter() - T0:.1f}s", file=log)
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import pyspark  # noqa: F401

        from inputs import WORK, WORKLOADS, child_env
        import pyspider_spark.engine.round  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.environ.update(child_env(work))
    if args.trace:
        os.environ["SPARK_GRAFT_UI"] = "1"  # stage metrics come from the UI REST API
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    # a run in which no round passed its check has no metrics to report
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
