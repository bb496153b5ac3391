"""Steadiness check: run every workload repeatedly and compare each
end-to-end metric's spread with its bound in BENCHMARK.json.

    python3 crawlbench/steady.py [--runs 10] [--first-seed 1] [--workloads a,b] [--out f.json]

Runs alternate the workload order (A B, then B A, ...), run ``i`` of
every workload uses seed ``first-seed + i``. For each metric it prints
the median, the quartiles (``statistics.quantiles(n=4)``) and the
spread (q3 - q1) / median next to the bound, and the share of failed
rounds. Exit status 1 when a spread exceeds its bound, a run fails, or
a check is not correct.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        last = p.stdout.strip().splitlines()[-1:]
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode} {last}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["run_s"] = time.monotonic() - t0
    out["log"] = [ln for ln in p.stderr.splitlines() if ln.startswith("crawlbench:")]
    return out


def summarize(bench: dict, results: dict[str, list[dict]]) -> tuple[list[dict], bool]:
    rows, ok = [], True
    for w, runs in results.items():
        share = {r["failed"] / r["attempted"] for r in runs}
        ok &= all(r["correct"] for r in runs) and len(share) == 1
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            spread = (q3 - q1) / med
            held = spread <= m["bound"]
            ok &= held
            rows.append({
                "workload": w, "metric": m["name"], "unit": m["unit"], "median": med,
                "q1": q1, "q3": q3, "spread": spread, "bound": m["bound"],
                "held": held, "failed_share": sorted(share), "runs": len(vals),
                "run_s_max": max(r["run_s"] for r in runs),
            })
    return rows, ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=None, help="comma list (default: all in BENCHMARK.json)")
    ap.add_argument("--out", default=None, help="also write the raw runs and summary as JSON")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    results: dict[str, list[dict]] = {w: [] for w in names}
    for i in range(args.runs):
        order = names if i % 2 == 0 else names[::-1]
        for w in order:
            r = run_once(bench, w, args.first_seed + i)
            results[w].append(r)
            vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
            print(f"# {w} seed {args.first_seed + i}: {vals} run {r['run_s']:.1f}s", flush=True)
    rows, ok = summarize(bench, results)
    print(f"{'workload':15s} {'metric':12s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for r in rows:
        print(f"{r['workload']:15s} {r['metric']:12s} {r['median']:10.4g} {r['q1']:10.4g} {r['q3']:10.4g} "
              f"{r['spread']:7.3f} {r['bound']:6.2f} {'' if r['held'] else 'EXCEEDS'}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"runs": results, "summary": rows}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
