"""Measurements taken around the engine from outside it: peak RSS of
the Spark process tree, per-phase Spark stage metrics from the UI REST
API, and state-dir sizes after each round."""

from __future__ import annotations

import datetime
import json
import os
import statistics
import threading
import urllib.request

PHASES = ("normalize_probe", "merge", "schedule", "fetch_settle", "frontier_write", "sinks_commit")
MB = 1e6


def descendants(pid: int) -> list[int]:
    """pids of every live descendant of ``pid``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class MemoryProbe:
    """Memory of the Spark process tree rooted at the driver JVM: the
    JVM's own peak RSS (the kernel's high-water mark, VmHWM) and the
    peak summed RSS of its Python workers, sampled from /proc."""

    def __init__(self, jvm_pid: int, period_s: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period_s = period_s
        self.workers_peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> "MemoryProbe":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def jvm_peak_bytes(self) -> int:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
        raise RuntimeError(f"no VmHWM for pid {self.jvm_pid}")

    def _workers_rss(self) -> int:
        total = 0
        for pid in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.workers_peak_bytes = max(self.workers_peak_bytes, self._workers_rss())
            self._stop.wait(self.period_s)


def phase_windows(t0: float, phase_s: dict[str, float]) -> list[tuple[str, float, float]]:
    """(phase, start, end) of one round, rebuilt from the ordered
    ``phase_s`` that ``run_round`` returns and the round's start time."""
    out, t = [], t0
    for name, dur in phase_s.items():
        out.append((name, t, t + dur))
        t += dur
    return out


def _rest(ui: str, path: str):
    with urllib.request.urlopen(f"{ui}/api/v1/{path}", timeout=30) as r:
        return json.load(r)


def _ts(s: str) -> float:
    return datetime.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def stage_metrics(spark, rounds: list[list[tuple[str, float, float]]]) -> dict[str, float]:
    """Per-phase stage metrics, each the median over ``rounds`` (lists
    of phase windows), plus ``round.unattributed_run_s`` (executor time
    of stages submitted inside a round's span but outside its phase
    windows, median per round) and ``jvm.gc_s`` (median per round).
    A stage belongs to the phase whose window holds its submission."""
    sc = spark.sparkContext
    ui, app = sc.uiWebUrl, sc.applicationId
    stages = [s for s in _rest(ui, f"applications/{app}/stages") if "submissionTime" in s]
    per_round = []
    for windows in rounds:
        acc = {p: {"run": 0.0, "cpu": 0.0, "rd": 0.0, "wr": 0.0, "spill": 0.0, "out": 0.0,
                   "stages": 0, "tasks": 0, "heavy": None} for p in PHASES}
        unattributed = gc = 0.0
        lo, hi = windows[0][1], windows[-1][2]
        for st in stages:
            sub = _ts(st["submissionTime"])
            if not lo <= sub <= hi:
                continue
            gc += st.get("jvmGcTime", 0) / 1e3
            phase = next((p for p, a, b in windows if a <= sub <= b), None)
            if phase not in acc:
                unattributed += st.get("executorRunTime", 0) / 1e3
                continue
            a = acc[phase]
            a["run"] += st.get("executorRunTime", 0) / 1e3
            a["cpu"] += st.get("executorCpuTime", 0) / 1e9
            a["rd"] += st.get("shuffleReadBytes", 0) / MB
            a["wr"] += st.get("shuffleWriteBytes", 0) / MB
            a["spill"] += st.get("diskBytesSpilled", 0) / MB
            a["out"] += st.get("outputBytes", 0) / MB
            a["stages"] += 1
            a["tasks"] += st.get("numTasks", 0)
            if a["heavy"] is None or st.get("executorRunTime", 0) > a["heavy"].get("executorRunTime", 0):
                a["heavy"] = st
        row = {"round.unattributed_run_s": unattributed, "jvm.gc_s": gc}
        for p, a in acc.items():
            row.update({
                f"{p}.exec_run_s": a["run"], f"{p}.exec_cpu_s": a["cpu"],
                f"{p}.shuffle_read_mb": a["rd"], f"{p}.shuffle_write_mb": a["wr"],
                f"{p}.spill_mb": a["spill"], f"{p}.output_mb": a["out"],
                f"{p}.stages": a["stages"], f"{p}.tasks": a["tasks"],
                f"{p}.task_skew": _skew(ui, app, a["heavy"]),
            })
        per_round.append(row)
    return {k: statistics.median(r[k] for r in per_round) for k in per_round[0]}


def _skew(ui: str, app: str, stage: dict | None) -> float:
    """max ÷ median task run time of the phase's heaviest stage (1.0
    when the phase ran no stage with a measurable median)."""
    if stage is None:
        return 1.0
    q = _rest(
        ui,
        f"applications/{app}/stages/{stage['stageId']}/{stage['attemptId']}"
        "/taskSummary?quantiles=0.5,1.0",
    )["executorRunTime"]
    return q[1] / q[0] if q[0] > 0 else 1.0


def _du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def state_metrics(state_dir: str, r: int, m: dict) -> dict[str, float]:
    """Sizes and row counts of the state committed by round ``r``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    with open(os.path.join(state_dir, "manifest.json")) as f:
        man = json.load(f)
    fr = man["tables"].get("frontier", {})
    fr_dirs = {d for e in fr.values() for d in ([e["base"]] if e.get("base") else []) + list(e.get("deltas", []))}
    blob_dirs = {e["table"] for e in man.get("blobs", {}).values() if e.get("table")}
    probe = pq.read_table(os.path.join(state_dir, man["tables"]["probe"]), columns=["taskid", "cancel"])
    probed = int(pc.sum(pc.and_(pc.is_valid(probe["taskid"]), pc.invert(pc.fill_null(probe["cancel"], False)))).as_py() or 0)
    return {
        "snapshot.round_write_mb": _du(os.path.join(state_dir, "rounds", f"r{r:06d}")) / MB,
        "frontier.rows": m["frontier"],
        "frontier.delta_rows": sum(man.get("lineage", {}).get("frontier_delta_rows", {}).values()),
        "frontier.mb": sum(_du(os.path.join(state_dir, d)) for d in fr_dirs) / MB,
        "seen.blob_mb": sum(_du(os.path.join(state_dir, d)) for d in blob_dirs) / MB,
        "seen.new_per_probe": m["new_urls"] / probed if probed else 0.0,
    }
