"""Workloads of the crawl-round benchmark and the inputs they run on.

Each workload crawls a synthetic web made by
``pyspider_spark.bench.webgen`` from a dense key column 0..keys-1 (the
``orders`` keyspace the bench harness uses, written here by pyarrow so
no outside data is read). Built once per checkout under
``crawlbench/.cache/``, in a child process of its own:

- the web (pages, projects, robots) and a seed pool with one seed row
  per page;
- the base state: a state dir after the seed round (round 0) crawled
  from the workload's fixed base seeds, keyed by the engine's source so
  an edited engine rebuilds it.

A measured run copies the base state into a fresh state dir and crawls
the steady round after it, round 1. The benchmark seed picks the URLs
injected at round 1, so the same seed gives the same inputs.

    python3 crawlbench/inputs.py --build sparse_rounds
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import sys
from dataclasses import asdict, dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")


@dataclass(frozen=True)
class Workload:
    keys: int  # pages in the web (keyspace size)
    page_words: int  # approx words per page body
    n_hosts: int
    seeding: str  # "window": contiguous key run; "spread": random key subset
    seed_div: int  # base seed URLs (round 0) = keys // seed_div
    inject_div: int  # seed-picked URLs injected at round 1 = keys // inject_div
    rate: float  # per-host token rate and burst


WORKLOADS: dict[str, Workload] = {
    # fixed per-round cost dominates: few URLs per round, short pages
    "sparse_rounds": Workload(
        keys=20_000, page_words=30, n_hosts=500, seeding="window",
        seed_div=30, inject_div=60, rate=200.0,
    ),
    # per-URL work dominates: spread seeds keep follow targets unseen,
    # long pages make extraction and analysis the bulk of each round
    "dense_rounds": Workload(
        keys=6_000, page_words=240, n_hosts=500, seeding="spread",
        seed_div=5, inject_div=40, rate=3000.0,
    ),
    # harness self-test only (crawlbench/selftest.py): the sf0.001 keyspace
    "selftest": Workload(
        keys=1_500, page_words=30, n_hosts=50, seeding="window",
        seed_div=10, inject_div=20, rate=20.0,
    ),
}


BENCHMARK_WORKLOADS = ("sparse_rounds", "dense_rounds")


def round_config(w: Workload):
    from pyspider_spark.config import RoundConfig

    return RoundConfig(
        rate=w.rate,
        burst=w.rate,
        n_partitions=8,
        round_budget=None,
        analyze=True,  # per-page text analysis is part of the measured round
        pages_precanonical=True,  # webgen writes canonical urls
    )


def web_key(name: str) -> str:
    """Identity of a workload's inputs: its parameters plus the source of
    the generator and of this module (seed picking), so an edit to
    either never reuses a stale cache."""
    h = hashlib.sha256()
    h.update(json.dumps([name, asdict(WORKLOADS[name])], sort_keys=True).encode())
    for path in (os.path.join(ROOT, "pyspider_spark", "bench", "webgen.py"), os.path.abspath(__file__)):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def web_dir(name: str) -> str:
    return os.path.join(CACHE, f"web-{name}-{web_key(name)}")


def web_paths(name: str) -> dict[str, str]:
    d = web_dir(name)
    return {t: os.path.join(d, f"{t}.parquet") for t in ("pages", "seeds", "projects", "robots")}


def _publish(tmp: str, out: str) -> None:
    """Move a finished build into place and drop the builds it replaces
    (same kind and workload, another key)."""
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    prefix = os.path.basename(out).rsplit("-", 1)[0] + "-"
    for d in os.listdir(CACHE):
        if d.startswith(prefix) and d != os.path.basename(out):
            shutil.rmtree(os.path.join(CACHE, d), ignore_errors=True)


def build_web(spark, name: str) -> str:
    """Write the workload's web once: pages/projects/robots plus a seed
    pool holding one seed row per page (``seeds.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspider_spark.bench.webgen import materialize

    out = web_dir(name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    w = WORKLOADS[name]
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(
        pa.table({"o_orderkey": pa.array(range(w.keys), pa.int64())}),
        os.path.join(tmp, "orders.parquet"),
    )
    materialize(
        spark, tmp, tmp, n_hosts=w.n_hosts, n_seeds=w.keys, page_words=w.page_words
    )
    _publish(tmp, out)
    return out


def engine_key(name: str) -> str:
    """Identity of a workload's base state: its web plus every engine
    source file, so a changed engine never reuses a stale state."""
    h = hashlib.sha256(web_key(name).encode())
    pkg = os.path.join(ROOT, "pyspider_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, fn), pkg).encode())
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def base_dir(name: str) -> str:
    return os.path.join(CACHE, f"state-{name}-{engine_key(name)}")


def build_base(spark, name: str) -> str:
    """Crawl the seed round from the base seeds into a cached state dir;
    its metrics land in ``round0.json`` beside the state."""
    from pyspider_spark.engine.round import CrawlEngine

    out = base_dir(name)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    seeds = os.path.join(tmp, "seeds.parquet")
    write_seeds(name, base_keys(name), seeds)
    paths = web_paths(name)
    eng = CrawlEngine(
        spark, os.path.join(tmp, "state"), round_config(WORKLOADS[name]),
        pages_path=paths["pages"], projects_path=paths["projects"],
        robots_path=paths["robots"],
    )
    m = eng.run_round(0, spark.read.parquet(seeds))
    with open(os.path.join(tmp, "round0.json"), "w") as f:
        json.dump(m, f)
    _publish(tmp, out)
    return out


def ensure_built(name: str) -> None:
    """Build missing webs and base states in a child process (its own
    JVM), so the run that builds them measures the same as every later
    run. The benchmark's workloads are built together, so only the
    first run in a checkout pays the build."""
    import subprocess

    if os.path.exists(os.path.join(base_dir(name), "_DONE")):
        return
    names = [name] + [n for n in BENCHMARK_WORKLOADS if n != name]
    work = os.path.join(WORK, f"build-{os.getpid()}")
    try:
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build", *names],
            check=True,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            env=child_env(work),
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


def seed_keys(name: str, label: str, n: int, exclude: frozenset = frozenset()) -> list[int]:
    """``n`` keys picked by ``label``, none of them in ``exclude``: a run
    of consecutive keys ("window") or a uniform sample ("spread")."""
    w = WORKLOADS[name]
    rng = random.Random(f"{name}:{label}")
    pool = [k for k in range(w.keys) if k not in exclude]
    if w.seeding == "window":
        off = rng.randrange(len(pool))
        return sorted(pool[(off + i) % len(pool)] for i in range(n))
    return sorted(rng.sample(pool, n))


def base_keys(name: str) -> list[int]:
    w = WORKLOADS[name]
    return seed_keys(name, "base", w.keys // w.seed_div)


def inject_keys(name: str, seed: int) -> list[int]:
    """The seed's round-1 URLs, drawn from pages the seed round neither
    crawled nor linked to, so every seed injects as many new URLs."""
    from pyspider_spark.bench.webgen import LINK_OFFSETS

    w = WORKLOADS[name]
    base = base_keys(name)
    # webgen pages link to k + LINK_OFFSETS, k + 31 and (relative) k + 3
    seen = frozenset((k + d) % w.keys for k in base for d in (0, 3, 31, *LINK_OFFSETS))
    return seed_keys(name, f"inject:{seed}", w.keys // w.inject_div, seen)


def seed_rows(name: str, keys: list[int]):
    """Seed rows of ``keys`` from the web's seed pool (webgen's
    ``synth_seeds`` over every key), as a pyarrow table in url order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pool = pq.read_table(web_paths(name)["seeds"])
    key = pc.cast(
        pc.list_element(pc.split_pattern(pool["url"], "/o/"), 1), pa.int64()
    )
    keep = pc.is_in(key, value_set=pa.array(keys, pa.int64()))
    return pool.filter(keep).sort_by("url")


def write_seeds(name: str, keys: list[int], out_path: str) -> int:
    import pyarrow.parquet as pq

    t = seed_rows(name, keys)
    pq.write_table(t, out_path)
    return t.num_rows


def child_env(work: str) -> dict[str, str]:
    """Environment that keeps Spark, the JVM and Python temp files
    inside the benchmark's work dir and lets the Python workers import
    the engine."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    return env


def stop_spark(spark) -> None:
    """Stop the session, end the JVM it launched and wait until the JVM
    and its Python workers have exited."""
    import time

    from pyspark import SparkContext

    from layers import descendants

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    pids = [proc.pid, *descendants(proc.pid)] if proc is not None else []
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--build", choices=sorted(WORKLOADS), nargs="+", required=True)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from pyspider_spark.engine.session import get_spark

    spark = get_spark(app_name="crawlbench_build")
    try:
        for name in args.build:
            build_web(spark, name)
            print(build_base(spark, name))
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
