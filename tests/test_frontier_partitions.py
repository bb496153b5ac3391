"""Touch-only frontier rewrites (SURVEY §2.1 S3 — Iceberg MERGE
semantics in the parquet shim): a round that only schedules one host
must rewrite ONLY that host's bucket(host) partition directory; every
other partition is carried forward by path, byte-identical.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspider_spark.config import RoundConfig
from pyspider_spark.engine.frontier import norm_entry
from pyspider_spark.engine.round import CrawlEngine, pid_col
from pyspider_spark.engine.stages import normalize_updates, seen_k_col
from pyspider_spark.kernels.canon import partition_of
from pyspider_spark.oracle.simulator import seen_key

N_PART = 4


def test_pid_col_matches_partition_of(spark):
    """The JVM-side pid and seen-key expressions are byte-equal to the
    Python partition_of / seen_key the simulator uses (same md5-prefix
    mod, same md5(project|canon_url)) — directly and as normalize
    derives them."""
    hosts = ["", "host0.example", "host1.example", "slow.example", "a.b.c", "x"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r["host"]: r["pid"]
        for r in df.select("host", pid_col(N_PART).alias("pid")).collect()
    }
    want = {h: partition_of(h, N_PART) for h in hosts}
    assert got == want

    raw = spark.createDataFrame(
        [(f"http://{h or 'h'}/p/ü?b=1&a=2", p) for h in hosts for p in ("p0", "test_project")]
        + [("data:,_on_message|x", "msg_project")],
        "url string, project string",
    )
    norm = normalize_updates(raw, RoundConfig(n_partitions=N_PART))
    rows = norm.select("project", "canon_url", "host", "seen_k", "pid",
                       seen_k_col().alias("k2")).collect()
    assert len(rows) == raw.count()
    for r in rows:
        assert r["seen_k"] == r["k2"] == seen_key(r["project"], r["canon_url"])
        assert r["pid"] == partition_of(r["host"], N_PART)


def _mk_fixtures(tmp_path, hosts):
    """Linkless one-page-per-host web (no follows → rounds touch only
    what they schedule)."""
    import datetime as dt

    urls = [f"http://{h}/p/0" for h in hosts]
    htmls = [f"<html><body><p>page {h}</p></body></html>".encode() for h in hosts]
    from pyspider_spark.oracle.extractor import extract_page

    pages = pa.table(
        {
            "url": pa.array(urls),
            "warc_ts": pa.array(
                [dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)] * len(urls),
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array([extract_page(h, u).text for h, u in zip(htmls, urls)]),
            "lang": pa.array(["en"] * len(urls)),
        }
    )
    projects = pa.table(
        {
            "project": pa.array(["test_project"]),
            "status": pa.array(["RUNNING"]),
            "rate": pa.array([10.0]),
            "burst": pa.array([10.0]),
            "min_tick": pa.array([0.0]),
            "script_ref": pa.array(["default_extractor"]),
        }
    )
    paths = {}
    for name, tbl in (("pages", pages), ("projects", projects)):
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(tbl, p)
        paths[name] = p
    return paths, urls


@pytest.fixture(scope="module")
def distinct_pid_hosts():
    """Hosts landing in distinct partitions under N_PART."""
    found: dict[int, str] = {}
    i = 0
    while len(found) < 3:
        h = f"h{i}.example"
        found.setdefault(partition_of(h, N_PART), h)
        i += 1
    return list(found.values())


def test_untouched_partitions_carry_forward(spark, tmp_path, distinct_pid_hosts):
    hosts = distinct_pid_hosts
    paths, urls = _mk_fixtures(tmp_path, hosts)
    cfg = RoundConfig(n_partitions=N_PART, respect_robots=False)
    eng = CrawlEngine(
        spark,
        str(tmp_path / "state"),
        cfg,
        pages_path=paths["pages"],
        projects_path=paths["projects"],
    )
    seeds = spark.createDataFrame([(u, "test_project") for u in urls], "url string, project string")
    eng.run_rounds(1, seeds=seeds)  # round 0: all hosts scheduled
    man0 = eng.snap.read_manifest()
    dirs0 = dict(man0["tables"]["frontier"])
    assert len(dirs0) == 3  # one dir per distinct pid

    # round 1: force_update re-crawl of ONE host only
    target = hosts[0]
    tpid = partition_of(target, N_PART)
    inj = spark.createDataFrame(
        [(f"http://{target}/p/0", "test_project", True)],
        "url string, project string, force_update boolean",
    )
    eng.run_rounds(1, inject_at={1: inj})
    man1 = eng.snap.read_manifest()
    dirs1 = dict(man1["tables"]["frontier"])

    assert set(man1["lineage"]["touched_pids"]) == {tpid}
    # touched partition: its MoR entry changed under round 1 (a delta
    # was appended and/or the deltas compacted into a fresh base)
    e0, e1 = norm_entry(dirs0[str(tpid)]), norm_entry(dirs1[str(tpid)])
    assert e1 != e0
    assert any("r000001" in p for p in [e1["base"], *e1["deltas"]] if p)
    # untouched partitions: SAME entry — base carried forward by path
    for h in hosts[1:]:
        p = str(partition_of(h, N_PART))
        assert norm_entry(dirs1[p]) == norm_entry(dirs0[p])
        d = eng.snap.abspath(norm_entry(dirs1[p])["base"])
        files = sorted(fn for fn in os.listdir(d) if fn.endswith(".parquet"))
        assert files  # still present on disk (gc-safe: manifest references it)

    # host_state shares the MERGE layout: only the scheduled host's
    # partition is rewritten, the rest carry forward by path
    hs0 = dict(man0["tables"]["host_state"])
    hs1 = dict(man1["tables"]["host_state"])
    assert hs1[str(tpid)] != hs0[str(tpid)]
    assert "r000001" in hs1[str(tpid)]
    for h in hosts[1:]:
        p = str(partition_of(h, N_PART))
        assert hs1[p] == hs0[p]


def test_pruned_merge_still_correct(spark, tmp_path, distinct_pid_hosts):
    """After the touch-only round, the full frontier still reflects the
    re-crawl (target ACTIVE→SUCCESS again, others untouched rows)."""
    hosts = distinct_pid_hosts
    paths, urls = _mk_fixtures(tmp_path, hosts)
    cfg = RoundConfig(n_partitions=N_PART, respect_robots=False)
    eng = CrawlEngine(
        spark,
        str(tmp_path / "state"),
        cfg,
        pages_path=paths["pages"],
        projects_path=paths["projects"],
    )
    seeds = spark.createDataFrame([(u, "test_project") for u in urls], "url string, project string")
    eng.run_rounds(1, seeds=seeds)
    inj = spark.createDataFrame(
        [(f"http://{hosts[0]}/p/0", "test_project", True)],
        "url string, project string, force_update boolean",
    )
    m = eng.run_rounds(2, inject_at={1: inj})
    # round 1 scheduled exactly the re-crawl; round 2 nothing
    assert m[0]["scheduled"] == 1 and m[0]["ok"] == 1
    assert m[1]["scheduled"] == 0
    fr = {r["host"]: r for r in eng.frontier().collect()}
    assert len(fr) == 3
    assert all(r["status"] == 2 for r in fr.values())  # SUCCESS
    # the re-crawled row settled again in round 1 (lastcrawltime = t0+dt)
    assert fr[hosts[0]]["lastcrawltime"] == cfg.now(1)
    for h in hosts[1:]:
        assert fr[h]["lastcrawltime"] == cfg.now(0)


def test_frontier_asof_time_travel(spark, tmp_path, distinct_pid_hosts):
    """frontier_asof(r) reads the snapshot round r committed (Iceberg
    time-travel analog) even after later rounds rewrote partitions."""
    hosts = distinct_pid_hosts
    paths, urls = _mk_fixtures(tmp_path, hosts)
    cfg = RoundConfig(n_partitions=N_PART, respect_robots=False)
    eng = CrawlEngine(
        spark,
        str(tmp_path / "state_asof"),
        cfg,
        pages_path=paths["pages"],
        projects_path=paths["projects"],
    )
    seeds = spark.createDataFrame(
        [(u, "test_project") for u in urls], "url string, project string"
    )
    eng.run_rounds(1, seeds=seeds)
    target = hosts[0]
    inj = spark.createDataFrame(
        [(f"http://{target}/p/0", "test_project", True)],
        "url string, project string, force_update boolean",
    )
    eng.run_rounds(1, inject_at={1: inj})

    now_cur = {r["host"]: r["lastcrawltime"] for r in eng.frontier().collect()}
    assert now_cur[target] == cfg.now(1)  # re-crawled in round 1
    now_r0 = {r["host"]: r["lastcrawltime"] for r in eng.frontier_asof(0).collect()}
    assert now_r0[target] == cfg.now(0)  # as-of round 0: original crawl
    assert set(now_r0) == set(now_cur)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no retained snapshot"):
        eng.frontier_asof(99)
