"""Partition-count migration (engine/migrate.py): re-bucketing the
frontier + seen-state to a new ``n_partitions`` must preserve crawl
semantics exactly — a migrated run and a straight run produce the same
tables, seen membership survives, cancelled keys stay re-crawlable,
and a mismatched config is refused instead of silently mis-bucketing.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspider_spark.config import RoundConfig
from pyspider_spark.engine.migrate import migrate_partitions
from pyspider_spark.engine.round import CrawlEngine
from pyspider_spark.oracle.extractor import extract_page

HOSTS = [f"mh{i}.example" for i in range(6)]
SEM_KEYS = ("scheduled", "ok", "failed", "robots_blocked", "new_urls", "frontier")


def _mk_fixtures(tmp_path):
    """Two-page web per host: /p/0 links to /p/1 (so the round after a
    seed crawl schedules real follows), /p/1 is a leaf."""
    urls, htmls = [], []
    for h in HOSTS:
        urls.append(f"http://{h}/p/0")
        htmls.append(f'<html><body><a href="/p/1">next</a> seed {h}</body></html>'.encode())
        urls.append(f"http://{h}/p/1")
        htmls.append(f"<html><body><p>leaf {h}</p></body></html>".encode())
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
    return paths


def _engine(spark, tmp_path, paths, state_name: str, n_partitions: int) -> CrawlEngine:
    cfg = RoundConfig(n_partitions=n_partitions, respect_robots=False)
    return CrawlEngine(
        spark,
        str(tmp_path / state_name),
        cfg,
        pages_path=paths["pages"],
        projects_path=paths["projects"],
    )


def _seeds(spark):
    return spark.createDataFrame(
        [(f"http://{h}/p/0", "test_project") for h in HOSTS],
        "url string, project string",
    )


def _sem(metrics: list[dict]) -> list[dict]:
    return [{k: m[k] for k in SEM_KEYS} for m in metrics]


def _frontier_rows(eng: CrawlEngine) -> set[tuple]:
    return {tuple(r) for r in eng.frontier().collect()}


def _host_rows(eng: CrawlEngine) -> set[tuple]:
    man = eng.snap.read_manifest()
    return {
        tuple(r)
        for r in eng._read_host_state(eng._host_state_dirs(man)).collect()
    }


def _results_rows(eng: CrawlEngine) -> set[tuple]:
    man = eng.snap.read_manifest()
    rels = man["tables"].get("results", [])
    if not rels:
        return set()
    df = eng.spark.read.parquet(*[eng.snap.abspath(rel) for rel in rels])
    return {tuple(r) for r in df.collect()}


def test_migrated_run_matches_straight_run(spark, tmp_path):
    paths = _mk_fixtures(tmp_path)

    a = _engine(spark, tmp_path, paths, "state_a", n_partitions=2)
    m_a = a.run_rounds(1, seeds=_seeds(spark))
    info = migrate_partitions(a, 5)
    assert info["changed"] and info["from"] == 2 and info["to"] == 5
    assert a.cfg.n_partitions == 5
    man_mig = a.snap.read_manifest()
    assert man_mig["state"]["n_partitions"] == 5
    assert man_mig["lineage"]["migration"] == {"from": 2, "to": 5, "round": 0}
    m_a += a.run_rounds(2)

    b = _engine(spark, tmp_path, paths, "state_b", n_partitions=2)
    m_b = b.run_rounds(3, seeds=_seeds(spark))

    assert _sem(m_a) == _sem(m_b)
    assert m_a[1]["scheduled"] == len(HOSTS)  # follows really crawled post-migration
    assert _frontier_rows(a) == _frontier_rows(b)
    assert _results_rows(a) == _results_rows(b)
    assert _host_rows(a) == _host_rows(b)

    # n_partitions survives subsequent round commits (lineage is per-round)
    assert a.snap.read_manifest()["state"]["n_partitions"] == 5


def test_membership_preserved_across_migration(spark, tmp_path):
    paths = _mk_fixtures(tmp_path)
    eng = _engine(spark, tmp_path, paths, "state_seen", n_partitions=2)
    eng.run_rounds(2, seeds=_seeds(spark))  # crawl seeds + follows
    migrate_partitions(eng, 7)
    # same seeds again, no force_update: every key must still be seen
    m = eng.run_rounds(1, inject_at={2: _seeds(spark)})
    assert m[0]["scheduled"] == 0 and m[0]["new_urls"] == 0


def test_cancel_stays_recrawlable_after_migration(spark, tmp_path):
    paths = _mk_fixtures(tmp_path)
    eng = _engine(spark, tmp_path, paths, "state_cancel", n_partitions=2)
    eng.run_rounds(1, seeds=_seeds(spark))
    url = f"http://{HOSTS[0]}/p/0"
    cancel = spark.createDataFrame(
        [(url, "test_project", True)], "url string, project string, cancel boolean"
    )
    eng.run_rounds(1, inject_at={1: cancel})
    migrate_partitions(eng, 3)
    # cancelled key is re-crawlable on the new bucketing...
    m = eng.run_rounds(
        1,
        inject_at={
            2: spark.createDataFrame([(url, "test_project")], "url string, project string")
        },
    )
    assert m[0]["scheduled"] == 1 and m[0]["ok"] == 1
    # ...and once re-added it is seen again
    m2 = eng.run_rounds(
        1,
        inject_at={
            3: spark.createDataFrame([(url, "test_project")], "url string, project string")
        },
    )
    assert m2[0]["scheduled"] == 0


def test_mismatched_config_is_refused(spark, tmp_path):
    paths = _mk_fixtures(tmp_path)
    eng = _engine(spark, tmp_path, paths, "state_mismatch", n_partitions=2)
    eng.run_rounds(1, seeds=_seeds(spark))
    migrate_partitions(eng, 4)
    stale = _engine(spark, tmp_path, paths, "state_mismatch", n_partitions=2)
    with pytest.raises(ValueError, match="migrate_partitions"):
        stale.run_rounds(1)


def test_auto_split_on_partition_growth(spark, tmp_path):
    """max_rows_per_partition wires the frontier_pid_max lineage signal
    to migrate_partitions automatically: a capped run doubles its bucket
    count mid-crawl yet stays semantically identical to a straight run."""
    paths = _mk_fixtures(tmp_path)

    cfg = RoundConfig(
        n_partitions=2, respect_robots=False, max_rows_per_partition=3
    )
    a = CrawlEngine(
        spark,
        str(tmp_path / "state_auto"),
        cfg,
        pages_path=paths["pages"],
        projects_path=paths["projects"],
    )
    m_a = a.run_rounds(3, seeds=_seeds(spark))

    b = _engine(spark, tmp_path, paths, "state_straight", n_partitions=2)
    m_b = b.run_rounds(3, seeds=_seeds(spark))

    # the cap tripped at least once: 6 hosts over 2 buckets exceeds 3 rows
    splits = [m["migration"] for m in m_a if "migration" in m]
    assert splits and all(s["changed"] for s in splits)
    assert a.cfg.n_partitions > 2
    assert a.snap.read_manifest()["state"]["n_partitions"] == a.cfg.n_partitions

    assert _sem(m_a) == _sem(m_b)
    assert _frontier_rows(a) == _frontier_rows(b)
    assert _results_rows(a) == _results_rows(b)
    assert _host_rows(a) == _host_rows(b)


def test_same_count_is_noop(spark, tmp_path):
    paths = _mk_fixtures(tmp_path)
    eng = _engine(spark, tmp_path, paths, "state_noop", n_partitions=2)
    eng.run_rounds(1, seeds=_seeds(spark))
    man_before = eng.snap.read_manifest()
    info = migrate_partitions(eng, 2)
    assert info == {"from": 2, "to": 2, "changed": False}
    assert eng.snap.read_manifest() == man_before
