"""Physical-plan regression tests — pin the plan *shapes* the engine's
scale story depends on, so a refactor that silently degrades a plan
(broadcast → sort-merge, TakeOrdered → global sort, lost parquet
pushdown, lost map-side combine) fails loudly at test time instead of
at 100 TB.

Each assertion reads ``df._jdf.queryExecution().executedPlan()`` (or
the formatted explain string) BEFORE execution — these tests cost
milliseconds, not jobs.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from pyspider_spark.config import RoundConfig

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

# physical operators that evaluate Python: a row UDF, a vectorized UDF,
# a grouped map
PYTHON_EVAL_MARKERS = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas")


def _plan(df) -> str:
    """Formatted physical plan (post-Catalyst, pre-execution)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------------
# result paging: TakeOrderedAndProject, never a whole-table window sort
# ---------------------------------------------------------------------------
def test_select_results_is_take_ordered(spark):
    from pyspider_spark.engine.results import select_results

    results = spark.createDataFrame(
        [("p", f"t{i}", f"u{i}", "{}", float(i)) for i in range(100)],
        "project string, taskid string, url string, result string, updatetime double",
    )
    plan = _plan(select_results(results, offset=20, limit=20))
    assert "TakeOrderedAndProject" in plan
    # the window must be fed by the bounded head, not the full table:
    # a global Sort over the input would betray a whole-table shuffle
    assert plan.index("TakeOrderedAndProject") > plan.index("Window")


def test_cosine_topk_is_take_ordered(spark):
    import numpy as np

    from pyspider_spark.ops.similarity import cosine_topk

    emb = spark.createDataFrame(
        [(i, [float(i % 5), 1.0]) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(cosine_topk(spark, emb, np.array([1.0, 0.0]), k=5))
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# fetch join: bounded schedule ⇒ broadcast build side, pages side streams;
# unbounded schedule ⇒ NO forced broadcast (AQE decides from sizes)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def pages_and_sched(spark):
    pages = spark.createDataFrame(
        [(f"http://h{i % 7}.test/p{i}", bytearray(b"<html>x</html>")) for i in range(50)],
        "canon_url string, html binary",
    )
    sched = spark.createDataFrame(
        [
            ("proj", f"t{i}", f"http://h{i % 7}.test/p{i}", f"h{i % 7}.test", 0, 3, "index_page")
            for i in range(10)
        ],
        "project string, taskid string, canon_url string, host string, "
        "priority int, retries_left int, callback string",
    )
    return pages, sched


def test_fetch_join_broadcasts_bounded_schedule(spark, pages_and_sched):
    from pyspider_spark.engine.fetchx import fetch_and_extract

    pages, sched = pages_and_sched
    cfg = RoundConfig(n_partitions=4, round_budget=100)
    plan = _plan(fetch_and_extract(sched, pages, cfg, sched_rows=10))
    assert "BroadcastHashJoin" in plan


def test_fetch_extraction_runs_above_rebalance(spark, pages_and_sched):
    """The Python extraction must sit ABOVE a rebalance exchange: the
    join's surviving rows inherit the scan's splits, and schedules are
    clustered in the pages table (discovery-order ingest), so without
    the exchange one scan task does the whole round's extraction
    (measured 225k pages on one core at bench scale)."""
    from pyspider_spark.engine.fetchx import fetch_and_extract

    pages, sched = pages_and_sched
    cfg = RoundConfig(n_partitions=4, round_budget=100)
    plan = _plan(fetch_and_extract(sched, pages, cfg, sched_rows=10))
    assert "ArrowEvalPython" in plan
    assert "REBALANCE" in plan
    # topology: the UDF eval is downstream (earlier in explain output)
    # of the rebalance exchange
    assert plan.index("ArrowEvalPython") < plan.index("REBALANCE")


def test_fetch_miss_antijoin_never_shuffles_corpus_keys(spark, pages_and_sched):
    """Bounded schedule ⇒ miss detection = key-only streamed scan +
    broadcast anti join; a hashpartitioning exchange of the pages key
    column would shuffle 10^10 keys per round at north scale."""
    from pyspider_spark.engine.fetchx import fetch_and_extract

    pages, sched = pages_and_sched
    cfg = RoundConfig(n_partitions=4, round_budget=100)
    plan = _plan(fetch_and_extract(sched, pages, cfg, sched_rows=10))
    assert "SortMergeJoin" not in plan


def test_fetch_join_no_forced_broadcast_when_unbounded(spark, pages_and_sched):
    from pyspider_spark.engine.fetchx import fetch_and_extract

    pages, sched = pages_and_sched
    cfg = RoundConfig(n_partitions=4, round_budget=None)
    df = fetch_and_extract(sched, pages, cfg, sched_rows=None)
    # the logical plan must not carry a broadcast HINT on the schedule
    # side (AQE may still *choose* broadcast from observed sizes — the
    # guard is about not forcing an unbounded collect)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in logical
    assert "hints=[broadcast]" not in logical.replace(" ", "").lower()


# ---------------------------------------------------------------------------
# frontier candidates scan: status/exetime predicates reach the parquet
# reader as pushed filters (pruned columnar read, no frontier rewrite)
# ---------------------------------------------------------------------------
def test_frontier_scan_pushes_down_predicates(spark, tmp_path):
    from pyspider_spark.config import ACTIVE

    p = str(tmp_path / "fr.parquet")
    spark.createDataFrame(
        [("p", f"t{i}", ACTIVE if i % 2 else "SUCCESS", float(i)) for i in range(100)],
        "project string, taskid string, status string, exetime double",
    ).write.parquet(p)
    df = (
        spark.read.parquet(p)
        .filter((F.col("status") == ACTIVE) & (F.col("exetime") <= 50.0))
        .select("project", "taskid")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(status)" in plan or "EqualTo(status" in plan
    # column pruning: the scan must not read the status payload columns
    # beyond those referenced
    assert "ReadSchema" in plan


# ---------------------------------------------------------------------------
# A4 collapse: partial + final hash aggregate (map-side combine), so the
# shuffle moves pre-aggregated rows, not raw updates
# ---------------------------------------------------------------------------
def test_collapse_updates_has_map_side_combine(spark):
    from pyspider_spark.engine.schema import UPDATE_SCHEMA
    from pyspider_spark.engine.stages import collapse_updates
    from pyspider_spark.engine.schema import empty_df

    upd = empty_df(spark, UPDATE_SCHEMA)
    plan = _plan(collapse_updates(upd))
    # two aggregate nodes around one exchange = partial + final
    n_aggs = plan.count("HashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 2
    assert "Exchange" in plan


# ---------------------------------------------------------------------------
# exact dedup / status counts: aggregations stay whole-stage-codegen'd
# (JVM side) — no Python eval in the hot path
# ---------------------------------------------------------------------------
def test_status_counts_stays_jvm_side(spark):
    from pyspider_spark.engine.results import status_counts

    fr = spark.createDataFrame(
        [("p", "t1", "ACTIVE"), ("p", "t2", "SUCCESS")],
        "project string, taskid string, status string",
    )
    plan = _plan(status_counts(fr))
    # map-side combine: partial_count before the exchange, final after
    assert "partial_count" in plan
    assert plan.count("HashAggregate") >= 2
    for marker in PYTHON_EVAL_MARKERS:
        assert marker not in plan


# ---------------------------------------------------------------------------
# robots join: broadcast only under a KNOWN row bound (a web-scale robots
# dim must not be force-collected to the driver)
# ---------------------------------------------------------------------------
def test_robots_join_broadcast_is_bounded(spark):
    from pyspider_spark.engine.politeness import check_robots

    cands = spark.range(1000).select(
        F.concat(F.lit("h"), (F.col("id") % 7).cast("string")).alias("host"),
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("canon_url"),
    )
    robots = spark.createDataFrame(
        [("h1", "User-agent: *\nDisallow: /x")], "host string, robots_txt string"
    )
    cfg = RoundConfig(n_partitions=4)

    bounded = check_robots(cands, robots, cfg, robots_rows=1)
    assert "BroadcastHashJoin" in _plan(bounded)

    # unknown or over-bound size: no FORCED broadcast hint in the
    # optimized logical plan (AQE may still pick one from measured
    # stats at runtime - which is the point)
    unbounded = check_robots(cands, robots, cfg, robots_rows=None)
    logical = unbounded._jdf.queryExecution().optimizedPlan().toString()
    assert "ResolvedHint" not in logical
    over = check_robots(
        cands, robots, cfg, robots_rows=cfg.robots_broadcast_max_rows + 1
    )
    assert "ResolvedHint" not in over._jdf.queryExecution().optimizedPlan().toString()


# ---------------------------------------------------------------------------
# politeness admission: both caps rank in the JVM (no Python operator),
# and the host bucket's refill is bit-identical to the scalar kernel
# ---------------------------------------------------------------------------
NOW, RATE, BURST = 1000.3, 1.3, 3.5

# host -> carried (tokens, last_ts); "c.test" has no row, so it starts full
HOST_STATE = {
    "a.test": (1.1, 999.6),  # fractional refill: 1.1 + 1.3*0.7 ~ 2.01
    "b.test": (0.2, 900.0),  # refill capped at burst
    "d.test": (0.1, 1000.0),  # refilled < 1 admits nothing
    "e.test": (2.25, NOW),  # no elapsed time; admits 2 of 3 tied rows
    "f.test": (1.5, 1001.0),  # last_ts after now: no refill, no drain
}

# (project, taskid, host, priority, exetime)
ADMIT_ROWS = [
    ("p1", "a0", "a.test", 1, 5.0),
    ("p1", "a1", "a.test", 2, 9.0),
    ("p1", "a2", "a.test", 1, 4.0),
    ("p1", "b0", "b.test", 0, 1.0),
    ("p1", "b1", "b.test", 0, 2.0),
    ("p1", "b2", "b.test", 0, 3.0),
    ("p1", "b3", "b.test", 0, 4.0),
    ("p2", "c0", "c.test", 0, 4.0),
    ("p2", "c1", "c.test", 3, 4.0),
    ("p2", "c2", "c.test", 0, 2.0),
    ("p2", "c3", "c.test", 0, 3.0),
    ("p1", "d0", "d.test", 5, 1.0),
    ("p1", "d1", "d.test", 5, 2.0),
    ("p2", "t1", "e.test", 0, 1.0),  # ties on priority/exetime: taskid,
    ("p1", "t1", "e.test", 0, 1.0),  # then project, decides
    ("p1", "t0", "e.test", 0, 1.0),
    ("p2", "f0", "f.test", 0, 1.0),
    ("p2", "f1", "f.test", 0, 2.0),
]


def _o1(row):
    project, taskid, _host, priority, exetime = row
    return (-priority, exetime, taskid, project)


def _admit_frame(spark, rows):
    return spark.createDataFrame(
        [
            (p, t, f"http://{h}/{t}", f"http://{h}/{t}", h, pr, ex, -1.0, False, "cb", 3)
            for p, t, h, pr, ex in rows
        ],
        "project string, taskid string, url string, canon_url string, "
        "host string, priority int, exetime double, age double, "
        "auto_recrawl boolean, callback string, retries_left int",
    )


def test_admit_and_project_cap_stay_jvm_side(spark):
    from pyspider_spark.engine.politeness import admit, project_cap
    from pyspider_spark.engine.schema import HOST_STATE_SCHEMA, empty_df

    cfg = RoundConfig(rate=RATE, burst=BURST, n_partitions=4)
    passing = _admit_frame(spark, ADMIT_ROWS)
    admitted = admit(passing, empty_df(spark, HOST_STATE_SCHEMA), cfg, NOW)
    capped = project_cap(passing, {"p2": 2}, cfg)
    for df in (admitted, capped):
        plan = _plan(df)
        for marker in PYTHON_EVAL_MARKERS:
            assert marker not in plan
    # the project cap keeps the O1 top-2 of p2 and passes p1 through
    got = sorted((r.project, r.taskid) for r in capped.collect())
    p2 = sorted((r for r in ADMIT_ROWS if r[0] == "p2"), key=_o1)[:2]
    want = sorted((r[0], r[1]) for r in ADMIT_ROWS if r[0] == "p1" or r in p2)
    assert got == want


def test_admit_carries_bucket_state_exactly(spark):
    from pyspider_spark.engine.politeness import admit
    from pyspider_spark.engine.schema import HOST_STATE_SCHEMA
    from pyspider_spark.kernels.bucket import refill_scalar

    cfg = RoundConfig(rate=RATE, burst=BURST, n_partitions=4)
    host_state = spark.createDataFrame(
        [(h, t, ts) for h, (t, ts) in HOST_STATE.items()], HOST_STATE_SCHEMA
    )
    out = admit(_admit_frame(spark, ADMIT_ROWS), host_state, cfg, NOW).collect()

    got: dict[str, list] = {}
    for r in out:
        got.setdefault(r.host, []).append(r)
    for host in sorted({r[2] for r in ADMIT_ROWS}):
        tokens, last_ts = HOST_STATE.get(host, (BURST, NOW))
        refilled = refill_scalar(tokens, last_ts, NOW, RATE, BURST)
        ranked = sorted((r for r in ADMIT_ROWS if r[2] == host), key=_o1)
        admitted = got.get(host, [])
        assert sorted((r.project, r.taskid) for r in admitted) == sorted(
            (r[0], r[1]) for r in ranked[: int(refilled)]
        ), host
        assert all(r.refilled == refilled for r in admitted), host
    # each case the state table sets up occurs as described there
    assert {h: len(v) for h, v in got.items()} == {
        "a.test": 2, "b.test": 3, "c.test": 3, "e.test": 2, "f.test": 1,
    }
    assert got["a.test"][0].refilled % 1 != 0
    assert got["b.test"][0].refilled == BURST
    assert sorted((r.project, r.taskid) for r in got["e.test"]) == [
        ("p1", "t0"), ("p1", "t1"),
    ]
