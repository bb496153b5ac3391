"""Round stages: update normalization, A4 collapse, frontier merge
(SURVEY §2.2 P4/P5, §2.4 A4, §2.6 U1, §3.1 steps 0-1).

Mirrors the reference's admission path — ``pyspider/scheduler/
scheduler.py — _check_request() → on_new_request()/on_old_request()
(~L300-440)`` — recast as one collapsed-update + full-outer MERGE per
round. The bloom `seen` flag routes the merge at scale: bloom has no
false negatives, so rows the filter has never seen skip the (huge)
frontier-side join entirely and go straight to the insert path; only
bloom hits (true seen + rare false positives) join the frontier, where
the join resolves FPs back to inserts (SURVEY §2.3 J2).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StructType

from pyspider_spark.config import ACTIVE, RoundConfig
from pyspider_spark.engine.schema import RAW_UPDATE_SCHEMA, UPDATE_SCHEMA
from pyspider_spark.kernels.canon import (
    canonicalize_series,
    host_series,
    taskid_series,
)

KEY = ["project", "taskid"]


def pid_col(n_partitions: int, host: str = "host") -> Column:
    """JVM-side twin of ``kernels.canon.partition_of`` — first 4 bytes
    of md5(host) as big-endian int, mod n (byte-equal by construction,
    pinned by tests/test_canon.py)."""
    return (
        F.conv(F.substring(F.md5(F.col(host)), 1, 8), 16, 10).cast("long")
        % n_partitions
    ).cast("int")


def seen_k_col() -> Column:
    """Key of the bloom/cuckoo URL-seen set: md5(project|canon_url) —
    the JVM twin of ``oracle.simulator.seen_key`` (pinned by
    tests/test_frontier_partitions.py)."""
    return F.md5(F.concat_ws("|", "project", "canon_url"))


def bounded_broadcast(rows: int | None, bound: int) -> Callable[[DataFrame], DataFrame]:
    """``F.broadcast`` when a join side's known row count fits `bound`,
    else the identity: an unknown or oversized side (10^8-row rounds)
    must not be force-collected — AQE picks the strategy from observed
    sizes instead."""
    if rows is not None and rows <= bound:
        return F.broadcast
    return lambda df: df


def order_cols() -> list[Column]:
    """O1 total order (scheduler/task_queue.py — InQueueTask.__lt__):
    highest priority first, earliest exetime, then pinned tiebreaks
    (taskid, project) — identical to the oracle simulator's ORDER_KEY.
    (Function, not constant: Columns need an active SparkContext.)"""
    return [F.desc("priority"), F.asc("exetime"), F.asc("taskid"), F.asc("project")]

def candidates_filter(
    frontier: DataFrame, now: float, schedulable_projects: list[str]
) -> DataFrame:
    """P2/P3 + project gate — THE schedulable-candidates expression the
    round driver applies to the resolved frontier (``scheduler/
    scheduler.py — _check_task_due``): ACTIVE status, due exetime,
    project RUNNING/not-paused. Plain Catalyst predicates ⇒ parquet
    pushdown + row-group min/max skipping on the exetime-clustered
    frontier bases."""
    return frontier.filter(
        (F.col("status") == ACTIVE)
        & (F.col("exetime") <= F.lit(now))
        & F.col("project").isin(schedulable_projects)
    )


def lease_requeue(
    frontier: DataFrame,
    inflight: DataFrame,
    now: float,
    lease_s: float = 600.0,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """O4 — processing-lease requeue (``scheduler/task_queue.py —
    processing + _check_processing() (~L180-220)``): rows dispatched to
    a fetcher that never reported status within ``lease_s`` re-enter
    the schedulable set. ``inflight`` is (key_cols..., leased_at) — the
    set an ASYNC fetch stage would hold between dispatch and settle;
    returns the still-ACTIVE frontier rows whose lease expired, with
    ``lease_exp`` (the expiry instant) appended.

    THIS engine's batch rounds never call it from the round loop, by
    documented design (``config.py — RoundConfig``): every scheduled
    row settles inside its own round (the fetch stage always resolves
    to ok/fail/blocked), so the in-flight set is empty at every round
    boundary, and crash-mid-round safety is the atomic manifest commit
    + idempotent rerun (``tests/test_resume.py``). The function is the
    engine's implementation of the O4 semantics for a future async
    fetcher, and the ``crawl_lease_requeue`` contract gate drives it
    with a synthetic in-flight set against the DuckDB oracle."""
    key_cols = key_cols or KEY
    expired = inflight.filter(
        F.col("leased_at") + F.lit(lease_s) < F.lit(now)
    ).select(*key_cols, "leased_at")
    return (
        frontier.filter(F.col("status") == ACTIVE)
        .join(expired, key_cols)
        .withColumn("lease_exp", F.col("leased_at") + F.lit(lease_s))
    )


def retry_delay_expr(cfg: RoundConfig) -> Column:
    """F8 — the retry-delay CASE the settle stage applies
    (``scheduler/scheduler.py — DEFAULT_RETRY_DELAY``): delay keyed by
    retried count = max_retries - retries_left, '' key as default."""
    expr: Column = F.lit(float(cfg.retry_delay[""]))
    for retried_n, delay in sorted(
        (k, v) for k, v in cfg.retry_delay.items() if k != ""
    ):
        expr = F.when(
            F.lit(cfg.max_retries) - F.col("retries_left") == retried_n,
            F.lit(float(delay)),
        ).otherwise(expr)
    return expr


_RAW_DEFAULTS: dict[str, object] = {
    "canon_url": None,
    "project": "test_project",
    "priority": 0,
    "exetime": 0.0,
    "age": -1.0,
    "itag": None,
    "force_update": False,
    "auto_recrawl": False,
    "callback": "index_page",
    "cancel": False,
}


def ensure_raw_columns(df: DataFrame) -> DataFrame:
    """Add any missing raw-update columns with their defaults and cast
    to the raw schema (callers may supply only url/project)."""
    for f in RAW_UPDATE_SCHEMA.fields:
        if f.name not in df.columns:
            df = df.withColumn(f.name, F.lit(_RAW_DEFAULTS.get(f.name)).cast(f.dataType))
        else:
            df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    return df.select([f.name for f in RAW_UPDATE_SCHEMA.fields])


def normalize_updates(raw: DataFrame, cfg: RoundConfig) -> DataFrame:
    """Vectorized normalization (simulator._norm parity): canonicalize,
    derive host/taskid, fill defaults, drop unusable urls in one narrow
    mapInPandas; seen_k/pid are then JVM columns over its output (every
    kept row has a non-null project and canon_url)."""
    norm_schema = StructType(
        [f for f in UPDATE_SCHEMA.fields if f.name not in ("seen_k", "pid")]
    )

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            cu = pdf["canon_url"].where(
                pdf["canon_url"].notna() & (pdf["canon_url"] != ""), other=None
            )
            missing = cu.isna()
            cu = cu.copy()
            cu[missing] = canonicalize_series(pdf.loc[missing, "url"])
            keep = cu != ""
            pdf = pdf[keep].copy()
            cu = cu[keep]
            pdf["canon_url"] = cu
            pdf["host"] = host_series(cu)
            pdf["taskid"] = taskid_series(cu)
            pdf["project"] = pdf["project"].fillna("test_project")
            pdf["priority"] = pdf["priority"].fillna(0).astype("int32")
            pdf["exetime"] = pdf["exetime"].fillna(0.0)
            pdf["age"] = pdf["age"].fillna(-1.0)
            pdf["force_update"] = pdf["force_update"].fillna(False).astype(bool)
            pdf["auto_recrawl"] = pdf["auto_recrawl"].fillna(False).astype(bool)
            pdf["callback"] = pdf["callback"].fillna("index_page")
            pdf["cancel"] = pdf["cancel"].fillna(False).astype(bool)
            yield pdf[norm_schema.fieldNames()]

    return (
        ensure_raw_columns(raw)
        .mapInPandas(fn, norm_schema)
        .withColumn("seen_k", seen_k_col())
        .withColumn("pid", pid_col(cfg.n_partitions))
        .select(*UPDATE_SCHEMA.fieldNames())
    )


def collapse_updates(upd: DataFrame) -> DataFrame:
    """A4 collapse per (project, taskid): max priority, min exetime, max
    age, max itag (nulls ignored), OR'd flags, min url/callback —
    reference keeps the max in-queue priority (``scheduler/task_queue.py
    — PriorityTaskQueue.put()``); the rest pins a deterministic winner.
    Catalyst runs this as partial+final hash agg (map-side combine)."""
    return upd.groupBy(*KEY).agg(
        F.min("url").alias("url"),
        F.first("canon_url").alias("canon_url"),
        F.first("host").alias("host"),
        F.first("seen_k").alias("seen_k"),
        F.first("pid").alias("pid"),
        F.max("priority").alias("priority"),
        F.min("exetime").alias("exetime"),
        F.max("age").alias("age"),
        F.max("itag").alias("itag"),
        F.max("force_update").alias("force_update"),
        F.max("auto_recrawl").alias("auto_recrawl"),
        F.min("callback").alias("callback"),
    )


def _insert_cols(now: float, rnd: int, cfg: RoundConfig) -> list[str | Column]:
    """Fresh ACTIVE frontier row from the update cols."""
    return [
        "project",
        "taskid",
        "url",
        "canon_url",
        "host",
        F.lit(ACTIVE).alias("status"),
        "priority",
        F.lit(cfg.max_retries).alias("retries_left"),
        "exetime",
        "age",
        "itag",
        "force_update",
        "auto_recrawl",
        "callback",
        F.lit(0.0).alias("lastcrawltime"),
        F.lit(now).alias("updatetime"),
        F.lit(rnd).alias("round_added"),
        F.lit(None).cast("string").alias("etag"),
        F.lit(None).cast("string").alias("last_modified"),
    ]


def _restart_cond(now: float) -> Column:
    """P4 — scheduler.on_old_request (~L380-440), over aliases `o`
    (existing frontier row) and `u` (collapsed update)."""
    return (
        F.col("u.force_update")
        | (F.col("u.itag").isNotNull() & ~F.col("u.itag").eqNullSafe(F.col("o.itag")))
        | ((F.col("u.age") >= 0) & (F.lit(now) - F.col("o.lastcrawltime") >= F.col("u.age")))
    )


def merge_frontier_delta(
    fr: DataFrame,
    upd: DataFrame,
    probe: DataFrame,
    now: float,
    rnd: int,
    cfg: RoundConfig,
    upd_rows: int | None = None,
) -> DataFrame:
    """Changed-rows-only MERGE — the merge-on-read write path (Iceberg
    equality-delete/upsert files; SURVEY §2.1 S3). Returns ONLY the
    rows a round changes, plus an ``is_new`` flag; unchanged frontier
    rows carry through by key:

    - bloom-unseen updates → fresh ACTIVE inserts (``is_new`` true)
    - bloom-seen updates missing from the frontier (bloom FPs) →
      inserts (``is_new`` true)
    - bloom-seen matches satisfying the P4 restart rule → restarted
      rows (``is_new`` false)

    Unchanged frontier rows never materialize: the (huge) frontier scan
    is only streamed against the broadcast update batch — one key-only
    semi pass for FP detection and one inner join for restart
    evaluation — so the write cost of a round is O(changed), not
    O(touched partitions).

    `upd_rows` (the update batch's known row count) bounds the
    broadcast hints like the fetch join's `sched_rows`: an unbounded
    batch (10^8-row rounds at the 10^10 design point) must not be
    force-collected past the driver/broadcast limits — without the
    hint AQE picks the strategy from observed sizes."""
    mb = bounded_broadcast(upd_rows, cfg.merge_broadcast_max_rows)
    upd = upd.join(probe.select(*KEY, "seen"), KEY, "inner")
    new_inserts = upd.filter(~F.col("seen")).select(_insert_cols(now, rnd, cfg))
    seen_upd = upd.filter(F.col("seen"))

    hitkeys = fr.join(mb(seen_upd.select(*KEY)), KEY, "left_semi").select(*KEY)
    fp_inserts = seen_upd.join(mb(hitkeys), KEY, "left_anti").select(
        _insert_cols(now, rnd, cfg)
    )
    matched = fr.alias("o").join(mb(seen_upd).alias("u"), KEY, "inner")
    restarts = matched.filter(_restart_cond(now)).select(
        F.col("o.project").alias("project"),
        F.col("o.taskid").alias("taskid"),
        F.col("o.url").alias("url"),
        F.col("o.canon_url").alias("canon_url"),
        F.col("o.host").alias("host"),
        F.lit(ACTIVE).alias("status"),
        F.greatest("o.priority", "u.priority").alias("priority"),
        F.lit(cfg.max_retries).alias("retries_left"),
        F.col("u.exetime").alias("exetime"),
        F.when(F.col("u.age") >= 0, F.col("u.age")).otherwise(F.col("o.age")).alias("age"),
        F.coalesce("u.itag", "o.itag").alias("itag"),
        F.col("o.force_update").alias("force_update"),
        (F.col("o.auto_recrawl") | F.col("u.auto_recrawl")).alias("auto_recrawl"),
        F.col("o.callback").alias("callback"),
        F.col("o.lastcrawltime").alias("lastcrawltime"),
        F.lit(now).alias("updatetime"),
        F.col("o.round_added").alias("round_added"),
        # restart keeps the last crawl's validators — that is the whole
        # point: the age-recrawl fetch sends them conditionally
        F.col("o.etag").alias("etag"),
        F.col("o.last_modified").alias("last_modified"),
    )
    return (
        new_inserts.unionByName(fp_inserts)
        .withColumn("is_new", F.lit(True))
        .unionByName(restarts.withColumn("is_new", F.lit(False)))
    )

