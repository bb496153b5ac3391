"""Robots gate + per-host token-bucket admission (SURVEY §2.5 O1/O2,
§2.3 J4, §4.3.2-3).

Reference semantics mirrored:
- robots: ``pyspider/fetcher/tornado_fetcher.py — can_fetch()
  (~L200-240)`` — stdlib ``urllib.robotparser``, agent '*'.
- bucket: ``pyspider/scheduler/token_bucket.py — Bucket.get()``: refill
  ``min(burst, tokens + rate·Δt)``, admit ⌊tokens⌋ per host per round.
- order: ``scheduler/task_queue.py — InQueueTask.__lt__`` (O1 key).

Scale design (hot-domain skew, BASELINE.json:14): admission per host is
a top-k with k = ⌊tokens⌋ ≤ ⌊burst⌋, so a salted two-phase rank bounds
any single task's data: phase 1 keeps the top ⌊burst⌋ rows per
(host, salt) with a window rank — a hot host with millions of frontier
rows contributes at most n_salts·⌊burst⌋ rows to phase 2 — then phase 2
runs the exact bucket math per host over that tiny reduced set in
applyInPandas with carried (tokens, last_ts) state.
"""

from __future__ import annotations

import urllib.robotparser

import pandas as pd
import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import BooleanType, DoubleType, StructField, StructType

from pyspider_spark.config import RoundConfig
from pyspider_spark.engine.stages import bounded_broadcast, order_cols
from pyspider_spark.kernels.bucket import refill_scalar

ADMIT_COLS = [
    "project",
    "taskid",
    "url",
    "canon_url",
    "host",
    "priority",
    "exetime",
    "age",
    "auto_recrawl",
    "callback",
    "retries_left",
]

# optional per-task fetch columns (conditional-refetch validators from
# the frontier row's last crawl) that ride the schedule INTO the fetch
# stage when the caller's candidate set carries them — the engine's
# does; the contract gates' synthetic candidates don't, and must keep
# working unchanged
FETCH_CARRY_COLS = ("etag", "last_modified")


def _admit_cols(df: DataFrame) -> list[str]:
    return ADMIT_COLS + [c for c in FETCH_CARRY_COLS if c in df.columns]


@F.pandas_udf(BooleanType())
def _robots_allowed(host: pd.Series, canon_url: pd.Series, robots_txt: pd.Series) -> pd.Series:
    """Vectorized robots check; one parse per distinct robots text per
    Arrow batch (hosts repeat heavily within a batch)."""
    parsers: dict[str, urllib.robotparser.RobotFileParser] = {}
    out = []
    for h, u, txt in zip(host, canon_url, robots_txt):
        if not h or txt is None or pd.isna(txt):
            out.append(True)
            continue
        rp = parsers.get(txt)
        if rp is None:
            rp = urllib.robotparser.RobotFileParser()
            rp.parse(txt.splitlines())
            parsers[txt] = rp
        out.append(rp.can_fetch("*", u))
    return pd.Series(out, dtype=bool)


def check_robots(
    cands: DataFrame,
    robots: DataFrame,
    cfg: RoundConfig,
    robots_rows: int | None = None,
) -> DataFrame:
    """Adds boolean `allowed`; no robots row for a host ⇒ allowed.
    Tasks toward a ``robots_txt=False`` callback bypass the gate
    entirely (the reference's per-task ``fetch.robots_txt`` field,
    inverted to a per-callback opt-out of our crawl-wide default —
    see ``handlers.Handler.robots_txt``); the exemption is a JVM-side
    literal-list predicate OR'd over the vectorized check, so exempt
    rows cost nothing extra.

    Join strategy is bounded like the fetch join (ADVICE r1): the dim
    is broadcast only when its row count is KNOWN (`robots_rows`, from
    parquet footers) and under ``cfg.robots_broadcast_max_rows`` — a
    web-scale robots table (10^7+ hosts × ~KB rules) left-joins on
    host by AQE's choice instead of being force-collected."""
    if not cfg.respect_robots:
        return cands.withColumn("allowed", F.lit(True))
    from pyspider_spark.handlers import no_robots_callbacks

    exempt_cbs = no_robots_callbacks()
    dim = bounded_broadcast(robots_rows, cfg.robots_broadcast_max_rows)(
        robots.select("host", "robots_txt")
    )
    j = cands.join(dim, "host", "left")
    # ONE pass, no union split: the UDF short-circuits null robots_txt
    # rows to True inside the Arrow batch. The previous
    # with_txt ∪ without union re-EXECUTED the entire un-materialized
    # upstream (MoR frontier resolve + candidates scan + this join) once
    # per branch — scans below a broadcast join have no Exchange for
    # ReuseExchange to dedupe, so the frontier was resolved twice here
    # (and more in the admit/free split downstream); measured as the
    # core-count-invariant floor of the `schedule` phase. The Arrow hop
    # for no-robots rows costs three narrow columns — far less than a
    # second frontier resolve.
    allowed = _robots_allowed(
        F.col("host"), F.col("canon_url"), F.col("robots_txt")
    )
    if exempt_cbs and "callback" in cands.columns:
        # coalesce: NULL callback on a disallowed host must yield
        # allowed=false, not NULL — a NULL drops out of BOTH the
        # scheduled and the blocked branch and becomes a zombie row
        # that re-enters candidates forever (round-5 review)
        exempt = F.coalesce(F.col("callback").isin(exempt_cbs), F.lit(False))
        allowed = exempt | allowed
    return j.withColumn("allowed", allowed).drop("robots_txt")


def admit(
    passing: DataFrame, host_state: DataFrame, cfg: RoundConfig, now: float
) -> DataFrame:
    """Per-host bucket admission over robots-passing candidates with
    host != ''. Returns admitted rows + `refilled` (the host's
    post-refill token count, needed for the post-budget state update).
    """
    k = max(1, int(cfg.burst))
    # phase 1: salted pre-rank — per-(host, salt) top ⌊burst⌋ bounds
    # skew; admitted set is unchanged because k_host ≤ ⌊burst⌋.
    salted = passing.withColumn(
        "salt", F.pmod(F.xxhash64("taskid", "project"), F.lit(cfg.n_salts))
    )
    w = Window.partitionBy("host", "salt").orderBy(*order_cols())
    reduced = (
        salted.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk", "salt")
    )

    # phase 2: exact bucket math per host (tiny groups post-phase-1)
    st = host_state.select(
        "host", F.col("tokens").alias("_tokens"), F.col("last_ts").alias("_last_ts")
    )
    joined = reduced.select(*_admit_cols(reduced)).join(st, "host", "left")

    out_schema = StructType(
        joined.drop("_tokens", "_last_ts").schema.fields
        + [StructField("refilled", DoubleType())]
    )
    rate, burst = cfg.rate, cfg.burst

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tokens = pdf["_tokens"].iloc[0]
        last_ts = pdf["_last_ts"].iloc[0]
        if pd.isna(tokens):  # host never scheduled before → full bucket
            tokens, last_ts = burst, now
        tok = refill_scalar(float(tokens), float(last_ts), now, rate, burst)
        n = int(tok)
        pdf = pdf.sort_values(
            ["priority", "exetime", "taskid", "project"],
            ascending=[False, True, True, True],
        ).head(n)
        pdf = pdf.drop(columns=["_tokens", "_last_ts"])
        pdf["refilled"] = tok
        return pdf

    return joined.groupBy("host").applyInPandas(fn, out_schema)


def project_cap(sched: DataFrame, caps: dict[str, int], cfg: RoundConfig) -> DataFrame:
    """J5/O2 second cap — per-*project* token-bucket admission consuming
    ``projects.rate/burst`` (``pyspider/scheduler/token_bucket.py —
    Bucket`` per ``Project``; the host bucket above is the web-politeness
    unit, this is the reference's project throttle).

    `caps`: project → ⌊tokens after refill⌋, computed driver-side from
    the manifest-carried project bucket state; projects absent from the
    dict (no rate/burst row, or unlimited sentinel) pass through
    untouched — ZERO extra work for them. Selection is the global O1
    top-⌊tok⌋ within each capped project, made skew-safe by the same
    salted two-phase used for hosts: per-(project, salt) pre-rank keeps
    ≤ cap rows, so the exact per-project pass sees ≤ n_salts·cap rows.
    """
    if not caps:
        return sched
    cap_map = F.create_map(
        *[F.lit(x) for k in sorted(caps) for x in (k, int(caps[k]))]
    )
    is_capped = F.col("project").isin(list(caps))
    free = sched.filter(~is_capped)
    capped = sched.withColumn("_cap", cap_map[F.col("project")]).filter(is_capped)

    salted = capped.withColumn(
        "salt", F.pmod(F.xxhash64("taskid", "project"), F.lit(cfg.n_salts))
    )
    w = Window.partitionBy("project", "salt").orderBy(*order_cols())
    reduced = (
        salted.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= F.col("_cap"))
        .drop("_rk", "salt")
    )

    out_schema = sched.schema

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        n = int(pdf["_cap"].iloc[0])
        pdf = pdf.sort_values(
            ["priority", "exetime", "taskid", "project"],
            ascending=[False, True, True, True],
        ).head(n)
        return pdf.drop(columns=["_cap"])

    return free.unionByName(
        reduced.groupBy("project").applyInPandas(fn, out_schema)
    )


def schedule_round(
    cands: DataFrame,
    robots: DataFrame,
    host_state: DataFrame,
    cfg: RoundConfig,
    now: float,
    project_caps: dict[str, int] | None = None,
    robots_rows: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full O1/O2/O3/J4/J5 pass. Returns (sched, blocked, checked).

    sched: the round's fetch schedule — robots-passing, per-host bucket
    admission, per-project budget cap (when `project_caps` given),
    global `round_budget` cut in O1 order (TakeOrdered: per-partition
    top-k then merge — no global sort materialization).
    blocked: robots-disallowed rows (settle BAD, no retry).

    The robots-checked candidate set is PERSISTED here: it has three
    downstream consumers (blocked, the host-bucketed branch, the
    hostless free branch) and without a materialization point each one
    re-executes the full upstream — the MoR frontier resolve + the
    candidates scan — per consumer (no Exchange below the broadcast
    joins, so ReuseExchange can't dedupe them). The first action (the
    round's schedule-log write) builds the cache inside one job; the
    settle job's `blocked` read and the admit branches serve from it.
    `checked` is returned so the caller can unpersist it: the crawl
    round registers it with its ``_Round``, which unpersists it when
    the round returns or raises.
    """
    checked = check_robots(cands, robots, cfg, robots_rows=robots_rows).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    blocked = checked.filter(~F.col("allowed")).select(*_admit_cols(checked))
    ok = checked.filter(F.col("allowed"))

    bucketed = admit(ok.filter(F.col("host") != ""), host_state, cfg, now)
    free = ok.filter(F.col("host") == "").select(*_admit_cols(checked)).withColumn(
        "refilled", F.lit(None).cast(DoubleType())
    )
    sched = bucketed.unionByName(free)
    sched = project_cap(sched, project_caps or {}, cfg)
    if cfg.round_budget is not None:
        # O3 global cap needs the O1 total order; skip the global sort
        # entirely when no budget is configured (unbounded rounds)
        sched = sched.orderBy(*order_cols()).limit(cfg.round_budget)
    return sched, blocked, checked
