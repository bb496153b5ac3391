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
left-joins the carried (tokens, last_ts) bucket state, refills it with
the exact double ops of ``kernels.bucket.refill_scalar`` and keeps each
host's top ⌊refilled⌋ rows with a second, per-host window rank. Both
phases run in the JVM; only the robots check calls into Python.
"""

from __future__ import annotations

import urllib.robotparser

import pandas as pd
import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.types import BooleanType, DoubleType

from pyspider_spark.config import RoundConfig
from pyspider_spark.engine.stages import bounded_broadcast, order_cols

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


def _top_k(df: DataFrame, keys: list[str], k: Column | int) -> DataFrame:
    """The rows ranked ≤ `k` in O1 order within each `keys` group — a
    JVM window rank, no Python round trip."""
    w = Window.partitionBy(*keys).orderBy(*order_cols())
    return df.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")


def _salted_top_k(df: DataFrame, key: str, k: Column | int, salts: int) -> DataFrame:
    """Phase 1 of a per-`key` top-`k`: the top `k` per (key, salt), so a
    hot key hands phase 2 at most salts·k rows."""
    salted = df.withColumn("salt", F.pmod(F.xxhash64("taskid", "project"), F.lit(salts)))
    return _top_k(salted, [key, "salt"], k).drop("salt")


def admit(
    passing: DataFrame, host_state: DataFrame, cfg: RoundConfig, now: float
) -> DataFrame:
    """Per-host bucket admission over robots-passing candidates with
    host != ''. Returns admitted rows + `refilled` (the host's
    post-refill token count, needed for the post-budget state update).

    Phase 1 (salted pre-rank) keeps the per-(host, salt) top ⌊burst⌋;
    the admitted set is unchanged because ⌊refilled⌋ ≤ ⌊burst⌋. Phase 2
    joins the host's carried (tokens, last_ts) — a host with no row
    starts full, ``(burst, now)`` — computes ``refilled =
    least(burst, tokens + rate·greatest(0, now − last_ts))`` (the same
    double ops, in the same order, as ``kernels.bucket.refill_scalar``,
    so the carried tokens stay bit-identical to the simulator's) and
    keeps the host's rows ranked ≤ ⌊refilled⌋ in O1 order.
    """
    reduced = _salted_top_k(passing, "host", max(1, int(cfg.burst)), cfg.n_salts)
    st = host_state.select(
        "host", F.col("tokens").alias("_tokens"), F.col("last_ts").alias("_last_ts")
    )
    joined = reduced.select(*_admit_cols(reduced)).join(st, "host", "left")
    burst = F.lit(float(cfg.burst))
    now_c = F.lit(float(now))
    tokens = F.coalesce(F.col("_tokens"), burst)
    last_ts = F.coalesce(F.col("_last_ts"), now_c)
    refilled = F.least(
        burst, tokens + F.lit(float(cfg.rate)) * F.greatest(F.lit(0.0), now_c - last_ts)
    )
    return _top_k(
        joined.withColumn("refilled", refilled).drop("_tokens", "_last_ts"),
        ["host"],
        F.floor("refilled"),
    )


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
    salted two-phase rank used for hosts: the per-(project, salt)
    pre-rank keeps ≤ cap rows, then a per-project window rank keeps the
    first cap of the ≤ n_salts·cap survivors.
    """
    if not caps:
        return sched
    cap_map = F.create_map(
        *[F.lit(x) for k in sorted(caps) for x in (k, int(caps[k]))]
    )
    is_capped = F.col("project").isin(list(caps))
    capped = sched.withColumn("_cap", cap_map[F.col("project")]).filter(is_capped)
    reduced = _salted_top_k(capped, "project", F.col("_cap"), cfg.n_salts)
    return sched.filter(~is_capped).unionByName(
        _top_k(reduced, ["project"], F.col("_cap")).drop("_cap")
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
