"""Simulated fetch (equi-join vs the pages table) + vectorized
extraction (SURVEY §2.1 S7/S8, §2.3 J1, §2.7 F4-F7).

Fetch: the reference fetches over HTTP (``pyspider/fetcher/
tornado_fetcher.py — http_fetch()``); in the sandbox the web IS the
pages table (BASELINE.json input_hint), so fetching is a left equi-join
on canon_url — a miss is the 404 path, host 'slow.example' is the
599-timeout path, and ``data:`` urls short-circuit the join entirely
(``tornado_fetcher.py — data_fetch()``). In production this stage is a
mapInPandas batch-async HTTP fetcher with the same output columns.

Extract: the Arrow UDF calls the SAME plain-Python
``oracle.extractor.extract_page`` the golden fixtures were generated
with — byte-identity per url by construction (BASELINE.json:15),
verified by tests.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pyspider_spark.config import (
    FETCH_NOT_FOUND,
    FETCH_NOT_MODIFIED,
    FETCH_OK,
    FETCH_TIMEOUT,
    RoundConfig,
)
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspider_spark.kernels.canon import canonicalize_series
from pyspider_spark.oracle.extractor import extract_page

EXTRACT_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
        StructField("encoding", StringType()),
    ]
)


@F.pandas_udf(EXTRACT_TYPE)
def extract_udf(html: pd.Series, canon_url: pd.Series) -> pd.DataFrame:
    """Default-handler extraction (kept for pages-table golden-text
    generation and byte-identity tests)."""
    texts, links, encs = [], [], []
    for h, u in zip(html, canon_url):
        ext = extract_page(h if isinstance(h, (bytes, bytearray)) else None, u or "")
        texts.append(ext.text)
        links.append(ext.links)
        encs.append(ext.encoding)
    return pd.DataFrame({"text": texts, "links": links, "encoding": encs})


# dispatching extract: per-row handler lookup from the registry (U1/U2)
# — one Arrow batch, messages encoded "project\x1fpayload" (U4);
# handler exceptions are captured per row, truncated (F11 —
# processor/processor.py RESULT_LOGS_LIMIT analog), never kill the batch
ERROR_TRUNC = 200

DISPATCH_TYPE = StructType(
    [
        StructField("text", StringType()),
        StructField("links", ArrayType(StringType())),
        StructField("messages", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)


def _dispatch_frame(
    html: pd.Series, canon_url: pd.Series, callback: pd.Series
) -> pd.DataFrame:
    from pyspider_spark import handlers as H

    texts, links, msgs, errs = [], [], [], []
    for h, u, cb in zip(html, canon_url, callback):
        try:
            res = H.get(cb).fn(h if isinstance(h, (bytes, bytearray)) else None, u or "")
            texts.append(res.text)
            links.append(res.links)
            msgs.append([f"{p}\x1f{m}" for p, m in res.messages])
            errs.append(None)
        except Exception as e:  # the processor must survive user-code errors
            texts.append(None)
            links.append(None)
            msgs.append(None)
            errs.append(f"{type(e).__name__}: {e}"[:ERROR_TRUNC])
    return pd.DataFrame({"text": texts, "links": links, "messages": msgs, "error": errs})


@F.pandas_udf(DISPATCH_TYPE)
def dispatch_udf(html: pd.Series, canon_url: pd.Series, callback: pd.Series) -> pd.DataFrame:
    return _dispatch_frame(html, canon_url, callback)


@F.pandas_udf(StringType())
def canon_udf(url: pd.Series) -> pd.Series:
    return canonicalize_series(url)


ANALYZE_TYPE = StructType(
    [
        StructField("token_count", IntegerType()),
        StructField("lang_guess", StringType()),
        StructField("quality", DoubleType()),
        StructField("simhash", LongType()),
    ]
)


# fused dispatch + analysis: ONE Arrow pass over the html batch emits
# extraction AND the per-page analysis columns (flat; the engine
# reassembles the `analysis` struct JVM-side). Two separate pandas UDFs
# would ship the full text corpus JVM→Python a second time and pay a
# second Python pass — at bench scale that second hop is pure overhead.
DISPATCH_ANALYZE_TYPE = StructType(
    DISPATCH_TYPE.fields + list(ANALYZE_TYPE.fields)
)


@F.pandas_udf(DISPATCH_ANALYZE_TYPE)
def dispatch_analyze_udf(
    html: pd.Series, canon_url: pd.Series, callback: pd.Series
) -> pd.DataFrame:
    from pyspider_spark.ops.textstats import analyze_frame

    base = _dispatch_frame(html, canon_url, callback)
    return pd.concat([base, analyze_frame(base["text"])], axis=1)


def prepare_pages(pages: DataFrame) -> DataFrame:
    """Canonical-keyed projection of the pages table. Column-pruned to
    (canon_url, html) — the scan must not read text/lang (ReadSchema
    check in tests). Fixture urls are canon-unique by construction."""
    return pages.select(canon_udf(F.col("url")).alias("canon_url"), "html")


def fetch_and_extract(
    sched: DataFrame,
    pages_canon: DataFrame,
    cfg: RoundConfig,
    sched_rows: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """J1 + F5/F7: fetch_join (below) + the shared extraction tail."""
    f = fetch_join(
        sched, pages_canon, cfg, sched_rows=sched_rows, corpus_rows=corpus_rows
    )
    # schema parity with the HTTP stage (engine/fetch_http.py): the
    # simulated join has no wire metadata, so the track columns ride
    # as nulls (to_json drops null fields — track bytes unchanged)
    for c in FETCH_META_COLS:
        f = f.withColumn(c, F.lit(None).cast("string"))
    return extract_outputs(f, list(sched.columns), cfg, meta_cols=FETCH_META_COLS)


def fetch_join(
    sched: DataFrame,
    pages_canon: DataFrame,
    cfg: RoundConfig,
    sched_rows: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """J1: left join on canon_url, derive status code — THE fetch join
    the round's fetch stage runs (also driven directly by the
    ``crawl_fetch_join`` gate); output is the schedule columns +
    (html, code).

    Join strategy: the schedule side is bounded (≤ round_budget rows of
    ~200 bytes) while pages carry the html payload — the payload side
    must NEVER shuffle. A single outer join can't deliver that: a
    broadcast hash join only preserves its STREAMED side, so
    "broadcast(sched) right-outer" silently flips to building the pages
    side (fine on toy data, impossible at scale), and past the 10 MB
    threshold AQE degrades to a sort-merge join that shuffles the whole
    html corpus (~50 GB/round at bench scale — the job goes IO-bound).
    Decomposition with zero payload shuffle:

      hits    = pages INNER JOIN broadcast(sched)     -- streams (url,html) scan
      hitkeys = pages[canon_url] SEMI broadcast(sched)-- key-only streamed scan
      misses  = sched LEFT ANTI broadcast(hitkeys)    -- no corpus-key shuffle
      fetch   = rebalance(hits ∪ (misses, html=null)) -- miss ⇒ 404 path

    Per round: one full payload scan + one key-column scan, zero
    corpus-side shuffle (neither payloads nor keys), and one
    schedule-sized rebalance exchange feeding extraction. At 100 TB
    with multi-GB schedules the same property comes from the BUCKETED
    pages layout (engine/ingest.py): pages_canon read as a table
    bucketed by canon_url makes the `else` branch below co-locate —
    Catalyst plans both the inner and the anti join with zero Exchange
    on the corpus side; only the schedule shuffles into the corpus's
    bucketing (pinned by tests/test_bucketed_pages.py).

    Broadcast guard (ADVICE r1): the hint is only applied when the
    schedule size is *provably* bounded — `sched_rows` (exact, from the
    round driver's written schedule-log footers) or cfg.round_budget —
    and under cfg.fetch_broadcast_max_rows. An unbounded schedule must
    not be force-collected past the driver/broadcast limits; without
    the hint AQE picks the strategy from observed sizes.
    """
    bound = sched_rows if sched_rows is not None else cfg.round_budget
    bcast = bound is not None and bound <= cfg.fetch_broadcast_max_rows
    build = F.broadcast(sched) if bcast else sched
    hits = pages_canon.join(build, "canon_url", "inner")
    if bcast:
        # Miss detection without shuffling the corpus key column: a
        # second key-only streamed scan of pages (broadcast semi join —
        # parquet reads just canon_url) yields the hit-key set, which is
        # schedule-bounded and therefore broadcastable into the anti
        # join. The naive `sched ANTI pages[canon_url]` instead hash-
        # exchanges EVERY page key each round (7.2 M rows at bench
        # scale, 10^10 at the north scale) to subtract a 10^5-row
        # schedule.
        hitkeys = pages_canon.select("canon_url").join(
            build.select("canon_url"), "canon_url", "left_semi"
        )
        misses = sched.join(F.broadcast(hitkeys), "canon_url", "left_anti")
    else:
        misses = sched.join(
            pages_canon.select("canon_url"), "canon_url", "left_anti"
        )
    misses = misses.withColumn("html", F.lit(None).cast("binary"))
    f = hits.select(*sched.columns, "html").unionByName(misses.select(*sched.columns, "html"))
    # Rebalance BEFORE extraction — but ONLY in the sparse regime: the
    # join's surviving rows inherit the scan's input splits, and a
    # SPARSE schedule is usually *clustered* in the pages table (a
    # crawl fetches what it recently discovered, and ingest appends in
    # discovery order — in the sparse bench fixture ALL seeds sit in
    # row group 0). Without the exchange the Python extraction of such
    # a round lands on the handful of scan tasks whose row groups held
    # the hits (measured: 225k pages extracted by ONE core, 430 s ≈
    # 98% of the round). The shuffle moves the schedule-sized hit
    # PAYLOAD though — at dense rounds (10^6+ hits × ~9 KB pages) that
    # is tens of GB through the shuffle layer per round, and on
    # executor-JVM legs it serializes through disk+loopback (measured
    # as the fetch phase scaling only 1.5× from 2→8 executors). When
    # the schedule covers ≥ `_REBALANCE_COVERAGE` of the corpus,
    # clustering cannot concentrate work (hits/split ≈ uniform by
    # counting), so the exchange is pure cost — skip it and extract in
    # the scan tasks at full width. Sparse rounds (the 10^10 design
    # point's 0.1-1 % coverage) keep the exchange: balance there is
    # worth one schedule-sized shuffle, and on a real N-node cluster
    # shuffle bandwidth scales with N.
    dense = (
        sched_rows is not None
        and corpus_rows is not None
        and corpus_rows > 0
        and sched_rows >= _REBALANCE_COVERAGE * corpus_rows
    )
    if not dense:
        f = f.hint("rebalance")
    code = (
        F.when(F.col("canon_url").startswith("data:"), F.lit(FETCH_OK))
        .when(F.col("host") == "slow.example", F.lit(FETCH_TIMEOUT))
        .when(F.col("html").isNotNull(), F.lit(FETCH_OK))
        .otherwise(F.lit(FETCH_NOT_FOUND))
    )
    return f.withColumn("code", code)


# wire metadata appended by every fetch stage (nulls on the simulated
# join; real values from engine/fetch_http.py) — recorded in track.fetch
FETCH_META_COLS = ("redirect_url", "fetch_headers", "fetch_error")

# schedule/corpus row-count ratio above which hit-clustering cannot
# concentrate extraction work and the pre-extraction rebalance exchange
# (schedule-sized page payloads through shuffle) is skipped
_REBALANCE_COVERAGE = 0.02


def extract_outputs(
    f: DataFrame,
    sched_columns: list[str],
    cfg: RoundConfig,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The dispatch/extraction/analysis tail SHARED by the simulated
    join and the HTTP stage: input is schedule columns + (html, code
    [+ meta_cols]); output appends proc_ok/text/links/messages/
    proc_error (+ analysis when cfg.analyze).

    proc_ok (U3 @catch_status_code_error): the handler also runs on
    non-200 rows of flagged callbacks, and settles them SUCCESS — the
    reference's processor derives ok from the callback outcome, not
    the fetch code (processor/processor.py — on_task)."""
    from pyspider_spark.handlers import catch_error_callbacks

    catch = catch_error_callbacks()
    # 304 Not Modified (conditional refetch hit — the schedule carried
    # the previous crawl's etag/last_modified): the content is by
    # definition unchanged, so the row settles SUCCESS *without*
    # re-dispatching the handler — the stored result stands, no new
    # follows (the crawl-scale bandwidth saver; the reference's
    # Response.ok treats 304 as ok). Only the HTTP stage produces 304s;
    # the simulated join never does, so join-path plans are unchanged.
    not_modified = F.col("code") == FETCH_NOT_MODIFIED
    dispatchable = (F.col("code") == FETCH_OK) | (
        F.col("callback").isin(catch) & ~not_modified
    )
    udf = dispatch_analyze_udf if cfg.analyze else dispatch_udf
    ext = F.when(
        dispatchable,
        udf(F.col("html"), F.col("canon_url"), F.col("callback")),
    ).otherwise(F.lit(None))
    f = f.withColumn("_ext", ext)
    # final ok = dispatched AND the handler didn't raise — the
    # reference derives task ok from the callback outcome; a 304 is ok
    # by construction (content verified unchanged)
    proc_ok = (
        (dispatchable & F.col("_ext.error").isNull()) | not_modified
    ).alias("proc_ok")
    out = f.select(
        *sched_columns,
        "code",
        *meta_cols,
        proc_ok,
        F.col("_ext.text").alias("text"),
        F.col("_ext.links").alias("links"),
        F.col("_ext.messages").alias("messages"),
        F.col("_ext.error").alias("proc_error"),
        *(
            [
                F.when(
                    dispatchable & F.col("_ext.error").isNull(),
                    F.struct(
                        *[F.col(f"_ext.{f.name}").alias(f.name) for f in ANALYZE_TYPE.fields]
                    ),
                ).alias("analysis")
            ]
            if cfg.analyze
            else []
        ),
    )
    return out
