"""Fixed StructTypes for the engine's state tables (SURVEY §1.4).

The reference moves one dynamically-schemaed task dict between
components (``pyspider/libs/base_handler.py — BaseHandler.crawl()``);
our build flattens its nested ``schedule/fetch/process`` sections to
typed columns of the ``frontier`` table so Parquet stats, predicate
pushdown and column pruning all work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FRONTIER_SCHEMA = StructType(
    [
        StructField("project", StringType(), False),
        StructField("taskid", StringType(), False),
        StructField("url", StringType()),
        StructField("canon_url", StringType()),
        StructField("host", StringType()),
        StructField("status", IntegerType()),
        StructField("priority", IntegerType()),
        StructField("retries_left", IntegerType()),
        StructField("exetime", DoubleType()),
        StructField("age", DoubleType()),
        StructField("itag", StringType()),
        StructField("force_update", BooleanType()),
        StructField("auto_recrawl", BooleanType()),
        StructField("callback", StringType()),
        StructField("lastcrawltime", DoubleType()),
        StructField("updatetime", DoubleType()),
        StructField("round_added", IntegerType()),
        # conditional-refetch validators from the LAST successful crawl
        # (``fetcher/tornado_fetcher.py — http_fetch()``'s etag/
        # last_modified task fields, which default to "reuse the prior
        # response's"): settle captures them from 200-response headers;
        # an age/force/itag re-crawl sends If-None-Match /
        # If-Modified-Since, and a 304 settles SUCCESS with the stored
        # result untouched — the crawl-scale bandwidth saver. Two
        # nullable ~20-byte strings per row, appended LAST.
        StructField("etag", StringType()),
        StructField("last_modified", StringType()),
    ]
)

# frontier merge-on-read delta row: a full replacement frontier row
# (or a cancel tombstone with null payload) plus MoR metadata —
# `dseq` (the writing round; latest wins per key), `is_new` (insert vs
# update, drives exact incremental live-row lineage), `is_delete`
# (tombstone). The `pid` column is written as the partition directory.
FRONTIER_DELTA_SCHEMA = StructType(
    list(FRONTIER_SCHEMA.fields)
    + [
        StructField("is_new", BooleanType()),
        StructField("is_delete", BooleanType()),
        StructField("dseq", LongType()),
    ]
)

# merge-stage staging row (round.py writes the merge output to a
# per-round staging table and reads it back to cut plan lineage):
# a full frontier row + the insert flag, pre-settle.
FRONTIER_MERGE_SCHEMA = StructType(
    list(FRONTIER_SCHEMA.fields) + [StructField("is_new", BooleanType())]
)

# normalized update row (a "crawl request": seed, follow, cron, message,
# cancel). seen_k/pid are derived membership keys (SURVEY §2.3 J2/J3).
UPDATE_SCHEMA = StructType(
    [
        StructField("project", StringType(), False),
        StructField("taskid", StringType(), False),
        StructField("url", StringType()),
        StructField("canon_url", StringType()),
        StructField("host", StringType()),
        StructField("seen_k", StringType()),
        StructField("pid", IntegerType()),
        StructField("priority", IntegerType()),
        StructField("exetime", DoubleType()),
        StructField("age", DoubleType()),
        StructField("itag", StringType()),
        StructField("force_update", BooleanType()),
        StructField("auto_recrawl", BooleanType()),
        StructField("callback", StringType()),
        StructField("cancel", BooleanType()),
    ]
)

# raw (pre-normalization) update rows: url+project required, rest optional
RAW_UPDATE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("canon_url", StringType()),
        StructField("project", StringType()),
        StructField("priority", IntegerType()),
        StructField("exetime", DoubleType()),
        StructField("age", DoubleType()),
        StructField("itag", StringType()),
        StructField("force_update", BooleanType()),
        StructField("auto_recrawl", BooleanType()),
        StructField("callback", StringType()),
        StructField("cancel", BooleanType()),
    ]
)

HOST_STATE_SCHEMA = StructType(
    [
        StructField("host", StringType(), False),
        StructField("tokens", DoubleType()),
        StructField("last_ts", DoubleType()),
    ]
)

SCHEDULE_SCHEMA = StructType(
    [
        StructField("round", IntegerType()),
        StructField("host", StringType()),
        StructField("seq_in_host", IntegerType()),
        StructField("project", StringType()),
        StructField("taskid", StringType()),
        StructField("canon_url", StringType()),
        StructField("priority", IntegerType()),
    ]
)

RESULTS_SCHEMA = StructType(
    [
        StructField("project", StringType()),
        StructField("taskid", StringType()),
        StructField("url", StringType()),
        StructField("result", StringType()),
        StructField("updatetime", DoubleType()),
    ]
)

# A2 — per-(round, project, kind) counters at logical time `now`
# (libs/counter.py — CounterManager analog; windows are a rollup)
METRICS_PROJECT_SCHEMA = StructType(
    [
        StructField("round", IntegerType()),
        StructField("project", StringType()),
        StructField("kind", StringType()),
        StructField("cnt", LongType()),
        StructField("now", DoubleType()),
    ]
)

METRICS_SCHEMA = StructType(
    [
        StructField("round", IntegerType()),
        StructField("scheduled", LongType()),
        StructField("ok", LongType()),
        StructField("failed", LongType()),
        StructField("robots_blocked", LongType()),
        StructField("new_urls", LongType()),
        StructField("frontier", LongType()),
        StructField("wall_s", DoubleType()),
    ]
)


def empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    return spark.createDataFrame([], schema)
