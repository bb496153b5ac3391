"""Stateful streaming frontier operators (SURVEY §2.8) — the batch
round's URL-seen gate and token-bucket politeness re-expressed as
``applyInPandasWithState`` streams, for deployments where discovered
URLs arrive continuously instead of in rounds.

Same kernels, third execution mode (batch round / simulator /
stream): the streaming seen gate keeps a **bloom-filter blob per
bucket(host) partition as state-store state** — exactly the blob the
batch engine cogroups with the update batch by pid and commits to the manifest
(``engine/seen.py``), here persisted/restored by the streaming
checkpoint instead. State stays bounded at O(m_bits · n_partitions)
regardless of stream length — the property that makes a URL-seen
stream viable at all (a ``dropDuplicates`` stream's state grows with
every distinct key, unbounded on a crawl frontier). The politeness
stream keeps the batch engine's exact per-host ``(tokens, last_ts)``
pair (``kernels/bucket.refill_scalar``) and admits up to ⌊tokens⌋
rows per micro-batch in the batch engine's deterministic O1 order
(priority desc, taskid asc).

Streaming caveat vs batch: bloom FPs are resolved by the batch engine
with a frontier anti-join; a stream has no frontier to consult, so an
FP drops a genuinely-new URL (at the configured sizing, ~1e-3 of
keys). That is the documented cost of the streaming mode, not a bug —
deployments that cannot accept it run the batch rounds.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspider_spark.kernels.bloom import BloomFilter, bloom_params
from pyspider_spark.kernels.bucket import refill_scalar

URLS_SCHEMA = (
    "url string, canon_url string, host string, project string, "
    "priority int, ts double"
)

SEEN_OUT = StructType(
    [
        StructField("canon_url", StringType()),
        StructField("host", StringType()),
        StructField("project", StringType()),
        StructField("priority", IntegerType()),
        StructField("ts", DoubleType()),
    ]
)
_SEEN_STATE = StructType([StructField("bloom", BinaryType())])


def seen_filter_stream(
    src: DataFrame,
    n_partitions: int = 8,
    expected_keys: int = 100_000,
    target_fpr: float = 1e-3,
) -> DataFrame:
    """Unseen-only stream: group by pid = bucket(host), probe+insert a
    per-group bloom blob held in the state store, emit rows whose
    (project, canon_url) key was not yet present."""
    m_bits, k = bloom_params(expected_keys, target_fpr)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bf = BloomFilter.from_bytes(bytes(state.get[0]))
        else:
            bf = BloomFilter(m_bits, k)
        for pdf in pdfs:
            if not len(pdf):
                continue
            seen_k = pdf["seen_k"].to_numpy()
            hit = bf.contains_many(seen_k)
            bf.add_many(seen_k)
            out = pdf.loc[~hit, ["canon_url", "host", "project", "priority", "ts"]]
            # first occurrence within the same micro-batch wins too:
            # contains_many is probed against the PRE-batch blob, so
            # collapse duplicates that share this batch
            out = out[~out.duplicated(subset=["project", "canon_url"], keep="first")]
            if len(out):
                yield out
        state.update((bf.to_bytes(),))

    # seen key + pid both JVM-side (no per-row Python): the batch
    # engine's exact expressions (engine/stages.py)
    from pyspider_spark.engine.stages import pid_col, seen_k_col

    with_key = src.withColumn("seen_k", seen_k_col()).withColumn(
        "pid", pid_col(n_partitions)
    )
    return with_key.groupBy("pid").applyInPandasWithState(
        fn, SEEN_OUT, _SEEN_STATE, "append", GroupStateTimeout.NoTimeout
    )


ADMIT_OUT = StructType(
    [
        StructField("host", StringType()),
        StructField("canon_url", StringType()),
        StructField("project", StringType()),
        StructField("priority", IntegerType()),
        StructField("seq_in_host", LongType()),
        StructField("ts", DoubleType()),
    ]
)
_BUCKET_STATE = StructType(
    [StructField("tokens", DoubleType()), StructField("last_ts", DoubleType())]
)


def politeness_stream(src: DataFrame, rate: float, burst: float) -> DataFrame:
    """Per-host token-bucket admission as a stateful stream: state is
    the batch engine's exact (tokens, last_ts) pair; each micro-batch
    refills at the batch's max event time and admits up to ⌊tokens⌋
    rows in O1 order (priority desc, taskid-free stream variant uses
    canon_url asc as the deterministic tiebreak)."""

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = [pdf for pdf in pdfs if len(pdf)]
        if not rows:
            return
        pdf = pd.concat(rows, ignore_index=True)
        now = float(pdf["ts"].max())
        if state.exists:
            tokens, last = state.get
        else:
            tokens, last = float(burst), now
        tokens = refill_scalar(float(tokens), float(last), now, rate, burst)
        n = int(tokens)
        pdf = pdf.sort_values(
            ["priority", "canon_url"], ascending=[False, True]
        ).head(n)
        state.update((tokens - len(pdf), now))
        if len(pdf):
            out = pdf[["host", "canon_url", "project", "priority"]].copy()
            out["seq_in_host"] = range(len(pdf))
            out["ts"] = now
            yield out

    return src.groupBy("host").applyInPandasWithState(
        fn, ADMIT_OUT, _BUCKET_STATE, "append", GroupStateTimeout.NoTimeout
    )


def run_stream(
    df: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain everything new since the checkpoint into parquet and stop
    (availableNow trigger — same exactly-once resume protocol as
    streaming/ingest.py)."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_urls_stream(spark: SparkSession, urls_dir: str) -> DataFrame:
    return spark.readStream.schema(URLS_SCHEMA).parquet(urls_dir)
