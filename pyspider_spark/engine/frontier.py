"""Frontier merge-on-read layout (Iceberg MoR analog; SURVEY §2.1 S3).

The copy-on-write MERGE (rewrite touched ``pid = bucket(host)``
partition dirs, carry the rest by path) degenerates to a full-frontier
rewrite as soon as the round's active hosts hash into every partition —
measured in ``BENCH/frontier_scale_cow.json``: growing a cold frontier
1M → 8M rows made steady rounds 1.6× slower purely through
``frontier_write`` (10.5 s → 34.2 s for the SAME ~12k-row settle),
because 500 active hosts touch all 32 partitions. At the 10^10-row
design point that is THE round cost.

This module stores each frontier partition as **base files + an
ordered list of delta files** instead:

- a round appends ONE small delta dir (``partitionBy(pid)``) holding
  only the rows it changed — inserts, P4 restarts, settle outcomes,
  and cancel tombstones — each a full replacement row stamped with
  ``dseq`` (the round number) per ``FRONTIER_DELTA_SCHEMA``;
- a read resolves ``base ⊖ delta-keys ⊕ latest-delta``: the base scan
  stays map-side (broadcast anti join against the outstanding delta
  keys — bounded by ``RoundConfig.frontier_delta_max_keys`` at write
  time, so the broadcast is provably small), and latest-wins between
  delta files is a window over delta-sized data only;
- compaction folds a partition's deltas into a fresh base when the
  accumulated delta rows exceed ``frontier_compact_frac`` × live rows,
  when a partition collects ``frontier_max_delta_dirs`` files (read
  amplification bound), or when the global key bound is hit. The
  ratio/dir-bound folds are decided from the PREVIOUS round's lineage
  and run **concurrently with the round's fetch/settle phase** (they
  fold only committed pre-round files, so they race nothing; the round
  then appends its own delta, leaving at most one outstanding dir per
  folded partition). Two synchronous exceptions, both at write time:
  ``frontier_compact_frac = 0`` (explicit copy-on-write mode — fold
  everything every round) and the global key bound (the invariant that
  keeps read-side delta-key broadcasts provably small).

Write cost per steady round is therefore O(changed rows) + amortized
O(frontier / compaction-period), instead of O(frontier) — measured in
``BENCH/frontier_scale_mor.json``: the same 1M → 8M growth that cost
CoW 1.61× steady-round wall costs MoR 1.08×, with ``frontier_write``
flat (15.4 s → 15.7 s) across 7.7× frontier growth. In the dense
regime (schedule ≈ frontier) the ratio trigger fires every round or
two and the layout self-tunes back to CoW — no mode knob.

Production swap-in: Iceberg v2 ``MERGE INTO`` with merge-on-read row
delete/upsert files and a scheduled ``rewrite_data_files`` compaction —
the semantics implemented here over parquet dirs + the JSON manifest.

Manifest format (``tables.frontier``): ``{pid: {"base": rel|None,
"deltas": [rel, ...]}}``.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pyspider_spark.engine import schema as S
from pyspider_spark.engine.stages import KEY, bounded_broadcast, pid_col

FR_COLS = [f.name for f in S.FRONTIER_SCHEMA.fields]


def parquet_rows(d: str) -> int:
    """Row count of a parquet directory from file footers (no Spark job)."""
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
        for fn in os.listdir(d)
        if fn.endswith(".parquet")
    )


def pid_dirs(d: str) -> dict[int, str]:
    """pid -> path of the ``pid=N`` children of a ``partitionBy("pid")``
    parquet dir, in name order (empty when `d` was never written)."""
    if not os.path.isdir(d):
        return {}
    return {
        int(name.split("=", 1)[1]): os.path.join(d, name)
        for name in sorted(os.listdir(d))
        if name.startswith("pid=")
    }


def norm_entry(v: dict) -> dict:
    """A private copy of a manifest frontier entry."""
    return {"base": v.get("base"), "deltas": list(v.get("deltas") or [])}


def entries_of(man: dict | None) -> dict[int, dict]:
    t = (man or {}).get("tables", {}).get("frontier") or {}
    return {int(p): norm_entry(v) for p, v in t.items()}


def read_resolved(
    spark: SparkSession, snap, entries: dict[int, dict], pids,
    broadcast_max_keys: int = 4_000_000,
) -> DataFrame:
    """The live frontier rows of `pids`, merge-on-read resolved.

    base ⊖ outstanding-delta-keys ⊕ latest-delta-per-key (tombstones
    filtered). The anti-join side is broadcast ONLY when the parquet
    footers prove the outstanding delta rows (an upper bound on
    distinct keys) fit ``broadcast_max_keys``; past the bound it
    becomes a plain shuffle anti-join. The bound matters exactly once:
    the global-compaction trigger fires BECAUSE the deltas outgrew
    ``frontier_delta_max_keys``, and the fold it forces then resolves
    those same oversized deltas — an unconditional ``F.broadcast``
    here crashed the 64 M-row soak with Spark's 8 GB broadcast-table
    cap (round-4 finding; a 10^10-URL frontier injection round is the
    production twin). Steady rounds keep the broadcast plan: the
    write-time invariant caps their deltas well under the bound. The
    latest-wins window shuffles only delta rows; each (key, dseq) pair
    is unique by construction, so latest-wins is deterministic."""
    ents = [entries[p] for p in pids if p in entries]
    bases = [snap.abspath(e["base"]) for e in ents if e["base"]]
    deltas = [snap.abspath(d) for e in ents for d in e["deltas"]]
    if bases:
        base_df = spark.read.schema(S.FRONTIER_SCHEMA).parquet(*bases)
    else:
        base_df = S.empty_df(spark, S.FRONTIER_SCHEMA)
    if not deltas:
        return base_df
    dd = spark.read.schema(S.FRONTIER_DELTA_SCHEMA).parquet(*deltas)
    w = Window.partitionBy(*KEY).orderBy(F.desc("dseq"))
    live = (
        dd.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & ~F.col("is_delete"))
        .select(*FR_COLS)
    )
    keys = bounded_broadcast(
        sum(parquet_rows(d) for d in deltas), broadcast_max_keys
    )(dd.select(*KEY).distinct())
    return base_df.join(keys, KEY, "left_anti").unionByName(live)


def tombstone_cols() -> list:
    """Null-payload frontier columns for a cancel tombstone row."""
    return [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in S.FRONTIER_SCHEMA.fields
        if f.name not in KEY
    ]


def append_round_delta(
    snap, entries: dict[int, dict], delta_dir: str
) -> tuple[dict[int, int], dict[int, int]]:
    """Register a written round-delta dir's ``pid=N`` children into the
    entries map. Returns (delta rows per pid, inserted rows per pid) —
    from parquet footers / one small Arrow column read; drives exact
    incremental live-row lineage and the compaction triggers."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    delta_rows: dict[int, int] = {}
    new_rows: dict[int, int] = {}
    for p, d in pid_dirs(delta_dir).items():
        ent = entries.setdefault(p, {"base": None, "deltas": []})
        ent["deltas"] = list(ent["deltas"]) + [snap.rel(d)]
        # one read per pid dir: row count + inserted count off the
        # single small bool column
        col = pq.read_table(d, columns=["is_new"])["is_new"]
        delta_rows[p] = len(col)
        new_rows[p] = int(pc.sum(col.cast("int32")).as_py() or 0)
    return delta_rows, new_rows


def compaction_due(
    entries: dict[int, dict],
    live: dict[int, int],
    delta_rows: dict[int, int],
    cfg,
) -> list[int]:
    """Partitions whose deltas must fold into a new base this round."""
    due = [
        p
        for p, ent in entries.items()
        if ent["deltas"]
        and (
            len(ent["deltas"]) >= cfg.frontier_max_delta_dirs
            or delta_rows.get(p, 0) > cfg.frontier_compact_frac * max(live.get(p, 0), 1)
        )
    ]
    if sum(delta_rows.values()) > cfg.frontier_delta_max_keys:
        # global bound: the resolution anti-join broadcasts ALL
        # outstanding delta keys — past the bound, fold everything
        due = [p for p, ent in entries.items() if ent["deltas"]]
    return sorted(set(due))


def compact(
    spark: SparkSession,
    snap,
    entries: dict[int, dict],
    pids: list[int],
    out_dir: str,
    n_partitions: int,
    row_group_bytes: int = 16 << 20,
    broadcast_max_keys: int = 4_000_000,
) -> dict[int, int]:
    """Fold `pids`' base+deltas into fresh bases under `out_dir`
    (Iceberg ``rewrite_data_files``). Mutates `entries`; returns exact
    live rows per compacted pid (footer counts of the new bases).
    A partition resolving to zero live rows is dropped entirely.

    Bases are written clustered by ``exetime`` within each pid file in
    ``row_group_bytes``-bounded row groups (Iceberg sort-order analog):
    the candidates scan filters ``exetime <= now``, and on a
    mostly-cold frontier (the 10^10-row design point — almost all rows
    have a far-future ``exetime``) parquet row-group min/max stats then
    skip the never-due mass, making that scan O(due) not O(frontier)."""
    resolved = read_resolved(
        spark, snap, entries, pids, broadcast_max_keys=broadcast_max_keys
    )
    (
        resolved.withColumn("pid", pid_col(n_partitions))
        .repartition(F.col("pid"))
        .sortWithinPartitions("pid", F.asc_nulls_last("exetime"))
        .write.mode("overwrite")
        .option("parquet.block.size", str(int(row_group_bytes)))
        .partitionBy("pid")
        .parquet(out_dir)
    )
    written: dict[int, int] = {}
    for p, d in pid_dirs(out_dir).items():
        written[p] = parquet_rows(d)
        entries[p] = {"base": snap.rel(d), "deltas": []}
    for p in pids:
        if p not in written:
            entries.pop(p, None)  # compacted away (all rows deleted)
            written[p] = 0
    return written
