"""Partition-count migration — re-bucket frontier + seen-state.

``n_partitions`` fixes the bucket(host) layout of the frontier dirs
and the bloom/cuckoo seen-state blobs. A deployment that starts small
and grows 1000x must be able to raise it without losing crawl state
(the reference has no analog — its taskdb is a single database — but
at a 10^10-URL frontier the partition count IS the unit of touch-only
rewrites and blob parallelism, so it must scale with the corpus).

This op rewrites the frontier and host_state tables once under the
new bucketing (the only unavoidable full rewrites), rebuilds every
bloom from the frontier keys, and starts FRESH (empty) cuckoo shadows. That last step is exact, not
an approximation, by the membership invariants the round engine keeps
(``seen = bloom(k) AND NOT cuckoo(k)``, engine/seen.py):

1. a key present in the frontier is never cuckoo-resident — re-adding
   a previously-cancelled key deletes its cuckoo entry in the same
   probe (seen.py ``probe_and_update``), and cancels drop the row from
   the frontier (round.py ``fr1_t`` anti-join);
2. therefore cuckoo-resident keys are exactly the cancelled-and-not-
   re-added ones, which are absent from the frontier and hence absent
   from the rebuilt blooms — their membership is False with or without
   the cuckoo entry (cancel semantics: re-crawlable);
3. bloom false positives on such keys are resolved downstream by the
   frontier anti-join, same as any other FP.

So the migrated state computes the same membership function as the
old state for every key, while both tables and blobs land on the new
bucketing. The op commits atomically through the same manifest rename
as a round; the manifest records ``state.n_partitions`` and the round
engine refuses to run with a mismatched config (the error points
here).
"""

from __future__ import annotations

import os
from dataclasses import replace

from pyspark.sql import functions as F

from pyspider_spark.engine.frontier import pid_dirs
from pyspider_spark.engine.seen import rebuild_blooms, register_blob_table
from pyspider_spark.engine.stages import pid_col, seen_k_col


def migrate_partitions(engine, new_n: int) -> dict:
    """Re-bucket `engine`'s committed crawl state to `new_n` partitions.

    Runs driver-side between rounds (an admin op, like bloom rebuild):
    one partitioned frontier rewrite + one grouped-map bloom-rebuild
    job. On success the engine's config is updated in place and the
    next ``run_round`` continues on the new layout.
    """
    snap, cfg = engine.snap, engine.cfg
    man = snap.read_manifest()
    if man is None:
        raise ValueError("no committed snapshot to migrate (run a round first)")
    old_n = int((man.get("state") or {}).get("n_partitions", cfg.n_partitions))
    if new_n == old_n:
        return {"from": old_n, "to": new_n, "changed": False}
    if new_n < 1:
        raise ValueError(f"new_n must be >= 1, got {new_n}")

    r = int(man["round"])
    fr = engine.frontier()

    # --- frontier rewrite under the new bucketing (one-time full pass)
    mig_dir = os.path.join(snap.round_dir(r), f"frontier_mig{new_n}")
    (
        fr.withColumn("pid", pid_col(new_n))
        .repartition(F.col("pid"))
        # same exetime clustering as compaction bases (row-group skip
        # of never-due rows in the candidates scan)
        .sortWithinPartitions("pid", F.asc_nulls_last("exetime"))
        .write.mode("overwrite")
        .option("parquet.block.size", str(int(cfg.frontier_rowgroup_bytes)))
        .partitionBy("pid")
        .parquet(mig_dir)
    )
    new_dirs = {
        str(p): {"base": snap.rel(d), "deltas": []}
        for p, d in pid_dirs(mig_dir).items()
    }

    # --- host_state rewrite under the new bucketing (token-bucket rows
    # share the frontier's pid layout for touch-only round rewrites)
    hs_dirs = engine._host_state_dirs(man)
    hs = engine._read_host_state(hs_dirs)
    hs_mig_dir = os.path.join(snap.round_dir(r), f"host_state_mig{new_n}")
    (
        hs.withColumn("pid", pid_col(new_n))
        .repartition(F.col("pid"))
        .write.mode("overwrite")
        .partitionBy("pid")
        .parquet(hs_mig_dir)
    )
    new_hs_dirs = {str(p): snap.rel(d) for p, d in pid_dirs(hs_mig_dir).items()}

    # --- bloom rebuild from the authoritative key set, sized per pid
    fr_keys = fr.select(
        pid_col(new_n).alias("pid"),
        seen_k_col().alias("seen_k"),
    )
    counts = {
        int(row["pid"]): int(row["n"])
        for row in fr_keys.groupBy("pid").agg(F.count("*").alias("n")).collect()
    }
    caps = {
        p: max(cfg.bloom_expected_keys, 2 * n) for p, n in counts.items()
    }
    blobs_dir = os.path.join(snap.round_dir(r), f"blobs_mig{new_n}")
    (
        rebuild_blooms(fr_keys, caps, cfg)
        .select(
            "pid",
            "bloom_blob",
            # fresh cuckoo shadow — exact, see module docstring
            F.lit(None).cast("binary").alias("cuckoo_blob"),
            "n_keys",
        )
        .write.mode("overwrite")
        .parquet(blobs_dir)
    )
    new_blobs: dict[str, dict] = {}
    register_blob_table(
        new_blobs, blobs_dir, snap.rel(blobs_dir), cfg.bloom_expected_keys, caps
    )

    # --- atomic commit: same manifest-rename path as a round
    man2 = dict(man)
    tables = dict(man.get("tables", {}))
    tables["frontier"] = new_dirs
    tables["host_state"] = new_hs_dirs
    man2["tables"] = tables
    man2["blobs"] = new_blobs
    state = dict(man.get("state", {}))
    state["n_partitions"] = new_n
    man2["state"] = state
    lineage = dict(man.get("lineage", {}))
    lineage["migration"] = {"from": old_n, "to": new_n, "round": r}
    # refresh MoR live-row lineage under the NEW bucketing (the old
    # per-pid counts are meaningless after re-bucketing); the rewrite
    # folded every delta into fresh bases, so outstanding deltas = 0
    lineage["frontier_pid_rows"] = {str(p): n for p, n in sorted(counts.items())}
    lineage.pop("frontier_delta_rows", None)
    man2["lineage"] = lineage
    snap.commit(man2)

    engine.cfg = replace(cfg, n_partitions=new_n)
    return {
        "from": old_n,
        "to": new_n,
        "changed": True,
        "pids": len(new_dirs),
        "keys": sum(counts.values()),
    }
