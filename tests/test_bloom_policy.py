"""Bloom sizing policy (VERDICT r1 "wrong" #7): (m, k) from expected
keys + target FPR; measured FPR near target at capacity; saturated
partitions rebuilt at 2x capacity from the frontier key set."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyspider_spark.config import RoundConfig
from pyspider_spark.engine.round import CrawlEngine
from pyspider_spark.kernels.bloom import BloomFilter, bloom_params


def _keys(tag: str, n: int) -> list[str]:
    return [hashlib.md5(f"{tag}|{i}".encode()).hexdigest() for i in range(n)]


def test_bloom_params_formula():
    m, k = bloom_params(100_000, 1e-3)
    # textbook: ~14.38 bits/key at p=1e-3, k≈10
    assert 14.0 <= m / 100_000 <= 15.0
    assert k in (9, 10, 11)
    assert m % 64 == 0


def test_bloom_params_monotone():
    m1, _ = bloom_params(10_000, 1e-3)
    m2, _ = bloom_params(20_000, 1e-3)
    m3, _ = bloom_params(10_000, 1e-6)
    assert m2 > m1 and m3 > m1


def test_fpr_near_target_at_capacity():
    n, p = 20_000, 1e-3
    m, k = bloom_params(n, p)
    bf = BloomFilter(m, k)
    bf.add_many(_keys("in", n))
    probe = _keys("out", 50_000)
    fp = int(bf.contains_many(probe).sum())
    fpr = fp / len(probe)
    assert fpr <= 2.5 * p, f"measured FPR {fpr} vs target {p}"


@pytest.mark.usefixtures("smoke_fixtures")
def test_saturated_partition_rebuilds(spark, smoke_fixtures, tmp_path):
    """With a tiny configured capacity every partition saturates in
    round 0; round 1 must rebuild those blooms at 2x capacity (bigger
    blobs, capacity doubled in the manifest) and stay correct (no
    false negatives ⇒ dedup still exact, equivalence tests cover it)."""
    cfg = RoundConfig(n_partitions=4, round_budget=1000, bloom_expected_keys=4)
    eng = CrawlEngine(
        spark,
        str(tmp_path / "state"),
        cfg,
        pages_path=smoke_fixtures["pages"],
        projects_path=smoke_fixtures["projects"],
        robots_path=smoke_fixtures["robots"],
    )
    seeds = spark.read.parquet(smoke_fixtures["seeds"])
    eng.run_rounds(2, seeds=seeds)  # round 1's follows push pids past capacity
    man0 = eng.snap.read_manifest()
    sat = [
        pid
        for pid, ent in man0["blobs"].items()
        if ent["n_keys"] > ent.get("capacity", cfg.bloom_expected_keys)
    ]
    assert sat, "expected saturation with bloom_expected_keys=4"
    m0, _ = bloom_params(4, cfg.bloom_target_fpr)

    eng.run_rounds(1)
    man1 = eng.snap.read_manifest()
    for pid in sat:
        ent = man1["blobs"][pid]
        assert ent["capacity"] > 8  # grown
        blob, _cuckoo, _n = eng.blob_state(int(pid))
        bf = BloomFilter.from_bytes(blob)
        assert bf.m > m0  # physically bigger filter
        # frontier keys of that pid are all present (no false negatives)
        fr = eng.frontier().collect()
        from pyspider_spark.kernels.canon import partition_of
        from pyspider_spark.oracle.simulator import seen_key

        keys = [
            seen_key(r["project"], r["canon_url"])
            for r in fr
            if partition_of(r["host"], cfg.n_partitions) == int(pid)
        ]
        if keys:
            assert bool(np.all(bf.contains_many(keys)))
