"""Kernel tier: the per-URL and per-page functions a round calls inside
its Python workers, timed single-threaded in this process on inputs
sampled from the workload's own pages."""

from __future__ import annotations

import random
import statistics
import time

import numpy as np
import pandas as pd


def _rate(fn, n_items: int, reps: int = 5, min_s: float = 0.05) -> float:
    """Median items/s over ``reps`` timed blocks of at least ``min_s``."""
    fn()  # first call outside the timing: imports, lazy tables
    rates = []
    for _ in range(reps):
        calls, t0 = 0, time.perf_counter()
        while True:
            fn()
            calls += 1
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        rates.append(calls * n_items / dt)
    return statistics.median(rates)


def kernel_metrics(pages_path: str, seed: int, n_pages: int = 400) -> dict[str, float]:
    import pyarrow.parquet as pq

    from pyspider_spark.kernels import bucket
    from pyspider_spark.kernels.bloom import BloomFilter, bloom_params
    from pyspider_spark.kernels.canon import canonicalize_series, taskid_series
    from pyspider_spark.kernels.cuckoo import CuckooFilter
    from pyspider_spark.ops.textstats import analyze_frame
    from pyspider_spark.oracle.extractor import extract_page

    t = pq.read_table(pages_path, columns=["url", "html"])
    idx = sorted(random.Random(seed).sample(range(t.num_rows), min(n_pages, t.num_rows)))
    t = t.take(idx)
    urls, htmls = t["url"].to_pylist(), t["html"].to_pylist()
    extracts = [extract_page(h, u) for u, h in zip(urls, htmls)]
    # link urls as a round's normalize pass sees them: follows of the sample
    links = pd.Series([lk for e in extracts for lk in e.links] or urls)
    canon = canonicalize_series(links)
    taskids = taskid_series(canon).tolist()
    texts = pd.Series([e.text for e in extracts])

    m, k = bloom_params(100_000, 1e-3)
    bloom = BloomFilter(m, k)
    bloom.add_many(taskids)
    cuckoo = CuckooFilter(1 << 14)
    for tid in taskids[: len(taskids) // 2]:
        cuckoo.insert(tid)
    n_hosts = 10_000
    rng = np.random.default_rng(seed)
    tokens, last = rng.uniform(0, 200, n_hosts), rng.uniform(0, 10, n_hosts)

    def add():
        BloomFilter(m, k).add_many(taskids)

    def extract():
        for u, h in zip(urls, htmls):
            extract_page(h, u)

    return {
        "canon.urls_per_s": _rate(lambda: canonicalize_series(links), len(links)),
        "canon.taskids_per_s": _rate(lambda: taskid_series(canon), len(canon)),
        "bloom.add_keys_per_s": _rate(add, len(taskids)),
        "bloom.probe_keys_per_s": _rate(lambda: bloom.contains_many(taskids), len(taskids)),
        "cuckoo.probe_keys_per_s": _rate(lambda: cuckoo.contains_many(taskids), len(taskids)),
        "extractor.pages_per_s": _rate(extract, len(urls)),
        "textstats.pages_per_s": _rate(lambda: analyze_frame(texts), len(texts)),
        "bucket.hosts_per_s": _rate(lambda: bucket.refill(tokens, last, 11.0, 200.0, 200.0), n_hosts),
    }
