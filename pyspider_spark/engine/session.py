"""SparkSession builder with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Derive the local-mode heap from the host's available memory
    (~40%, clamped to [4g, 48g]) instead of hardcoding a sandbox-sized
    value that would swap smaller hosts; override via SPARK_DRIVER_MEM.
    local-mode note: the 'driver' heap hosts all executor threads, so
    it must scale with the machine (8g thrashes at local[32])."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    return f"{min(48, max(4, int(avail_gb * 0.4)))}g"
    except OSError:
        pass
    return "8g"


def get_spark(
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "pyspider_spark",
    n_executors: int | None = None,
) -> SparkSession:
    """local[cores] session; AQE + Arrow on.

    ``n_executors`` switches to ``local-cluster[n, 4, 10240]`` — REAL
    executor JVMs (4 cores, 10 GB each) with separate heaps, block
    managers and IPC/serialization boundaries, the closest single-box
    analog of an N-executor cluster (``bench.py --crawl-only
    --executors N``; ``cores`` is ignored there). The engine package ships
    to the executors as a zip via ``addPyFile`` — the runtime twin of
    ``spark-submit --py-files dist/pyspider_spark.zip``
    (BASELINE.json:14), so the measured legs run the same shipped
    artifact a real cluster would.

    On a real cluster the same engine code runs via spark-submit
    --py-files — only master/shuffle-partition conf changes; nothing
    in the engine assumes local mode.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    sp = shuffle_partitions or max(8, 2 * cores)
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    if n_executors is not None:
        master = f"local-cluster[{n_executors},4,10240]"
        # executor JVMs get their own heap; the driver no longer hosts
        # the executor threads, so it needs far less than local-mode
        driver_mem = os.environ.get("SPARK_DRIVER_MEM") or "8g"
    else:
        master = f"local[{cores}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (and coalesce) on top of persisted frames:
        # the round pipeline persists its branch points (updates,
        # fetched, …), and without this flag a cached frame freezes its
        # shuffle partitioning — small rounds then drag hundreds of
        # near-empty tasks (each paying Arrow/Python overhead) through
        # every downstream union. With it, task counts track data size.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.files.maxPartitionBytes", "33554432")  # 32 MB splits: balanced scans of payload-heavy parquet
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2000, not the 10000 default-ish: at ~9 KB page bodies a batch
        # is ~18 MB end-to-end in the Python worker (input + text/links
        # output + Arrow buffers) — cache-resident; 10k-row batches of
        # payload-heavy rows measured 1.8x slower through the same
        # extraction UDF at 32-way (90 MB working sets thrash the
        # shared bus)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        # off by default (pure overhead for batch jobs);
        # `crawlbench/run.py --trace 1` flips it on (SPARK_GRAFT_UI) to
        # read per-phase stage metrics from the UI REST API
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") else "false",
        )
        .config("spark.ui.showConsoleProgress", "false")
    )
    # ad-hoc conf overrides for tuning experiments, e.g.
    #   SPARK_GRAFT_CONF="spark.sql.constraintPropagation.enabled=false;k2=v2"
    if n_executors is not None:
        b = b.config("spark.executor.memory", "10240m")
    for kv in (os.environ.get("SPARK_GRAFT_CONF") or "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            b = b.config(k.strip(), v.strip())
    spark = b.getOrCreate()
    if n_executors is not None:
        # ship the engine to the executor python workers — the runtime
        # twin of `spark-submit --py-files dist/pyspider_spark.zip`
        import subprocess
        import sys

        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        zip_path = os.path.join(root, "dist", "pyspider_spark.zip")
        subprocess.run(
            [sys.executable, os.path.join(root, "scripts", "make_dist.py")],
            check=True,
            capture_output=True,
        )
        spark.sparkContext.addPyFile(zip_path)
    return spark
