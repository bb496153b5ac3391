"""CrawlEngine — the batch-iterative round driver (SURVEY §3.1, §7.5).

One round = one Spark job replaying the reference's loop phases
(``pyspider/scheduler/scheduler.py — run_once(): _update_projects →
_check_task_done → _check_request → _check_cron → _check_select``) as
DataFrame stages:

    read frontier snapshot → normalize+collapse updates (follows from
    last round ∪ injected ∪ cron) → bloom/cuckoo seen probe
    [SHUFFLE pid] → MERGE touched frontier partitions [SHUFFLE key]
    → candidates (P2/P3/P6) → robots (J4, broadcast dim) → salted
    politeness (O1/O2) [SHUFFLE host] → budget cut (O3, TakeOrdered)
    → fetch join (J1) [broadcast/AQE canon_url] → extract (Arrow UDF)
    → settle + follows → atomic snapshot commit

Frontier layout (Iceberg ``MERGE INTO`` with merge-on-read semantics,
SURVEY §2.1 S3; engine/frontier.py): each ``pid = bucket(host)``
partition is base parquet files plus an ordered list of per-round
delta files. A round computes only its CHANGED rows (inserts, P4
restarts, settles, cancel tombstones) and appends them as one small
delta dir; base files are never rewritten in the round path —
compaction folds deltas into fresh bases on the thresholds in
RoundConfig. At a 10^10-row frontier a budgeted round therefore
writes O(changed rows) + amortized O(frontier/compaction-period)
— the candidates scan still covers all partitions but is a pruned
columnar read (status/exetime pushdown + a broadcast anti probe
against the outstanding delta keys), never a rewrite.

Cross-round state lives only in the snapshot store ⇒ exact resume: a
crash mid-round leaves the previous manifest; re-running the round is
idempotent (BASELINE.json:14; tests/test_resume.py).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from pyspider_spark.config import (
    ACTIVE,
    BAD,
    FAILED,
    FETCH_NOT_MODIFIED,
    SUCCESS,
    RoundConfig,
)
from pyspider_spark.engine import schema as S
from pyspider_spark.engine import frontier as FR
from pyspider_spark.engine.fetchx import fetch_and_extract, prepare_pages
from pyspider_spark.engine.politeness import schedule_round
from pyspider_spark.engine.seen import (
    BLOB_SCHEMA,
    probe_and_update,
    rebuild_blooms,
    register_blob_table,
)
from pyspider_spark.engine.snapshot import SnapshotStore
from pyspider_spark.engine.stages import (
    KEY,
    bounded_broadcast,
    candidates_filter,
    order_cols,
    collapse_updates,
    ensure_raw_columns,
    merge_frontier_delta,
    normalize_updates,
    pid_col,
    retry_delay_expr,
    seen_k_col,
)

SCHEDULABLE = ("RUNNING", "DEBUG")


def cron_due_rows(
    proj_rows: dict,
    cron_state: dict[str, int],
    now: float,
    t0: float,
    paused: "set[str] | frozenset" = frozenset(),
) -> tuple[list, dict]:
    """F9 cron kernel (``base_handler.every`` / scheduler ``_check_cron``):
    due tick index k = floor(elapsed / min_tick); a project emits one
    ``_on_cronjob`` row iff k advanced past the last-emitted index in
    ``cron_state``. Standalone so the contract gate drives the SAME
    decision the round loop does (``CrawlEngine._cron_rows`` delegates
    here). Driver-side by design: projects are a tiny dim table."""
    rows, new_state = [], dict(cron_state)
    for name in sorted(proj_rows):
        p = proj_rows[name]
        tick = p.get("min_tick") or 0
        if (
            tick > 0
            and p["status"] in SCHEDULABLE
            and name not in paused
            and now - t0 >= 0
        ):
            k = int((now - t0) // tick)
            if k > new_state.get(name, -1):
                new_state[name] = k
                rows.append((f"data:,_on_cronjob|{name}|{k}", name, "_on_cronjob"))
    return rows, new_state


def _parquet_group_counts(d: str, cols: list[str]) -> dict[tuple, int]:
    """Grouped row counts over a written parquet dir, computed with
    Arrow group_by driver-side (no Spark job)."""
    import pyarrow.parquet as pq

    out: dict[tuple, int] = {}
    for fn in sorted(os.listdir(d)):
        if fn.endswith(".parquet"):
            t = pq.read_table(os.path.join(d, fn), columns=cols)
            agg = t.group_by(cols).aggregate([([], "count_all")])
            for row in agg.to_pylist():
                key = tuple(row[c] for c in cols)
                out[key] = out.get(key, 0) + row["count_all"]
    return out


class _Round:
    """One crawl round's lifecycle: its background pool, the frames it
    caches and its phase clock.

    The round's five background jobs (blob-table write, concurrent
    fold, follows/results/host_state sinks) share ONE pool, and
    :meth:`close` — run when the round returns or raises — joins it
    first: when a phase fails, no Spark write outlives the round to race
    the resume that overwrites the same ``rounds/rN`` dirs, and the
    phase error wins over any background failure. Then it unpersists
    every frame the round cached, so a failed round leaves no cached
    data behind either."""

    def __init__(self) -> None:
        self.pool = ThreadPoolExecutor(max_workers=5)
        self.cached: list[DataFrame] = []
        self.phase_s: dict[str, float] = {}
        self.t_start = self._t = time.perf_counter()

    def persist(self, df: DataFrame) -> DataFrame:
        """Cache `df` until the round ends."""
        self.cached.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    def mark(self, phase: str) -> None:
        """End `phase`: its wall time runs from the previous mark (or
        the round start), so the phases tile the round."""
        t = time.perf_counter()
        self.phase_s[phase] = round(t - self._t, 3)
        self._t = t

    def close(self) -> None:
        self.pool.shutdown(wait=True, cancel_futures=True)
        for df in self.cached:
            df.unpersist()


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        cfg: RoundConfig,
        pages_path: str,
        projects_path: str,
        robots_path: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        self.snap = SnapshotStore(state_dir)
        # Canonical page index (canon_url → html), materialized ONCE as
        # parquet: the canon pandas UDF over the whole pages table must
        # not re-run inside every round's fetch join, and a parquet
        # index beats an in-memory persist (vectorized reader, column
        # pruning, no executor-memory pressure from html blobs).
        # Production analog: canon_url is a stored column of the Iceberg
        # pages table, bucketed on it, written once at ingest.
        from pyspider_spark.engine.ingest import is_bucketed, register_pages

        if is_bucketed(pages_path):
            # ingest.ingest_pages already wrote the canon-keyed BUCKETED
            # layout — register it so every fetch join co-locates on
            # canon_url (zero corpus-side exchange even past the
            # broadcast bound; see engine/ingest.py)
            self.pages_canon = register_pages(spark, pages_path)
        elif cfg.pages_precanonical:
            # ingest already wrote canonical urls — read pristine parquet
            self.pages_canon = (
                spark.read.parquet(pages_path)
                .select(F.col("url").alias("canon_url"), "html")
            )
        else:
            canon_dir = os.path.join(state_dir, "pages_canon.parquet")
            stamp_path = os.path.join(state_dir, "pages_canon.src")
            stamp = self._pages_stamp(pages_path)
            fresh = (
                os.path.exists(os.path.join(canon_dir, "_SUCCESS"))
                and os.path.exists(stamp_path)
                and open(stamp_path).read() == stamp
            )
            if not fresh:
                prepare_pages(spark.read.parquet(pages_path)).write.mode(
                    "overwrite"
                ).parquet(canon_dir)
                with open(stamp_path, "w") as f:
                    f.write(stamp)
            self.pages_canon = spark.read.parquet(canon_dir)
        # corpus row count from parquet footers (metadata-only, once):
        # drives the fetch join's dense-regime rebalance skip — when a
        # round's schedule covers a large corpus fraction, the
        # pre-extraction payload exchange is pure cost (fetchx)
        try:
            if os.path.isdir(pages_path):
                self.pages_rows: int | None = FR.parquet_rows(pages_path) or None
            else:
                import pyarrow.parquet as _pq

                self.pages_rows = _pq.ParquetFile(pages_path).metadata.num_rows
        except OSError:
            self.pages_rows = None
        self.projects_path = projects_path
        self._proj_stat: tuple | None = None
        self._load_projects()
        self.robots_path = robots_path
        self._robots_stat: tuple | None = None
        self._robots_overlay = None  # expiry-refetched rows (S10 TTL)
        # the _robots_stat snapshot at which the overlay was last
        # folded into self.robots — when _load_robots re-reads the dim
        # (stat changed) the overlay must be re-applied even if
        # nothing is stale, or fresher wire-fetched rules silently
        # regress to the file's (round-5 review, second pass)
        self._robots_overlay_stat: tuple | None = None
        self._load_robots()

    def _pages_stamp(self, pages_path: str) -> str:
        """Identity of the pages source (path + mtime + rows) so a
        reused state_dir with a changed pages table rebuilds the canon
        index instead of serving a stale one (ADVICE r1)."""
        try:
            mtime = os.path.getmtime(pages_path)
            rows = FR.parquet_rows(pages_path) if os.path.isdir(pages_path) else -1
        except OSError:
            mtime, rows = -1.0, -1
        return f"{pages_path}|{mtime}|{rows}"

    def _load_robots(self) -> None:
        """(Re)read the robots dim when its source changed — the batch
        analog of the reference fetcher's per-host robots cache with
        1h expiry (S10, ``fetcher/tornado_fetcher.py — can_fetch()/
        robots_txt_cache``): rules updated between rounds take effect
        on the next round, same stat-guard pattern as the projects dim."""
        if not self.robots_path:
            if self._robots_stat is None:
                self.robots = self.spark.createDataFrame(
                    [], "host string, robots_txt string"
                )
                self._robots_stat = ()
                self.robots_rows = 0
            return
        try:
            st = os.stat(self.robots_path)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig == self._robots_stat:
            return
        self._robots_stat = sig
        self.robots = self.spark.read.parquet(self.robots_path)
        # footer row count drives the bounded-broadcast decision in
        # check_robots; unknown (non-dir layout) ⇒ no forced broadcast
        try:
            self.robots_rows: int | None = FR.parquet_rows(self.robots_path)
        except OSError:
            self.robots_rows = None

    def _refresh_robots(self, now: float) -> None:
        """S10 robots EXPIRY (round-4 verdict next-list #7): the
        reference re-fetches a host's robots.txt after a 1 h cache TTL
        (``tornado_fetcher.py — can_fetch()/robots_txt_cache``). Batch
        analog: rows of the robots dim whose ``fetched_ts`` is older
        than ``cfg.robots_expiry`` on the LOGICAL clock are re-fetched
        over the wire (``http://<host>/robots.txt`` through the
        configured transport, executor-side mapInPandas — the stale set
        is expiry-spread, not the whole dim) and overlay the dim until
        they expire again. Refetch outcomes: 200 ⇒ new rules; 404 ⇒
        DEFINITIVE no-robots ⇒ empty rules (allow-all, the reference's
        error behavior for a missing file); transient failure
        (timeout/5xx/599) ⇒ the host's KNOWN rules are kept and the
        retry waits out the next TTL — a timeout must never flip a
        Disallow host to allow-all. Only meaningful with
        a live source, so it engages on ``fetch_stage == "http"`` only;
        join-mode engines refresh via the stat-guarded dim re-read
        (``_load_robots``). The overlay is session-held: on resume it
        rebuilds by refetch, exactly like the reference's restart.

        Cost: one tiny stale-count agg job per round in http mode; the
        refetch job only runs on rounds where something actually
        expired. A dim without ``fetched_ts`` defaults rows to ``t0``
        (everything expires together once, then spreads)."""
        cfg = self.cfg
        if (
            cfg.robots_expiry is None
            or cfg.fetch_stage != "http"
            or not cfg.respect_robots
            or self.robots_rows == 0
        ):
            return
        eff = self.robots
        if "fetched_ts" not in eff.columns:
            eff = eff.withColumn("fetched_ts", F.lit(cfg.t0))
        else:
            # dims may carry fetched_ts as a TIMESTAMP (the fixture
            # does) or epoch double; cast unifies (timestamp→double is
            # epoch seconds), NULL ⇒ t0
            eff = eff.withColumn(
                "fetched_ts",
                F.coalesce(F.col("fetched_ts").cast("double"), F.lit(cfg.t0)),
            )
        # optional robots_url column = the host's robots.txt origin
        # (non-default ports, https hosts); absent ⇒ http://host/
        if "robots_url" not in eff.columns:
            eff = eff.withColumn("robots_url", F.lit(None).cast("string"))
        eff = eff.select("host", "robots_txt", "fetched_ts", "robots_url")
        ov = self._robots_overlay
        if ov is not None:
            # per-host NEWEST-wins resolve (round-5 review, third
            # pass): the overlay must not unconditionally shadow the
            # dim — an operator-regenerated dim row with a FRESHER
            # fetched_ts (new rules pushed ahead of the live server)
            # beats an older wire fetch; on an exact timestamp tie the
            # overlay (session-fresher) wins via the _src tiebreak.
            from pyspark.sql import Window

            both = eff.withColumn("_src", F.lit(0)).unionByName(
                ov.withColumn("_src", F.lit(1))
            )
            w = Window.partitionBy("host").orderBy(
                F.desc("fetched_ts"), F.desc("_src")
            )
            eff = (
                both.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn", "_src")
            )
        # deterministic per-host expiry SPREAD (round-5 review): a dim
        # whose rows share one fetched_ts (e.g. the t0 default) would
        # otherwise go stale in lockstep — the whole dim refetched in
        # one synchronized burst every TTL, forever. Each host's
        # effective TTL is expiry + crc32(host) % (expiry/5), so
        # refetch load spreads over a 20% window and STAYS spread
        # (the per-host offset is stable across rounds).
        spread = max(1, int(cfg.robots_expiry / 5))
        ttl_eff = F.lit(cfg.robots_expiry) + (F.crc32("host") % F.lit(spread))
        stale = eff.filter(F.lit(now) - F.col("fetched_ts") >= ttl_eff)
        if stale.limit(1).count() == 0:
            # nothing to refetch — but if _load_robots RE-READ the dim
            # since the overlay was last folded in, self.robots is the
            # raw file frame and the fresher wire-fetched rules must be
            # re-applied (round-5 review, second pass: a dim touch
            # would silently regress overlaid hosts to stale rules)
            if ov is not None and self._robots_overlay_stat != self._robots_stat:
                self.robots = eff.localCheckpoint()
                self._robots_overlay_stat = self._robots_stat
            return
        spec, arg = cfg.http_transport, cfg.http_transport_arg
        timeout, max_r = cfg.http_timeout, cfg.max_redirects
        pool = max(1, cfg.http_pool)

        def fn(it):
            from concurrent.futures import ThreadPoolExecutor

            from pyspider_spark.engine.fetch_http import fetch_one, make_transport

            transport = make_transport(spec, arg)

            def one(h, ru, old):
                url = ru if isinstance(ru, str) and ru else f"http://{h}/robots.txt"
                r = fetch_one(
                    transport, url,
                    timeout=timeout, max_redirects=max_r,
                    max_content=1 << 20,
                )
                if r["code"] == 200 and r["content"] is not None:
                    return r["content"].decode("utf-8", errors="replace")
                if r["code"] == 404:
                    return ""  # definitive no-robots ⇒ allow-all
                # transient failure (599/5xx): KEEP the known rules —
                # a timeout must not flip a Disallow host to allow-all
                # for a whole TTL (round-5 review); fetched_ts still
                # advances so the retry waits out the next TTL instead
                # of hammering every round
                return old if isinstance(old, str) else ""

            # thread-pool fan-out (round-5 review: serial per-partition
            # fetches block the round for minutes on a wide stale set)
            with ThreadPoolExecutor(pool) as ex:
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    texts = list(
                        ex.map(one, pdf["host"], pdf["robots_url"], pdf["robots_txt"])
                    )
                    out = pdf[["host", "robots_url"]].copy()
                    out["robots_txt"] = texts
                    out["fetched_ts"] = float(now)
                    yield out

        fresh = stale.select("host", "robots_url", "robots_txt").mapInPandas(
            fn, "host string, robots_url string, robots_txt string, fetched_ts double"
        ).select("host", "robots_txt", "fetched_ts", "robots_url").localCheckpoint()
        ov = (
            fresh
            if ov is None
            else ov.join(fresh.select("host"), "host", "left_anti")
            .unionByName(fresh)
            .localCheckpoint()
        )
        self._robots_overlay = ov
        self.robots = (
            eff.join(fresh.select("host"), "host", "left_anti").unionByName(fresh)
        ).localCheckpoint()
        self._robots_overlay_stat = self._robots_stat

    def _load_projects(self) -> bool:
        """(Re)read the projects dim — hot-reload analog of
        ``projectdb.check_update`` polled per loop by the reference
        scheduler (S4): cheap stat check per round, re-read on change.
        Returns True when the dim actually changed (which also clears
        exception-burst pauses, mirroring re-enable on project update)."""
        try:
            st = os.stat(self.projects_path)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is not None and sig == self._proj_stat:
            return False
        first = self._proj_stat is None
        self._proj_stat = sig
        self.projects = self.spark.read.parquet(self.projects_path)
        # tiny dim — driver-side copy for cron/schedulability decisions
        self._proj_rows = {
            r["project"]: r.asDict() for r in self.projects.collect()
        }
        return not first

    # ---- snapshot-backed state reads -------------------------------------
    def _read(self, man: dict | None, name: str, schema) -> DataFrame:
        if man and name in man.get("tables", {}):
            return self.spark.read.parquet(self.snap.abspath(man["tables"][name]))
        return S.empty_df(self.spark, schema)

    def _write(self, df: DataFrame, r: int, name: str, partitions: int | None = None) -> str:
        path = self.snap.table_dir(r, name)
        (df.coalesce(partitions) if partitions else df).write.mode("overwrite").parquet(path)
        return self.snap.rel(path)

    _ARROW_TYPES = {"integer": "int32", "long": "int64", "double": "float64", "string": "string"}

    def _write_driver(self, rows: list[dict], schema, r: int, name: str) -> str:
        """Tiny-table parquet write via pyarrow (no Spark job); column
        types mirror the Spark StructType so multi-round reads union."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        fields = [
            pa.field(f.name, pa.type_for_alias(self._ARROW_TYPES[f.dataType.typeName()]))
            for f in schema.fields
        ]
        t = pa.Table.from_pylist(rows, schema=pa.schema(fields))
        path = self.snap.table_dir(r, name)
        os.makedirs(path, exist_ok=True)
        pq.write_table(t, os.path.join(path, "part-00000.parquet"))
        return self.snap.rel(path)

    # ---- partitioned frontier (merge-on-read; engine/frontier.py) -------
    def _read_frontier(self, dirs: dict[int, dict], pids) -> DataFrame:
        """MoR-resolved live rows of `pids` (base ⊖ delta-keys ⊕
        latest-delta; tombstones filtered)."""
        return FR.read_resolved(
            self.spark, self.snap, dirs, pids,
            broadcast_max_keys=self.cfg.frontier_broadcast_max_keys,
        )

    # ---- partitioned host_state (same MERGE layout as the frontier:
    # per-host token-bucket rows live in bucket(host) dirs; a round
    # rewrites only partitions whose hosts scheduled, the rest carry
    # forward by path — at 10^8+ hosts a full rewrite per round would
    # be the same scale bug the frontier had) ---------------------------
    def _host_state_dirs(self, man: dict | None) -> dict[int, str]:
        """pid -> dir map of the committed host_state partitions."""
        t = (man or {}).get("tables", {}).get("host_state") or {}
        return {int(p): rel for p, rel in t.items()}

    def _read_host_state(self, dirs: dict[int, str], pids=None) -> DataFrame:
        paths = [
            self.snap.abspath(rel)
            for p, rel in dirs.items()
            if pids is None or p in pids
        ]
        if not paths:
            return S.empty_df(self.spark, S.HOST_STATE_SCHEMA)
        return self.spark.read.schema(S.HOST_STATE_SCHEMA).parquet(*paths)

    # ---- seen-state blobs ------------------------------------------------
    def _blob_df(self, man: dict | None) -> DataFrame:
        """Previous-round blob state as BLOB_SCHEMA rows, WITHOUT the
        bytes transiting the driver: manifest entries (``{"table":
        rel}``) group into per-table parquet scans filtered to the pids
        each table still owns."""
        by_table: dict[str, list[int]] = {}
        for pid, ent in ((man or {}).get("blobs") or {}).items():
            by_table.setdefault(ent["table"], []).append(int(pid))
        parts = [
            self.spark.read.schema(BLOB_SCHEMA)
            .parquet(self.snap.abspath(rel))
            .filter(F.col("pid").isin(pids))
            for rel, pids in sorted(by_table.items())
        ]
        if not parts:
            return S.empty_df(self.spark, BLOB_SCHEMA)
        return reduce(DataFrame.unionByName, parts)

    def blob_state(self, pid: int) -> tuple[bytes | None, bytes | None, int]:
        """Driver-side read of one partition's current blob bytes
        (tests / inspection only — rounds never do this)."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        ent = (self.snap.read_manifest() or {}).get("blobs", {}).get(str(pid))
        if ent is None:
            return (None, None, 0)
        t = pq.read_table(self.snap.abspath(ent["table"]))
        t = t.filter(pc.equal(t["pid"], pid))
        if t.num_rows == 0:
            return (None, None, 0)
        row = t.to_pylist()[0]
        return (row["bloom_blob"], row["cuckoo_blob"], int(row["n_keys"] or 0))

    def _maybe_rebuild_blooms(
        self,
        man: dict | None,
        fr_dirs: dict[int, str],
        blob_df: DataFrame,
        blob_meta: dict,
        r: int,
    ) -> DataFrame:
        """Bloom growth path: partitions whose inserted-key count
        exceeds their sized capacity are rebuilt at 2x from the
        frontier keys — one grouped-map job over just those partitions,
        cuckoo shadows carried over by a pid join, the result written
        DISTRIBUTED as a blobs table (no bytes through the driver).
        Mutates blob_meta; returns the updated blob DataFrame."""
        cfg = self.cfg
        saturated = [
            int(p)
            for p, ent in blob_meta.items()
            if ent.get("n_keys", 0) > ent.get("capacity", cfg.bloom_expected_keys)
            and int(p) in fr_dirs
        ]
        if not saturated:
            return blob_df
        caps = {
            p: 2 * max(
                blob_meta[str(p)].get("n_keys", 0),
                blob_meta[str(p)].get("capacity", cfg.bloom_expected_keys),
            )
            for p in saturated
        }
        fr_sat = self._read_frontier(fr_dirs, saturated).select(
            pid_col(cfg.n_partitions).alias("pid"),
            seen_k_col().alias("seen_k"),
        )
        rebuilt = (
            rebuild_blooms(fr_sat, caps, cfg)
            .join(blob_df.select("pid", "cuckoo_blob"), "pid", "left")
            .select("pid", "bloom_blob", "cuckoo_blob", "n_keys")
        )
        out_dir = self.snap.table_dir(r, "blobs_rebuilt")
        rebuilt.write.mode("overwrite").parquet(out_dir)
        register_blob_table(
            blob_meta, out_dir, self.snap.rel(out_dir), cfg.bloom_expected_keys, caps
        )
        return (
            blob_df.filter(~F.col("pid").isin(saturated)).unionByName(
                self.spark.read.schema(BLOB_SCHEMA).parquet(out_dir)
            )
        )

    def frontier(self) -> DataFrame:
        """The full current frontier (all partition dirs of the last
        committed snapshot) — read-only convenience for tests/queries."""
        dirs = FR.entries_of(self.snap.read_manifest())
        return self._read_frontier(dirs, list(dirs))

    def frontier_asof(self, r: int) -> DataFrame:
        """Time travel (T2/T5 — Iceberg snapshot read analog): the
        frontier exactly as round `r` committed it, valid while that
        round's dirs are inside the snapshot GC retention window."""
        man = self.snap.read_manifest_asof(r)
        if man is None:
            raise ValueError(
                f"round {r} has no retained snapshot (gc'd or never committed)"
            )
        dirs = FR.entries_of(man)
        return self._read_frontier(dirs, list(dirs))

    # ---- cron (F9) --------------------------------------------------------
    def _cron_rows(
        self, cron_state: dict[str, int], now: float, paused: set[str] = frozenset()
    ) -> tuple[list, dict]:
        return cron_due_rows(
            self._proj_rows, cron_state, now, self.cfg.t0, paused
        )

    # ---- one round ----------------------------------------------------------
    def run_round(self, r: int, inject: DataFrame | None = None) -> dict:
        """One crawl round; :class:`_Round` owns its lifecycle."""
        rc = _Round()
        try:
            return self._run_round_impl(r, inject, rc)
        finally:
            rc.close()

    def _run_round_impl(self, r: int, inject: DataFrame | None, rc: _Round) -> dict:
        cfg, snap, spark = self.cfg, self.snap, self.spark
        now = cfg.now(r)
        man = snap.read_manifest()
        state = (man or {}).get("state", {})
        stored_n = state.get("n_partitions")
        if stored_n is not None and int(stored_n) != cfg.n_partitions:
            raise ValueError(
                f"state was committed with n_partitions={stored_n} but the "
                f"config says {cfg.n_partitions}; frontier dirs and seen-state "
                "blobs are bucketed by the committed value — use "
                "engine.migrate.migrate_partitions to re-bucket"
            )
        changed = self._load_projects()  # S4 hot-reload (stat-guarded)
        self._load_robots()  # S10 dim re-read (stat-guarded)
        self._refresh_robots(now)  # S10 TTL refetch (http stage only)
        # P6: exception-burst pauses; a project update re-enables
        paused: set[str] = set() if changed else set(state.get("paused", []))

        fr_dirs = FR.entries_of(man)
        # exact incremental live-row lineage (per pid), loaded PRE-round:
        # inserts add, settles/restarts replace, cancels recomputed
        # exactly post-write; also drives the concurrent compaction
        # decision below (fold the PREVIOUS rounds' deltas while this
        # round's fetch pipeline runs — the fold never reads this
        # round's delta, so the two are independent jobs)
        lin_prev = (man or {}).get("lineage", {}) or {}
        live = {int(p): int(v) for p, v in (lin_prev.get("frontier_pid_rows") or {}).items()}
        delta_tot = {
            int(p): int(v) for p, v in (lin_prev.get("frontier_delta_rows") or {}).items()
        }
        # frac == 0 is the explicit copy-on-write mode: fold THIS
        # round's delta synchronously at write time (below) instead
        pre_due = (
            FR.compaction_due(fr_dirs, live, delta_tot, cfg)
            if cfg.frontier_compact_frac > 0
            else []
        )
        follows = self._read(man, "follows", S.RAW_UPDATE_SCHEMA)
        hs_dirs = self._host_state_dirs(man)
        host_state = self._read_host_state(hs_dirs)

        cron_rows, cron_state = self._cron_rows(
            state.get("cron_count", {}), now, paused
        )
        raw = ensure_raw_columns(follows)
        if inject is not None:
            # External rows (seeds, admin injects) inherit the SOURCE's
            # partitioning into the narrow normalize mapInPandas — a
            # seed list landing as one parquet file would canonicalize
            # 10^6+ URLs in ONE task at any cluster width (measured:
            # round-0 normalize_probe flat in cores at bench scale).
            # One shuffle of the inject-sized rows buys cluster-width
            # normalization regardless of source layout; follows stay
            # narrow (they're already settle-write-wide).
            n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
            raw = raw.unionByName(ensure_raw_columns(inject).repartition(n_shuf))
        if cron_rows:
            cron_df = spark.createDataFrame(
                [(u, None, p, cb) for (u, p, cb) in cron_rows],
                "url string, canon_url string, project string, callback string",
            )
            raw = raw.unionByName(ensure_raw_columns(cron_df))

        # persist: cancels/probe/merge all branch off this pipeline — the
        # normalize (Python mapInPandas) must run once.
        upd_all = rc.persist(normalize_updates(raw, cfg))
        cancels = upd_all.filter(F.col("cancel")).dropDuplicates(["seen_k"])
        # A4 collapse feeds ONLY the merge — built lazily here, it
        # materializes inside the merge staging write over the warm
        # upd_all cache, off the probe critical path (the probe needs
        # just the distinct key set, below).
        upd = rc.persist(collapse_updates(upd_all.filter(~F.col("cancel"))))
        # Materialize the normalize cache NOW with one action: the probe
        # write below unions two branches (cancels ∪ keys) that both
        # scan upd_all — against a COLD cache, AQE materializes each
        # union branch as its own concurrent cache-build job, so the
        # Python normalize pass runs twice and races itself for cores
        # (measured as duplicate concurrent jobs in the event log).
        upd_all.count()

        # --- seen probe (J2/J3): pure cogrouped-map; previous blobs are
        # BLOB_SCHEMA rows (per-round parquet tables) shuffled to their
        # pid's task, updated blobs come back as binary state rows in
        # the written probe table and become the next blobs table below.
        blob_meta = dict((man or {}).get("blobs", {}))
        blob_df = self._blob_df(man)
        blob_df = self._maybe_rebuild_blooms(man, fr_dirs, blob_df, blob_meta, r)

        probe_cols = ["project", "taskid", "seen_k", "pid"]
        # the probe consumes only keys: distinct over the key columns
        # yields exactly one row per (project, taskid) — seen_k/pid are
        # key-functional (taskid = md5(canon_url); seen_k/pid derive
        # from canon/host) — identical to the collapsed key set without
        # waiting on the full-width collapse aggregation
        probe_in = cancels.select(*probe_cols, "cancel").unionByName(
            upd_all.filter(~F.col("cancel"))
            .select(*probe_cols)
            .distinct()
            .withColumn("cancel", F.lit(False))
        )
        probe_out = probe_and_update(probe_in, blob_df, cfg)
        probe_rel = self._write(probe_out, r, "probe")
        probe_abs = snap.abspath(probe_rel)

        # blob persistence: the state rows become the next round's blobs
        # table via a DISTRIBUTED narrow write (state rows prune by
        # parquet null-count stats) — the driver touches only the
        # (pid, n_keys) integers; blob bytes never leave the executors.
        blobs_dir = snap.table_dir(r, "blobs_tbl")

        def _write_blobs_tbl() -> None:
            """Small independent job + footer read — runs concurrent
            with the probe footer pass and the merge job below (joined
            before the manifest commit needs blob_meta)."""
            (
                spark.read.parquet(probe_abs)
                .filter(F.col("taskid").isNull())
                .select("pid", "bloom_blob", "cuckoo_blob", "n_keys")
                .write.mode("overwrite")
                .parquet(blobs_dir)
            )
            register_blob_table(
                blob_meta, blobs_dir, snap.rel(blobs_dir), cfg.bloom_expected_keys
            )

        f_blobs = rc.pool.submit(_write_blobs_tbl)
        # ONE Arrow pass over (pid, cancel): the update-touched
        # partition set and the cancel totals (reused by the rare
        # cancel-lineage recompute below)
        pc_counts = _parquet_group_counts(probe_abs, ["pid", "cancel"])
        touched_u = sorted({int(p) for p, _c in pc_counts})
        cancel_counts: dict[bool, int] = {}
        for (_p, c), n in pc_counts.items():
            cancel_counts[c] = cancel_counts.get(c, 0) + n
        had_cancels = cancel_counts.get(True, 0) > 0
        # collapsed row count == distinct non-cancel keys == the probe
        # table's cancel=false rows up to the ≤ n_partitions state rows
        # (which also carry cancel=false) — only used to bound the
        # merge-side broadcast hints, so the tiny overcount is safe and
        # saves the count() job the bound used to cost
        n_upd = cancel_counts.get(False, 0)

        probe_df = spark.read.parquet(probe_abs).filter(F.col("taskid").isNotNull())
        rc.mark("normalize_probe")

        # --- merge (steps 0-1), merge-on-read: compute only the rows
        # this round CHANGES (inserts, bloom-FP inserts, P4 restarts) —
        # the frontier scan over the update-touched partitions is only
        # streamed against the broadcast update batch, never rewritten.
        fr_res_t = self._read_frontier(fr_dirs, touched_u)
        if had_cancels:
            ck = bounded_broadcast(
                cancel_counts.get(True, 0), cfg.merge_broadcast_max_rows
            )(cancels.select(*KEY))
            fr_res_t = fr_res_t.join(ck, KEY, "left_anti")
        merge_out = merge_frontier_delta(
            fr_res_t, upd, probe_df.filter(~F.col("cancel")), now, r, cfg,
            upd_rows=n_upd,
        )
        # Materialize the merge output as a staging table and read it
        # back (same idiom as the probe table) instead of persist():
        # every downstream consumer — fr2/candidates→schedule, the
        # settle view, the final delta write — then plans against a
        # leaf parquet scan instead of re-embedding the MoR-resolve +
        # three-branch merge tree (a cached frame keeps its FULL
        # analyzed plan in every referencing query; the composed round
        # plan was measured at multi-GB of transient Catalyst nodes and
        # OOMed a 4 g driver at smoke scale). Changed rows only ⇒ the
        # write is schedule-bound, and unlike localCheckpoint it
        # survives executor loss on a real cluster.
        merge_abs = snap.abspath(self._write(merge_out, r, "merge"))
        mdelta = spark.read.schema(S.FRONTIER_MERGE_SCHEMA).parquet(merge_abs)
        n_merge = FR.parquet_rows(merge_abs)
        # changed-rows batches are broadcast into the frontier-scan
        # joins only under the bound (10^8-row rounds must not be
        # force-collected); above it AQE picks from observed sizes.
        # (settle-side joins get their own bound from n_sched below —
        # a scheduled row need not be a merge-changed row.)
        mb = bounded_broadcast(
            n_merge + cancel_counts.get(True, 0), cfg.merge_broadcast_max_rows
        )
        rc.mark("merge")
        fr_cols = FR.FR_COLS
        # post-merge view = resolved frontier ⊖ (changed ∪ cancelled
        # keys) ⊕ changed rows; the anti side is changed-rows-bound ⇒
        # broadcast under the bound, the big scan stays map-side
        anti_keys = mdelta.select(*KEY)
        if had_cancels:
            anti_keys = anti_keys.unionByName(cancels.select(*KEY))
        fr2 = (
            self._read_frontier(fr_dirs, list(fr_dirs))
            .join(mb(anti_keys), KEY, "left_anti")
            .unionByName(mdelta.select(*fr_cols))
        )

        # --- candidates (P2/P3/P6): full scan with status/exetime
        # pushdown (pruned columnar read — no rewrite implied)
        schedulable = [
            n
            for n, p in self._proj_rows.items()
            if p["status"] in SCHEDULABLE and n not in paused
        ]
        cands = candidates_filter(fr2, now, schedulable)

        # --- politeness (O1/O2/O3/J4) + per-project second cap (J5):
        # project bucket state is tiny (one float pair per project) and
        # lives in the manifest; refill math runs driver-side, the cap
        # itself inside the politeness pass. rate/burst NULL or ≥ 2^31
        # ⇒ project unthrottled (zero extra work).
        from pyspider_spark.kernels.bucket import refill_scalar

        proj_buckets = {
            k: tuple(v) for k, v in state.get("project_buckets", {}).items()
        }
        proj_tok: dict[str, float] = {}
        for name, p in self._proj_rows.items():
            rate, burst = p.get("rate"), p.get("burst")
            if rate is None or burst is None or rate >= 2**31 or burst >= 2**31:
                continue
            tokens, last = proj_buckets.get(name, (float(burst), now))
            proj_tok[name] = refill_scalar(
                float(tokens), float(last), now, float(rate), float(burst)
            )
        project_caps = {n: int(t) for n, t in proj_tok.items()}
        sched, blocked, checked = schedule_round(
            cands, self.robots, host_state, cfg, now,
            project_caps=project_caps, robots_rows=self.robots_rows,
        )
        sched, blocked = rc.persist(sched), rc.persist(blocked)
        rc.cached.append(checked)  # persisted by schedule_round

        # per-host deterministic sequence for the schedule log (the
        # crawl-order artifact the equivalence gate checks). Written
        # FIRST: it materializes merge+politeness and its footers give
        # the exact schedule size — which then drives the fetch-join
        # broadcast decision (no blind broadcast of an unbounded
        # schedule — ADVICE r1).
        from pyspark.sql import Window

        w = Window.partitionBy("host").orderBy(*order_cols())
        schedule_log = sched.select(
            F.lit(r).alias("round"),
            "host",
            (F.row_number().over(w) - 1).alias("seq_in_host"),
            "project",
            "taskid",
            "canon_url",
            "priority",
        )
        tables = dict((man or {}).get("tables", {}))
        sched_rel = self._write(schedule_log, r, "schedule")
        # project bucket consumption = post-budget scheduled counts (the
        # reference consumes one token per *dispatched* task) — free
        # from the schedule footers, mirrored by the simulator; the
        # schedule size (fetch-join broadcast bound) is their sum —
        # one Arrow pass for both.
        proj_counts = _parquet_group_counts(snap.abspath(sched_rel), ["project"])
        n_sched = sum(proj_counts.values())
        proj_buckets_next = dict(proj_buckets)
        for (name,), cnt in proj_counts.items():
            if name in proj_tok and cnt > 0:
                proj_buckets_next[name] = (proj_tok[name] - cnt, now)
        rc.mark("schedule")

        # --- concurrent compaction (Iceberg rewrite_data_files analog):
        # folds the PRE-round bases+deltas of the due partitions while
        # the fetch/settle pipeline runs (the dominant phase leaves
        # executor gaps the fold fills; measured serial fold cost was
        # most of frontier_write in the dense regime). It reads only
        # committed round-(r-1) files — never this round's delta — and
        # old dirs are kept until snapshot GC, so the round's other
        # frontier reads are unaffected. Joined after the delta append.
        comp_fut = None
        comp_ents: dict[int, dict] = {}
        if pre_due:
            # compact() mutates its entries map — hand it a private copy
            comp_ents = {p: FR.norm_entry(e) for p, e in fr_dirs.items()}
            comp_fut = rc.pool.submit(
                FR.compact,
                spark,
                snap,
                comp_ents,
                pre_due,
                snap.table_dir(r, "frontier_base"),
                cfg.n_partitions,
                cfg.frontier_rowgroup_bytes,
                cfg.frontier_broadcast_max_keys,
            )

        # --- host_state carry-over (only hosts that actually scheduled;
        # merged into the pid-partitioned layout post-settle, below)
        hs_new = (
            sched.filter(F.col("host") != "")
            .groupBy("host")
            .agg(
                (F.first("refilled") - F.count("*")).alias("tokens"),
                F.lit(now).alias("last_ts"),
            )
        )

        # --- fetch + extract (J1, F5/F7): stage selected by config —
        # the simulated join (sandbox) or the production HTTP stage
        # (transport-injectable; engine/fetch_http). Identical output
        # schema, shared extraction tail.
        if cfg.fetch_stage == "http":
            from pyspider_spark.engine.fetch_http import fetch_http_and_extract

            fx_out = fetch_http_and_extract(sched, cfg)
        else:
            fx_out = fetch_and_extract(
                sched, self.pages_canon, cfg, sched_rows=n_sched,
                corpus_rows=self.pages_rows,
            )
        # Project text → text_len BEFORE the persist: no settle/result/
        # follow consumer ever reads the text bytes again (results store
        # text_len; follows need links; settle needs proc flags), so
        # caching the full extracted text was ~7 KB × schedule rows of
        # pure cache/spill volume per round — on this box's FLAT ~1 GB/s
        # disk subsystem (BENCH ceiling probes) the spill was a
        # core-count-invariant tax on every dense round, and at 10^8-row
        # production rounds it's cluster-wide cache pressure for bytes
        # nobody reads. Full text lands in sinks only where a sink
        # explicitly asks (debug_one, corpus jobs run their own plans).
        fetched = rc.persist(
            fx_out.withColumn(
                "text_len", F.length(F.coalesce("text", F.lit("")))
            ).drop("text")
        )
        # proc_ok, not raw code: @catch_status_code_error callbacks
        # settle SUCCESS from the handler outcome (U3). 304 rows
        # (conditional-refetch hit, HTTP stage only) settle SUCCESS but
        # are EXCLUDED here: content is unchanged, so the stored result
        # stands and no new result/follow rows are emitted.
        ok = fetched.filter(
            F.col("proc_ok") & (F.col("code") != FETCH_NOT_MODIFIED)
        )

        res_fields = [
            F.col("text_len"),
            F.coalesce(F.size("links"), F.lit(0)).alias("n_links"),
        ]
        if cfg.analyze:
            res_fields += [
                F.col("analysis.token_count").alias("token_count"),
                F.col("analysis.lang_guess").alias("lang_guess"),
                F.col("analysis.quality").alias("quality"),
                F.col("analysis.simhash").alias("simhash"),
            ]
        results = ok.select(
            "project",
            "taskid",
            F.col("canon_url").alias("url"),
            F.to_json(F.struct(*res_fields)).alias("result"),
            F.lit(now).alias("updatetime"),
        )
        # --- follows (U2) with @config defaults of the TARGET callback
        # (U1/U3): src callback → (follow_callback, its priority/age)
        # via tiny literal maps; plus message rows (U4) through the
        # same union, targeted at the receiving project.
        from pyspider_spark import handlers as H

        fmeta = {
            name: (
                h.follow_callback,
                H.get(h.follow_callback).priority,
                float(H.get(h.follow_callback).age),
            )
            for name, h in H.REGISTRY.items()
        }
        cbm = F.create_map(*[F.lit(x) for n in sorted(fmeta) for x in (n, fmeta[n][0])])
        prm = F.create_map(*[F.lit(x) for n in sorted(fmeta) for x in (n, fmeta[n][1])])
        agm = F.create_map(*[F.lit(x) for n in sorted(fmeta) for x in (n, fmeta[n][2])])
        src = F.col("callback")
        new_follows = ok.select(
            F.explode("links").alias("url"), F.col("project"), F.col("callback")
        ).select(
            "url",
            "project",
            F.col("url").alias("canon_url"),
            F.coalesce(cbm[src], F.lit("index_page")).alias("callback"),
            F.coalesce(prm[src], F.lit(0)).cast("int").alias("priority"),
            F.coalesce(agm[src], F.lit(-1.0)).alias("age"),
        )
        msg_rows = ok.select(F.explode("messages").alias("m")).select(
            F.concat(
                F.lit("data:,_on_message|"), F.substring_index("m", "\x1f", -1)
            ).alias("url"),
            F.substring_index("m", "\x1f", 1).alias("project"),
        ).select(
            "url",
            "project",
            F.col("url").alias("canon_url"),
            F.lit("_on_message").alias("callback"),
            F.lit(0).alias("priority"),
            F.lit(-1.0).alias("age"),
        )
        new_follows = new_follows.unionByName(msg_rows)

        # --- settlement (steps 9 + robots BAD): per-key status deltas.
        # Each row carries its pid so the frontier rewrite below knows
        # exactly which partitions the settles touch.
        retry_case = retry_delay_expr(cfg)

        # track capture (F11): the status-pack trace the reference
        # writes back into taskdb rows (track.fetch / track.process),
        # error strings pre-truncated in the dispatch UDF
        track = F.to_json(
            F.struct(
                F.struct(
                    # 304 is an ok fetch (content verified unchanged —
                    # the reference's Response.ok covers it)
                    F.col("code").isin(200, FETCH_NOT_MODIFIED).alias("ok"),
                    F.col("code").alias("status_code"),
                    # wire metadata from the HTTP stage (nulls on the
                    # simulated join — to_json drops them, so join-path
                    # track bytes are unchanged)
                    F.col("redirect_url").alias("redirect_url"),
                    F.from_json("fetch_headers", "map<string,string>").alias(
                        "headers"
                    ),
                    F.col("fetch_error").alias("error"),
                ).alias("fetch"),
                F.struct(
                    F.col("proc_ok").alias("ok"),
                    F.coalesce(F.size("links"), F.lit(0)).alias("follows"),
                    F.col("proc_error").alias("exception"),
                ).alias("process"),
            )
        ).alias("track")

        spid = pid_col(cfg.n_partitions).alias("pid")
        # ONE scan of `fetched` for both outcomes (CASE WHEN on proc_ok)
        # instead of settle_ok ∪ settle_fail: two union branches over
        # the not-yet-materialized `fetched` cache make AQE build the
        # cache twice concurrently (each branch becomes its own
        # cache-materialization job → the extract UDF runs 2x over the
        # full page batch, measured in the event log).
        is_ok = F.col("proc_ok")
        recrawl = F.col("auto_recrawl") & (F.col("age") >= 0)
        can_retry = F.col("retries_left") > 0
        settle_of = fetched.select(
            *KEY,
            spid,
            track,
            F.when(is_ok & recrawl, F.lit(ACTIVE))
            .when(is_ok, F.lit(SUCCESS))
            .when(can_retry, F.lit(ACTIVE))
            .otherwise(F.lit(FAILED))
            .alias("new_status"),
            F.when(is_ok & recrawl, F.lit(now) + F.col("age"))
            .when(~is_ok & can_retry, F.lit(now) + retry_case)
            .alias("new_exetime"),
            F.when(is_ok, F.lit(None).cast("int"))
            .when(can_retry, F.col("retries_left") - 1)
            .otherwise(F.col("retries_left"))
            .alias("new_retries_left"),
            F.when(is_ok, F.lit(now)).alias("new_lastcrawltime"),
            # conditional-refetch validators captured from 200-response
            # headers. validators_fresh marks rows whose response IS
            # the authority on validators: a 200 REPLACES the stored
            # pair even when the server sent none (a validator-less
            # 200 after a content change must CLEAR the old etag, or a
            # later revert to the old content would 304 against a
            # stored result that no longer matches — round-5 review);
            # a 304/failed/join-path row carries the stored pair.
            # proc_ok is required too (round-5 review, second pass): a
            # 200 whose HANDLER raised stores no result, so storing
            # its validators would let the retry 304 and settle
            # SUCCESS against the previous, now-stale stored result.
            ((F.col("code") == 200) & is_ok).alias("validators_fresh"),
            F.when(
                F.col("code") == 200,
                F.get_json_object("fetch_headers", "$.etag"),
            ).alias("new_etag"),
            F.when(
                F.col("code") == 200,
                F.get_json_object("fetch_headers", "$['last-modified']"),
            ).alias("new_last_modified"),
            # processor exceptions are a distinct kind: they feed the
            # P6 exception-burst pause below
            F.when(is_ok, F.lit("ok"))
            .when(F.col("proc_error").isNotNull(), F.lit("err"))
            .otherwise(F.lit("fail"))
            .alias("kind"),
        )
        # robots BAD: the columns it leaves out union in as NULL
        settle_bad = blocked.select(
            *KEY,
            spid,
            F.lit(BAD).alias("new_status"),
            F.lit(False).alias("validators_fresh"),
            F.lit("blocked").alias("kind"),
        )
        settle = settle_of.unionByName(settle_bad, allowMissingColumns=True)

        # The settle write runs ALONE first: it is the job that
        # materializes the fetch+extract pipeline into the `fetched`
        # cache exactly once. Launching sibling sinks concurrently
        # here would each race to compute the cold cache — measured
        # 3.5x slower at bench scale (3 jobs × full page scan +
        # extraction) — so the sinks below start only after this
        # barrier, serving warm cache.
        settle_rel = self._write(settle, r, "settle")
        # follows/results read the now-warm `fetched` cache and don't
        # need the settle footers — start them before the driver's
        # Arrow pass so the footer read overlaps executor work
        f_follows = rc.pool.submit(self._write, new_follows, r, "follows")
        f_results = rc.pool.submit(self._write, results, r, "results")
        # ONE Arrow pass over (project, kind, pid): totals for the
        # metrics row, the A2 per-project counter table, the P6
        # exception-burst detector, AND the touched-partition set for
        # the frontier delta write
        pkp_counts = _parquet_group_counts(
            snap.abspath(settle_rel), ["project", "kind", "pid"]
        )
        pk_counts: dict[tuple, int] = {}
        kind_counts: dict[str, int] = {}
        settle_pids: set[int] = set()
        for (proj, kind, pid), cnt in pkp_counts.items():
            pk_counts[(proj, kind)] = pk_counts.get((proj, kind), 0) + cnt
            kind_counts[kind] = kind_counts.get(kind, 0) + cnt
            settle_pids.add(int(pid))
        for name, p in self._proj_rows.items():
            if (
                pk_counts.get((name, "err"), 0) >= cfg.exception_limit
                and p["status"] in SCHEDULABLE
            ):
                paused.add(name)
        rc.mark("fetch_settle")

        # remaining sinks: cache-served concurrent jobs (fetched and
        # mdelta are warm now)
        def _write_host_state_merge() -> dict[str, str]:
            """Touch-only host_state rewrite (MERGE semantics, same as
            the frontier): every scheduled row settles in-round, so
            pids(hs_new) ⊆ settle_pids — rewrite those partitions,
            carry the rest forward by path."""
            carried = {p: rel for p, rel in hs_dirs.items() if p not in settle_pids}
            base = self._read_host_state(hs_dirs, settle_pids)
            out = base.join(hs_new.select("host"), "host", "left_anti").unionByName(hs_new)
            d = snap.table_dir(r, "host_state")
            (
                out.withColumn("pid", pid_col(cfg.n_partitions))
                .repartition(F.col("pid"))
                .write.mode("overwrite")
                .partitionBy("pid")
                .parquet(d)
            )
            m = {**carried, **{p: snap.rel(x) for p, x in FR.pid_dirs(d).items()}}
            return {str(p): rel for p, rel in sorted(m.items())}

        f_host = rc.pool.submit(_write_host_state_merge)

        # --- frontier delta write (merge-on-read): ONE small delta dir
        # holding only this round's changed rows — post-merge full rows
        # for settled keys, merge output for unsettled changed keys,
        # tombstones for cancels. Base files are NEVER rewritten here;
        # compaction below folds deltas on the RoundConfig thresholds.
        touched_all = sorted(set(touched_u) | settle_pids)
        # full post-merge rows for the settled keys: the settle-touched
        # partitions' resolved view ⊕ merge delta, streamed against the
        # broadcast settle batch (every settle key is in this view —
        # sched ⊂ cands ⊂ fr2)
        # settle-side joins: bounded like the merge side, from the
        # schedule footer count (every scheduled row settles)
        msb = bounded_broadcast(n_sched, cfg.merge_broadcast_max_rows)
        view_sp = (
            self._read_frontier(fr_dirs, sorted(settle_pids))
            .join(mb(anti_keys), KEY, "left_anti")
            .withColumn("is_new", F.lit(False))
            .unionByName(mdelta.select(*fr_cols, "is_new"))
        )
        settle_full = (
            view_sp.alias("o")
            .join(msb(settle.drop("pid")).alias("s"), KEY, "inner")
            .select(
                *KEY,
                *[
                    F.col(f"o.{c}").alias(c)
                    for c in fr_cols
                    if c
                    not in (
                        *KEY, "status", "exetime", "retries_left",
                        "lastcrawltime", "updatetime", "etag", "last_modified",
                    )
                ],
                F.coalesce("s.new_status", "o.status").alias("status"),
                F.coalesce("s.new_exetime", "o.exetime").alias("exetime"),
                F.coalesce("s.new_retries_left", "o.retries_left").alias("retries_left"),
                F.coalesce("s.new_lastcrawltime", "o.lastcrawltime").alias("lastcrawltime"),
                # validators: a 200 response is authoritative (REPLACES
                # the stored pair, clearing it when the server sent
                # none); every other settle carries the stored pair
                F.when(F.col("s.validators_fresh"), F.col("s.new_etag"))
                .otherwise(F.col("o.etag"))
                .alias("etag"),
                F.when(
                    F.col("s.validators_fresh"), F.col("s.new_last_modified")
                )
                .otherwise(F.col("o.last_modified"))
                .alias("last_modified"),
                F.lit(now).alias("updatetime"),  # settle always stamps
                # a key inserted AND settled in the same round (every
                # round-0 seed) is still an insert for live-row lineage
                F.col("o.is_new").alias("is_new"),
            )
            .select(*fr_cols, "is_new")
        )
        # within-round precedence, resolved at write time so each key
        # appears at most once per dseq: settle > merge > tombstone
        delta_df = (
            mdelta.join(msb(settle.select(*KEY)), KEY, "left_anti")
            .select(*fr_cols, "is_new")
            .unionByName(settle_full)
            .withColumn("is_delete", F.lit(False))
            .withColumn("pid", pid_col(cfg.n_partitions))
        )
        if had_cancels:
            tomb = cancels.join(
                mb(mdelta.select(*KEY)), KEY, "left_anti"
            ).select(
                *KEY,
                *FR.tombstone_cols(),
                F.lit(False).alias("is_new"),
                F.lit(True).alias("is_delete"),
                F.col("pid"),
            )
            delta_df = delta_df.unionByName(tomb)
        delta_out = snap.table_dir(r, "frontier_delta")
        (
            delta_df.withColumn("dseq", F.lit(r).cast("long"))
            .repartition(F.col("pid"))  # cluster rows → one file per pid dir
            .write.mode("overwrite")
            .partitionBy("pid")
            .parquet(delta_out)
        )
        entries = {p: FR.norm_entry(e) for p, e in fr_dirs.items()}
        d_rows, ins_rows = FR.append_round_delta(snap, entries, delta_out)

        # join the concurrent fold: a compacted pid's entry becomes the
        # fresh base plus ONLY the delta this round appended (fr_dirs
        # still holds the pre-round delta lists, so the fold-boundary
        # is exact); its live count resets to the folded footer count
        # before this round's inserts are applied below
        compacted: list[int] = []
        if comp_fut is not None:
            comp_rows = comp_fut.result()
            compacted = sorted(comp_rows)
            for p, n in comp_rows.items():
                n_prev = len((fr_dirs.get(p) or {}).get("deltas") or [])
                rest = entries[p]["deltas"][n_prev:] if p in entries else []
                new_base = (comp_ents.get(p) or {}).get("base")
                if n == 0 and new_base is None and not rest:
                    entries.pop(p, None)
                    live.pop(p, None)
                    delta_tot.pop(p, None)
                    continue
                entries[p] = {"base": new_base, "deltas": rest}
                live[p] = n
                delta_tot[p] = 0
        for p, n in ins_rows.items():
            live[p] = live.get(p, 0) + n
        for p, n in d_rows.items():
            delta_tot[p] = delta_tot.get(p, 0) + n
        if had_cancels:
            # rare path: tombstones may or may not have hit live rows —
            # recompute those partitions' live counts exactly
            cpids = sorted(int(p) for (p, c), _n in pc_counts.items() if c)
            for p in cpids:
                live[p] = 0
            for row in (
                self._read_frontier(entries, cpids)
                .groupBy(pid_col(cfg.n_partitions).alias("pid"))
                .count()
                .collect()
            ):
                live[int(row["pid"])] = int(row["count"])

        # --- synchronous fold (write-time), three triggers:
        #  * frac == 0 — explicit copy-on-write mode: everything, every round;
        #  * the global key bound — the invariant that keeps the NEXT
        #    round's read-side delta-key broadcasts provably small;
        #  * base-less partitions (born this round — e.g. every
        #    partition of the seed round): folding them costs only
        #    O(this round's rows), gives them the exetime-clustered
        #    base layout immediately, and keeps later rounds'
        #    touch-only promise exact (an untouched BASED partition is
        #    never rewritten by the round itself — ratio/dir-bound
        #    folds of based partitions run on the concurrent path above)
        fold_all = cfg.frontier_compact_frac == 0 or (
            sum(delta_tot.values()) > cfg.frontier_delta_max_keys
        )
        due = sorted(
            p
            for p, e in entries.items()
            if e["deltas"] and (fold_all or e["base"] is None)
        )
        if due:
            comp_rows = FR.compact(
                self.spark, snap, entries, due,
                snap.table_dir(r, "frontier_base_sync"),
                cfg.n_partitions, cfg.frontier_rowgroup_bytes,
                cfg.frontier_broadcast_max_keys,
            )
            compacted = sorted(set(compacted) | set(comp_rows))
            for p, n in comp_rows.items():
                delta_tot.pop(p, None)
                if n == 0:
                    live.pop(p, None)
                else:
                    live[p] = n
        live = {p: n for p, n in live.items() if p in entries}
        tables["frontier"] = {str(p): entries[p] for p in sorted(entries)}
        rc.mark("frontier_write")

        # --- drain the concurrent sinks; per-round tables accumulate
        def add(name: str, rel: str) -> None:
            tables[name] = list(tables.get(name, [])) + [rel]

        tables["follows"] = f_follows.result()
        tables["host_state"] = f_host.result()
        tables["probe"] = probe_rel
        add("results", f_results.result())
        add("schedule", sched_rel)
        add("settle", settle_rel)

        # --- counts from written artifacts (driver-side, no Spark jobs)
        counts = {
            "scheduled": n_sched,
            "ok": kind_counts.get("ok", 0),
            # processor exceptions count as failures (on_task_failed path)
            "failed": kind_counts.get("fail", 0) + kind_counts.get("err", 0),
            "robots_blocked": kind_counts.get("blocked", 0),
            # inserted keys are counted exactly by the delta's is_new
            # flag (a key is inserted iff the seen probe admitted it)
            "new_urls": sum(ins_rows.values()),
            "frontier": sum(live.values()),
        }
        # migration signal: when the largest partition outgrows the
        # design point, run migrate_partitions
        pid_max = max(live.values(), default=0)

        # metrics tables are a handful of rows — written driver-side
        # with pyarrow (schema matches the Spark StructTypes so
        # spark.read.parquet over round files unions cleanly); zero
        # Spark jobs spent on metrics.
        wall = time.perf_counter() - rc.t_start
        add("metrics", self._write_driver(
            [{"round": r, **counts, "wall_s": wall}], S.METRICS_SCHEMA, r, "metrics"
        ))
        # A2 — per-project counters (libs/counter.py analog): one row
        # per (round, project, kind) at the round's logical time; the
        # 5m/1h/1d windows are a rollup over this table
        # (engine/results.py — project_window_counts).
        if pk_counts:
            add("metrics_project", self._write_driver(
                [
                    {"round": r, "project": proj, "kind": kind,
                     "cnt": int(cnt), "now": now}
                    for (proj, kind), cnt in sorted(pk_counts.items())
                ],
                S.METRICS_PROJECT_SCHEMA,
                r,
                "metrics_project",
            ))

        f_blobs.result()  # blob_meta complete before it is committed
        snap.commit(
            {
                "round": r,
                "tables": tables,
                "blobs": blob_meta,
                "state": {
                    "cron_count": cron_state,
                    "n_partitions": cfg.n_partitions,
                    "paused": sorted(paused),
                    "project_buckets": {
                        k: list(v) for k, v in proj_buckets_next.items()
                    },
                },
                "lineage": {
                    "round": r,
                    "now": now,
                    "touched_pids": touched_all,
                    # per-pid live rows (exact, incrementally maintained;
                    # refreshed from footers at compaction) + outstanding
                    # delta rows (drives the MoR compaction triggers)
                    "frontier_pid_rows": {str(p): n for p, n in sorted(live.items())},
                    "frontier_delta_rows": {
                        str(p): n for p, n in sorted(delta_tot.items()) if n
                    },
                    "compacted_pids": compacted,
                    "counts": {**counts, "frontier_pid_max": pid_max},
                },
            }
        )
        rc.mark("sinks_commit")
        return {
            "phase_s": rc.phase_s,
            "round": r,
            **counts,
            "frontier_pid_max": pid_max,
            "wall_s": wall,
        }

    # ---- multi-round driver ---------------------------------------------
    def run_rounds(
        self,
        rounds: int,
        seeds: DataFrame | None = None,
        inject_at: dict[int, DataFrame] | None = None,
        stop_when_quiet: bool = False,
    ) -> list[dict]:
        """Run rounds starting after the last committed one (resume).
        Seeds are injected at round 0 only (ignored on resume past 0)."""
        man = self.snap.read_manifest()
        start = (man["round"] + 1) if man else 0
        inject_at = dict(inject_at or {})
        if seeds is not None and start == 0:
            base = inject_at.get(0)
            inject_at[0] = (
                ensure_raw_columns(base).unionByName(ensure_raw_columns(seeds))
                if base is not None
                else seeds
            )
        out = []
        for r in range(start, start + rounds):
            m = self.run_round(r, inject_at.get(r))
            out.append(m)
            # auto-split: when the largest frontier partition outgrows the
            # configured bound, double the bucket count between rounds so
            # touch-only rewrite granularity and blob parallelism track
            # corpus growth (the Iceberg analog is a partition-spec
            # evolution; here it is the same driver-side admin op an
            # operator would run on the frontier_pid_max lineage signal).
            cap = self.cfg.max_rows_per_partition
            if cap is not None and m["frontier_pid_max"] > cap:
                from pyspider_spark.engine.migrate import migrate_partitions

                m["migration"] = migrate_partitions(
                    self, 2 * self.cfg.n_partitions
                )
            if stop_when_quiet and m["scheduled"] == 0 and m["new_urls"] == 0:
                break
        return out

    # ---- single-task debug (webui/debug.py — run()) -----------------------
    def debug_one(self, url: str) -> dict:
        """Fetch+extract one url against the pages table, no state writes
        (mirrors the WebUI debug run, SURVEY §3.3)."""
        from pyspider_spark.kernels.canon import canonicalize, url_host

        cu = canonicalize(url)
        one = self.spark.createDataFrame(
            [(cu, "debug", "debug", url, url_host(cu), 0, 0.0, -1.0, False, "index_page", 0)],
            "canon_url string, project string, taskid string, url string, host string, "
            "priority int, exetime double, age double, auto_recrawl boolean, "
            "callback string, retries_left int",
        )
        row = fetch_and_extract(one, self.pages_canon, self.cfg, sched_rows=1).collect()[0]
        return {
            "url": cu,
            "status_code": row["code"],
            "text": row["text"],
            "follows": list(row["links"] or []),
        }
