"""Driver-contract queries: every SQL-expressible operator from
SURVEY.md §2 plus the training-data pipeline ops (dedup / similarity /
text analysis), each paired with a DuckDB oracle (SURVEY §5.2.5).

Design for oracle fidelity
--------------------------
The driver runs each ``queries()[name]`` on Spark and the matching
``oracle_sql()[name]`` on DuckDB over the same parquet tables, then
compares row-count + schema + order-insensitive value hash. One ordered
registry, ``GATES``, maps every gate name to its (Spark query, DuckDB
oracle) pair; ``build_queries`` and ``build_oracles`` are its two
columns. A gate is one of two kinds:

- engine-backed: the Spark side calls the engine function the crawl
  round (or the corpus pipeline) runs — pandas-UDF kernels, the
  politeness pass, the seen probe, the MERGE — against a handwritten
  DuckDB oracle that states the spec directly;
- pure-SQL pair: array/lambda SQL where the dialects differ only in
  function names (``transform``/``list_transform``, ``explode``/
  ``unnest`` …); both strings come from the same Python helpers so the
  *semantics* are written once.

Order rule: every engine-backed gate comes before every pure-SQL pair.
The driver checks only the first 50 gates, and only engine-backed gates
can be broken by an engine change, so they must all fall inside that
window.

Float-valued outputs are rounded to 6 (or fewer) decimals on BOTH
sides before comparison; every computed column is aliased identically.

Crawl-core queries derive a deterministic frontier from the driver's
``orders`` table (urls, hosts, priorities, exetimes, statuses are pure
functions of o_orderkey/o_custkey) so the same derivation is written in
the oracle — no private fixture data is involved in the gate.

Reference parity notes cite dulci/pyspider symbols per SURVEY §2
(e.g. O1 ``scheduler/task_queue.py — InQueueTask.__lt__``).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

T0 = 1767225600.0  # 2026-01-01T00:00:00Z — the engine's logical-clock epoch
NOW = T0 + 50.0  # round's logical now for the exetime gate (P3)
BURST = 10  # politeness bucket capacity (projectdb rate/burst analog)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    # UTC session tz so timestamp field extraction matches DuckDB's
    # naive-as-UTC semantics regardless of the host session default.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf = sf_dir.rstrip("/")
    for t in TABLES:
        spark.read.parquet(f"{sf}/{t}.parquet").createOrReplaceTempView(t)


# =====================================================================
# Shared CTE fragments
# =====================================================================

# Deterministic frontier derived from `orders` (taskid=md5(url) per F1;
# status enum per database/base/taskdb.py ACTIVE=1/SUCCESS=2/FAILED=3).
FRONTIER_CTE = """
frontier AS (
  SELECT
    o_orderkey AS k,
    concat('host', o_custkey % 50, '.example') AS host,
    concat('http://host', o_custkey % 50, '.example/o/', o_orderkey) AS url,
    CAST(o_orderkey % 10 AS INT) AS priority,
    1767225600.0 + CAST(o_orderkey % 100 AS DOUBLE) AS exetime,
    CASE o_orderstatus WHEN 'O' THEN 1 WHEN 'F' THEN 2 ELSE 3 END AS status,
    concat('p', o_orderkey % 3) AS project,
    CAST(o_orderkey % 5 AS INT) AS retried,
    o_totalprice AS totalprice
  FROM orders
)
"""

# Documents augmented with injected duplicates so dedup operators have
# non-trivial positives: +1000000 = near-dup (padded tail), +2000000 =
# exact copy.
DOCS_AUG_CTE = """
docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, concat(text, ' zz extra pad token') AS text
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 25 = 0
)
"""


def _tok_cte(dialect: str, src: str = "documents") -> str:
    """tokens = lower, split on non-alnum, drop empties — identical
    semantics in both dialects (F7-adjacent text normalization)."""
    if dialect == "spark":
        return (
            f"tok AS (SELECT doc_id, filter(split(lower(text), '[^a-z0-9]+'), "
            f"t -> t != '') AS toks FROM {src})"
        )
    return (
        f"tok AS (SELECT doc_id, list_filter(string_split_regex(lower(text), "
        f"'[^a-z0-9]+'), t -> t <> '') AS toks FROM {src})"
    )


def _grams_cte(dialect: str) -> str:
    """3-word shingles per doc, distinct (MinHash/Jaccard input)."""
    if dialect == "spark":
        return """
grams AS (
  SELECT DISTINCT doc_id, gram FROM tok
  LATERAL VIEW explode(
    CASE WHEN size(toks) >= 3
         THEN transform(sequence(1, size(toks) - 2),
              i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))
         ELSE CAST(array() AS array<string>) END) g AS gram
)"""
    return """
grams AS (
  SELECT DISTINCT doc_id, u.gram AS gram FROM tok,
  unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
         i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))) AS u(gram)
)"""


def _h32(dialect: str, expr: str) -> str:
    """Portable 32-bit hash: first 8 hex chars of md5 as BIGINT."""
    if dialect == "spark":
        return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _vec_cte(dialect: str) -> str:
    """embeddings as double lists + the fixed query vector (vec_id=0)."""
    if dialect == "spark":
        return """
e AS (SELECT vec_id, transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
q AS (SELECT ev AS qv FROM e WHERE vec_id = 0)"""
    return """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev FROM embeddings),
q AS (SELECT ev AS qv FROM e WHERE vec_id = 0)"""


def _dot(dialect: str, a: str, b: str) -> str:
    """Dot product of two equal-length double lists, summed left-to-
    right in both engines (fp-identical)."""
    if dialect == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
    return f"list_dot_product({a}, {b})"


def _cosine(dialect: str, a: str, b: str) -> str:
    return (
        f"round({_dot(dialect, a, b)} / "
        f"(sqrt({_dot(dialect, a, a)}) * sqrt({_dot(dialect, b, b)})), 6)"
    )


# =====================================================================
# Spec oracles of the crawl-spine gates: plain SQL run by DuckDB, while
# the Spark side drives the engine kernel, expression or join the round
# runs (the q_* functions below)
# =====================================================================

# F1 — taskid = md5(url) (libs/utils.py — md5string; base_handler.get_taskid)
ORACLE_TASKID_MD5 = f"""
WITH {FRONTIER_CTE}
SELECT k, url, md5(url) AS taskid FROM frontier
"""

# F10 — host extraction (politeness key)
ORACLE_HOST_EXTRACT = f"""
WITH {FRONTIER_CTE}
SELECT k, regexp_extract(url, 'http://([^/]+)/', 1) AS host FROM frontier
"""

# P2/P3/P6 — schedulable candidates: ACTIVE, due, project RUNNING
ORACLE_CANDIDATES = f"""
WITH {FRONTIER_CTE}
SELECT k, url, host, priority, exetime, project FROM frontier
WHERE status = 1 AND exetime <= {NOW} AND project IN ('p0', 'p1')
"""

# O1 — priority order per host (scheduler/task_queue.py — InQueueTask.__lt__)
ORACLE_PRIORITY_RANK = f"""
WITH {FRONTIER_CTE}
SELECT k, host, priority,
  row_number() OVER (PARTITION BY host
                     ORDER BY priority DESC, exetime ASC, md5(url) ASC) AS rnk
FROM frontier WHERE status = 1
"""

# O1+O2+O3 — stateless politeness round: per-host top-burst admission
ORACLE_SCHEDULE_STATEFUL = f"""
WITH {FRONTIER_CTE},
cand AS (
  SELECT k, url, host, priority, exetime, md5(url) AS taskid FROM frontier
  WHERE status = 1 AND exetime <= {NOW} AND project IN ('p0', 'p1')
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
            ORDER BY priority DESC, exetime ASC, taskid ASC) AS rnk
  FROM cand
)
SELECT k, host, url, priority, CAST(rnk - 1 AS INT) AS seq_in_host
FROM ranked WHERE rnk <= {BURST}
"""

# J2 — URL-seen anti-join (taskdb.get_task dedup; bloom-verified path)
ORACLE_SEEN_ANTIJOIN = f"""
WITH {FRONTIER_CTE}
SELECT f.k, f.url FROM frontier f
WHERE NOT EXISTS (
  SELECT 1 FROM frontier s WHERE s.k % 2 = 0 AND s.url = f.url)
"""

# U1+A4 — follows union + duplicate collapse keeping max priority /
# min exetime (scheduler/task_queue.py — PriorityTaskQueue.put dedup)
ORACLE_FOLLOWS_COLLAPSE = """
WITH f1 AS (
  SELECT concat('http://host', l_suppkey % 50, '.example/p/', l_partkey) AS url,
         CAST(l_linenumber AS INT) AS priority,
         1767225600.0 + CAST(l_orderkey % 60 AS DOUBLE) AS exetime
  FROM lineitem WHERE l_orderkey % 4 = 0
),
f2 AS (
  SELECT concat('http://host', l_partkey % 50, '.example/p/', l_suppkey) AS url,
         CAST(CAST(l_quantity AS INT) % 10 AS INT) AS priority,
         1767225600.0 + CAST(l_partkey % 60 AS DOUBLE) AS exetime
  FROM lineitem WHERE l_orderkey % 4 = 1
),
fol AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
SELECT md5(url) AS taskid, url, max(priority) AS priority,
       min(exetime) AS exetime, count(*) AS dup_cnt
FROM fol GROUP BY url
"""

# F8 — retry-delay map (scheduler/scheduler.py — DEFAULT_RETRY_DELAY)
ORACLE_RETRY_DELAY = f"""
WITH {FRONTIER_CTE}
SELECT k, retried,
  CASE retried WHEN 0 THEN 30.0 WHEN 1 THEN 3600.0 WHEN 2 THEN 21600.0
               WHEN 3 THEN 43200.0 ELSE 86400.0 END AS retry_delay_s
FROM frontier
"""

# A1 — status_count (database/base/taskdb.py — status_count)
ORACLE_STATUS_COUNT = f"""
WITH {FRONTIER_CTE}
SELECT project, status, count(*) AS cnt FROM frontier GROUP BY project, status
"""

# J1 — fetch join: schedule ⋈ pages on url; miss ⇒ 404
# (fetcher/tornado_fetcher.py — http_fetch / handle_error)
ORACLE_FETCH_JOIN = f"""
WITH {FRONTIER_CTE},
pages AS (
  SELECT url, CAST(floor(totalprice) AS BIGINT) AS content_len
  FROM frontier WHERE k % 3 != 0
),
sched AS (SELECT k, url FROM frontier WHERE k % 2 = 1)
SELECT s.k, s.url,
  CASE WHEN p.url IS NULL THEN 404 ELSE 200 END AS code,
  coalesce(p.content_len, 0) AS content_len
FROM sched s LEFT JOIN pages p ON s.url = p.url
"""

# F9 — cron ticks (base_handler.every / scheduler._check_cron):
# due tick index k = floor(elapsed / tick); emit iff k > last-emitted.
ORACLE_CRON_DUE = """
WITH proj AS (
  SELECT concat('proj_', n_name) AS project,
         CAST((n_nationkey + 1) * 60 AS BIGINT) AS tick_s,
         CAST(n_nationkey % 3 AS BIGINT) AS prev_k
  FROM nation
)
SELECT project, tick_s,
  CAST(floor(3600.0 / tick_s) AS BIGINT) AS due_k
FROM proj
WHERE CAST(floor(3600.0 / tick_s) AS BIGINT) > prev_k
"""

# O4 — processing-lease requeue: in-flight past lease re-emitted
ORACLE_LEASE_REQUEUE = f"""
WITH {FRONTIER_CTE}
SELECT k, url, exetime + 600.0 AS lease_exp FROM frontier
WHERE status = 1 AND k % 13 = 0 AND exetime + 600.0 < {T0 + 3600.0}
"""

# S6 — resultdb select with stable offset paging (database/base/
# resultdb.py — select(); webui/result.py): row_number over an explicit
# (updatetime DESC, taskid) order, NOT bare OFFSET (order-unstable).
ORACLE_RESULTS_PAGE = f"""
WITH {FRONTIER_CTE},
res AS (
  SELECT md5(url) AS taskid, url, exetime AS updatetime
  FROM frontier WHERE status = 2
),
numbered AS (
  SELECT taskid, url, updatetime,
    row_number() OVER (ORDER BY updatetime DESC, taskid ASC) AS rn
  FROM res
)
SELECT taskid, url, updatetime, CAST(rn AS INT) AS rn FROM numbered WHERE rn > 20 AND rn <= 40
"""

# dedup: exact (hash-groupBy) over augmented docs
ORACLE_DEDUP_EXACT = f"""
WITH {DOCS_AUG_CTE},
h AS (SELECT doc_id, md5(text) AS text_hash FROM docs_aug
      WHERE text IS NOT NULL)
SELECT text_hash, min(doc_id) AS keeper, count(*) AS n_copies
FROM h GROUP BY text_hash HAVING count(*) > 1
"""


# =====================================================================
# Pure-SQL pairs — same semantics, dialect-adjusted function names
# =====================================================================

Query = Callable[[SparkSession, str], DataFrame]


def _paired(build: Callable[[str], str]) -> tuple[Query, str]:
    """A pure-SQL gate: Spark runs ``build("spark")``, DuckDB
    ``build("duck")``; both strings come from the same helpers."""
    sql = build("spark")

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir)
        return spark.sql(sql)

    return run, build("duck")


def _sql_event_windows(d: str) -> str:
    # A2 — 5-minute tumbling counters (libs/counter.py windows); epoch
    # built from date+time fields so it is identical whether Spark maps
    # the parquet timestamp to TIMESTAMP or TIMESTAMP_NTZ (the session
    # tz is pinned to UTC in register_views for the LTZ case).
    if d == "spark":
        epoch = (
            "(CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS DOUBLE) * 86400.0"
            " + hour(ts) * 3600.0 + minute(ts) * 60.0 + second(ts))"
        )
    else:
        epoch = "epoch(ts)"
    return f"""
SELECT event_type,
  CAST(floor({epoch} / 300.0) * 300 AS BIGINT) AS window_start,
  count(*) AS cnt, round(sum(value), 4) AS sum_value
FROM events GROUP BY event_type, CAST(floor({epoch} / 300.0) * 300 AS BIGINT)
"""


def _sql_token_count(d: str) -> str:
    n = "size" if d == "spark" else "len"
    dedup = "array_distinct" if d == "spark" else "list_distinct"
    return f"""
WITH {_tok_cte(d)}
SELECT doc_id, CAST({n}(toks) AS BIGINT) AS n_tokens,
       CAST({n}({dedup}(toks)) AS BIGINT) AS n_distinct
FROM tok
"""


_STOP_EN = "('the', 'of', 'a', 'and', 'to', 'in')"


def _sql_quality(d: str) -> str:
    n = "size" if d == "spark" else "len"
    flt = "filter" if d == "spark" else "list_filter"
    tr = "transform" if d == "spark" else "list_transform"
    if d == "spark":
        sum_len = f"aggregate({tr}(toks, t -> length(t)), 0, (acc, x) -> acc + x)"
    else:
        sum_len = f"list_sum({tr}(toks, t -> length(t)))"
    return f"""
WITH {_tok_cte(d)},
m AS (
  SELECT doc_id, CAST({n}(toks) AS BIGINT) AS n_tokens,
    CAST({sum_len} AS DOUBLE) AS tok_chars,
    CAST({n}({flt}(toks, t -> t IN {_STOP_EN})) AS DOUBLE) AS stop_cnt
  FROM tok
)
SELECT doc_id, n_tokens,
  round(tok_chars / n_tokens, 6) AS avg_token_len,
  round(stop_cnt / n_tokens, 6) AS stopword_ratio,
  round(least(CAST(n_tokens AS DOUBLE), 100.0) / 100.0 * 0.5
        + stop_cnt / n_tokens * 0.5, 6) AS quality_score
FROM m WHERE n_tokens > 0
"""


_LANG_STOPS = {
    "de": "('der', 'und', 'das', 'ist')",
    "fr": "('les', 'une', 'est', 'dans')",
    "es": "('los', 'una', 'que', 'por')",
}


def _sql_lang_id(d: str) -> str:
    n = "size" if d == "spark" else "len"
    flt = "filter" if d == "spark" else "list_filter"
    cnt = {
        lang: f"CAST({n}({flt}(toks, t -> t IN {words})) AS BIGINT)"
        for lang, words in _LANG_STOPS.items()
    }
    cnt["en"] = f"CAST({n}({flt}(toks, t -> t IN {_STOP_EN})) AS BIGINT)"
    return f"""
WITH {_tok_cte(d)},
c AS (
  SELECT doc_id, {cnt['en']} AS en_c, {cnt['de']} AS de_c,
         {cnt['fr']} AS fr_c, {cnt['es']} AS es_c
  FROM tok
)
SELECT doc_id, en_c, de_c, fr_c, es_c,
  CASE
    WHEN de_c > en_c AND de_c > fr_c AND de_c > es_c THEN 'de'
    WHEN fr_c > en_c AND fr_c > es_c THEN 'fr'
    WHEN es_c > en_c THEN 'es'
    ELSE 'en' END AS lang_guess
FROM c
"""


def _sql_fingerprint(d: str) -> str:
    # whitespace/punct-normalized md5 + min-shingle-hash fingerprint
    rr = (
        "regexp_replace(lower(text), '[^a-z0-9]+', ' ')"
        if d == "spark"
        else "regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')"
    )
    return f"""
WITH {_tok_cte(d)}, {_grams_cte(d)},
fp1 AS (SELECT doc_id, md5(trim({rr})) AS norm_md5 FROM documents),
fp2 AS (SELECT doc_id, min(md5(gram)) AS min_gram_md5 FROM grams GROUP BY doc_id)
SELECT fp1.doc_id AS doc_id, norm_md5, min_gram_md5
FROM fp1 JOIN fp2 ON fp1.doc_id = fp2.doc_id
"""


_JACCARD_TAIL = """
gc AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  round(CAST(inter AS DOUBLE) / (ga.n + gb.n - inter), 6) AS jaccard
FROM pairs
JOIN gc ga ON doc_a = ga.doc_id JOIN gc gb ON doc_b = gb.doc_id
WHERE CAST(inter AS DOUBLE) / (ga.n + gb.n - inter) >= 0.5
"""


def _sql_ngram_jaccard(d: str) -> str:
    return f"WITH {DOCS_AUG_CTE}, {_tok_cte(d, 'docs_aug')}, {_grams_cte(d)},{_JACCARD_TAIL}"


_MINHASH_SEEDS = list(range(8))


def _sql_minhash_lsh(d: str) -> str:
    sigs = ",\n   ".join(
        f"min(md5(concat('{s}|', gram))) AS s{s}" for s in _MINHASH_SEEDS
    )
    return f"""
WITH {DOCS_AUG_CTE}, {_tok_cte(d, 'docs_aug')}, {_grams_cte(d)},
sigs AS (SELECT doc_id, {sigs} FROM grams GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band_id, md5(concat(s0, s1, s2, s3)) AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band_id, md5(concat(s4, s5, s6, s7)) AS band_key FROM sigs
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


def _sql_simhash(d: str) -> str:
    shift = (lambda i: f"shiftright(hv, {i})") if d == "spark" else (lambda i: f"(hv >> {i})")
    bits = " + ".join(
        f"(CASE WHEN sum(CASE WHEN ({shift(i)} & 1) = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(16)
    )
    if d == "spark":
        tok_rows = "SELECT doc_id, tok FROM tok LATERAL VIEW explode(toks) t AS tok"
    else:
        tok_rows = "SELECT doc_id, unnest(toks) AS tok FROM tok"
    return f"""
WITH {_tok_cte(d)},
tr AS ({tok_rows}),
hashed AS (SELECT doc_id, {_h32(d, 'tok')} AS hv FROM tr)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash16
FROM hashed GROUP BY doc_id
"""


def _sql_cosine_scores(d: str) -> str:
    return f"""
WITH {_vec_cte(d)}
SELECT vec_id, {_cosine(d, 'ev', 'qv')} AS cosine
FROM e CROSS JOIN q
"""


def _sql_cosine_topk(d: str) -> str:
    return f"""
WITH {_vec_cte(d)},
scored AS (SELECT vec_id, {_cosine(d, 'ev', 'qv')} AS cosine FROM e CROSS JOIN q)
SELECT vec_id, cosine,
  row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rnk
FROM scored ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def _sql_near_dup_vec(d: str) -> str:
    # O(N) pre-normalization, then ONE dot per pair — the naive form
    # (cosine per pair = 3 dots, evaluated twice for SELECT + WHERE)
    # cost ~12x more array folds over the N^2 pair space.
    xf = "transform" if d == "spark" else "list_transform"
    return f"""
WITH {_vec_cte(d)},
n0 AS (SELECT vec_id, ev, sqrt({_dot(d, 'ev', 'ev')}) AS nrm FROM e),
n AS (SELECT vec_id, {xf}(ev, x -> x / nrm) AS nv FROM n0),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_dot(d, 'a.nv', 'b.nv')}, 6) AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.2
"""


_N_PLANES = 4
_DIM = 64


def _plane(p: int) -> list[float]:
    """Deterministic pseudo-random hyperplane — single definition
    shared with the engine op (ops/similarity.rhp_plane), so the SQL
    oracle and the bucketed kernel partition identically."""
    from pyspider_spark.ops.similarity import rhp_plane

    return rhp_plane(p, _DIM)


def _sql_lsh_buckets(d: str) -> str:
    arr = "array" if d == "spark" else "list_value"
    terms = []
    for p in range(_N_PLANES):
        lit = ", ".join(f"CAST({c} AS DOUBLE)" for c in _plane(p))
        terms.append(
            f"(CASE WHEN {_dot(d, 'ev', f'{arr}({lit})')} >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return f"""
WITH {_vec_cte(d)}
SELECT vec_id, CAST({' + '.join(terms)} AS BIGINT) AS bucket
FROM e
"""


def _sql_lsh_near_dup(d: str) -> str:
    """Oracle for the engine's bucketed near-dup (ops/similarity.
    lsh_near_dup): RHP bucket assign + within-bucket pair scoring —
    the oracle mirrors the bucketing, so the approximate op is still
    exactly checkable."""
    arr = "array" if d == "spark" else "list_value"
    xf = "transform" if d == "spark" else "list_transform"
    terms = []
    for p in range(_N_PLANES):
        lit = ", ".join(f"CAST({c} AS DOUBLE)" for c in _plane(p))
        terms.append(
            f"(CASE WHEN {_dot(d, 'ev', f'{arr}({lit})')} >= 0 THEN {1 << p} ELSE 0 END)"
        )
    return f"""
WITH {_vec_cte(d)},
bk AS (SELECT vec_id, ev, CAST({' + '.join(terms)} AS BIGINT) AS bucket FROM e),
n0 AS (SELECT vec_id, bucket, ev, sqrt({_dot(d, 'ev', 'ev')}) AS nrm FROM bk),
n AS (SELECT vec_id, bucket, {xf}(ev, x -> x / nrm) AS nv FROM n0),
scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_dot(d, 'a.nv', 'b.nv')}, 6) AS cosine
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.2
"""


def _sql_ivf_assign(d: str) -> str:
    # IVF coarse quantization: assign each vector to the nearest of 8
    # fixed centroids (vec_id 1..8) by cosine distance.
    return f"""
WITH {_vec_cte(d)},
cents AS (SELECT vec_id AS cent_id, ev AS cv FROM e WHERE vec_id BETWEEN 1 AND 8),
dists AS (
  SELECT e.vec_id, cents.cent_id,
         round(1.0 - {_cosine(d, 'e.ev', 'cents.cv')}, 6) AS dist
  FROM e CROSS JOIN cents
),
ranked AS (
  SELECT vec_id, cent_id, dist,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cent_id ASC) AS rn
  FROM dists
)
SELECT vec_id, cent_id, dist FROM ranked WHERE rn = 1
"""


# =====================================================================
# Engine-backed gates — Spark runs the engine code (kernels, grouped
# pandas, the round's stages) against a handwritten DuckDB oracle
# =====================================================================

def _frontier_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(f"WITH {FRONTIER_CTE} SELECT * FROM frontier")


def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — the real canonicalization kernel (pandas UDF) over noisy
    url variants; oracle computes the expected canonical form directly."""
    from pyspark.sql.types import StringType

    from pyspider_spark.kernels.canon import canonicalize_series

    canon_udf = F.pandas_udf(canonicalize_series, StringType())
    fr = _frontier_df(spark, sf_dir)
    raw = fr.select(
        "k",
        F.when(F.col("k") % 4 == 1,
               F.concat(F.lit("http://"), F.upper("host"), F.lit(":80/o/"), F.col("k")))
        .when(F.col("k") % 4 == 2, F.concat("url", F.lit("?b=2&a=1")))
        .when(F.col("k") % 4 == 3, F.concat("url", F.lit("#frag")))
        .otherwise(F.col("url"))
        .alias("raw_url"),
    )
    return raw.select("k", canon_udf("raw_url").alias("canon_url"))


ORACLE_URL_CANON = f"""
WITH {FRONTIER_CTE}
SELECT k,
  CASE WHEN k % 4 = 2 THEN concat(url, '?a=1&b=2') ELSE url END AS canon_url
FROM frontier
"""


def _sched_cols(df: DataFrame, callback="index_page") -> DataFrame:
    """Wrap a frame keyed by `k` with a `url` in the engine's schedule-
    row shape. `project`, `priority` and `exetime` come from `df` when
    it has them, else p0 / 0 / 0.0. `callback` may be a literal name or
    a per-row Column."""
    cb = F.lit(callback) if isinstance(callback, str) else callback

    def given(name: str, default) -> Column:
        return F.col(name) if name in df.columns else F.lit(default)

    return df.select(
        given("project", "p0").alias("project"),
        F.md5("url").alias("taskid"),
        "url",
        F.col("url").alias("canon_url"),
        F.regexp_extract("url", "http://([^/]+)/", 1).alias("host"),
        given("priority", 0).alias("priority"),
        given("exetime", 0.0).alias("exetime"),
        F.lit(-1.0).alias("age"),
        F.lit(False).alias("auto_recrawl"),
        cb.alias("callback"),
        F.lit(3).alias("retries_left"),
        "k",
    )


def _politeness_gate(
    spark: SparkSession,
    sf_dir: str,
    shape: Callable[[DataFrame], DataFrame],
    projects: tuple[str, ...] | None = ("p0", "p1"),
    project_caps: dict[str, int] | None = None,
    **cfg_kw,
) -> DataFrame:
    """Run the engine's politeness pass (``schedule_round`` with
    rate=1.0/burst=BURST, no robots, cold host state) over the derived
    frontier's due ACTIVE rows of `projects` (None: every project), and
    shape the admitted rows, keyed by `k`, with `shape`. The output is
    materialized, then schedule_round's MEMORY_AND_DISK cache is
    released: the round unpersists it after its sinks, and a gate that
    drops the handle would leak one cached set per run."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine import schema as S
    from pyspider_spark.engine.politeness import schedule_round

    cfg = RoundConfig(rate=1.0, burst=float(BURST), n_partitions=4, **cfg_kw)
    fr = _frontier_df(spark, sf_dir)
    due = (F.col("status") == 1) & (F.col("exetime") <= F.lit(NOW))
    if projects:
        due = due & F.col("project").isin(*projects)
    cands = _sched_cols(fr.filter(due))
    sched, _blocked, checked = schedule_round(
        cands.drop("k"),
        S.empty_df(spark, "host string, robots_txt string"),
        S.empty_df(spark, S.HOST_STATE_SCHEMA),
        cfg,
        NOW,
        project_caps=project_caps,
    )
    out = shape(sched.join(cands.select("taskid", "k"), "taskid"))
    out = out.localCheckpoint(eager=True)
    checked.unpersist()
    return out


def q_schedule_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2/O3 — the engine's real politeness pass (salted two-phase
    window rank over the joined bucket state) from a cold host_state;
    from a full bucket the admitted set equals the SQL per-host
    top-⌊burst⌋ in O1 order (the oracle)."""
    from pyspider_spark.engine.stages import order_cols

    w = Window.partitionBy("host").orderBy(*order_cols())
    return _politeness_gate(
        spark,
        sf_dir,
        lambda s: s.select(
            "k",
            "host",
            "url",
            "priority",
            (F.row_number().over(w) - 1).cast("int").alias("seq_in_host"),
        ),
    )


def q_schedule_multiproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/O2 — the engine's real politeness pass with TWO capped
    projects of different bursts (p0→7, p1→12) and one uncapped (p2),
    from cold state. Oracle: per-host top-⌊burst⌋ then per-project
    O1-ordered top-⌊cap⌋ — the same two-stage selection in SQL."""
    return _politeness_gate(
        spark,
        sf_dir,
        lambda s: s.select("k", "project", "host", "url", "priority"),
        projects=None,
        project_caps={"p0": 7, "p1": 12},
        round_budget=None,
    )


ORACLE_SCHEDULE_MULTIPROJECT = f"""
WITH {FRONTIER_CTE},
cand AS (
  SELECT k, url, host, priority, exetime, project, md5(url) AS taskid
  FROM frontier WHERE status = 1 AND exetime <= {NOW}
),
hranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
            ORDER BY priority DESC, exetime ASC, taskid ASC) AS hrnk
  FROM cand
),
hadm AS (SELECT * FROM hranked WHERE hrnk <= {BURST}),
pranked AS (
  SELECT *, row_number() OVER (PARTITION BY project
            ORDER BY priority DESC, exetime ASC, taskid ASC) AS prnk
  FROM hadm
)
SELECT k, project, host, url, priority FROM pranked
WHERE (project = 'p0' AND prnk <= 7)
   OR (project = 'p1' AND prnk <= 12)
   OR project = 'p2'
"""


def _fetch_cols(out: DataFrame, *extra: Column) -> DataFrame:
    """The compared columns of a fetch gate: key, code, text length and
    link count (a miss has neither text nor links)."""
    return out.select(
        "k",
        "code",
        *extra,
        F.coalesce(F.length("text"), F.lit(0)).alias("text_len"),
        F.coalesce(F.size("links"), F.lit(0)).alias("n_links"),
    )


def _fetch_extract_gate(spark: SparkSession, sf_dir: str, bucketed: bool) -> DataFrame:
    """The engine's ``fetch_and_extract`` over pages synthesized from
    `documents` (doc_id % 3 anchors each) for a schedule of every doc
    plus one miss per 7th doc. `bucketed` sends the pages through
    ``engine.ingest.ingest_pages`` into a temp dir and forces the
    broadcast bound to 0; the output is materialized before that dir
    is removed."""
    import shutil
    import tempfile

    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine.fetchx import fetch_and_extract
    from pyspider_spark.engine.ingest import ingest_pages, register_pages

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    url = F.concat(F.lit("http://docs.example/d/"), F.col("doc_id"))
    n_anchor = (F.col("doc_id") % 3).cast("int")
    html = F.encode(
        F.concat(
            F.lit("<html><body><p>"),
            F.col("text"),
            F.lit("</p>"),
            F.repeat(F.lit('<a href="/l/0">x</a>'), n_anchor),
            F.lit("</body></html>"),
        ),
        "utf-8",
    )
    hits = docs.select(F.col("doc_id").alias("k"), url.alias("url"))
    misses = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("k"),
        F.concat(F.lit("http://docs.example/m/"), F.col("doc_id")).alias("url"),
    )
    sched = _sched_cols(hits.unionByName(misses))
    tmp = tempfile.mkdtemp(prefix="gate_pages_b_") if bucketed else None
    try:
        if tmp:
            raw = f"{tmp}/raw"
            docs.select(url.alias("url"), html.alias("html")).write.parquet(raw)
            loc = ingest_pages(spark, raw, f"{tmp}/bucketed", n_buckets=4, precanonical=True)
            pages = register_pages(spark, loc)
            cfg = RoundConfig(n_partitions=4, fetch_broadcast_max_rows=0)
        else:
            pages = docs.select(url.alias("canon_url"), html.alias("html"))
            cfg = RoundConfig(n_partitions=4)
        return _fetch_cols(fetch_and_extract(sched, pages, cfg)).localCheckpoint(eager=True)
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)


def q_fetch_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/J1/F5/F7 — the engine's REAL ``fetch_and_extract`` (payload-
    stationary join decomposition + dispatching Arrow extraction) over
    pages synthesized from `documents`; misses exercise the 404 path.
    Oracle: closed-form text/link arithmetic on the same construction
    (text = '\\n'-joined text nodes ⇒ len(trim(text)) + 2 per anchor)."""
    return _fetch_extract_gate(spark, sf_dir, bucketed=False)


ORACLE_FETCH_EXTRACT = """
WITH hits AS (
  SELECT doc_id AS k, 200 AS code,
         CAST(length(trim(text)) + 2 * (doc_id % 3) AS INT) AS text_len,
         CAST(doc_id % 3 AS INT) AS n_links
  FROM documents
),
misses AS (
  SELECT doc_id + 1000000 AS k, 404 AS code, 0 AS text_len, 0 AS n_links
  FROM documents WHERE doc_id % 7 = 0
)
SELECT * FROM hits UNION ALL SELECT * FROM misses
"""


def q_fetch_extract_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as ``crawl_fetch_extract`` but through the
    PAST-BROADCAST-BOUND path: the pages side goes through
    ``engine.ingest.ingest_pages``'s canon_url-bucketed layout and the
    broadcast bound is forced to 0, so what the oracle checks is the
    co-located sort-merge fetch join (zero corpus-side Exchange) the
    engine plans at 100 TB schedule sizes."""
    return _fetch_extract_gate(spark, sf_dir, bucketed=True)


def q_data_url_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/F12 — data: payload decode through the REAL fetch path: each
    document travels as a base64 data: url, the fetch join short-
    circuits, and the _on_message handler's text IS the decoded
    payload. Oracle: byte length of the original text."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine.fetchx import fetch_and_extract

    register_views(spark, sf_dir)
    docs = spark.table("documents").select(
        F.col("doc_id").alias("k"),
        F.concat(
            F.lit("data:text/plain;base64,"), F.base64(F.encode("text", "utf-8"))
        ).alias("url"),
    )
    pages = spark.createDataFrame([], "canon_url string, html binary")
    sched = _sched_cols(docs, callback="_on_message")
    out = fetch_and_extract(sched, pages, RoundConfig(n_partitions=4))
    return out.select("k", "code", F.length("text").alias("text_len"))


ORACLE_DATA_URL_FETCH = """
SELECT doc_id AS k, 200 AS code, CAST(length(text) AS INT) AS text_len
FROM documents
"""


def q_js_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — fetch_type='js' through the REAL fetch+dispatch path: even
    docs carry a SCRIPTED link (``<a data-js-href>`` — linkless to the
    plain extractor) and are scheduled toward the ``js_page`` handler,
    whose batch renders the DOM first (``handlers.render_js``: scripted
    hrefs materialize + a deterministic ``[rendered]`` marker lands in
    the text); odd docs run the plain http handler. Oracle: closed-form
    text/link arithmetic — the js rows gain exactly the scripted link
    and the marker, the http rows don't."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine.fetchx import fetch_and_extract

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    url = F.concat(F.lit("http://docs.example/d/"), F.col("doc_id"))
    scripted = F.when(
        F.col("doc_id") % 2 == 0, F.lit('<a data-js-href="/j/1">y</a>')
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><body><p>"),
            F.col("text"),
            F.lit('</p><a href="/l/0">x</a>'),
            scripted,
            F.lit("</body></html>"),
        ),
        "utf-8",
    )
    pages = docs.select(url.alias("canon_url"), html.alias("html"))
    sched = _sched_cols(
        docs.select(F.col("doc_id").alias("k"), url.alias("url")),
        callback=F.when(F.col("k") % 2 == 0, F.lit("js_page")).otherwise(
            F.lit("index_page")
        ),
    )
    return _fetch_cols(fetch_and_extract(sched, pages, RoundConfig(n_partitions=4)))


# js rows (even doc_id): text gains "\ny" (the scripted anchor's text
# node is there either way — but so is the anchor only on even docs)
# plus "\n[rendered]" (11); links = /l/0 + revealed /j/1. http rows:
# text gains "\nx" only, links = /l/0.
ORACLE_JS_FETCH = """
SELECT doc_id AS k, 200 AS code,
       CASE WHEN doc_id % 2 = 0
            THEN CAST(length(trim(text)) + 2 + 2 + 11 AS INT)
            ELSE CAST(length(trim(text)) + 2 AS INT) END AS text_len,
       CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS n_links
FROM documents
"""


def q_merge_frontier_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/J2/P4 — the round's normalize→collapse→probe→MERGE path over
    two batches: batch A inserts the evens; batch B re-sends everything
    with new priorities/exetimes plus force_update/itag/age restart
    triggers. Each batch runs ``stages.merge_frontier_delta`` and builds
    the post-merge frontier as the round does (previous frontier ⊖
    changed keys ⊕ changed rows); batch A's probe state rows are batch
    B's blob state, as between rounds. Oracle: the on_old_request P4
    rule written directly in SQL."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine import schema as S
    from pyspider_spark.engine.seen import BLOB_SCHEMA, probe_and_update
    from pyspider_spark.engine.stages import (
        KEY,
        collapse_updates,
        ensure_raw_columns,
        merge_frontier_delta,
        normalize_updates,
    )

    cfg = RoundConfig(n_partitions=4)
    fr = _frontier_df(spark, sf_dir)

    def merge(prev: DataFrame, raw: DataFrame, blobs: DataFrame, now: float, rnd: int):
        """One round's merge → (post-merge frontier, probe state rows)."""
        upd = collapse_updates(normalize_updates(ensure_raw_columns(raw), cfg))
        probe = probe_and_update(
            upd.select("project", "taskid", "seen_k", "pid").withColumn("cancel", F.lit(False)),
            blobs,
            cfg,
        ).localCheckpoint()
        delta = merge_frontier_delta(
            prev, upd, probe.filter(F.col("taskid").isNotNull()), now, rnd, cfg
        ).drop("is_new")
        post = prev.join(delta.select(*KEY), KEY, "left_anti").unionByName(delta)
        return post, probe.filter(F.col("taskid").isNull()).select(*BLOB_SCHEMA.names)

    raw_a = fr.filter(F.col("k") % 2 == 0).select(
        "url",
        F.lit("p0").alias("project"),
        (F.col("k") % 10).cast("int").alias("priority"),
        F.lit(T0).alias("exetime"),
    )
    fr_a, blobs_a = merge(
        S.empty_df(spark, S.FRONTIER_SCHEMA), raw_a, S.empty_df(spark, BLOB_SCHEMA), T0, 0
    )
    raw_b = fr.select(
        "url",
        F.lit("p0").alias("project"),
        ((F.col("k") + 3) % 10).cast("int").alias("priority"),
        F.lit(T0 + 1.0).alias("exetime"),
        F.when(F.col("k") % 5 == 0, True).otherwise(False).alias("force_update"),
        F.when(F.col("k") % 7 == 0, F.lit("v2")).alias("itag"),
        F.when(F.col("k") % 11 == 0, F.lit(40.0)).otherwise(F.lit(-1.0)).alias("age"),
    )
    fr_b, _blobs_b = merge(fr_a, raw_b, blobs_a, T0 + 50.0, 1)
    return fr_b.select(
        "url", "status", "priority", "exetime", "retries_left", "age", "itag",
        "round_added",
    )


ORACLE_MERGE_FRONTIER = f"""
WITH {FRONTIER_CTE},
b AS (
  SELECT k, url,
    CAST((k + 3) % 10 AS INT) AS priority,
    (k % 5 = 0) AS force_update,
    CASE WHEN k % 7 = 0 THEN 'v2' END AS itag,
    CASE WHEN k % 11 = 0 THEN 40.0 ELSE -1.0 END AS age
  FROM frontier
),
merged AS (
  SELECT b.k, b.url,
    (b.k % 2 = 0) AS seen,
    -- P4: force ∨ itag-change (old itag is null) ∨ age elapsed
    (b.force_update OR b.itag IS NOT NULL OR b.age >= 0) AS restart,
    CAST(b.k % 10 AS INT) AS old_priority,
    b.priority AS new_priority, b.itag AS new_itag, b.age AS new_age
  FROM b
)
SELECT url, 1 AS status,
  CASE WHEN NOT seen THEN new_priority               -- batch-B insert
       WHEN restart THEN greatest(old_priority, new_priority)
       ELSE old_priority END AS priority,
  CASE WHEN NOT seen THEN {T0 + 1.0}
       WHEN restart THEN {T0 + 1.0}
       ELSE {T0} END AS exetime,
  3 AS retries_left,
  CASE WHEN NOT seen THEN new_age
       WHEN restart AND new_age >= 0 THEN new_age
       ELSE -1.0 END AS age,
  CASE WHEN NOT seen THEN new_itag
       WHEN restart THEN new_itag
       ELSE NULL END AS itag,
  CASE WHEN seen THEN 0 ELSE 1 END AS round_added
FROM merged
"""


def q_bloom_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 HASH-CHECKED (round-3 verdict #3 flipped the last
    ``no_oracle`` row) — the partitioned numpy bloom kernel's PER-KEY
    verdict, false positives included: per pid partition insert even-k
    taskids, probe every key, emit (k, pid, seen).

    The oracle replicates the kernel's exact bit semantics in SQL —
    taskid = md5(url), (h1, h2) = the digest's two big-endian uint64
    halves, positions h1 + i·h2 + i² (mod 2^64, mod m) for i < k
    (Kirsch–Mitzenmacher, ``kernels/bloom.py — _positions``), and
    ``seen`` ⇔ all k positions are in the pid's inserted-position set.
    That is bloom membership BY DEFINITION, so the oracle reproduces
    the same false positives and any kernel defect (hashing, bit
    packing, wraparound) is a value mismatch, not an FP-count guess."""
    import pandas as pd

    from pyspider_spark.kernels.bloom import BloomFilter

    fr = _frontier_df(spark, sf_dir).select(
        "k",
        F.md5("url").alias("taskid"),
    ).withColumn(
        # pid from the taskid's first hex byte — md5-derived so the
        # DuckDB oracle computes the identical partitioning (crc32 has
        # no DuckDB builtin)
        "pid", (F.conv(F.substring("taskid", 1, 2), 16, 10).cast("int") % 8),
    )

    def probe(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bf = BloomFilter(m_bits=BLOOM_SEEN_M, k=BLOOM_SEEN_K)
        bf.add_many(pdf[pdf["k"] % 2 == 0]["taskid"])
        return pd.DataFrame(
            {
                "k": pdf["k"],
                "pid": int(key[0]),
                "seen": bf.contains_many(pdf["taskid"]),
            }
        )

    return fr.groupBy("pid").applyInPandas(probe, "k bigint, pid int, seen boolean")


# deliberately UNDERSIZED m: at sf0.01 this drives ~140 real false
# positives through the gate (m=2^18 would give FPR ~1e-6 and the
# "FPs reproduced exactly" claim would never be exercised)
BLOOM_SEEN_M = 8192
BLOOM_SEEN_K = 7

# exact SQL replica of kernels/bloom.py bit semantics (see q_bloom_seen)
ORACLE_BLOOM_SEEN = f"""
WITH {FRONTIER_CTE},
keys AS (
  SELECT k, md5(url) AS taskid,
         CAST(concat('0x', substr(md5(url), 1, 2)) AS INT) % 8 AS pid
  FROM frontier
),
h AS (
  SELECT k, pid, (k % 2 = 0) AS inserted,
         CAST(CAST(concat('0x', substr(taskid, 1, 16)) AS UBIGINT) AS HUGEINT) AS h1,
         CAST(CAST(concat('0x', substr(taskid, 17, 16)) AS UBIGINT) AS HUGEINT) AS h2
  FROM keys
),
p AS (
  SELECT k, pid, inserted,
         CAST(((h1 + i.range * h2 + i.range * i.range)
               % 18446744073709551616) % {BLOOM_SEEN_M} AS BIGINT) AS pos
  FROM h CROSS JOIN range({BLOOM_SEEN_K}) i
),
ins_pos AS (SELECT DISTINCT pid, pos FROM p WHERE inserted)
SELECT p.k, p.pid, bool_and(ip.pos IS NOT NULL) AS seen
FROM p LEFT JOIN ins_pos ip ON ip.pid = p.pid AND ip.pos = p.pos
GROUP BY p.k, p.pid
"""


def _probe_gate(
    spark: SparkSession, sf_dir: str, cancelled: Column | None = None
) -> DataFrame:
    """The engine's URL-seen decision over two batches, as a round
    computes it: ``seen.probe_and_update`` (real bloom+cuckoo kernels in
    a cogrouped applyInPandas) followed by the merge-side false-positive
    resolution (``stages.merge_frontier_delta``: a bloom-seen row with
    no frontier match is an insert). Batch 1 inserts the even-k urls
    into empty blob state; batch 2 first cancels the `cancelled` urls
    (if given), then probes every url against batch 1's state rows.
    Returns (k, url, seen)."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine import schema as S
    from pyspider_spark.engine.seen import BLOB_SCHEMA, probe_and_update
    from pyspider_spark.engine.stages import KEY, pid_col, seen_k_col

    cfg = RoundConfig(n_partitions=4)
    fr = _frontier_df(spark, sf_dir).withColumn("canon_url", F.col("url"))
    base = fr.select(
        "k",
        "url",
        "project",
        F.md5("url").alias("taskid"),
        seen_k_col().alias("seen_k"),
        pid_col(cfg.n_partitions).alias("pid"),
    )
    cols = ["project", "taskid", "seen_k", "pid"]

    ins = base.filter(F.col("k") % 2 == 0)
    p1 = probe_and_update(
        ins.select(*cols).withColumn("cancel", F.lit(False)),
        S.empty_df(spark, BLOB_SCHEMA),
        cfg,
    )
    upd2 = base.select(*cols).withColumn("cancel", F.lit(False))
    if cancelled is not None:
        cancels = base.filter(cancelled).select(*cols).withColumn("cancel", F.lit(True))
        upd2 = cancels.unionByName(upd2)
    p2 = probe_and_update(
        upd2, p1.filter(F.col("taskid").isNull()).select(*BLOB_SCHEMA.names), cfg
    )
    verdicts = p2.filter(F.col("taskid").isNotNull() & ~F.col("cancel"))
    member = ins.select(*KEY).withColumn("m", F.lit(True))
    return (
        verdicts.join(F.broadcast(member), KEY, "left")
        .join(base.select("k", "url", *KEY), KEY)
        .select(
            "k",
            "url",
            (F.col("seen") & F.coalesce(F.col("m"), F.lit(False))).alias("seen"),
        )
    )


def q_probe_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3 — the ENGINE's full URL-seen membership decision
    (:func:`_probe_gate`), with batch 2 cancelling the k%20==0 urls
    before it probes. Expected membership is exact set logic —
    inserted (k%2=0) minus cancelled (k%20=0) — which the DuckDB oracle
    states directly. Bloom FPs cannot break this (masked by the
    membership join, as in the merge); bloom has no false negatives and
    cancellation is exact by cuckoo semantics, so any kernel or
    blob-state defect shows up as a hash mismatch."""
    return _probe_gate(spark, sf_dir, cancelled=F.col("k") % 20 == 0)


ORACLE_PROBE_VERIFIED = f"""
WITH {FRONTIER_CTE}
SELECT k, url, (k % 2 = 0 AND k % 20 <> 0) AS seen FROM frontier
"""


def _mm_docs(spark: SparkSession, mime: str) -> DataFrame:
    """Documents as opaque binary payloads (utf-8 bytes of text), so the
    DuckDB oracle can reproduce the fake decoders with md5(text)."""
    return spark.sql(
        "SELECT doc_id, CAST(encode(text, 'utf-8') AS BINARY) AS payload, "
        f"'{mime}' AS mime FROM documents"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode — binary payload column through a mapInPandas
    feature extractor. Decode is the deterministic md5-derived fake
    (`ops/multimodal.py`), so the oracle recomputes the exact
    width/height/channels from md5(text) hex bytes in SQL."""
    from pyspider_spark.ops.multimodal import extract_features

    register_views(spark, sf_dir)
    return extract_features(_mm_docs(spark, "image/fake"))


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize — binary in, binary out via mapInPandas; the
    re-encoded payload surfaces as lowercase hex so DuckDB (no blob
    md5) can reproduce it: md5(text || '224x224') || hex(tag)."""
    from pyspider_spark.ops.multimodal import resize_batch

    register_views(spark, sf_dir)
    out = resize_batch(_mm_docs(spark, "image/fake"), target=(224, 224))
    return out.select(
        "doc_id",
        "mime",
        F.lower(F.hex("resized")).alias("resized_hex"),
        "width",
        "height",
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sample — one row per sampled frame, exploded
    inside the Arrow batch. The per-doc frame count is md5-derived, so
    the oracle checks the variable-length explode (row multiplicity +
    frame_idx sequence + frame size); frame *bytes* are pinned by
    tests/test_multimodal.py (DuckDB md5 can't hash blobs)."""
    from pyspider_spark.ops.multimodal import sample_frames_batch

    register_views(spark, sf_dir)
    out = sample_frames_batch(_mm_docs(spark, "video/fake"), every_n=10)
    return out.select("doc_id", "frame_idx", F.length("frame").alias("frame_len"))


def _hexbyte(h: str, i: int) -> str:
    """SQL for byte ``i`` of the hex digest expression ``h``."""
    hexd = "'0123456789abcdef'"
    return (
        f"(instr({hexd}, substr({h}, {2 * i + 1}, 1)) - 1) * 16"
        f" + instr({hexd}, substr({h}, {2 * i + 2}, 1)) - 1"
    )


# fake decode_image: (16 + d[0] % 240, 16 + d[1] % 240, 1 + d[2] % 4)
# over d = md5(payload); payload = utf-8 bytes of text ⇒ md5(text).
ORACLE_MM_FEATURES = f"""
WITH d AS (SELECT doc_id, text, md5(text) AS h FROM documents)
SELECT doc_id, 'image/fake' AS mime,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  h AS md5,
  CAST(16 + ({_hexbyte('h', 0)}) % 240 AS INT) AS width,
  CAST(16 + ({_hexbyte('h', 1)}) % 240 AS INT) AS height,
  CAST(1 + ({_hexbyte('h', 2)}) % 4 AS INT) AS channels
FROM d
"""

# fake resize_image: md5(payload + b'224x224').digest() + b'224x224';
# hex('224x224') = 32323478323234
ORACLE_MM_RESIZE = """
SELECT doc_id, 'image/fake' AS mime,
  md5(text || '224x224') || '32323478323234' AS resized_hex,
  CAST(224 AS INT) AS width, CAST(224 AS INT) AS height
FROM documents
"""

# fake sample_frames: n_frames = 1 + d[3] % 120, sampled every 10th ⇒
# ceil(n_frames/10) rows with frame_idx 0,10,…; each frame is a 16-byte
# md5 digest.
ORACLE_MM_FRAMES = f"""
WITH d AS (
  SELECT doc_id, 1 + ({_hexbyte("md5(text)", 3)}) % 120 AS n_frames
  FROM documents
)
SELECT doc_id,
  CAST(10 * unnest(generate_series(0, CAST(ceil(n_frames / 10.0) AS INT) - 1)) AS INT)
    AS frame_idx,
  CAST(16 AS INT) AS frame_len
FROM d
"""


def entry_df(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """Flagship: the scheduling core end-to-end as one declarative plan —
    derived frontier → candidates (P2/P3/P6) → per-host politeness cut
    (O1/O2) → fetch join (J1) → per-host crawl-order log (schedule_log)."""
    register_views(spark, sf_dir)
    return spark.sql(f"""
WITH {FRONTIER_CTE},
cand AS (
  SELECT k, url, host, priority, exetime, md5(url) AS taskid FROM frontier
  WHERE status = 1 AND exetime <= {NOW} AND project IN ('p0', 'p1')
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
            ORDER BY priority DESC, exetime ASC, taskid ASC) AS rnk
  FROM cand
),
sched AS (SELECT * FROM ranked WHERE rnk <= {BURST}),
pages AS (
  SELECT url, CAST(floor(totalprice) AS BIGINT) AS content_len
  FROM frontier WHERE k % 3 != 0
)
SELECT s.k, s.host, s.url, s.priority, CAST(s.rnk - 1 AS INT) AS seq_in_host,
  CASE WHEN p.url IS NULL THEN 404 ELSE 200 END AS code,
  coalesce(p.content_len, 0) AS content_len
FROM sched s LEFT JOIN pages p ON s.url = p.url
""")


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via the DISTRIBUTED block-grid kernel
    (ops/similarity._near_dup_grid, n_blocks forced so the gate always
    exercises the scale path, not the broadcast fast path) — same pair
    set as the exact SQL self-join oracle."""
    from pyspider_spark.ops.similarity import near_dup_pairs

    register_views(spark, sf_dir)
    return near_dup_pairs(spark, spark.table("embeddings"), threshold=0.2, n_blocks=8)


def q_embedding_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup KEEP assignment
    (ops/similarity.embedding_keep_table): exact grid pairs at
    cosine ≥ 0.5 → min-label components → (vec_id, dup_of) — the
    dedup ACTION over an embedding column, vs a recursive-CTE
    connected-components oracle over the same exact pair set."""
    from pyspider_spark.ops.similarity import embedding_keep_table

    register_views(spark, sf_dir)
    return embedding_keep_table(
        spark, spark.table("embeddings"), threshold=0.5
    )


def _sql_embedding_keep(d: str) -> str:
    xf = "transform" if d == "spark" else "list_transform"
    return f"""
WITH RECURSIVE {_vec_cte(d)},
n0 AS (SELECT vec_id, ev, sqrt({_dot(d, 'ev', 'ev')}) AS nrm FROM e),
n AS (SELECT vec_id, {xf}(ev, x -> x / nrm) AS nv FROM n0),
vp AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM n a JOIN n b ON a.vec_id < b.vec_id
  WHERE round({_dot(d, 'a.nv', 'b.nv')}, 6) >= 0.5
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM vp
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM vp
),
walk(vec_id, lbl) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT e2.dst, w.lbl FROM walk w JOIN edges e2 ON e2.src = w.vec_id
)
SELECT vec_id, min(lbl) AS dup_of FROM walk GROUP BY vec_id
"""


# Incremental embedding dedup oracle: old vectors (vec_id % 3 != 0)
# are deduped by the exact pairwise rule + recursive components, the
# keepers' embeddings form the state; a new vector (vec_id % 3 == 0)
# within round(cosine, 6) >= 0.5 of any keeper absorbs into the min
# matching keeper (stage 1); the rest self-dedups (stage 2).
def _sql_embedding_incremental(d: str) -> str:
    xf = "transform" if d == "spark" else "list_transform"
    return f"""
WITH RECURSIVE {_vec_cte(d)},
n0 AS (SELECT vec_id, ev, sqrt({_dot(d, 'ev', 'ev')}) AS nrm FROM e),
n AS (SELECT vec_id, {xf}(ev, x -> x / nrm) AS nv FROM n0),
old_v AS (SELECT vec_id, nv FROM n WHERE vec_id % 3 <> 0),
new_v AS (SELECT vec_id, nv FROM n WHERE vec_id % 3 = 0),
vp_o AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM old_v a JOIN old_v b ON a.vec_id < b.vec_id
  WHERE round({_dot(d, 'a.nv', 'b.nv')}, 6) >= 0.5
),
edges_o AS (
  SELECT vec_a AS src, vec_b AS dst FROM vp_o
  UNION ALL SELECT vec_b, vec_a FROM vp_o
),
walk_o(vec_id, lbl) AS (
  SELECT vec_id, vec_id FROM old_v
  UNION
  SELECT e2.dst, w.lbl FROM walk_o w JOIN edges_o e2 ON e2.src = w.vec_id
),
old_keep AS (SELECT vec_id, min(lbl) AS dup_of FROM walk_o GROUP BY vec_id),
keepers AS (
  SELECT o.vec_id, o.nv FROM old_v o
  JOIN old_keep k ON k.vec_id = o.vec_id AND k.dup_of = k.vec_id
),
stage1 AS (
  SELECT nn.vec_id, min(k.vec_id) AS dup_of
  FROM new_v nn JOIN keepers k
    ON round({_dot(d, 'nn.nv', 'k.nv')}, 6) >= 0.5
  GROUP BY nn.vec_id
),
rest AS (
  SELECT vec_id, nv FROM new_v
  WHERE vec_id NOT IN (SELECT vec_id FROM stage1)
),
vp_n AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM rest a JOIN rest b ON a.vec_id < b.vec_id
  WHERE round({_dot(d, 'a.nv', 'b.nv')}, 6) >= 0.5
),
edges_n AS (
  SELECT vec_a AS src, vec_b AS dst FROM vp_n
  UNION ALL SELECT vec_b, vec_a FROM vp_n
),
walk_n(vec_id, lbl) AS (
  SELECT vec_id, vec_id FROM rest
  UNION
  SELECT e2.dst, w.lbl FROM walk_n w JOIN edges_n e2 ON e2.src = w.vec_id
),
comp AS (SELECT vec_id, min(lbl) AS dup_of FROM walk_n GROUP BY vec_id)
SELECT nn.vec_id, coalesce(s.dup_of, c.dup_of, nn.vec_id) AS dup_of
FROM new_v nn
LEFT JOIN stage1 s ON s.vec_id = nn.vec_id
LEFT JOIN comp c ON c.vec_id = nn.vec_id
"""


def q_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental embedding dedup (ops/similarity.
    embedding_incremental): the old split is deduped once
    (embedding_keep_table) and reduced to its keepers' embeddings —
    the persisted state; the new split dedups against that state (the
    batch matrix broadcasts, the state streams) and then against
    itself, vs a two-stage recursive-CTE oracle."""
    from pyspider_spark.ops.similarity import (
        embedding_incremental,
        embedding_keep_table,
    )

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    old = emb.filter(F.col("vec_id") % 3 != 0)
    new = emb.filter(F.col("vec_id") % 3 == 0)
    keep = embedding_keep_table(spark, old, threshold=0.5)
    state = old.join(
        keep.filter(F.col("dup_of") == F.col("vec_id")).select("vec_id"),
        "vec_id",
        "left_semi",
    )
    return embedding_incremental(spark, new, state, threshold=0.5)


def q_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHP-bucketed near-dup engine op — the LSH-assign → per-bucket
    BLAS composition (the 10^8-vector plan); oracle mirrors the
    bucketing so the output is exactly checkable."""
    from pyspider_spark.ops.similarity import lsh_near_dup

    register_views(spark, sf_dir)
    return lsh_near_dup(spark, spark.table("embeddings"), threshold=0.2)


def _docs_aug_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-API twin of DOCS_AUG_CTE (documents + injected
    near-dups and exact copies) — input for the engine dedup ops."""
    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" zz extra pad token")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return docs.unionByName(near).unionByName(exact)


def _duck_minhash_spine() -> str:
    """DuckDB CTE chain docs_aug → grams → sigs → bands → cand →
    verified pairs ``vp`` — the oracle for ops/dedup.verified_pairs."""
    sigs = ",\n   ".join(
        f"min(md5(concat('{s}|', gram))) AS s{s}" for s in _MINHASH_SEEDS
    )
    return f"""
{DOCS_AUG_CTE}, {_tok_cte('duck', 'docs_aug')}, {_grams_cte('duck')},
sigs AS (SELECT doc_id, {sigs} FROM grams GROUP BY doc_id),
bands AS (
  SELECT doc_id, 0 AS band_id, md5(concat(s0, s1, s2, s3)) AS band_key FROM sigs
  UNION ALL
  SELECT doc_id, 1 AS band_id, md5(concat(s4, s5, s6, s7)) AS band_key FROM sigs
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
gc AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
  GROUP BY c.doc_a, c.doc_b
),
vp AS (
  SELECT doc_a, doc_b,
         round(CAST(inter AS DOUBLE) / (ga.n + gb.n - inter), 6) AS jaccard
  FROM inter
  JOIN gc ga ON doc_a = ga.doc_id JOIN gc gb ON doc_b = gb.doc_id
  WHERE round(CAST(inter AS DOUBLE) / (ga.n + gb.n - inter), 6) >= 0.5
)"""


ORACLE_DEDUP_PAIRS = f"WITH {_duck_minhash_spine()}\nSELECT doc_a, doc_b, jaccard FROM vp"

# Connected components via recursive CTE: walk(u, l) holds l for every
# doc l can reach over the undirected verified-pair edges; min reachable
# origin per doc = component min = the engine's dup_of.
ORACLE_DEDUP_CORPUS = f"""
WITH RECURSIVE {_duck_minhash_spine()},
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM vp
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM vp
),
walk(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM docs_aug
  UNION
  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.doc_id
)
SELECT doc_id, min(lbl) AS dup_of FROM walk GROUP BY doc_id
"""


def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash corpus dedup ENGINE op (ops/dedup.verified_pairs):
    shingle → signature agg → band self-join → exact-Jaccard verify,
    all DataFrame ops — checked against a handwritten DuckDB oracle
    (round-1 review: dedup must be pipeline-level, not contract SQL)."""
    from pyspider_spark.ops.dedup import verified_pairs

    return verified_pairs(_docs_aug_df(spark, sf_dir), threshold=0.5)


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_corpus keep-assignment: min-label propagation over the
    verified near-dup edges (engine loop) vs a recursive-CTE
    connected-components oracle."""
    from pyspider_spark.ops.dedup import dedup_corpus

    return dedup_corpus(_docs_aug_df(spark, sf_dir), threshold=0.5)


def _duck_sig_chain(suffix: str, src: str) -> str:
    """Suffixed duck-dialect tok→grams→sigs→bands CTE chain over an
    arbitrary (doc_id, text) source — lets one oracle carry TWO
    independent MinHash spines (the incremental gate's old corpus and
    new batch). Signature/band definitions are byte-identical to
    :func:`_duck_minhash_spine` / ops.dedup."""
    sigs = ", ".join(
        f"min(md5(concat('{s}|', gram))) AS s{s}" for s in _MINHASH_SEEDS
    )
    return f"""
tok{suffix} AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks FROM {src}),
grams{suffix} AS (
  SELECT DISTINCT doc_id, u.gram AS gram FROM tok{suffix},
  unnest(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
         i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2]))) AS u(gram)
),
sigs{suffix} AS (SELECT doc_id, {sigs} FROM grams{suffix} GROUP BY doc_id),
bands{suffix} AS (
  SELECT doc_id, 0 AS band_id, md5(concat(s0, s1, s2, s3)) AS band_key FROM sigs{suffix}
  UNION ALL
  SELECT doc_id, 1 AS band_id, md5(concat(s4, s5, s6, s7)) AS band_key FROM sigs{suffix}
)"""


def _duck_agree(a: str, b: str) -> str:
    """Count of agreeing MinHash positions between aliased sig rows —
    the duck twin of ops.dedup._sig_agree."""
    return " + ".join(f"CAST({a}.s{i} = {b}.s{i} AS INT)" for i in _MINHASH_SEEDS)


# Incremental dedup oracle: old corpus (doc_id % 3 != 0) is deduped by
# the FULL exact-Jaccard pipeline (the persisted-state provenance);
# the new batch (doc_id % 3 == 0) is then deduped against the old
# KEEPERS' signatures by band collision + >= 4/8 signature agreement
# (stage 1, min matching keeper), and the unabsorbed remainder against
# itself by the same rule via recursive-CTE components (stage 2).
ORACLE_DEDUP_INCREMENTAL = f"""
WITH RECURSIVE {DOCS_AUG_CTE},
old_docs AS (SELECT doc_id, text FROM docs_aug WHERE doc_id % 3 <> 0),
new_docs AS (SELECT doc_id, text FROM docs_aug WHERE doc_id % 3 = 0),
{_duck_sig_chain('_o', 'old_docs')},
cand_o AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_o a JOIN bands_o b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
gc_o AS (SELECT doc_id, count(*) AS n FROM grams_o GROUP BY doc_id),
inter_o AS (
  SELECT c.doc_a, c.doc_b, count(*) AS inter
  FROM cand_o c
  JOIN grams_o ga ON ga.doc_id = c.doc_a
  JOIN grams_o gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
  GROUP BY c.doc_a, c.doc_b
),
vp_o AS (
  SELECT doc_a, doc_b
  FROM inter_o
  JOIN gc_o ga ON doc_a = ga.doc_id JOIN gc_o gb ON doc_b = gb.doc_id
  WHERE round(CAST(inter AS DOUBLE) / (ga.n + gb.n - inter), 6) >= 0.5
),
edges_o AS (
  SELECT doc_a AS src, doc_b AS dst FROM vp_o
  UNION ALL SELECT doc_b, doc_a FROM vp_o
),
walk_o(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM old_docs
  UNION
  SELECT e.dst, w.lbl FROM walk_o w JOIN edges_o e ON e.src = w.doc_id
),
old_keep AS (SELECT doc_id, min(lbl) AS dup_of FROM walk_o GROUP BY doc_id),
state_sigs AS (
  SELECT s.* FROM sigs_o s
  JOIN old_keep k ON k.doc_id = s.doc_id AND k.dup_of = k.doc_id
),
state_bands AS (
  SELECT b.* FROM bands_o b JOIN state_sigs s ON s.doc_id = b.doc_id
),
{_duck_sig_chain('_n', 'new_docs')},
cand1 AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM bands_n n JOIN state_bands o
    ON n.band_id = o.band_id AND n.band_key = o.band_key
),
stage1 AS (
  SELECT c.new_id AS doc_id, min(c.old_id) AS dup_of
  FROM cand1 c
  JOIN sigs_n sn ON sn.doc_id = c.new_id
  JOIN state_sigs so ON so.doc_id = c.old_id
  WHERE {_duck_agree('sn', 'so')} >= 4
  GROUP BY c.new_id
),
rest AS (
  SELECT doc_id FROM sigs_n
  WHERE doc_id NOT IN (SELECT doc_id FROM stage1)
),
cand2 AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands_n a
  JOIN bands_n b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
  JOIN rest ra ON ra.doc_id = a.doc_id
  JOIN rest rb ON rb.doc_id = b.doc_id
),
agree2 AS (
  SELECT c.doc_a, c.doc_b
  FROM cand2 c
  JOIN sigs_n sa ON sa.doc_id = c.doc_a
  JOIN sigs_n sb ON sb.doc_id = c.doc_b
  WHERE {_duck_agree('sa', 'sb')} >= 4
),
edges_n AS (
  SELECT doc_a AS src, doc_b AS dst FROM agree2
  UNION ALL SELECT doc_b, doc_a FROM agree2
),
walk_n(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM rest
  UNION
  SELECT e.dst, w.lbl FROM walk_n w JOIN edges_n e ON e.src = w.doc_id
),
comp AS (SELECT doc_id, min(lbl) AS dup_of FROM walk_n GROUP BY doc_id)
SELECT n.doc_id, coalesce(s.dup_of, c.dup_of, n.doc_id) AS dup_of
FROM new_docs n
LEFT JOIN stage1 s ON s.doc_id = n.doc_id
LEFT JOIN comp c ON c.doc_id = n.doc_id
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental dedup (ops/dedup.dedup_incremental): the old
    corpus (doc_id % 3 != 0) is deduped once by the full exact-Jaccard
    pipeline and reduced to its keepers' SIGNATURE table — the state a
    continuously-crawling pipeline persists; the new batch
    (doc_id % 3 == 0) is deduped against that state (band collision +
    signature agreement, min matching keeper) and then against itself,
    without ever rereading old texts."""
    from pyspider_spark.ops.dedup import (
        dedup_corpus,
        dedup_incremental,
        keeper_signatures,
    )

    docs = _docs_aug_df(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    state = keeper_signatures(old, dedup_corpus(old, threshold=0.5))
    return dedup_incremental(new, state)


def _md5_half(d: str, expr: str, start: int) -> str:
    """32-bit hash from md5 hex chars [start, start+8) as BIGINT —
    two disjoint halves give a portable 64-bit token hash without any
    64-bit shift/conv (both engines' conv/CAST stay in signed range)."""
    if d == "spark":
        return f"CAST(conv(substring(md5({expr}), {start}, 8), 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', substr(md5({expr}), {start}, 8)) AS BIGINT)"


def _sql_simhash_fp(d: str, bits: int = 32) -> str:
    """CTE chain over docs_aug ending in ``fp(doc_id, simhash)``: a
    ``bits``-wide portable simhash (md5-derived token hash,
    sign-aggregated per bit) — identical text → identical fingerprint
    in both engines, so the banding op is exactly checkable.

    ``bits=64`` uses two 32-bit md5 halves (hv=chars 1-8, hw=chars
    9-16) so no expression ever shifts past 32, and weights the sign
    bit as exactly -2^63 — the fingerprint is the SIGNED int64 wrap of
    the unsigned 64-bit simhash, matching what ``analyze_text`` emits
    into Spark ``long`` columns."""
    assert bits <= 64

    def shift(src: str, i: int) -> str:
        return f"shiftright({src}, {i})" if d == "spark" else f"({src} >> {i})"

    def term(i: int) -> str:
        src, off = ("hv", 0) if i < 32 else ("hw", 32)
        # bit 63 is the int64 sign bit: its weight is -2^63 (the only
        # value with that bit set that a BIGINT literal sum can carry)
        w = "(-9223372036854775807 - 1)" if i == 63 else str(1 << i)
        return (
            f"(CASE WHEN sum(CASE WHEN ({shift(src, i - off)} & 1) = 1 "
            f"THEN 1 ELSE -1 END) > 0 THEN {w} ELSE 0 END)"
        )

    bexpr = " + ".join(term(i) for i in range(bits))
    hw = f", {_md5_half(d, 'tok', 9)} AS hw" if bits > 32 else ""
    if d == "spark":
        tok_rows = "SELECT doc_id, tok FROM tok LATERAL VIEW explode(toks) t AS tok"
    else:
        tok_rows = "SELECT doc_id, unnest(toks) AS tok FROM tok"
    return f"""
{DOCS_AUG_CTE}, {_tok_cte(d, 'docs_aug')},
tr AS ({tok_rows}),
hashed AS (SELECT doc_id, {_md5_half(d, 'tok', 1)} AS hv{hw} FROM tr),
fp AS (SELECT doc_id, CAST({bexpr} AS BIGINT) AS simhash FROM hashed GROUP BY doc_id)"""


ORACLE_SIMHASH_PAIRS = f"""
WITH {_sql_simhash_fp('duck')}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SimHash near-dup ENGINE op (ops/dedup.simhash_near_dup):
    pigeonhole band self-join + bit_count verify, checked against an
    all-pairs hamming oracle (exact by the banding recall guarantee —
    hamming<=3 with 4 bands forces one identical band). Fingerprints
    here come from the portable md5 simhash so both engines hash
    identically; the engine's crawl path uses the same op over the
    md5-half fingerprints ``analyze_text`` emits per page."""
    from pyspider_spark.ops.dedup import simhash_near_dup

    register_views(spark, sf_dir)
    fps = spark.sql(f"WITH {_sql_simhash_fp('spark')} SELECT doc_id, simhash FROM fp")
    return simhash_near_dup(fps, bits=32, max_hamming=3)


ORACLE_SIMHASH_PAIRS64 = f"""
WITH {_sql_simhash_fp('duck', 64)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
"""


def q_simhash_near_dup64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 64-BIT banded near-dup path — the web-scale default
    (``analyze_text`` emits 64-bit fingerprints; 16-bit bands at
    max_hamming=3). Fingerprints here are the portable md5 simhash at
    64 bits, SIGNED (bit 63 = int64 sign), so the gate covers exactly
    the sign-wrap arithmetic the crawl fingerprints exercise; the
    all-pairs DuckDB oracle is exact by the pigeonhole recall
    guarantee. max_hamming=6 (7 bands ≥9 bits) so the sf0.01 fixture
    yields a non-trivial pair set at the wider fingerprint."""
    from pyspider_spark.ops.dedup import simhash_near_dup

    register_views(spark, sf_dir)
    fps = spark.sql(
        f"WITH {_sql_simhash_fp('spark', 64)} SELECT doc_id, simhash FROM fp"
    )
    return simhash_near_dup(fps, bits=64, max_hamming=6)


# Incremental SimHash dedup oracle: the corpus fingerprint table is
# split (old = doc_id % 3 != 0); the old side is deduped by ALL-PAIRS
# hamming <= 6 + recursive components (exact — the engine's banding
# has full recall by pigeonhole), its keepers' fingerprints form the
# state; new fingerprints within hamming 6 of a keeper absorb into the
# min matching keeper (stage 1), the rest self-dedup (stage 2).
ORACLE_SIMHASH_INCREMENTAL = f"""
WITH RECURSIVE {_sql_simhash_fp('duck', 64)},
fp_o AS (SELECT doc_id, simhash FROM fp WHERE doc_id % 3 <> 0),
fp_n AS (SELECT doc_id, simhash FROM fp WHERE doc_id % 3 = 0),
vp_o AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM fp_o a JOIN fp_o b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
edges_o AS (
  SELECT doc_a AS src, doc_b AS dst FROM vp_o
  UNION ALL SELECT doc_b, doc_a FROM vp_o
),
walk_o(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM fp_o
  UNION
  SELECT e.dst, w.lbl FROM walk_o w JOIN edges_o e ON e.src = w.doc_id
),
old_keep AS (SELECT doc_id, min(lbl) AS dup_of FROM walk_o GROUP BY doc_id),
keepers AS (
  SELECT f.doc_id, f.simhash FROM fp_o f
  JOIN old_keep k ON k.doc_id = f.doc_id AND k.dup_of = k.doc_id
),
stage1 AS (
  SELECT n.doc_id, min(k.doc_id) AS dup_of
  FROM fp_n n JOIN keepers k
    ON bit_count(xor(n.simhash, k.simhash)) <= 6
  GROUP BY n.doc_id
),
rest AS (
  SELECT doc_id, simhash FROM fp_n
  WHERE doc_id NOT IN (SELECT doc_id FROM stage1)
),
vp_n AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM rest a JOIN rest b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
),
edges_n AS (
  SELECT doc_a AS src, doc_b AS dst FROM vp_n
  UNION ALL SELECT doc_b, doc_a FROM vp_n
),
walk_n(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM rest
  UNION
  SELECT e.dst, w.lbl FROM walk_n w JOIN edges_n e ON e.src = w.doc_id
),
comp AS (SELECT doc_id, min(lbl) AS dup_of FROM walk_n GROUP BY doc_id)
SELECT n.doc_id, coalesce(s.dup_of, c.dup_of, n.doc_id) AS dup_of
FROM fp_n n
LEFT JOIN stage1 s ON s.doc_id = n.doc_id
LEFT JOIN comp c ON c.doc_id = n.doc_id
"""


def q_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SimHash dedup (ops/dedup.simhash_incremental) —
    the crawl-native incremental path: the old fingerprint split is
    deduped once (simhash_keep_table, banding-exact) and reduced to
    its keepers' (doc_id, simhash) state; the new split dedups
    against that state by band collision + EXACT hamming verify, then
    against itself. 64-bit signed fingerprints at max_hamming=6 — the
    same arithmetic regime as the pairs64 gate."""
    from pyspider_spark.ops.dedup import simhash_incremental, simhash_keep_table

    register_views(spark, sf_dir)
    # the 64-term fp chain is consumed many times downstream (reps,
    # bands, verify, expand in BOTH keep_table and the incremental op)
    # — materialize it once
    fps = spark.sql(
        f"WITH {_sql_simhash_fp('spark', 64)} SELECT doc_id, simhash FROM fp"
    ).localCheckpoint()
    old = fps.filter(F.col("doc_id") % 3 != 0)
    new = fps.filter(F.col("doc_id") % 3 == 0)
    keep = simhash_keep_table(old, bits=64, max_hamming=6)
    state = old.join(
        keep.filter(F.col("dup_of") == F.col("doc_id")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    return simhash_incremental(new, state, bits=64, max_hamming=6)


# Training-corpus export: the DuckDB oracle replicates the ENGINE
# kernel `textstats.analyze_text` EXACTLY (token regex, the full
# 21/16-word stopword lists, the 0.5/0.2/0.3 quality blend) plus the
# md5 shard derivation — validated token-for-token against the Python
# kernel on the fixture before being adopted (0/500 mismatches).
_STOP_EN_FULL = (
    "('the','of','and','to','in','a','is','that','it','for','on','as',"
    "'with','at','by','an','be','this','which','or','from')"
)
_STOP_DE_FULL = (
    "('der','die','das','und','ist','zu','den','von','mit','im','für',"
    "'auf','des','ein','eine','nicht')"
)

ORACLE_CORPUS_EXPORT = f"""
WITH tok AS (
  SELECT doc_id, text,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, text, len(toks) AS n,
    len(list_filter(toks, t -> t IN {_STOP_EN_FULL})) AS en_c,
    len(list_filter(toks, t -> t IN {_STOP_DE_FULL})) AS de_c,
    CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) AS tok_chars,
    length(text) - length(translate(text, '.,;:!?', '')) AS punct
  FROM tok WHERE len(toks) > 0
),
s AS (
  SELECT doc_id, CAST(n AS INT) AS token_count,
    CASE WHEN en_c = 0 AND de_c = 0 THEN 'und'
         WHEN en_c >= de_c THEN 'en' ELSE 'de' END AS lang,
    round(0.5 * least(CAST(en_c + de_c AS DOUBLE) / n * 3.0, 1.0)
        + 0.2 * least(CAST(punct AS DOUBLE) / greatest(length(text), 1) * 20.0, 1.0)
        + 0.3 * (1.0 - least(abs(tok_chars / n - 5.0) / 5.0, 1.0)), 6) AS quality
  FROM m
)
SELECT doc_id, token_count, lang, quality,
  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       % 8 AS INT) AS shard
FROM s
WHERE token_count >= 5 AND quality >= 0.3 AND lang = 'en'
"""


def q_corpus_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus export ENGINE op (ops/export.export_corpus):
    one Arrow pass of the real ``analyze_text`` kernel → quality/lang
    filter → deterministic md5 shard. Dedup off here (the crawl-path
    engine simhash has no DuckDB twin); the dedup leg is covered by
    ``dedup_simhash_pairs`` + tests/test_export.py."""
    from pyspider_spark.ops.export import export_corpus

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    out = export_corpus(
        docs, min_tokens=5, min_quality=0.3, langs=("en",), n_shards=8
    )
    return out.select("doc_id", "token_count", "lang", "quality", "shard")


# Token-budget shard packing oracle: global exclusive prefix sum of
# token counts over doc_id order, integer-divided by the budget — the
# "concat and chunk" block-packing semantic (a doc belongs to the
# shard where it starts). The engine computes the same prefix sum as
# a two-level bucket reduction (ops/packing.pack_shards) so no
# single-partition window exists; the oracle can afford the plain
# global window at sf0.01.
ORACLE_CORPUS_PACK = f"""
WITH {_tok_cte("duck")},
tc AS (
  SELECT doc_id, CAST(coalesce(len(toks), 0) AS BIGINT) AS token_count
  FROM tok
),
pre AS (
  SELECT doc_id, token_count,
    coalesce(sum(token_count) OVER (
      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS p
  FROM tc
)
SELECT doc_id, token_count, CAST(p // 2048 AS BIGINT) AS shard_id FROM pre
"""


def q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget packing ENGINE op (ops/packing.pack_shards):
    documents in doc_id order are cut into 2048-token shards via the
    distributed two-level prefix sum; token counts come from the same
    dual-dialect tokenizer the text gates pin."""
    from pyspider_spark.ops.packing import pack_shards

    register_views(spark, sf_dir)
    tc = spark.sql(
        f"WITH {_tok_cte('spark')} SELECT doc_id, "
        "CAST(coalesce(size(toks), 0) AS BIGINT) AS token_count FROM tok"
    )
    return pack_shards(spark, tc, budget=2048, n_buckets=64)


# Deterministic stratified sampling oracle: the keep decision is a
# pure function of doc_id (first 8 md5 hex digits as u32 vs an exact
# integer threshold per language stratum) — the same construction as
# the export shard ids, so both engines agree bit-for-bit; a NULL id
# takes the md5('') coin on both sides (ops/sampling._u32_expr).
# Thresholds are computed ONCE here and embedded in both sides.
_SAMPLE_RATES = {"en": 1.0, "de": 0.5, "es": 0.25, "fr": 0.1, "zh": 0.0}
_SAMPLE_THRESH = {k: int(r * (1 << 32)) for k, r in _SAMPLE_RATES.items()}

ORACLE_CORPUS_SAMPLE = f"""
SELECT doc_id, lang FROM documents
WHERE CAST(concat('0x', substr(md5(coalesce(CAST(doc_id AS VARCHAR), '')), 1, 8)) AS BIGINT)
  < CASE lang
      {" ".join(f"WHEN '{k}' THEN {t}" for k, t in _SAMPLE_THRESH.items())}
      ELSE 0 END
"""


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified-mixture ENGINE op (ops/sampling.stratified_sample):
    per-language keep rates applied via the md5(doc_id) deterministic
    coin — row-identical across runs/partitionings/cluster sizes,
    which `df.sample()`'s per-task RNG cannot promise."""
    from pyspider_spark.ops.sampling import stratified_sample

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "lang")
    return stratified_sample(spark, docs, _SAMPLE_RATES, key_col="lang")


def _ann_queries(spark: SparkSession) -> DataFrame:
    return (
        spark.table("embeddings")
        .filter(F.col("vec_id").isin(0, 1, 2))
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


ORACLE_ANN_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
           FROM embeddings),
n0 AS (SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM e),
n AS (SELECT vec_id, list_transform(ev, x -> x / nrm) AS nv FROM n0),
q AS (SELECT vec_id AS query_id, nv AS qnv FROM n WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.query_id, n.vec_id,
         round(list_dot_product(q.qnv, n.nv), 6) AS cosine
  FROM q CROSS JOIN n
),
ranked AS (
  SELECT query_id, vec_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT query_id, vec_id, cosine, rnk FROM ranked WHERE rnk <= 10
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query ANN ENGINE op (ops/ann.ann_topk) on the exact
    brute-force path (no probe) — the oracle is per-query top-10 by
    cosine. The IVF-probed path of the same op is recall-checked in
    tests/test_ann.py (approximate recall has no SQL-exact oracle)."""
    from pyspider_spark.ops.ann import ann_topk

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    return ann_topk(spark, emb, _ann_queries(spark), k=10)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED gate for the REAL IVF path (round-2 verdict asked
    for the ``no_oracle`` flip): deterministic Lloyd training (RNG-free,
    fixed init) + distributed partial-sum reduce, then nprobe=6 of 8
    inverted lists. At this probe width the pruned search provably
    covers every true neighbor on these corpora (verified at
    sf0.001/0.01/0.1), so the output must EQUAL brute-force top-k —
    the DuckDB oracle — and any regression in training, assignment or
    probing surfaces as a value diff, while the plan still skips 25 %
    of the lists (real pruning, not nprobe=C exhaustion). The LOSSY
    regime (nprobe=2) keeps its recall-floor pin in tests/test_ann.py
    — approximate recall has no SQL-exact oracle by construction."""
    from pyspider_spark.ops.ann import ann_topk, train_ivf

    register_views(spark, sf_dir)
    emb = spark.table("embeddings")
    cents = train_ivf(spark, emb, n_centroids=8, n_iters=3)
    return ann_topk(spark, emb, _ann_queries(spark), k=10, centroids=cents, nprobe=6)


def q_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — the engine's REAL ``project_window_counts`` rollup
    (engine/results.py) over a metrics frame derived from `events`:
    project/kind/now/cnt columns, 5-minute tumbling windows on the
    logical clock. Oracle: the same floor-window GROUP BY in DuckDB."""
    from pyspider_spark.engine.results import project_window_counts

    register_views(spark, sf_dir)
    epoch = (
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS DOUBLE) * 86400.0"
        " + hour(ts) * 3600.0 + minute(ts) * 60.0 + second(ts)"
    )
    m = spark.sql(
        f"""
        SELECT concat('p', CAST(user_id % 3 AS STRING)) AS project,
               event_type AS kind,
               {epoch} AS now,
               CAST(event_id % 7 + 1 AS BIGINT) AS cnt
        FROM events"""
    )
    out = project_window_counts(m, window_s=300.0)
    return out.select(
        "project",
        "kind",
        F.col("window_start").cast("bigint").alias("window_start"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


ORACLE_WINDOW_ROLLUP = """
SELECT concat('p', CAST(user_id % 3 AS VARCHAR)) AS project,
       event_type AS kind,
       CAST(floor(epoch(ts) / 300.0) * 300 AS BIGINT) AS window_start,
       CAST(sum(event_id % 7 + 1) AS BIGINT) AS cnt
FROM events GROUP BY 1, 2, 3
"""


def q_stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 Structured Streaming gate — the REAL watermarked stream
    (streaming/ingest.py — A2 windows in append mode) driven with a
    two-trigger protocol so emission is deterministic and
    SQL-expressible: split events at max(ts) − 30 min, deliver chunk 1,
    drain (availableNow), deliver chunk 2, drain. Chunk 2 is strictly
    newer than chunk 1's watermark, so nothing is late-dropped, and the
    emitted set after both drains is exactly the tumbling windows whose
    end the final watermark (max(ts) − 10 min) has passed — which the
    DuckDB oracle reproduces with a GROUP BY + threshold."""
    import os
    import shutil
    import tempfile

    from pyspider_spark.streaming.ingest import stream_window_counts

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    import datetime as dt

    cut = ev.agg(F.max("ts")).collect()[0][0] - dt.timedelta(minutes=30)
    base = tempfile.mkdtemp(prefix="pyspider_stream_gate_")
    events_dir = os.path.join(base, "ev")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        ev.filter(F.col("ts") <= F.lit(cut)).coalesce(4).write.mode(
            "append"
        ).parquet(events_dir)
        stream_window_counts(spark, events_dir, out, ckpt).awaitTermination(300)
        ev.filter(F.col("ts") > F.lit(cut)).coalesce(4).write.mode(
            "append"
        ).parquet(events_dir)
        stream_window_counts(spark, events_dir, out, ckpt).awaitTermination(300)
        rows = (
            spark.read.parquet(out)
            .select(
                F.col("window_start").cast("bigint").alias("window_start"),
                "event_type",
                F.col("cnt").cast("bigint").alias("cnt"),
                "sum_value",
            )
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    # detach from the deleted tmp dir: materialize, then rebuild
    return spark.createDataFrame(
        rows, "window_start bigint, event_type string, cnt bigint, sum_value double"
    )


def q_stream_seen_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 stateful-streaming gate — the REAL applyInPandasWithState
    URL-seen bloom gate (streaming/frontier.py) driven two triggers
    over one checkpoint: batch 1 delivers the even-doc_id urls, batch 2
    delivers ALL urls. Evens are then bloom-resident in the state
    store, so batch 2 must emit exactly the odds — i.e. every key
    emits once, tagged with its first-occurrence batch, which the
    DuckDB oracle states in closed form. (Bloom FPs would fail this
    check loudly; at this key count the sized filter's FPR is ~0.)"""
    import os
    import shutil
    import tempfile

    from pyspider_spark.streaming.frontier import (
        read_urls_stream,
        run_stream,
        seen_filter_stream,
    )

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id")
    url = F.concat(
        F.lit("http://h"),
        (F.col("doc_id") % 17).cast("string"),
        F.lit(".example/d/"),
        F.col("doc_id").cast("string"),
    )
    host = F.concat(F.lit("h"), (F.col("doc_id") % 17).cast("string"), F.lit(".example"))

    def urls(df, batch: float):
        return df.select(
            url.alias("url"),
            url.alias("canon_url"),
            host.alias("host"),
            F.lit("p0").alias("project"),
            F.lit(0).alias("priority"),
            F.lit(batch).alias("ts"),
        )

    base = tempfile.mkdtemp(prefix="pyspider_seen_gate_")
    src = os.path.join(base, "urls")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    try:
        urls(docs.filter(F.col("doc_id") % 2 == 0), 1.0).coalesce(4).write.mode(
            "append"
        ).parquet(src)
        run_stream(seen_filter_stream(read_urls_stream(spark, src)), out, ckpt)
        urls(docs, 2.0).coalesce(4).write.mode("append").parquet(src)
        run_stream(seen_filter_stream(read_urls_stream(spark, src)), out, ckpt)
        rows = (
            spark.read.parquet(out)
            .select("canon_url", F.col("ts").cast("int").alias("batch"))
            .collect()
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, "canon_url string, batch int")


ORACLE_STREAM_SEEN = """
SELECT 'http://h' || CAST(doc_id % 17 AS VARCHAR) || '.example/d/'
         || CAST(doc_id AS VARCHAR) AS canon_url,
       CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS batch
FROM documents
"""


# final watermark = max(ts) − 10 min; append mode emits a window once
# watermark ≥ window_end (empirically pinned at both sf0.001/sf0.01)
ORACLE_STREAM_WINDOWS = """
WITH agg AS (
  SELECT CAST(floor(epoch(ts) / 300.0) * 300 AS BIGINT) AS window_start,
         event_type,
         CAST(count(*) AS BIGINT) AS cnt,
         round(sum(value), 4) AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT * FROM agg
WHERE window_start + 300 <= (SELECT epoch(max(ts)) - 600 FROM events)
"""


def q_taskid_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 via the REAL kernel: ``kernels.canon.taskid_series`` (the md5
    taskid every normalize pass derives) as an Arrow batch, not a SQL
    md5() call."""
    from pyspider_spark.kernels.canon import taskid_series

    tid = F.pandas_udf(taskid_series, "string")
    return _frontier_df(spark, sf_dir).select(
        "k", "url", tid("url").alias("taskid")
    )


def q_host_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 via the REAL kernel: ``kernels.canon.host_series`` (urlsplit
    hostname, the politeness key) vs the oracle's regex spec."""
    from pyspider_spark.kernels.canon import host_series

    hst = F.pandas_udf(host_series, "string")
    return _frontier_df(spark, sf_dir).select("k", hst("url").alias("host"))


def q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/P3 via the REAL round expression: ``stages.candidates_filter``
    — the exact predicate the driver applies to the resolved frontier
    every round (status/exetime pushdown + project gate)."""
    from pyspider_spark.engine.stages import candidates_filter

    fr = _frontier_df(spark, sf_dir)
    out = candidates_filter(fr, NOW, ["p0", "p1"])
    return out.select("k", "url", "host", "priority", "exetime", "project")


def q_lease_requeue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 via the REAL engine function: ``stages.lease_requeue`` over a
    synthetic in-flight set (every 13th key, leased at its exetime) at
    now = T0+3600 with the reference's 600 s lease — the async-fetcher
    semantics the batch engine implements but (by documented design)
    never invokes from its own round loop, since batch rounds settle
    every dispatched row in-round."""
    from pyspider_spark.engine.stages import lease_requeue

    fr = _frontier_df(spark, sf_dir)
    inflight = fr.filter(F.col("k") % 13 == 0).select(
        "k", F.col("exetime").alias("leased_at")
    )
    out = lease_requeue(
        fr, inflight, now=T0 + 3600.0, lease_s=600.0, key_cols=["k"]
    )
    return out.select("k", "url", "lease_exp")


def q_priority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 via the REAL total order: ``stages.order_cols()`` — the same
    Column list the politeness pre-rank and the schedule log use
    (priority DESC, exetime ASC, taskid ASC, project ASC; the oracle's
    md5(url) tiebreak equals taskid by construction)."""
    from pyspider_spark.engine.stages import order_cols
    from pyspider_spark.kernels.canon import taskid_series

    tid = F.pandas_udf(taskid_series, "string")
    fr = (
        _frontier_df(spark, sf_dir)
        .filter(F.col("status") == 1)
        .withColumn("taskid", tid("url"))
    )
    w = Window.partitionBy("host").orderBy(*order_cols())
    return fr.select(
        "k", "host", "priority", F.row_number().over(w).alias("rnk")
    )


def q_retry_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8 via the REAL settle expression: ``stages.retry_delay_expr``
    over retries_left = max_retries - retried (the engine's counter
    direction)."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine.stages import retry_delay_expr

    cfg = RoundConfig()
    fr = _frontier_df(spark, sf_dir).withColumn(
        "retries_left", F.lit(cfg.max_retries) - F.col("retried")
    )
    return fr.select(
        "k", "retried", retry_delay_expr(cfg).alias("retry_delay_s")
    )


def q_status_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 via the REAL rollup: ``engine.results.status_counts``."""
    from pyspider_spark.engine.results import status_counts

    fr = _frontier_df(spark, sf_dir)
    return status_counts(fr).withColumnRenamed("count", "cnt")


def q_fetch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 via the REAL fetch join: ``fetchx.fetch_join`` — the
    payload-stationary broadcast decomposition the round runs (hits
    inner-join + key-only semi scan + anti misses + rebalance + code
    derivation), with the page payload riding as the html column."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine.fetchx import fetch_join

    fr = _frontier_df(spark, sf_dir)
    sched = fr.filter(F.col("k") % 2 == 1).select(
        "k", "url", F.col("url").alias("canon_url"), "host",
        F.lit("index_page").alias("callback"),
    )
    pages = fr.filter(F.col("k") % 3 != 0).select(
        F.col("url").alias("canon_url"),
        F.floor("totalprice").cast("bigint").cast("string").cast("binary").alias("html"),
    )
    out = fetch_join(sched, pages, RoundConfig(), sched_rows=None)
    return out.select(
        "k",
        "url",
        "code",
        F.coalesce(
            F.col("html").cast("string").cast("bigint"), F.lit(0)
        ).alias("content_len"),
    )


def q_results_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 via the REAL paging op: ``engine.results.select_results``
    (TakeOrdered head + bounded row_number — the plan
    tests/test_plans.py pins); offset 20, limit 20."""
    from pyspider_spark.engine.results import select_results

    fr = _frontier_df(spark, sf_dir).filter(F.col("status") == 2)
    res = fr.select(
        F.md5("url").alias("taskid"), "url", F.col("exetime").alias("updatetime")
    )
    paged = select_results(res, offset=20, limit=20)
    w = Window.orderBy(F.desc("updatetime"), F.asc("taskid"))
    return paged.withColumn("rn", (F.row_number().over(w) + 20).cast("int"))


ORACLE_HTTP_FETCH = """
SELECT doc_id AS k,
  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 = 0 THEN 404 ELSE 200 END AS code,
  (doc_id % 7 = 0) AS redirected,
  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 = 0
       THEN 0 ELSE length(trim(text)) + 2 END AS text_len,
  CASE WHEN doc_id % 7 <> 0 AND doc_id % 5 = 0 THEN 0 ELSE 1 END AS n_links
FROM documents
"""


def q_http_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7's PRODUCTION half — the transport-injectable HTTP fetch stage
    (``engine/fetch_http.fetch_http_and_extract``) end-to-end: the gate
    scripts a mock web from `documents` as a file_transport routes file
    (the driver-side collect builds the TEST APPARATUS — the mock
    server — not the data path; executors stream the schedule through
    mapInPandas + thread-pool fetches as in production) and drives
    redirect chains (doc_id%7=0: 302 → mirror), gzip bodies (%3=0),
    404s (%5=0) and plain 200s through the REAL chain logic
    (``tornado_fetcher.py — http_fetch/handle_response`` semantics).
    Oracle: closed-form arithmetic — redirected rows must land on the
    mirror's content, gzip rows must decode to the same text, misses
    404. Routes live in a local tmp file; on a real cluster the same
    file ships via SparkFiles/shared storage."""
    import hashlib as _hl
    import json as _json
    import os as _os
    import tempfile as _tf

    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine.fetch_http import fetch_http_and_extract

    register_views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text").collect()
    routes: dict[str, dict] = {}
    for r_ in docs:
        d, text = int(r_["doc_id"]), r_["text"]
        body = (
            f'<html><body><p>{text}</p><a href="/l/0">x</a></body></html>'
        ).encode("utf-8")
        url = f"http://docs.example/d/{d}"
        if d % 7 == 0:
            routes[url] = {
                "status": 302,
                "headers": {"location": f"http://docs.example/m/{d}"},
            }
            routes[f"http://docs.example/m/{d}"] = {
                "status": 200,
                "body_hex": body.hex(),
            }
        elif d % 5 == 0:
            pass  # no route → transport 404
        elif d % 3 == 0:
            import gzip as _gz

            routes[url] = {
                "status": 200,
                "headers": {"content-encoding": "gzip"},
                "body_hex": _gz.compress(body, mtime=0).hex(),
            }
        else:
            routes[url] = {"status": 200, "body_hex": body.hex()}
    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    path = _os.path.join(_tf.gettempdir(), f"pyspider_http_gate_{tag}.json")
    with open(path, "w") as f:
        _json.dump(routes, f, sort_keys=True)

    cfg = RoundConfig(
        fetch_stage="http",
        http_transport="pyspider_spark.engine.fetch_http:file_transport",
        http_transport_arg=path,
        http_pool=8,
    )
    docs_df = spark.table("documents").select("doc_id", "text")
    url = F.concat(F.lit("http://docs.example/d/"), F.col("doc_id"))
    sched = _sched_cols(docs_df.select(F.col("doc_id").alias("k"), url.alias("url")))
    return _fetch_cols(
        fetch_http_and_extract(sched, cfg),
        F.col("redirect_url").isNotNull().alias("redirected"),
    )


# --- round-4 conversions: the last spec pins with engine twins ---------

TOPK_BUDGET = 120  # O3 round budget for the politeness_topk gate


def q_politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2+O3 via the REAL politeness pass — ``schedule_round`` from
    cold state with rate=1.0/burst=BURST (the stateless per-host
    top-burst admission) AND a ``round_budget``, so this gate also
    exercises the O3 global cut (TakeOrdered over ``order_cols()``)
    that its stateful sibling leaves unbounded. Oracle: per-host
    top-BURST in O1 order, then the global O1-ordered top-TOPK_BUDGET."""
    from pyspider_spark.engine.stages import order_cols

    w = Window.orderBy(*order_cols())
    return _politeness_gate(
        spark,
        sf_dir,
        lambda s: s.withColumn("grank", F.row_number().over(w).cast("int")).select(
            "k", "host", "url", "priority", "grank"
        ),
        round_budget=TOPK_BUDGET,
    )


ORACLE_POLITENESS_TOPK = f"""
WITH {FRONTIER_CTE},
cand AS (
  SELECT k, url, host, priority, exetime, md5(url) AS taskid, project FROM frontier
  WHERE status = 1 AND exetime <= {NOW} AND project IN ('p0', 'p1')
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host
            ORDER BY priority DESC, exetime ASC, taskid ASC) AS rnk
  FROM cand
),
admitted AS (SELECT * FROM ranked WHERE rnk <= {BURST}),
cut AS (
  SELECT *, row_number() OVER (
    ORDER BY priority DESC, exetime ASC, taskid ASC, project ASC) AS grank
  FROM admitted
)
SELECT k, host, url, priority, CAST(grank AS INT) AS grank
FROM cut WHERE grank <= {TOPK_BUDGET}
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via the ENGINE op ``ops/dedup.exact_dedup`` (the
    cheap pre-banding pass of the corpus pipeline) over the augmented
    docs frame — one map-side-combined hash agg, same SQL oracle."""
    from pyspider_spark.ops.dedup import exact_dedup

    return exact_dedup(_docs_aug_df(spark, sf_dir))


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 via the ENGINE's URL-seen path (:func:`_probe_gate`, no
    cancels), emitting the rows that SURVIVE the anti-join (never-seen
    → schedulable), exactly how a round decides which follows are new.
    Oracle is the exact NOT EXISTS over the inserted key set: bloom FPs
    must be resolved away, and a bloom false negative (impossible by
    construction) would surface as an extra row."""
    return _probe_gate(spark, sf_dir).filter(~F.col("seen")).select("k", "url")


def q_follows_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+A4 via the ENGINE's real path: follows union streamed through
    ``stages.normalize_updates`` (canonicalize + taskid/host/pid
    derivation, Arrow batch) then ``stages.collapse_updates`` (the
    max-priority / min-exetime per-key hash agg the reference's
    PriorityTaskQueue.put performs). dup_cnt comes from the same
    normalized frame so the oracle checks multiplicity too."""
    from pyspider_spark.config import RoundConfig
    from pyspider_spark.engine.stages import collapse_updates, normalize_updates

    register_views(spark, sf_dir)
    li = spark.table("lineitem")
    f1 = li.filter(F.col("l_orderkey") % 4 == 0).select(
        F.concat(
            F.lit("http://host"),
            F.col("l_suppkey") % 50,
            F.lit(".example/p/"),
            F.col("l_partkey"),
        ).alias("url"),
        F.col("l_linenumber").cast("int").alias("priority"),
        (F.lit(T0) + (F.col("l_orderkey") % 60).cast("double")).alias("exetime"),
    )
    f2 = li.filter(F.col("l_orderkey") % 4 == 1).select(
        F.concat(
            F.lit("http://host"),
            F.col("l_partkey") % 50,
            F.lit(".example/p/"),
            F.col("l_suppkey"),
        ).alias("url"),
        (F.col("l_quantity").cast("int") % 10).cast("int").alias("priority"),
        (F.lit(T0) + (F.col("l_partkey") % 60).cast("double")).alias("exetime"),
    )
    norm = normalize_updates(f1.unionByName(f2), RoundConfig(n_partitions=4))
    coll = collapse_updates(norm)
    cnt = norm.groupBy("taskid").agg(F.count("*").alias("dup_cnt"))
    return coll.join(cnt, "taskid").select(
        "taskid", "url", "priority", "exetime", "dup_cnt"
    )


def q_cron_due(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 via the ENGINE's cron kernel — ``round.cron_due_rows`` (the
    standalone the round loop's ``_cron_rows`` delegates to) over a
    nation-derived projects dim with per-project tick and last-emitted
    state; the oracle states the due rule directly. Driver-side by
    design (projects are a tiny dim — SURVEY §2.2)."""
    from pyspider_spark.engine.round import cron_due_rows

    register_views(spark, sf_dir)
    nat = spark.table("nation").select("n_nationkey", "n_name").collect()
    proj = {
        f"proj_{r['n_name']}": {
            "min_tick": (r["n_nationkey"] + 1) * 60,
            "status": "RUNNING",
        }
        for r in nat
    }
    state = {f"proj_{r['n_name']}": r["n_nationkey"] % 3 for r in nat}
    rows, _new_state = cron_due_rows(proj, state, now=T0 + 3600.0, t0=T0)
    out = [
        (name, proj[name]["min_tick"], int(url.rsplit("|", 1)[1]))
        for url, name, _cb in rows
    ]
    return spark.createDataFrame(
        out, "project string, tick_s bigint, due_k bigint"
    )


# =====================================================================
# The registry: gate name → (Spark query, DuckDB oracle), in check
# order. The driver checks only the first 50 gates, so every gate that
# runs engine code comes first and the pure-SQL pairs, which no engine
# change can reach, come last.
# =====================================================================

GATES: dict[str, tuple[Query, str]] = {
    "crawl_politeness_topk": (q_politeness_topk, ORACLE_POLITENESS_TOPK),
    "crawl_seen_antijoin": (q_seen_antijoin, ORACLE_SEEN_ANTIJOIN),
    "crawl_follows_collapse": (q_follows_collapse, ORACLE_FOLLOWS_COLLAPSE),
    "crawl_cron_due": (q_cron_due, ORACLE_CRON_DUE),
    "crawl_lease_requeue": (q_lease_requeue, ORACLE_LEASE_REQUEUE),
    "dedup_exact": (q_dedup_exact, ORACLE_DEDUP_EXACT),
    "crawl_taskid_md5": (q_taskid_md5, ORACLE_TASKID_MD5),
    "crawl_host_extract": (q_host_extract, ORACLE_HOST_EXTRACT),
    "crawl_candidates": (q_candidates, ORACLE_CANDIDATES),
    "crawl_priority_rank": (q_priority_rank, ORACLE_PRIORITY_RANK),
    "crawl_retry_delay": (q_retry_delay, ORACLE_RETRY_DELAY),
    "crawl_status_count": (q_status_count, ORACLE_STATUS_COUNT),
    "crawl_fetch_join": (q_fetch_join, ORACLE_FETCH_JOIN),
    "results_select_page": (q_results_page, ORACLE_RESULTS_PAGE),
    "crawl_http_fetch": (q_http_fetch, ORACLE_HTTP_FETCH),
    "crawl_window_rollup": (q_window_rollup, ORACLE_WINDOW_ROLLUP),
    "stream_window_counts": (q_stream_window_counts, ORACLE_STREAM_WINDOWS),
    "stream_seen_filter": (q_stream_seen_filter, ORACLE_STREAM_SEEN),
    "crawl_url_canon": (q_url_canon, ORACLE_URL_CANON),
    "dedup_minhash_pairs": (q_dedup_minhash_pairs, ORACLE_DEDUP_PAIRS),
    "dedup_corpus_keep": (q_dedup_corpus, ORACLE_DEDUP_CORPUS),
    "dedup_incremental": (q_dedup_incremental, ORACLE_DEDUP_INCREMENTAL),
    "sim_near_dup_pairs": (q_near_dup_pairs, _sql_near_dup_vec("duck")),
    "dedup_embedding_keep": (q_embedding_keep, _sql_embedding_keep("duck")),
    "dedup_embedding_incremental": (q_embedding_incremental, _sql_embedding_incremental("duck")),
    "sim_lsh_near_dup": (q_lsh_near_dup, _sql_lsh_near_dup("duck")),
    "crawl_schedule_stateful": (q_schedule_stateful, ORACLE_SCHEDULE_STATEFUL),
    "crawl_schedule_multiproject": (q_schedule_multiproject, ORACLE_SCHEDULE_MULTIPROJECT),
    "crawl_fetch_extract": (q_fetch_extract, ORACLE_FETCH_EXTRACT),
    "crawl_fetch_extract_bucketed": (q_fetch_extract_bucketed, ORACLE_FETCH_EXTRACT),
    "crawl_data_url_fetch": (q_data_url_fetch, ORACLE_DATA_URL_FETCH),
    "crawl_js_fetch": (q_js_fetch, ORACLE_JS_FETCH),
    "crawl_merge_frontier": (q_merge_frontier_delta, ORACLE_MERGE_FRONTIER),
    "dedup_simhash_pairs": (q_simhash_near_dup, ORACLE_SIMHASH_PAIRS),
    "dedup_simhash_pairs64": (q_simhash_near_dup64, ORACLE_SIMHASH_PAIRS64),
    "dedup_simhash_incremental": (q_simhash_incremental, ORACLE_SIMHASH_INCREMENTAL),
    "corpus_export_shards": (q_corpus_export, ORACLE_CORPUS_EXPORT),
    "corpus_pack": (q_corpus_pack, ORACLE_CORPUS_PACK),
    "corpus_sample_stratified": (q_corpus_sample, ORACLE_CORPUS_SAMPLE),
    "sim_ann_topk": (q_ann_topk, ORACLE_ANN_TOPK),
    "sim_ann_topk_ivf": (q_ann_topk_ivf, ORACLE_ANN_TOPK),
    "crawl_bloom_seen": (q_bloom_seen, ORACLE_BLOOM_SEEN),
    "crawl_probe_verified": (q_probe_verified, ORACLE_PROBE_VERIFIED),
    "mm_decode_features": (q_multimodal_features, ORACLE_MM_FEATURES),
    "mm_resize": (q_multimodal_resize, ORACLE_MM_RESIZE),
    "mm_frame_sample": (q_multimodal_frames, ORACLE_MM_FRAMES),
    "crawl_event_window_counts": _paired(_sql_event_windows),
    "text_token_count": _paired(_sql_token_count),
    "text_quality_score": _paired(_sql_quality),
    "text_lang_id": _paired(_sql_lang_id),
    "text_fingerprint": _paired(_sql_fingerprint),
    "dedup_ngram_jaccard": _paired(_sql_ngram_jaccard),
    "dedup_minhash_lsh": _paired(_sql_minhash_lsh),
    "dedup_simhash": _paired(_sql_simhash),
    "sim_cosine_scores": _paired(_sql_cosine_scores),
    "sim_cosine_topk": _paired(_sql_cosine_topk),
    "sim_lsh_buckets": _paired(_sql_lsh_buckets),
    "sim_ivf_assign": _paired(_sql_ivf_assign),
}


def build_queries() -> dict[str, Query]:
    return {name: fn for name, (fn, _oracle) in GATES.items()}


def build_oracles() -> dict[str, str]:
    return {name: oracle for name, (_fn, oracle) in GATES.items()}
