"""Pre-flight replica of the driver's correctness gate (SURVEY §5.2.5):
run every __spark_entry__ query on Spark AND its DuckDB oracle at
sf0.001 and compare row count, column names, and order-insensitive
values — stricter than the driver's value hash (exact cell equality)."""

from __future__ import annotations

import glob
import math
import os
import tempfile

import duckdb
import pytest

SF_DIR = os.environ.get("CONTRACT_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    import pyspider_spark.contract as C

    con = duckdb.connect()
    for t in C.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "item"):  # numpy scalar
        return _norm_cell(v.item())
    return v


def _canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        [tuple(_norm_cell(r[i]) for i in order) for r in rows],
        key=repr,
    )


def _all_pairs():
    import pyspider_spark.contract as C

    qs = C.build_queries()
    os_ = C.build_oracles()
    return [(name, qs[name], os_[name]) for name in sorted(qs)]


def _gate_tmp_dirs() -> set[str]:
    pattern = os.path.join(tempfile.gettempdir(), "*gate_*")
    return {p for p in glob.glob(pattern) if os.path.isdir(p)}


def test_registry_order():
    """The driver checks only the first 50 gates: every gate that runs
    engine code (a module-level ``q_*`` function) must come before the
    pure-SQL pairs and fit in that window. No JVM needed."""
    import pyspider_spark.contract as C

    qs, os_ = C.build_queries(), C.build_oracles()
    assert list(qs) == list(os_)
    assert len(qs) == 58
    assert all(isinstance(o, str) and o.strip() for o in os_.values())
    engine = [fn.__name__.startswith("q_") for fn in qs.values()]
    n_engine = sum(engine)
    assert engine == [True] * n_engine + [False] * (len(engine) - n_engine)
    assert n_engine <= 50


@pytest.mark.parametrize("name,fn,oracle", _all_pairs(), ids=lambda p: p if isinstance(p, str) else "")
def test_query_matches_oracle(spark, duck, name, fn, oracle):
    tmp_before = _gate_tmp_dirs()
    df = fn(spark, SF_DIR)
    spark_cols = list(df.columns)
    spark_rows = [tuple(r) for r in df.collect()]
    assert _gate_tmp_dirs() <= tmp_before, f"{name}: left a temp dir behind"

    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) > 0, f"{name}: empty result makes the gate vacuous"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} (spark) != {len(duck_rows)} (duckdb)"
    )
    s = _canon_rows(spark_cols, spark_rows)
    d = _canon_rows(duck_cols, duck_rows)
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"k", "host", "url", "seq_in_host", "code"} <= set(df.columns)


