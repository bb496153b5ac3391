"""ops/export + jobs/corpus_export — training-corpus export stage:
kernel-stats parity, filter semantics, dedup keep-join, deterministic
sharding, and the job CLI end-to-end."""

from __future__ import annotations

import hashlib
import json
import os

import pyspark.sql.functions as F
import pytest

from pyspider_spark.ops.export import export_corpus, with_shard, with_text_stats
from pyspider_spark.ops.textstats import analyze_text

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


def _docs(spark):
    return spark.read.parquet(f"{TESTDATA}/documents.parquet").select(
        "doc_id", "text"
    )


def test_with_text_stats_matches_kernel(spark):
    docs = _docs(spark).limit(50)
    got = {
        r["doc_id"]: (r["token_count"], r["lang"], r["quality"], r["simhash"])
        for r in with_text_stats(docs).collect()
    }
    for r in docs.collect():
        assert got[r["doc_id"]] == analyze_text(r["text"] or "")


def test_shard_deterministic_md5(spark):
    out = with_shard(_docs(spark).limit(20), "doc_id", 8).collect()
    for r in out:
        exp = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16) % 8
        assert r["shard"] == exp


def test_filter_and_lang(spark):
    out = export_corpus(
        _docs(spark), min_tokens=5, min_quality=0.3, langs=("en",), n_shards=4
    )
    rows = out.collect()
    assert rows, "filter must keep a non-trivial subset"
    assert len(rows) < _docs(spark).count(), "filter must drop something"
    for r in rows:
        assert r["token_count"] >= 5
        assert r["quality"] >= 0.3
        assert r["lang"] == "en"
        assert 0 <= r["shard"] < 4


def test_dedup_removes_exact_copies(spark):
    base = _docs(spark).limit(100)
    copies = base.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    docs = base.unionByName(copies)
    out = export_corpus(docs, min_tokens=1, n_shards=4, dedup=True)
    kept = {r["doc_id"] for r in out.select("doc_id").collect()}
    # an injected copy has hamming 0 to its base, whose key is smaller
    # → a copy can never be its component's canonical (min key) doc.
    # (The base itself may legitimately lose to ANOTHER base doc if the
    # fixture texts collide within the hamming ball, so only the
    # copies' absence is asserted.)
    for r in copies.select("doc_id").collect():
        assert r["doc_id"] not in kept
    assert kept, "dedup must keep the canonical docs"


def test_job_cli_end_to_end(tmp_path, spark):
    import jobs.corpus_export as job

    out_dir = str(tmp_path / "export")
    rc = job.main(
        [
            "--docs",
            f"{TESTDATA}/documents.parquet",
            "--out",
            out_dir,
            "--min-tokens",
            "5",
            "--min-quality",
            "0.3",
            "--langs",
            "en",
            "--shards",
            "4",
        ]
    )
    assert rc == 0
    shards = [d for d in os.listdir(out_dir) if d.startswith("shard=")]
    assert 1 <= len(shards) <= 4
    back = spark.read.parquet(out_dir)
    assert back.filter(F.col("quality") < 0.3).count() == 0
    assert back.count() > 0


def test_job_cli_mix_and_pack(tmp_path, spark):
    """--mix applies the deterministic per-lang keep rates on the
    ANALYZED lang; --pack-budget replaces md5 shards with the token-
    tape blocks: every shard's token sum stays under budget + one doc
    (block semantics), and only the tape's final shard may be light."""
    import jobs.corpus_export as job

    out_dir = str(tmp_path / "export_mp")
    budget = 2048
    rc = job.main(
        [
            "--docs",
            f"{TESTDATA}/documents.parquet",
            "--out",
            out_dir,
            "--mix",
            "en=1.0",
            "--pack-budget",
            str(budget),
        ]
    )
    assert rc == 0
    back = spark.read.parquet(out_dir)
    assert back.select("lang").distinct().collect() == [("en",)]
    rows = sorted(
        (r["doc_id"], r["token_count"], r["shard"])
        for r in back.select("doc_id", "token_count", "shard").collect()
    )
    assert len({s for _, _, s in rows}) >= 2
    # exact block semantics: shard == floor(exclusive prefix / budget)
    # over doc_id order (and a shard never sums past budget + the doc
    # that starts last in it)
    pre = 0
    for _doc, tc, shard in rows:
        assert shard == pre // budget
        pre += tc
    # deterministic: the same invocation reproduces identical shards
    out2 = str(tmp_path / "export_mp2")
    assert job.main(
        ["--docs", f"{TESTDATA}/documents.parquet", "--out", out2,
         "--mix", "en=1.0", "--pack-budget", str(budget)]
    ) == 0
    a = sorted(map(tuple, back.select("doc_id", "shard").collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).select("doc_id", "shard").collect()))
    assert a == b


@pytest.mark.parametrize("mix", ["en", "en=lots", "en=1.0,de"])
def test_job_cli_rejects_malformed_mix(tmp_path, capsys, mix):
    """A malformed --mix token ends in a usage error naming the token,
    before any Spark work starts."""
    import jobs.corpus_export as job

    with pytest.raises(SystemExit) as exc:
        job.main(["--docs", "unused.parquet", "--out", str(tmp_path / "x"), "--mix", mix])
    assert exc.value.code == 2
    bad = mix.split(",")[-1]
    assert f"malformed token {bad!r}" in capsys.readouterr().err
