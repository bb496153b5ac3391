"""Training-corpus export job — the terminal pipeline stage over
either a documents-shaped table or a committed crawl snapshot:

    spark-submit --py-files dist/pyspider_spark.zip jobs/corpus_export.py \
        --docs <documents.parquet> --out <dir> \
        [--min-tokens 5] [--min-quality 0.3] [--langs en] \
        [--shards 16] [--dedup] [--format parquet|json]

    # or, over crawl output (latest successful crawl per url; text
    # joined from the pages table by the byte-identity contract):
    ... jobs/corpus_export.py --state <crawl-state> --fixtures <dir> --out <dir>

Composition is entirely ops/export.py (`export_corpus` →
`write_shards`): one Arrow stats pass with the engine's
``analyze_text`` kernel, a Catalyst quality/lang filter, optional
banded SimHash near-dup removal, deterministic md5 sharding. Prints
ONE JSON metrics line.

Reference parity: pyspider stops at resultdb
(``database/base/resultdb.py``); export is brief-mandated pipeline
surface beyond the reference.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def crawl_docs(spark, state_dir: str, fixtures: str):
    """(doc_id=url, text) for the latest successful crawl of each url,
    text from the pages golden column (extraction is byte-identical
    per the F5 contract, so no re-extraction pass is needed)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from pyspider_spark.engine.snapshot import SnapshotStore

    snap = SnapshotStore(state_dir)
    man = snap.read_manifest()
    if not man:
        raise SystemExit(json.dumps({"error": "no committed manifest"}))
    rels = man.get("tables", {}).get("results", [])
    if not rels:
        raise SystemExit(json.dumps({"error": "no results tables in manifest"}))
    results = spark.read.parquet(*[snap.abspath(r) for r in rels])
    latest = (
        results.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("url").orderBy(
                    F.desc("updatetime"), F.desc("taskid")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select("url")
    )
    pages = spark.read.parquet(f"{fixtures.rstrip('/')}/pages.parquet")
    return latest.join(
        pages.select(F.col("url"), "text"), "url", "inner"
    ).select(F.col("url").alias("doc_id"), "text")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--docs", help="documents-shaped parquet (doc_id, text)")
    src.add_argument("--state", help="crawl snapshot state dir")
    ap.add_argument("--fixtures", help="fixtures dir (pages text, with --state)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--langs", default=None, help="comma list, e.g. en,de")
    ap.add_argument("--shards", type=int, default=16)
    ap.add_argument("--dedup", action="store_true")
    ap.add_argument("--max-hamming", type=int, default=3)
    ap.add_argument(
        "--mix",
        default=None,
        help="corpus-mixing recipe 'lang=rate,...' (e.g. 'en=1.0,de=0.5'): "
        "deterministic md5(doc_id)-coin stratified sampling on the "
        "analyzed lang column (ops/sampling)",
    )
    ap.add_argument(
        "--mix-default",
        type=float,
        default=0.0,
        help="keep rate for langs absent from --mix (default 0)",
    )
    ap.add_argument(
        "--pack-budget",
        type=int,
        default=None,
        help="replace md5 shard ids with token-budget 'concat and "
        "chunk' packing (ops/packing): shard = the N-token tape block "
        "where the doc starts; string doc_ids pack in stable md5-hash "
        "order (which also decorrelates adjacent training docs)",
    )
    ap.add_argument("--format", default="parquet", choices=["parquet", "json"])
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    rates: dict[str, float] = {}
    for tok in args.mix.split(",") if args.mix else []:
        lang, sep, rate = tok.partition("=")
        try:
            if not sep:
                raise ValueError
            rates[lang] = float(rate)
        except ValueError:
            ap.error(f"--mix: malformed token {tok!r} (want lang=rate)")

    import pyspark.sql.functions as F

    from pyspider_spark.engine.session import get_spark
    from pyspider_spark.ops.export import export_corpus, write_shards

    spark = get_spark(cores=args.cores, app_name="corpus_export")
    if args.docs:
        docs = spark.read.parquet(args.docs).select("doc_id", "text")
    else:
        if not args.fixtures:
            ap.error("--state requires --fixtures for the pages text")
        docs = crawl_docs(spark, args.state, args.fixtures)

    n_in = docs.count()
    out = export_corpus(
        docs,
        min_tokens=args.min_tokens,
        min_quality=args.min_quality,
        langs=tuple(args.langs.split(",")) if args.langs else None,
        n_shards=args.shards,
        dedup=args.dedup,
        max_hamming=args.max_hamming,
    ).persist()  # pack_shards runs bounded aggs over this lineage and
    # write_shards scans it again — persist BEFORE the fan-out or the
    # full Arrow analyze pass re-executes per action
    cached = [out]  # persisted handles (out is rebound below)
    if args.mix:
        from pyspider_spark.ops.sampling import stratified_sample

        out = stratified_sample(
            spark, out, rates, key_col="lang", default_rate=args.mix_default
        )
    if args.pack_budget:
        from pyspider_spark.ops.packing import pack_shards

        numeric = dict(out.dtypes)["doc_id"] in ("tinyint", "smallint", "int", "bigint")
        # one tape slot per distinct doc_id: a duplicated id is one
        # document (the md5-shard path was row-independent, but an
        # inner join back on a duplicated key would emit k×k rows —
        # silent corpus corruption)
        uniq = out.groupBy("doc_id").agg(F.max("token_count").alias("token_count"))
        if numeric:
            packed = pack_shards(spark, uniq, args.pack_budget).select(
                "doc_id", F.col("shard_id").alias("shard")
            )
        else:
            # string ids (crawl urls): stable 60-bit md5 key sets the
            # tape order; the original id breaks hash-collision ties
            pk = uniq.select(
                F.col("doc_id").alias("_orig"),
                F.conv(F.substring(F.md5("doc_id"), 1, 15), 16, 10)
                .cast("long")
                .alias("doc_id"),
                "token_count",
            )
            packed = pack_shards(
                spark, pk, args.pack_budget, tiebreak_col="_orig"
            ).select(F.col("_orig").alias("doc_id"), F.col("shard_id").alias("shard"))
        # write_shards, count() and the shard count each scan out —
        # persist so the pack join runs once
        out = out.drop("shard").join(packed, "doc_id").persist()
        cached.append(out)
    write_shards(out, args.out, fmt=args.format, n_shards=args.shards)
    n_out = out.count()
    shards = out.groupBy("shard").count().count()
    for df in cached:
        df.unpersist()
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_out": n_out,
                "dropped": n_in - n_out,
                "shards": shards,
                "out": args.out,
                "format": args.format,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
