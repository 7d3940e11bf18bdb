"""spark-submit entrypoints (north rule: "launched via spark-submit
--py-files on multi-executor clusters").

Usage on a cluster (the module is self-contained under gepris_spark/):

  zip -r gepris_spark.zip gepris_spark
  spark-submit --py-files gepris_spark.zip -m gepris_spark.cli crawl \
      --seeds s3://bucket/seeds.parquet --state s3://bucket/state \
      --batch-size 50000

Subcommands:
  crawl   — run the micro-batch frontier loop over a seed parquet
            (resumes from the state dir's ledger automatically)
  replay  — crawl + assert exact-match against the pure-Python oracle
            (small corpora only; the oracle is single-threaded)
  bench   — frontier throughput on a generated corpus (bench.py is the
            repo-root variant the driver runs; this one works from a
            --py-files deployment)

Local smoke:  python -m gepris_spark.cli crawl --help
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _spark(args):
    from gepris_spark.session import get_spark, warm_up

    spark = get_spark(
        app_name=f"gepris-{args.cmd}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    # absorb fresh-JVM first-touch cost (codegen infra, python worker
    # fork) before user work starts — see session.warm_up docstring
    warm_up(spark)
    return spark


def _stop_unless_owned(spark, pre_existing) -> None:
    """Stop the session only if this command created it. getOrCreate
    returns the CALLER's live session when one exists (a test harness,
    a notebook embedding main()); stopping that kills every downstream
    use of it."""
    if pre_existing is None:
        spark.stop()


def cmd_crawl(args) -> int:
    from gepris_spark.operators import politeness
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    seeds = spark.read.parquet(args.seeds)
    robots = (
        spark.read.parquet(args.robots) if args.robots else politeness.empty_robots(spark)
    )
    engine = CrawlEngine(
        spark,
        args.state,
        EngineConfig(batch_size=args.batch_size, compact_every=args.compact_every),
    )
    ledger = engine.run_seed_list(seeds, robots)
    print(json.dumps({"batches": len(ledger), "visited": sum(r["n_visited"] for r in ledger)}))
    _stop_unless_owned(spark, pre_existing)
    return 0


def cmd_replay(args) -> int:
    """Crawl then diff against the oracle — the BASELINE.json
    exact-match gate, runnable anywhere: every visit-log row
    `(seq, url, scheduled_ms, batch_id)` and the URL-seen set must
    equal the oracle's."""
    from gepris_spark import replay as oracle
    from gepris_spark.operators import politeness
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    seeds = spark.read.parquet(args.seeds)
    engine = CrawlEngine(spark, args.state, EngineConfig(batch_size=args.batch_size))
    engine.run_seed_list(seeds, politeness.empty_robots(spark))
    cols = ("seq", "url", "scheduled_ms", "batch_id")
    got = [tuple(r) for r in engine.visit_log().orderBy("seq").select(*cols).collect()]
    got_seen = {r["url"] for r in engine.url_seen().distinct().collect()}
    seed_rows = [r.asDict() for r in seeds.orderBy("arrival_seq").collect()]
    expected = oracle.replay(seed_rows, batch_size=args.batch_size)
    want = [tuple(v[c] for c in cols) for v in expected.visits]
    match = got == want and got_seen == expected.url_seen
    print(json.dumps({"n_visits": len(got), "exact_match": match}))
    _stop_unless_owned(spark, pre_existing)
    return 0 if match else 1


def cmd_bench(args) -> int:
    from pyspark.sql import SparkSession

    from gepris_spark.sources.corpus import gen_seeds_df
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    import tempfile

    tmp = tempfile.mkdtemp(prefix="cli_bench_")
    gen_seeds_df(spark, args.n_per_context).write.mode("overwrite").parquet(tmp + "/seeds")
    seeds = spark.read.parquet(tmp + "/seeds")
    engine = CrawlEngine(spark, tmp + "/state", EngineConfig(batch_size=args.batch_size))
    t0 = time.perf_counter()
    ledger = engine.run_seed_list(seeds)
    wall = time.perf_counter() - t0
    visited = sum(r["n_visited"] for r in ledger)
    print(json.dumps({"urls": visited, "sec": round(wall, 2), "urls_per_sec": round(visited / wall, 1)}))
    _stop_unless_owned(spark, pre_existing)
    return 0


def cmd_query(args) -> int:
    """Run any contract query by name — the ad-hoc surface a reference
    user gets (`python -m gepris_spark.cli query dedup_minhash_lsh`).
    Resolves the same registry the driver grades (__spark_entry__),
    falling back to the packaged plan modules under --py-files
    deployments where the repo-root entry file is absent."""
    try:
        import __spark_entry__ as entrymod

        registry = entrymod.queries()
    except ImportError:
        from gepris_spark.plans.batchprep import BATCHPREP_QUERIES
        from gepris_spark.plans.contract_extra import CONTRACT_EXTRA_QUERIES
        from gepris_spark.plans.contract_truth import TRUTH_QUERIES
        from gepris_spark.plans.datapipe import DATAPIPE_QUERIES
        from gepris_spark.plans.imagepipe import IMAGEPIPE_QUERIES
        from gepris_spark.plans.multimodal_contract import MULTIMODAL_QUERIES
        from gepris_spark.plans.relational import RELATIONAL_QUERIES
        from gepris_spark.plans.storagepipe import STORAGEPIPE_QUERIES
        from gepris_spark.plans.trainprep import TRAINPREP_QUERIES
        from gepris_spark.plans.websignals import WEBSIGNALS_QUERIES

        registry = {
            name: fn
            for group in (
                RELATIONAL_QUERIES, DATAPIPE_QUERIES, IMAGEPIPE_QUERIES,
                CONTRACT_EXTRA_QUERIES, TRUTH_QUERIES, TRAINPREP_QUERIES,
                BATCHPREP_QUERIES, WEBSIGNALS_QUERIES, STORAGEPIPE_QUERIES,
            )
            for name, (fn, _sql) in group.items()
        }
        registry.update(MULTIMODAL_QUERIES)
    if args.list or args.name is None:
        for name in sorted(registry):
            print(name)
        return 0
    if args.name not in registry:
        import difflib

        near = difflib.get_close_matches(args.name, registry, n=3)
        print(f"unknown query {args.name!r}" + (f"; did you mean: {', '.join(near)}" if near else ""))
        return 2
    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    df = registry[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    if args.limit > 0:
        df.show(args.limit, truncate=False)
    print(json.dumps({"query": args.name, "rows": df.count(), "sf_dir": args.sf_dir}))
    _stop_unless_owned(spark, pre_existing)
    return 0


def cmd_export(args) -> int:
    """K6 — JSON feed export (the reference's `scrapy crawl … -O
    test.json`, README.md:58-65): dump an engine state table as JSON."""
    from pyspark.sql import SparkSession

    from gepris_spark import schemas
    from gepris_spark.operators.history import History
    from gepris_spark.store.table import SnapshotStore

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    store = SnapshotStore(args.state)
    if args.table == "visit_log":
        df = store.read_appends(spark, "visit_log", schemas.VISIT_LOG)
    elif args.table == "history":
        df = History(spark, store).read()
    elif args.table == "frontier":
        df = store.read(spark, "frontier", schemas.FRONTIER)
    else:
        raise SystemExit(f"unknown table {args.table!r}")
    df.write.mode("overwrite").json(args.out)
    print(json.dumps({"table": args.table, "rows": df.count(), "out": args.out}))
    _stop_unless_owned(spark, pre_existing)
    return 0


def cmd_prep(args) -> int:
    """Materialize training shards (plans/shardwriter.py): one parquet
    file per shard plus the manifest, then verify the written files
    against the manifest checksums. `--kind image` packs the curated
    input_hint catalog into aspect-bucketed batches; `--kind text`
    writes the deterministically-shuffled document corpus from
    --sf-dir. Exit 0 only when every shard round-trips."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from gepris_spark.plans import shardwriter as SW

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    if args.kind == "image":
        info = SW.write_image_shards(spark, args.out)
        bad = SW.verify_shards(spark, args.out).where(~F.col("ok")).count()
    elif args.kind == "warc":
        from gepris_spark.sources import warcish

        docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
            F.concat(
                F.lit("<urn:gepris:doc:"), F.col("doc_id").cast("string"), F.lit(">")
            ).alias("record_id"),
            F.concat(
                F.lit("https://gepris.dfg.de/gepris/projekt/"),
                F.col("doc_id").cast("string"),
            ).alias("target_uri"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        )
        manifest = warcish.write_warc_shards(docs, args.out, args.n_shards).toPandas()
        # read_warc_shards raises on any count/digest mismatch (fail-closed)
        n_back = warcish.read_warc_shards(spark, manifest).count()
        info = {
            "n_shards": int(len(manifest)),
            "n_records": int(manifest.n_records.sum()),
            "total_bytes": int(manifest.total_bytes.sum()),
        }
        bad = 0 if n_back == info["n_records"] else 1
    else:
        info = SW.write_text_shards(spark, args.sf_dir, args.out)
        bad = SW.verify_text_shards(spark, args.out).where(~F.col("ok")).count()
    print(json.dumps({**info, "kind": args.kind, "verified_ok": bad == 0,
                      "n_bad_shards": int(bad)}))
    _stop_unless_owned(spark, pre_existing)
    return 0 if bad == 0 else 1


def cmd_pipeline(args) -> int:
    """The north-star flow end-to-end (plans/pipeline.py): seed parquet
    -> checkpointed crawl -> fetch+parse (image decode) -> input_hint
    catalog -> curated aspect-bucketed shards + manifest -> fail-closed
    verification. Resumable: re-running with the same --state skips
    committed crawl batches via the ledger."""
    from pyspark.sql import SparkSession

    from gepris_spark.plans.pipeline import run_pipeline

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    seeds = spark.read.parquet(args.seeds)
    pages = spark.read.parquet(args.pages)
    robots = spark.read.parquet(args.robots) if args.robots else None
    report = run_pipeline(
        spark, seeds, pages, args.state, args.out, batch_size=args.batch_size,
        robots=robots,
    )
    print(json.dumps(report))
    _stop_unless_owned(spark, pre_existing)
    return 0 if report["verified_ok"] else 1


def cmd_cache(args) -> int:
    """Targeted cache eviction — reference parity with
    cache_control.py:21-37 `delete_detail_cache`: remove ONE
    (element_id, context)'s cached detail pages, BOTH languages, from a
    page-store parquet so the next batch's read-through (S8,
    fetchparse.fetch_pages) misses and the refresh path refetches.

    In-place by default (staged rewrite + atomic directory swap — the
    store is never half-written), or --out for a filtered copy. The
    rewrite is a distributed filter; only the O(languages) evicted keys
    are collected for the log line, mirroring the reference's per-key
    delete messages."""
    import os
    import shutil

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    pages = spark.read.parquet(args.pages)
    pat = f"/gepris/{args.context}/{args.id}$"
    hits = pages.where(F.col("url").rlike(pat))
    evicted = [
        (r["url"], r["language"]) for r in hits.select("url", "language").collect()
    ]
    for url, language in sorted(evicted):
        print(f"evicting cached page {url} lang {language!r}", file=sys.stderr)
    kept = pages.where(~F.col("url").rlike(pat))
    out = args.out or args.pages
    if args.out:
        kept.write.mode("overwrite").parquet(args.out)
    elif evicted:
        # Crash-safe in-place swap: validate the staged rewrite (readable
        # parquet, row count == original - evicted) BEFORE the original
        # leaves its path, clear any stale backup from a crashed prior run
        # so the rename cannot hit a non-empty target, and only delete the
        # backup once the validated staging dir sits at the store path.
        base = args.pages.rstrip("/")
        staging, backup = base + ".evict-staging", base + ".evict-old"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(backup, ignore_errors=True)
        original_rows = pages.count()
        kept.write.mode("overwrite").parquet(staging)
        staged_rows = spark.read.parquet(staging).count()
        expected = original_rows - len(evicted)
        if staged_rows != expected:
            shutil.rmtree(staging, ignore_errors=True)
            raise SystemExit(
                f"cache evict: staged store has {staged_rows} rows, expected "
                f"{expected} ({original_rows} - {len(evicted)} evicted); "
                "original left untouched"
            )
        os.rename(base, backup)
        os.rename(staging, base)
        shutil.rmtree(backup)
    print(json.dumps({"evicted": len(evicted), "id": args.id, "context": args.context, "pages": out}))
    _stop_unless_owned(spark, pre_existing)
    return 0


def cmd_snapshots(args) -> int:
    """Iceberg-style table maintenance on an engine state dir: snapshot
    history, rollback-to-version, expiration, append-ledger compaction.
    history/rollback/expire are pure metadata + hardlink operations — no
    Spark session, safe to run beside a live crawl (expiration never
    touches the current pointer or its predecessor within the retention
    window); compact starts a session to rewrite the folded parquet."""
    from gepris_spark.store.table import SnapshotStore

    store = SnapshotStore(args.state)
    if args.action == "history":
        print(json.dumps({"table": args.table, "snapshots": store.snapshots(args.table)}))
    elif args.action == "rollback":
        if args.version is None:
            raise SystemExit("snapshots rollback requires --version")
        new_version = store.rollback(args.table, args.version)
        print(
            json.dumps(
                {"table": args.table, "rolled_back_to": args.version, "new_version": new_version}
            )
        )
    elif args.action == "expire":
        expired = store.expire_snapshots(args.table, keep_last=args.keep_last)
        print(
            json.dumps({"table": args.table, "expired": expired, "keep_last": args.keep_last})
        )
    elif args.action == "tail":
        # incremental ledger tail (read_appends_since): O(new batches)
        # dir-pruned read for downstream consumers resuming at a batch id
        from gepris_spark import schemas

        schema = getattr(schemas, _APPEND_TABLES[args.table])
        from pyspark.sql import SparkSession

        pre_existing = SparkSession.getActiveSession()
        spark = _spark(args)
        df, report = store.read_appends_since(
            spark, args.table, schema, min_batch_id=args.since
        )
        out = {"table": args.table, "since": args.since, "rows": df.count(), **report}
        if args.out:
            df.write.mode("overwrite").json(args.out)
            out["out"] = args.out
        print(json.dumps(out))
        if pre_existing is None:
            spark.stop()
    elif args.action == "compact":
        # append-ledger compaction (Iceberg rewrite_data_files): the one
        # action here that needs a Spark session — it rewrites parquet
        from gepris_spark import schemas

        schema = getattr(schemas, _APPEND_TABLES[args.table])
        from pyspark.sql import SparkSession

        pre_existing = SparkSession.getActiveSession()
        spark = _spark(args)
        res = store.compact_appends(spark, args.table, schema, keep_last=args.keep_last)
        print(json.dumps({"table": args.table, **res}))
        if pre_existing is None:  # don't stop a session the caller owns
            spark.stop()
    return 0


_APPEND_TABLES = {
    # append-only ledgers eligible for `snapshots compact`
    "visit_log": "VISIT_LOG",
    "history": "HISTORY",
}


_CDC_TABLES = {
    # table -> (schema attr, merge keys); extend as bucketed tables grow
    "frontier": ("FRONTIER", ["id", "context"]),
}


def cmd_changes(args) -> int:
    """Snapshot-changelog export (Iceberg `table_changes`): the CDC rows
    between two committed versions of a bucketed state table, written as
    JSON for downstream incremental consumers. The scan reads only hash
    buckets whose file sets differ between the snapshots."""
    from gepris_spark import schemas
    from gepris_spark.store.table import SnapshotStore

    from pyspark.sql import SparkSession

    schema_name, keys = _CDC_TABLES[args.table]
    pre_existing = SparkSession.getActiveSession()
    spark = _spark(args)
    store = SnapshotStore(args.state)
    df = store.changes(
        spark,
        args.table,
        getattr(schemas, schema_name),
        args.from_version,
        args.to_version,
        keys,
    )
    df.write.mode("overwrite").json(args.out)
    print(
        json.dumps(
            {
                "table": args.table,
                "from_version": args.from_version,
                "to_version": args.to_version,
                "rows": df.count(),
                "out": args.out,
            }
        )
    )
    _stop_unless_owned(spark, pre_existing)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="gepris-spark")
    ap.add_argument("--master", default=None, help="override spark master (default env/local)")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    crawl = sub.add_parser("crawl", help="run the frontier micro-batch loop")
    crawl.add_argument("--seeds", required=True, help="seed parquet path")
    crawl.add_argument("--state", required=True, help="engine state directory")
    crawl.add_argument("--robots", default=None, help="robots rules parquet")
    crawl.add_argument("--batch-size", type=int, default=50_000)
    crawl.add_argument("--compact-every", type=int, default=None,
                       help="fold the visit_log append ledger every N batches")
    crawl.set_defaults(fn=cmd_crawl)

    rp = sub.add_parser("replay", help="crawl + oracle exact-match check")
    rp.add_argument("--seeds", required=True)
    rp.add_argument("--state", required=True)
    rp.add_argument("--batch-size", type=int, default=50_000)
    rp.set_defaults(fn=cmd_replay)

    bench = sub.add_parser("bench", help="frontier throughput on a generated corpus")
    bench.add_argument("--n-per-context", type=int, default=100_000)
    bench.add_argument("--batch-size", type=int, default=2_000_000)
    bench.set_defaults(fn=cmd_bench)

    exp = sub.add_parser("export", help="JSON feed export of a state table (K6)")
    exp.add_argument("--state", required=True)
    exp.add_argument("--table", default="visit_log",
                     choices=["visit_log", "history", "frontier"])
    exp.add_argument("--out", required=True)
    exp.set_defaults(fn=cmd_export)

    snap = sub.add_parser(
        "snapshots", help="state-table snapshot maintenance (history/rollback/expire)"
    )
    snap.add_argument("action", choices=["history", "rollback", "expire", "compact", "tail"])
    snap.add_argument("--state", required=True, help="engine state directory")
    snap.add_argument("--table", default="frontier")
    snap.add_argument("--version", type=int, default=None, help="rollback target version")
    snap.add_argument("--keep-last", type=int, default=2, help="snapshots kept by expire")
    snap.add_argument("--since", type=int, default=0, help="tail: min batch_id (inclusive)")
    snap.add_argument("--out", default=None, help="tail: optional output JSON directory")
    snap.set_defaults(fn=cmd_snapshots)

    cache = sub.add_parser(
        "cache", help="page-store cache inspection/eviction (reference cache_control.py)"
    )
    cache.add_argument("action", choices=["evict"])
    cache.add_argument("--pages", required=True, help="page-store parquet path")
    cache.add_argument("--id", type=int, required=True, help="element id to evict")
    cache.add_argument("--context", default="projekt",
                       choices=["projekt", "person", "institution"])
    cache.add_argument("--out", default=None,
                       help="write the filtered store here instead of in-place")
    cache.set_defaults(fn=cmd_cache)

    chg = sub.add_parser(
        "changes", help="snapshot changelog (CDC) export between two versions"
    )
    chg.add_argument("--state", required=True, help="engine state directory")
    chg.add_argument("--table", default="frontier", choices=sorted(_CDC_TABLES))
    chg.add_argument("--from-version", type=int, required=True)
    chg.add_argument("--to-version", type=int, required=True)
    chg.add_argument("--out", required=True, help="output JSON directory")
    chg.set_defaults(fn=cmd_changes)

    prep = sub.add_parser(
        "prep", help="write training shards + manifest, verify round-trip"
    )
    prep.add_argument("--out", required=True, help="output dataset directory")
    prep.add_argument("--kind", choices=("image", "text", "warc"), default="image")
    prep.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                      help="documents table dir (text/warc shards only)")
    prep.add_argument("--n-shards", type=int, default=8,
                      help="shard count (warc shards only)")
    prep.set_defaults(fn=cmd_prep)

    qy = sub.add_parser(
        "query", help="run a contract query by name over a testdata sf dir"
    )
    qy.add_argument("name", nargs="?", default=None, help="query name (omit with --list)")
    qy.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    qy.add_argument("--limit", type=int, default=20, help="rows to show (0 = count only)")
    qy.add_argument("--explain", action="store_true", help="print the formatted physical plan")
    qy.add_argument("--list", action="store_true", help="list available query names")
    qy.set_defaults(fn=cmd_query)

    pipe = sub.add_parser(
        "pipeline", help="seeds -> crawl -> parse -> catalog -> verified shards"
    )
    pipe.add_argument("--seeds", required=True, help="seed parquet path")
    pipe.add_argument("--pages", required=True, help="page store parquet path")
    pipe.add_argument("--robots", default=None, help="robots rules parquet")
    pipe.add_argument("--state", required=True, help="crawl state directory (resumable)")
    pipe.add_argument("--out", required=True, help="output dataset directory")
    pipe.add_argument("--batch-size", type=int, default=10_000)
    pipe.set_defaults(fn=cmd_pipeline)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
