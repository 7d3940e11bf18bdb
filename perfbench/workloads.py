"""Crawl-engine workloads. `run.py` starts this file once per workload,
in a fresh interpreter and a fresh JVM; it writes one result file.

recrawl-small-batches
    A seed list (`gen_seeds_df`) replayed through `CrawlEngine.run_batch`
    in small micro-batches. The first pass (the warm-up, part of the
    set-up time) visits fresh URLs; in every timed batch of the second
    pass a fixed share of the arrivals re-discovers first-pass URLs and
    the rest are new, so each batch pays the bloom probe and the exact
    anti-join. Gate: the visit log and the URL-seen set equal
    `gepris_spark.replay.replay` on the same rows and batch size.

details-bilingual
    `CrawlEngine.run_details_batch` over the distinct detail URLs of a
    seed list, with de and en pages from `gen_pages_df`: two parse
    passes, the chain join, retry exhaustion, the history dedup-insert,
    the frontier MERGE and close-of-run person discovery, each batch
    on a fresh store. Gate: every scheduled id reaches a terminal
    history row and no retry is left unresolved.

Both are closed loops: the benchmark is the only client and starts the
next batch when the previous one has committed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from datetime import datetime

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import gates  # noqa: E402
from tracing import SparkWork, Tracer  # noqa: E402

MIB = float(1 << 20)

RECRAWL_BATCH = 2000
# batch 0 (the warm-up) is the first pass over fresh seeds; every later
# batch mixes in re-discoveries
RECRAWL_WARMUP_BATCHES = 1
RECRAWL_REDISCOVER_SHARE = 0.3
# fewest timed batches of a run, whatever --seconds says
RECRAWL_MIN_BATCHES = 2
# a 4-vCPU host runs one timed batch in about this many seconds. The
# number of timed batches follows from --seconds alone, so a slow or
# busy host measures the same work as a fast one, only for longer.
RECRAWL_NOMINAL_BATCH_S = 6.5

DETAILS_PER_CONTEXT = 40
# retry rows drain to terminal errors on the first pass (route_statuses'
# exhaustion rule); each re-fetch round would add ~20 Spark jobs, which
# the benchmark's time budget cannot carry
DETAILS_MAX_RETRIES = 0
# a details batch takes about this long on a 4-vCPU host; --seconds
# fixes the number of batches
DETAILS_NOMINAL_BATCH_S = 20.0


def log(t0: float, msg: str) -> None:
    print(f"[perfbench] {time.time() - t0:7.2f}s {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def tree_files(path: str) -> dict[str, tuple[int, int]]:
    """Regular files under `path` -> (inode, size)."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            st = os.lstat(full)
            out[full] = (st.st_ino, st.st_size)
    return out


def tree_mib(path: str) -> float:
    return sum(size for _ino, size in tree_files(path).values()) / MIB


def files_written(before: dict, after: dict) -> tuple[int, int]:
    """Files (and their bytes) that are new or replaced between two walks."""
    new = [v for k, v in after.items() if before.get(k) != v]
    return len(new), sum(size for _ino, size in new)


def session_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process's
    session: this process, the JVM (its JIT compiler and garbage
    collector too) and its Python workers. A worker that has exited
    counts through its parent's reaped-children time."""
    sid = os.getsid(0)
    ticks = 0
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[3] is the session (field 6 of stat); fields 14-17 are
        # utime, stime, cutime, cstime
        if int(fields[3]) == sid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def snapshot_dirs(root: str) -> int:
    """Live version directories of the store's snapshot tables."""
    n = 0
    for table in os.listdir(root):
        table_dir = os.path.join(root, table)
        if os.path.isdir(table_dir):
            n += sum(
                1
                for e in os.listdir(table_dir)
                if e[:1] == "v" and e[1:].isdigit() and os.path.isdir(os.path.join(table_dir, e))
            )
    return n


def tail(samples: list[float]) -> tuple[float, int] | None:
    """Highest whole percentile with at least ten samples beyond it,
    as (value, percentile); None when there are too few samples."""
    n = len(samples)
    if n < 11:
        return None
    pct = math.floor(100 * (1 - 10 / n))
    ordered = sorted(samples)
    return ordered[max(0, math.ceil(pct / 100 * n) - 1)], pct


def start_spark(workload: str):
    from gepris_spark.session import get_spark, warm_up

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(
        f"perfbench-{workload}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the traced run counts every job and stage of a batch
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark)
    return spark


def trace_targets() -> list[tuple[object, str, str]]:
    """Public entry points of each engine layer, wrapped in a traced round."""
    from gepris_spark.operators import chaining, fetchparse, politeness
    from gepris_spark.operators.frontier import Frontier
    from gepris_spark.operators.history import History
    from gepris_spark.operators.urlseen import BloomUrlSeen
    from gepris_spark.store.table import SnapshotStore
    from gepris_spark.streaming.microbatch import CrawlEngine

    return [
        (CrawlEngine, "run_batch", "microbatch.run_batch"),
        (CrawlEngine, "run_details_batch", "microbatch.run_details_batch"),
        (BloomUrlSeen, "filter_new", "urlseen.filter_new"),
        (BloomUrlSeen, "with_maybe_seen", "urlseen.with_maybe_seen"),
        (BloomUrlSeen, "add_urls", "urlseen.add_urls"),
        (politeness, "apply_robots", "politeness.apply_robots"),
        (politeness, "assign_schedule", "politeness.assign_schedule"),
        (politeness, "visit_order_with_count", "politeness.visit_order_with_count"),
        (SnapshotStore, "append_batch", "store.append_batch"),
        (SnapshotStore, "commit_snapshot", "store.commit_snapshot"),
        (SnapshotStore, "merge_bucketed", "store.merge_bucketed"),
        (SnapshotStore, "commit_bucketed", "store.commit_bucketed"),
        (SnapshotStore, "expire_snapshots", "store.expire_snapshots"),
        (fetchparse, "fetch_pages", "fetchparse.fetch_pages"),
        (fetchparse, "parse_stage", "fetchparse.parse_stage"),
        (fetchparse, "parse_result_stage", "fetchparse.parse_result_stage"),
        (chaining, "details_chain", "chaining.details_chain"),
        (History, "insert_batch", "history.insert_batch"),
        (Frontier, "upsert_details_batch", "frontier.upsert_details_batch"),
        (Frontier, "discover_new_persons", "frontier.discover_new_persons"),
        (
            Frontier,
            "mark_projekte_for_moved_references",
            "frontier.mark_projekte_for_moved_references",
        ),
        (
            Frontier,
            "mark_roots_for_moved_subinstitutions",
            "frontier.mark_roots_for_moved_subinstitutions",
        ),
    ]


# Per-layer metrics reported by the traced run of every workload. A
# layer the workload does not run reports 0 work; its speed is reported
# as a rate, so an unexercised layer never reads as a constant time.
PER_LAYER_UNITS = {
    "microbatch.spark_jobs_per_batch": "count",
    "microbatch.spark_tasks_per_batch": "count",
    "canonical.candidates_s": "s",
    "canonical.invalid_rows": "count",
    "canonical.dup_rows": "count",
    "urlseen.filter_s": "s",
    "urlseen.bloom_update_s": "s",
    "urlseen.probe_rows": "count",
    "urlseen.maybe_seen_rows": "count",
    "urlseen.exact_check_share": "ratio",
    "urlseen.false_positive_rows": "count",
    "urlseen.seen_set_rows": "count",
    "urlseen.bitset_mb": "MiB",
    "politeness.schedule_order_s": "s",
    "politeness.hosts_per_batch": "count",
    "politeness.hot_host_share": "ratio",
    "store.visit_write_s": "s",
    "store.state_commit_s": "s",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.live_snapshot_dirs": "count",
    "fetchparse.fetch_rows_per_s": "rows/s",
    "fetchparse.parse_rows_per_s": "rows/s",
    "fetchparse.html_mb": "MiB",
    "fetchparse.error_rows": "count",
    "codecs.images_decoded": "count",
    "codecs.image_mb": "MiB",
    "chaining.chain_rows_per_s": "rows/s",
    "chaining.retry_rows": "count",
    "history.insert_rows_per_s": "rows/s",
    "history.rows": "count",
    "frontier.upsert_rows_per_s": "rows/s",
    "frontier.rows": "count",
    "frontier.buckets_rewritten": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
}


def per_layer(values: dict[str, float]) -> dict[str, dict]:
    return {name: metric(float(values.get(name, 0.0)), unit) for name, unit in PER_LAYER_UNITS.items()}


def traced_batch(engine, batch, robots, batch_id, tracer, work) -> dict:
    """One run_batch with the ledger's detailed stage timings, layer
    spans, Spark work counts, a bloom probe of the batch's candidates
    against the exact seen set (taken before the batch commits), and a
    walk of the files the batch wrote."""
    from pyspark.sql import functions as F

    from gepris_spark.functions import canonical as C

    n_seen = sum(r["n_visited"] for r in engine.committed_batches().values())
    probe = {"probe_rows": 0, "maybe_seen_rows": 0, "false_positive_rows": 0}
    if not engine.bloom.is_empty():
        # the engine probes only when its bloom holds bits (filter_new)
        cands = (
            batch.select(C.canonical_url(F.col("url")).alias("url"))
            .where(F.col("url").rlike(r"^https?://[^/]*/gepris/[^/]+/\d+$"))
            .distinct()
        )
        truth = engine.url_seen().distinct().withColumn("_seen", F.lit(True))
        row = (
            engine.bloom.with_maybe_seen(cands)
            .join(truth, "url", "left")
            .agg(
                F.count(F.lit(1)).alias("probe_rows"),
                F.sum(F.col("maybe_seen").cast("long")).alias("maybe_seen_rows"),
                F.sum((F.col("maybe_seen") & F.col("_seen").isNull()).cast("long")).alias(
                    "false_positive_rows"
                ),
            )
            .collect()[0]
        )
        probe = {k: int(row[k] or 0) for k in probe}
    before = tree_files(engine.root)
    mark = work.mark()
    engine.config.detailed_metrics = True
    t0 = time.perf_counter()
    with tracer.patched(trace_targets(), f"batch-{batch_id}"):
        ledger = engine.run_batch(batch_id, batch, robots)
    wall = time.perf_counter() - t0
    engine.config.detailed_metrics = False
    counts = work.since(mark)
    n_files, n_bytes = files_written(before, tree_files(engine.root))
    return {
        "wall": wall,
        "ledger": ledger,
        "seen_set_rows": n_seen,
        "files_written": n_files,
        "bytes_written": n_bytes,
        **probe,
        **counts,
    }


def batch_layers(traced: list[dict], visits: list) -> dict[str, float]:
    """Per-batch medians of the traced run_batch calls."""

    def med(fn):
        return statistics.median(fn(t) for t in traced)

    def stage(name):
        return med(lambda t: t["ledger"]["stage_sec"].get(name, 0.0))

    hosts: dict[int, dict[str, int]] = {}
    for v in visits:
        per = hosts.setdefault(v["batch_id"], {})
        per[v["host"]] = per.get(v["host"], 0) + 1
    traced_hosts = [hosts.get(t["ledger"]["batch_id"], {}) for t in traced]
    return {
        "microbatch.spark_jobs_per_batch": med(lambda t: t["jobs"]),
        "microbatch.spark_tasks_per_batch": med(lambda t: t["tasks"]),
        "canonical.candidates_s": stage("candidates"),
        "canonical.invalid_rows": med(lambda t: t["ledger"]["n_invalid"]),
        "canonical.dup_rows": med(lambda t: t["ledger"]["n_dup_or_seen"]),
        "urlseen.filter_s": stage("urlseen_filter"),
        "urlseen.bloom_update_s": stage("bloom_update"),
        "urlseen.probe_rows": med(lambda t: t["probe_rows"]),
        "urlseen.maybe_seen_rows": med(lambda t: t["maybe_seen_rows"]),
        "urlseen.exact_check_share": med(
            lambda t: t["maybe_seen_rows"] / t["probe_rows"] if t["probe_rows"] else 0.0
        ),
        "urlseen.false_positive_rows": med(lambda t: t["false_positive_rows"]),
        "urlseen.seen_set_rows": med(lambda t: t["seen_set_rows"]),
        "politeness.schedule_order_s": stage("schedule_order"),
        "politeness.hosts_per_batch": statistics.median(len(h) for h in traced_hosts),
        "politeness.hot_host_share": statistics.median(
            max(h.values()) / sum(h.values()) if h else 0.0 for h in traced_hosts
        ),
        "store.visit_write_s": stage("visit_write"),
        "store.state_commit_s": stage("state_commit"),
        "store.files_written": med(lambda t: t["files_written"]),
        "store.bytes_written": med(lambda t: t["bytes_written"]),
    }


# ------------------------------------------------------------- recrawl
def recrawl_stream(spark, seed: int, batch: int, n_mixed: int):
    """Arrival stream: one batch of fresh seeds (the first pass), then
    `n_mixed` batches that each mix re-discoveries of first-pass
    arrivals with new seeds. Arrival order is explicit and dense."""
    import numpy as np
    import pandas as pd

    from gepris_spark.sources.corpus import gen_seeds_df

    n_first = batch
    n_again = round(batch * RECRAWL_REDISCOVER_SHARE)
    n_new = batch - n_again
    n_contexts = 3
    per_context = -(-(n_first + n_mixed * n_new) // n_contexts)
    pdf = (
        gen_seeds_df(spark, per_context, seed=seed)
        .select("url", "priority_type", "recency_ts", "arrival_seq")
        .toPandas()
        .sort_values(["arrival_seq", "url"], kind="stable")
        .reset_index(drop=True)
    )
    first = pdf.iloc[:n_first]
    fresh = pdf.iloc[n_first:]
    rng = np.random.default_rng(seed)
    parts = [first]
    for j in range(n_mixed):
        mixed = pd.concat(
            [
                fresh.iloc[j * n_new : (j + 1) * n_new],
                first.iloc[rng.integers(0, n_first, n_again)],
            ]
        )
        parts.append(mixed.iloc[rng.permutation(len(mixed))])
    stream = pd.concat(parts, ignore_index=True)
    stream["arrival_seq"] = np.arange(len(stream), dtype=np.int64)
    return stream


def run_recrawl(args, spark, t0: float, work: str) -> dict:
    from pyspark.sql import functions as F

    from gepris_spark.operators import politeness
    from gepris_spark.replay import replay
    from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig

    batch_size = max(50, int(RECRAWL_BATCH * args.scale))
    n_timed = max(RECRAWL_MIN_BATCHES, round(args.seconds / RECRAWL_NOMINAL_BATCH_S))
    if args.trace:
        # traced and untraced batches alternate
        n_timed *= 2
    t_gen = time.perf_counter()
    stream_pdf = recrawl_stream(spark, args.seed, batch_size, RECRAWL_WARMUP_BATCHES - 1 + n_timed)
    stream_path = os.path.join(work, "stream")
    spark.createDataFrame(stream_pdf).write.parquet(stream_path)
    stream = spark.read.parquet(stream_path)
    gen_s = time.perf_counter() - t_gen

    def batch(i):
        lo = i * batch_size
        return stream.where((F.col("arrival_seq") >= lo) & (F.col("arrival_seq") < lo + batch_size))

    engine = CrawlEngine(
        spark,
        os.path.join(work, "engine"),
        EngineConfig(batch_size=batch_size, detailed_metrics=False),
    )
    robots = politeness.empty_robots(spark)
    log(t0, f"inputs generated in {gen_s:.2f}s; warm-up pass")
    for i in range(RECRAWL_WARMUP_BATCHES):
        engine.run_batch(i, batch(i), robots)

    setup_s = time.time() - t0 - gen_s
    tracer, work_counter = Tracer(), SparkWork(spark)
    plain, traced = [], []
    end = RECRAWL_WARMUP_BATCHES + n_timed
    for i in range(RECRAWL_WARMUP_BATCHES, end):
        if args.trace and len(plain) > len(traced):
            traced.append(traced_batch(engine, batch(i), robots, i, tracer, work_counter))
        else:
            t, c = time.perf_counter(), session_cpu_s()
            ledger = engine.run_batch(i, batch(i), robots)
            plain.append((time.perf_counter() - t, session_cpu_s() - c, ledger["n_visited"]))
            log(t0, f"batch {i}: {plain[-1][0]:.2f} s, {plain[-1][1]:.2f} cpu-s, {ledger['n_visited']} urls")
    state_mb = tree_mib(engine.root)

    # ---- gate: visit log and URL-seen set against the replay oracle
    log(t0, "checking against the replay oracle")
    visits = engine.visit_log().select("seq", "url", "host", "scheduled_ms", "batch_id").collect()
    got = sorted((v["seq"], v["url"], v["scheduled_ms"], v["batch_id"]) for v in visits)
    got_seen = {r["url"] for r in engine.url_seen().distinct().collect()}
    rows = [
        {
            "url": r.url,
            "priority_type": r.priority_type,
            "recency_ts": r.recency_ts.to_pydatetime() if r.recency_ts is not None else None,
        }
        for r in stream_pdf.iloc[: end * batch_size].itertuples(index=False)
    ]
    oracle = replay(rows, batch_size=batch_size)
    want = gates.oracle_visit_rows(oracle.visits)
    failed = gates.visit_log_failures(got, want) + gates.url_seen_failures(got_seen, oracle.url_seen)
    attempted = len(want)

    walls = [w for w, _c, _n in plain]
    n_urls = sum(n for _w, _c, n in plain)
    cpu_ms_per_url = 1000 * sum(c for _w, c, _n in plain) / n_urls
    report = {
        "batches_timed": len(plain),
        "batch_size": batch_size,
        "urls_visited": n_urls,
        "frontier_urls_per_s": statistics.median(n / w for w, _c, n in plain),
        "batch_commit_p50_s": statistics.median(walls),
        "batch_cpu_p50_s": statistics.median(c for _w, c, _n in plain),
    }
    tail_stat = tail(walls)
    report["batch_commit_tail_s"] = (
        f"p{tail_stat[1]} = {tail_stat[0]:.4f} s of {len(walls)} batches"
        if tail_stat
        else f"n/a ({len(walls)} batches; a tail needs at least 11)"
    )
    result = {"attempted": attempted, "failed": failed, "report": report}
    if args.trace:
        layers = batch_layers(traced, visits)
        layers["urlseen.bitset_mb"] = tree_mib(os.path.join(engine.root, "urlseen"))
        layers["store.live_snapshot_dirs"] = snapshot_dirs(engine.root)
        layers["spark.jobs"] = layers["microbatch.spark_jobs_per_batch"]
        layers["spark.stages"] = statistics.median(t["stages"] for t in traced)
        layers["spark.tasks"] = layers["microbatch.spark_tasks_per_batch"]
        layers["trace.overhead_s"] = statistics.median(t["wall"] for t in traced) - statistics.median(
            walls
        )
        result["metrics"] = per_layer(layers)
        result["spans"] = tracer
        report["span_totals"] = tracer.totals()
    else:
        result["metrics"] = {
            "setup_s": metric(setup_s, "s"),
            "cpu_ms_per_url": metric(cpu_ms_per_url, "ms"),
            "state_mb": metric(state_mb, "MiB"),
        }
    return result


# ------------------------------------------------------------- details
def details_inputs(spark, seed: int, per_context: int, work: str):
    from pyspark.sql import functions as F

    from gepris_spark.sources.corpus import gen_pages_df, gen_seeds_df

    pages_path = os.path.join(work, "pages")
    seeds = gen_seeds_df(spark, per_context, seed=seed)
    gen_pages_df(spark, seeds, seed=seed, languages=("de", "en")).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    # 2 % of de pages are "moved". A moved person or institution makes
    # the batch invalidate its dependents at close of run, so whether
    # that branch runs would depend on the seed; moved ids are left out
    # of the schedule.
    moved = pages.where((F.col("language") == "de") & (F.col("status") == "moved")).select("url")
    sched = (
        seeds.dropna(subset=["item_id"])
        .where(~F.col("url").contains("?"))
        .select("url", "context", "item_id")
        .distinct()
        .join(moved, "url", "left_anti")
        .withColumn("language", F.lit("de"))
        .localCheckpoint(eager=True)
    )
    runs = spark.createDataFrame(
        [(1, datetime(2021, 10, 18, 6)), (2, datetime(2021, 10, 19, 6))],
        "id long, run_started_at timestamp",
    )
    return seeds, pages, sched, runs


def details_layers(spark, sched, pages, runs, root: str, n_sched: int) -> dict[str, float]:
    """fetch, parse, chain, history insert and frontier upsert, each
    materialized on its own, called the way run_details_batch calls
    them, on a fresh store."""
    from pyspark.sql import functions as F

    from gepris_spark.operators import chaining, fetchparse
    from gepris_spark.operators.frontier import TABLE, Frontier
    from gepris_spark.operators.history import History
    from gepris_spark.store.table import SnapshotStore

    out: dict[str, float] = {}
    t = time.perf_counter()
    fetched = fetchparse.fetch_pages(sched, pages).localCheckpoint(eager=True)
    fetch_s = time.perf_counter() - t
    f = fetched.agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b")).collect()[0]
    out["fetchparse.fetch_rows_per_s"] = f["n"] / fetch_s
    out["fetchparse.html_mb"] = (f["b"] or 0) / MIB
    t = time.perf_counter()
    parsed = fetchparse.parse_stage(fetched).localCheckpoint(eager=True)
    parse_s = time.perf_counter() - t
    p = parsed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("status") == "error").cast("long")).alias("errors"),
        F.count("image_bytes").alias("images"),
        F.sum(F.length("image_bytes")).alias("image_bytes"),
    ).collect()[0]
    out["fetchparse.parse_rows_per_s"] = p["n"] / parse_s
    out["fetchparse.error_rows"] = p["errors"] or 0
    out["codecs.images_decoded"] = p["images"] or 0
    out["codecs.image_mb"] = (p["image_bytes"] or 0) / MIB

    t = time.perf_counter()
    chain = chaining.details_chain(sched, pages, fetchparse.parse_stage, max_retries=DETAILS_MAX_RETRIES)
    items = chain["items"].localCheckpoint(eager=True)
    nonsuccess = chain["terminal_nonsuccess"].localCheckpoint(eager=True)
    retry = chain["retry"].localCheckpoint(eager=True)
    out["chaining.chain_rows_per_s"] = n_sched / (time.perf_counter() - t)
    out["chaining.retry_rows"] = retry.count()
    for df in chain["_cached"]:
        df.unpersist()

    store = SnapshotStore(root)
    history = History(spark, store)
    batch_rows = items.select("id", "context", "item", "status").unionByName(
        nonsuccess.select(
            F.col("item_id").cast("long").alias("id"),
            "context",
            F.lit(None).cast("string").alias("item"),
            "status",
        )
    )
    t = time.perf_counter()
    history.insert_batch(batch_rows, runs, 1)
    insert_s = time.perf_counter() - t
    out["history.rows"] = history.read().count()
    out["history.insert_rows_per_s"] = out["history.rows"] / insert_s

    # an insert into the empty table, then a read-modify-write merge of
    # the same ids for the next run
    frontier = Frontier(spark, store)
    ids = items.select(F.col("id").alias("item_id"), "context").unionByName(
        nonsuccess.select("item_id", "context")
    )
    t = time.perf_counter()
    v1 = frontier.upsert_details_batch(ids, 1)
    v2 = frontier.upsert_details_batch(ids, 2)
    upsert_s = time.perf_counter() - t
    out["frontier.rows"] = frontier.read().count()
    out["frontier.upsert_rows_per_s"] = 2 * out["frontier.rows"] / upsert_s
    out["frontier.buckets_rewritten"] = len(store.changed_buckets(TABLE, v1, v2))
    return out


def run_details(args, spark, t0: float, work: str) -> dict:
    from gepris_spark.operators import fetchparse
    from gepris_spark.streaming.microbatch import CrawlEngine

    per_context = max(5, int(DETAILS_PER_CONTEXT * args.scale))
    t_gen = time.perf_counter()
    seeds, pages, sched, runs = details_inputs(spark, args.seed, per_context, work)
    n_sched = sched.count()
    gen_s = time.perf_counter() - t_gen

    def details_round(name: str) -> tuple[float, float, dict, str]:
        engine = CrawlEngine(spark, os.path.join(work, name))
        t, c = time.perf_counter(), session_cpu_s()
        stats = engine.run_details_batch(1, sched, pages, runs, max_retries=DETAILS_MAX_RETRIES)
        return time.perf_counter() - t, session_cpu_s() - c, stats, engine.root

    # warm-up pass: fetch + parse of the scheduled de pages, which starts
    # the Python workers' parse path. The timed batch stays the first
    # details batch of its JVM, as in a crawl run started from the CLI;
    # a whole warm-up batch would also add a third to the run's length.
    log(t0, f"inputs generated in {gen_s:.2f}s; warm-up pass")
    fetchparse.parse_stage(fetchparse.fetch_pages(sched, pages)).write.format("noop").mode(
        "overwrite"
    ).save()
    setup_s = time.time() - t0 - gen_s

    if args.trace:
        return traced_details(spark, args, seeds, pages, sched, runs, n_sched, details_round, work)

    attempted = failed = 0
    walls, cpus, terminal = [], [], 0
    state_mb = None
    for b in range(max(1, round(args.seconds / DETAILS_NOMINAL_BATCH_S))):
        wall, cpu, stats, root = details_round(f"round{b}")
        log(t0, f"details batch {b}: {wall:.2f} s, {cpu:.2f} cpu-s, {stats}")
        walls.append(wall)
        cpus.append(cpu)
        terminal += stats["n_items"] + stats["n_nonsuccess"]
        attempted += n_sched
        failed += gates.details_failures(stats, n_sched)
        if state_mb is None:
            state_mb = tree_mib(root)
        shutil.rmtree(root)

    return {
        "attempted": attempted,
        "failed": failed,
        "report": {
            "batches_timed": len(walls),
            "ids_scheduled": n_sched,
            "details_ids_per_s": terminal / sum(walls),
            "details_batch_p50_s": statistics.median(walls),
            "details_batch_cpu_p50_s": statistics.median(cpus),
        },
        "metrics": {
            "setup_s": metric(setup_s, "s"),
            "cpu_ms_per_url": metric(1000 * sum(cpus) / terminal, "ms"),
            "state_mb": metric(state_mb, "MiB"),
        },
    }


def traced_details(spark, args, seeds, pages, sched, runs, n_sched, details_round, work) -> dict:
    """Each layer materialized on its own, the traced frontier batch
    that schedules the ids, then a traced and an untraced details batch.
    The layer calls run the same plans as a details batch, so they also
    let the JVM compile them before the traced/untraced pair."""
    from gepris_spark.operators import politeness
    from gepris_spark.streaming.microbatch import CrawlEngine

    tracer, work_counter = Tracer(), SparkWork(spark)
    layers = details_layers(spark, sched, pages, runs, os.path.join(work, "layers"), n_sched)
    engine = CrawlEngine(spark, os.path.join(work, "schedule"))
    sched_batch = traced_batch(engine, seeds, politeness.empty_robots(spark), 0, tracer, work_counter)
    visits = engine.visit_log().select("host", "batch_id").collect()
    layers.update(batch_layers([sched_batch], visits))
    layers["urlseen.bitset_mb"] = tree_mib(os.path.join(engine.root, "urlseen"))
    layers["store.live_snapshot_dirs"] = snapshot_dirs(engine.root)

    mark = work_counter.mark()
    with tracer.patched(trace_targets(), "details"):
        traced_s, _cpu, traced_stats, _root = details_round("traced")
    counts = work_counter.since(mark)
    untraced_s, _cpu, untraced_stats, _root = details_round("untraced")
    log(args.t0, f"details batch traced {traced_s:.2f}s, untraced {untraced_s:.2f}s")
    layers["spark.jobs"] = counts["jobs"]
    layers["spark.stages"] = counts["stages"]
    layers["spark.tasks"] = counts["tasks"]
    layers["trace.overhead_s"] = traced_s - untraced_s
    return {
        "attempted": 2 * n_sched,
        "failed": gates.details_failures(traced_stats, n_sched)
        + gates.details_failures(untraced_stats, n_sched),
        "report": {"ids_scheduled": n_sched, "span_totals": tracer.totals()},
        "metrics": per_layer(layers),
        "spans": tracer,
    }


WORKLOADS = {"recrawl-small-batches": run_recrawl, "details-bilingual": run_details}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall clock when run.py launched this process")
    args = ap.parse_args()

    spark = start_spark(args.workload)
    log(args.t0, "session started and warmed up")
    try:
        result = WORKLOADS[args.workload](args, spark, args.t0, args.work)
    finally:
        spark.stop()
    tracer = result.pop("spans", None)
    if tracer is not None:
        tracer.write(args.spans)
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
