"""The headline contract (BASELINE.json metric): the Spark engine's
visit ordering + final URL-seen set must exactly match the
single-threaded replay oracle on the seed-list corpus, and a killed
run must resume byte-identically."""

from __future__ import annotations

import builtins
import itertools
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from gepris_spark.replay import replay
from gepris_spark.sources import corpus
from gepris_spark.streaming.microbatch import CrawlEngine, EngineConfig


@pytest.fixture(scope="module")
def seeds_pdf():
    return corpus.gen_seeds_pdf(40, seed=42)


def _seed_rows(seeds_pdf):
    return [
        {
            "url": r.url,
            "priority_type": r.priority_type,
            "recency_ts": r.recency_ts.to_pydatetime() if r.recency_ts is not None else None,
        }
        for r in seeds_pdf.itertuples(index=False)
    ]


def _engine_visits(engine):
    return [
        (r["seq"], r["url"], r["scheduled_ms"], r["batch_id"])
        for r in engine.visit_log().orderBy("seq").collect()
    ]


def _assert_match(engine, oracle):
    got = _engine_visits(engine)
    want = [(v["seq"], v["url"], v["scheduled_ms"], v["batch_id"]) for v in oracle.visits]
    assert len(got) == len(want), f"visit count {len(got)} != oracle {len(want)}"
    mism = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mism, f"first ordering mismatch: {mism[0]}"
    got_seen = {r["url"] for r in engine.visit_log().select("url").distinct().collect()}
    assert got_seen == oracle.url_seen


def test_single_batch_exact_match(spark, tmp_path, seeds_pdf):
    engine = CrawlEngine(spark, str(tmp_path / "e1"), EngineConfig(batch_size=10_000))
    seeds = spark.createDataFrame(seeds_pdf)
    engine.run_seed_list(seeds)
    _assert_match(engine, replay(_seed_rows(seeds_pdf)))


def test_micro_batches_exact_match(spark, tmp_path, seeds_pdf):
    engine = CrawlEngine(spark, str(tmp_path / "e2"), EngineConfig(batch_size=25))
    seeds = spark.createDataFrame(seeds_pdf)
    ledger = engine.run_seed_list(seeds)
    assert len(ledger) > 2
    _assert_match(engine, replay(_seed_rows(seeds_pdf), batch_size=25))
    # dup/invalid accounting matches the oracle too
    oracle = replay(_seed_rows(seeds_pdf), batch_size=25)
    assert sum(r["n_invalid"] for r in ledger) == oracle.invalid
    assert sum(r["n_dup_or_seen"] for r in ledger) == oracle.dup_arrivals


def test_visit_log_files_hold_no_batch_id(spark, tmp_path, seeds_pdf):
    """A visit-log row's batch id is its `batch_id=N` dir: the parquet
    files store no `batch_id` column, and `visit_log()` still returns
    each row's batch id, equal to the oracle's."""
    import glob

    import pyarrow.parquet as pq

    engine = CrawlEngine(spark, str(tmp_path / "e"), EngineConfig(batch_size=25))
    engine.run_seed_list(spark.createDataFrame(seeds_pdf), max_arrival=49)
    files = glob.glob(os.path.join(engine.root, "visit_log", "batch_id=*", "*.parquet"))
    assert files
    for path in files:
        assert "batch_id" not in pq.read_schema(path).names
    _assert_match(engine, replay(_seed_rows(seeds_pdf)[:50], batch_size=25))


def test_robots_and_crawl_delay(spark, tmp_path, seeds_pdf):
    from gepris_spark.operators.politeness import ROBOTS_SCHEMA

    robots_rows = [("gepris.dfg.de", ["/gepris/person"], 500)]
    robots = spark.createDataFrame(robots_rows, ROBOTS_SCHEMA)
    engine = CrawlEngine(spark, str(tmp_path / "e3"), EngineConfig(batch_size=10_000))
    engine.run_seed_list(spark.createDataFrame(seeds_pdf), robots=robots)
    oracle = replay(
        _seed_rows(seeds_pdf),
        robots_delay_ms={"gepris.dfg.de": 500},
        disallow_prefixes={"gepris.dfg.de": ["/gepris/person"]},
    )
    _assert_match(engine, oracle)
    # disallowed urls never visited
    assert (
        engine.visit_log()
        .where(F.col("url").contains("gepris.dfg.de/gepris/person"))
        .count()
        == 0
    )


def test_resume_byte_identical(spark, tmp_path, seeds_pdf):
    seeds = spark.createDataFrame(seeds_pdf)
    full = CrawlEngine(spark, str(tmp_path / "full"), EngineConfig(batch_size=25))
    full.run_seed_list(seeds)

    # killed run: stop after 2 batches, then resume with a fresh engine
    killed = CrawlEngine(spark, str(tmp_path / "killed"), EngineConfig(batch_size=25))
    n = int(seeds_pdf["arrival_seq"].max()) + 1
    for batch_id, start in enumerate(range(0, n, 25)):
        if batch_id >= 2:
            break
        batch = seeds.where((F.col("arrival_seq") >= start) & (F.col("arrival_seq") < start + 25))
        from gepris_spark.operators.politeness import empty_robots

        killed.run_batch(batch_id, batch, empty_robots(spark))
    resumed = CrawlEngine(spark, str(tmp_path / "killed"), EngineConfig(batch_size=25))
    resumed.run_seed_list(seeds)

    assert _engine_visits(resumed) == _engine_visits(full)


def test_batches_never_reread_the_ledger(spark, tmp_path, seeds_pdf, monkeypatch):
    """The engine parses `ledger.jsonl` once, when it is built: running
    batches on it opens the ledger only to append."""
    engine = CrawlEngine(spark, str(tmp_path / "once"), EngineConfig(batch_size=25))
    reads = []
    real_open = builtins.open

    def spy(file, mode="r", *args, **kwargs):
        if str(file).endswith("ledger.jsonl") and ("r" in mode or "+" in mode):
            reads.append(mode)
        return real_open(file, mode, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", spy)
    rows = engine.run_seed_list(spark.createDataFrame(seeds_pdf), max_arrival=74)
    monkeypatch.undo()
    assert [r["batch_id"] for r in rows] == [0, 1, 2]
    assert reads == []
    with open(engine._ledger_path()) as fh:
        assert [json.loads(line) for line in fh] == rows


class _Crash(Exception):
    pass


_COMMIT_JOBS = {
    "visit_log": ("store", "append_batch"),
    "bloom": ("bloom", "add_urls"),
}
# neither, or one, of batch 2's two concurrent commit jobs landing
# before the crash (the other raises before it writes), and a crash in
# the ledger write after both landed
_CRASH_POINTS = [
    pytest.param(set(landed), id="+".join(landed) or "none")
    for n in range(len(_COMMIT_JOBS))
    for landed in itertools.combinations(_COMMIT_JOBS, n)
] + [pytest.param("ledger", id="ledger")]


@pytest.fixture(scope="module")
def crash_setup(spark, tmp_path_factory, seeds_pdf):
    """An uninterrupted run's visit log, and a store holding batches 0
    and 1 of the same crawl."""
    seeds = spark.createDataFrame(seeds_pdf)
    full = CrawlEngine(spark, str(tmp_path_factory.mktemp("full")), EngineConfig(batch_size=25))
    full.run_seed_list(seeds)
    two = str(tmp_path_factory.mktemp("two") / "state")
    CrawlEngine(spark, two, EngineConfig(batch_size=25)).run_seed_list(seeds, max_arrival=49)
    return seeds, _engine_visits(full), two


@pytest.mark.parametrize("landed", _CRASH_POINTS)
def test_resume_after_crash_inside_commit(spark, tmp_path, seeds_pdf, crash_setup, landed):
    """A crash inside batch 2's commit, whichever of its commit jobs
    landed, resumes to the uninterrupted run: the re-run batch reads the
    prior state the ledger pins, not what its own jobs left behind."""
    from gepris_spark.operators.politeness import empty_robots

    seeds, want, two = crash_setup
    root = str(tmp_path / "crashed")
    shutil.copytree(two, root)
    engine = CrawlEngine(spark, root, EngineConfig(batch_size=25))

    def refuse(*_args, **_kwargs):
        raise _Crash()

    if landed == "ledger":
        engine._commit_ledger = refuse
    else:
        for job, (owner, method) in _COMMIT_JOBS.items():
            if job not in landed:
                setattr(getattr(engine, owner), method, refuse)
    batch = seeds.where((F.col("arrival_seq") >= 50) & (F.col("arrival_seq") < 75))
    with pytest.raises(_Crash):
        engine.run_batch(2, batch, empty_robots(spark))
    assert sorted(engine.committed_batches()) == [0, 1]

    resumed = CrawlEngine(spark, root, EngineConfig(batch_size=25))
    resumed.run_seed_list(seeds)
    assert _engine_visits(resumed) == want
    _assert_match(resumed, replay(_seed_rows(seeds_pdf), batch_size=25))


def test_resume_after_torn_ledger_tail(spark, tmp_path, seeds_pdf, crash_setup):
    """A run killed while writing batch 2's ledger row leaves half a row
    with no newline: batch 2 did not commit, the next run resumes from
    it to the uninterrupted run, and its row starts a line of its own."""
    seeds, want, two = crash_setup
    root = str(tmp_path / "torn")
    shutil.copytree(two, root)
    engine = CrawlEngine(spark, root, EngineConfig(batch_size=25))
    row = json.dumps({**engine.committed_batches()[1], "batch_id": 2})
    with open(engine._ledger_path(), "a") as fh:
        fh.write(row[: len(row) // 2])
    assert sorted(engine.committed_batches()) == [0, 1]

    engine.run_seed_list(seeds)
    assert _engine_visits(engine) == want
    _assert_match(engine, replay(_seed_rows(seeds_pdf), batch_size=25))
    with open(engine._ledger_path()) as fh:
        rows = [json.loads(line) for line in fh]
    assert [r["batch_id"] for r in rows] == list(range(len(rows)))


def test_bloom_urlseen_no_false_negatives(spark, tmp_path):
    from gepris_spark.operators.urlseen import BloomUrlSeen

    bloom = BloomUrlSeen(str(tmp_path / "b"), n_buckets=4)
    urls = spark.range(500).select(F.concat(F.lit("https://h/x"), F.col("id")).alias("url"))
    bloom.add_urls(urls, seen_urls=urls.limit(0))
    probed = bloom.with_maybe_seen(urls)
    assert probed.where(~F.col("maybe_seen")).count() == 0  # no false negatives
    other = spark.range(500, 1200).select(F.concat(F.lit("https://h/x"), F.col("id")).alias("url"))
    fp = bloom.with_maybe_seen(other).where(F.col("maybe_seen")).count()
    assert fp < 70  # false positives bounded (~k=5, m=16k bits, n=500)
    new = bloom.filter_new(other, urls)
    assert new.count() == 700  # exact path fixes all false positives


def _two_host_pdf(n_per_host=12):
    """Deterministic 2-host seed list: slow.example and fast.example
    interleaved in arrival order."""
    import pandas as pd

    rows = []
    for i in range(n_per_host):
        for host in ("slow.example", "fast.example"):
            rows.append(
                {
                    "url": f"https://{host}/gepris/projekt/{i + 1}",
                    "priority_type": i % 3,
                    "recency_ts": pd.Timestamp("2024-01-01") + pd.Timedelta(days=i),
                }
            )
    pdf = pd.DataFrame(rows)
    pdf["arrival_seq"] = range(len(pdf))
    return pdf


def test_aimd_slow_host_stretches_schedule(spark, tmp_path):
    """VERDICT r02 #4: deterministic AutoThrottle. A slow host's
    schedule stretches batch over batch, identically in engine and
    oracle; a fast host stays clamped at the 2 s floor."""
    pdf = _two_host_pdf(12)
    latency = {
        r.url: 10_000 if "slow" in r.url else 100 for r in pdf.itertuples(index=False)
    }
    lat_df = spark.createDataFrame(
        [(u, c) for u, c in latency.items()], "url string, fetch_cost_ms long"
    )
    engine = CrawlEngine(spark, str(tmp_path / "aimd"), EngineConfig(batch_size=8))
    engine.run_seed_list(spark.createDataFrame(pdf), latencies=lat_df)
    oracle = replay(_seed_rows(pdf), batch_size=8, aimd=True, latency_ms=latency)
    _assert_match(engine, oracle)

    # delay trajectory: slow host 2000 -> 6000 -> 8000 -> 9000 (one
    # (d+10000)//2 step per batch); fast host re-clamps to the 2000 ms
    # floor every batch ((2000+100)//2=1050 < lo)
    state = {r["host"]: r for r in engine.host_state().collect()}
    assert state["slow.example"]["delay_ms"] == 9000
    assert state["fast.example"]["delay_ms"] == 2000
    # the host state lives in the ledger row that commits the batch,
    # sorted by host, and in no table of its own
    with open(engine._ledger_path()) as fh:
        rows = [json.loads(line) for line in fh]
    assert all("hosts" in r and "host_state_version" not in r for r in rows)
    assert list(rows[-1]["hosts"].items()) == [
        (h, list(r[1:])) for h, r in sorted(state.items())
    ]
    assert sorted(os.listdir(engine.root)) == ["ledger.jsonl", "urlseen", "visit_log"]

    # per-batch spacing on the slow host uses the evolved delay: the
    # within-batch gap is 2000 in batch 0, 6000 in batch 1, 8000 in 2
    slow = (
        engine.visit_log()
        .where(F.col("host") == "slow.example")
        .orderBy("seq")
        .collect()
    )
    by_batch: dict[int, list[int]] = {}
    for r in slow:
        by_batch.setdefault(r["batch_id"], []).append(r["scheduled_ms"])
    gaps = {
        b: {t2 - t1 for t1, t2 in zip(ms, ms[1:])} for b, ms in by_batch.items() if len(ms) > 1
    }
    assert gaps[0] == {2000} and gaps[1] == {6000} and gaps[2] == {8000}


def test_aimd_oracle_clamps_and_holds():
    """Pure-oracle AIMD properties: the delay ceiling (30 s) binds, a
    robots floor overrides the 2 s start, and a host with no measured
    fetch keeps its delay."""
    rows = [
        {"url": f"https://h/gepris/projekt/{i}", "priority_type": 0, "recency_ts": None}
        for i in range(1, 7)
    ]
    # huge latencies: (2000+1e6)//2 overshoots -> clamp to the 30 s
    # ceiling from batch 1 on
    lat = {r["url"]: 1_000_000 for r in rows}
    res = replay(rows, batch_size=2, aimd=True, latency_ms=lat)
    sched = [v["scheduled_ms"] for v in res.visits]
    assert sched == [0, 2000, 4000, 34000, 64000, 94000]
    # robots floor: crawl-delay 5000 is the lo even when latency is tiny
    res2 = replay(
        rows,
        batch_size=3,
        aimd=True,
        latency_ms={r["url"]: 10 for r in rows},
        robots_delay_ms={"h": 5000},
    )
    assert [v["scheduled_ms"] for v in res2.visits] == [0, 5000, 10000, 15000, 20000, 25000]
    # no measured fetch -> delay unchanged across batches
    res3 = replay(rows, batch_size=2, aimd=True, latency_ms={})
    assert [v["scheduled_ms"] for v in res3.visits] == [0, 2000, 4000, 6000, 8000, 10000]


def test_aimd_resume_byte_identical(spark, tmp_path):
    """The AIMD host state (delay_ms, next_ms) survives the snapshot
    store: killed-after-1-batch + resume == uninterrupted run."""
    pdf = _two_host_pdf(9)
    lat_df = spark.createDataFrame(
        [(r.url, 7_000) for r in pdf.itertuples(index=False)],
        "url string, fetch_cost_ms long",
    )
    seeds = spark.createDataFrame(pdf)
    full = CrawlEngine(spark, str(tmp_path / "afull"), EngineConfig(batch_size=6))
    full.run_seed_list(seeds, latencies=lat_df)

    killed = CrawlEngine(spark, str(tmp_path / "akill"), EngineConfig(batch_size=6))
    from gepris_spark.operators.politeness import empty_robots

    killed.run_batch(0, seeds.where(F.col("arrival_seq") < 6), empty_robots(spark), latencies=lat_df)
    resumed = CrawlEngine(spark, str(tmp_path / "akill"), EngineConfig(batch_size=6))
    resumed.run_seed_list(seeds, latencies=lat_df)
    assert _engine_visits(resumed) == _engine_visits(full)


@pytest.mark.parametrize("corpus_seed", [7, 1337])
def test_exact_match_on_other_corpora(spark, tmp_path, corpus_seed):
    """The exact-match contract is corpus-independent: different random
    seeds (different host mixes, dup/invalid placements, recencies)
    replay identically through engine and oracle, single- AND
    multi-batch. The engine has one (AIMD) schedule path; with no
    latency feed, or an empty one, it must equal the fixed-delay
    oracle."""
    pdf = corpus.gen_seeds_pdf(30, seed=corpus_seed)
    feeds = {
        "nofeed": None,
        "emptyfeed": spark.createDataFrame([], "url string, fetch_cost_ms long"),
    }
    for feed_tag, latencies in feeds.items():
        for batch_size, tag in ((10_000, "one"), (33, "many")):
            engine = CrawlEngine(
                spark,
                str(tmp_path / f"s{corpus_seed}_{tag}_{feed_tag}"),
                EngineConfig(batch_size=batch_size, bloom_buckets=4),
            )
            engine.run_seed_list(spark.createDataFrame(pdf), latencies=latencies)
            _assert_match(engine, replay(_seed_rows(pdf), batch_size=batch_size, aimd=False))


def test_compaction_preserves_visit_log_exactly(spark, tmp_path, seeds_pdf):
    """Auto-compaction of the visit_log append ledger (compact_every)
    must be invisible to readers: same visit rows, same ordering, same
    ledger batch ids — and the oracle exact-match still holds."""
    plain = CrawlEngine(spark, str(tmp_path / "nc"), EngineConfig(batch_size=25))
    compacted = CrawlEngine(
        spark, str(tmp_path / "cc"), EngineConfig(batch_size=25, compact_every=2)
    )
    seeds = spark.createDataFrame(seeds_pdf)
    plain.run_seed_list(seeds)
    compacted.run_seed_list(seeds)

    # the ledger physically folded (fewer live batch dirs than batches)
    live = compacted.store._live_batch_dirs("visit_log")
    all_batches = compacted.visit_log().select("batch_id").distinct().collect()
    assert len(all_batches) > 2
    assert len(live) < len(all_batches)

    a = _engine_visits(plain)
    b = _engine_visits(compacted)
    assert a == b
    _assert_match(compacted, replay(_seed_rows(seeds_pdf), batch_size=25))


@pytest.fixture(scope="module")
def compact_setup(spark, tmp_path_factory, seeds_pdf):
    """A `compact_every=2` store holding batches 0-2, whose batch 2
    folded batch 0 into the first compacted segment."""
    seeds = spark.createDataFrame(seeds_pdf)
    root = str(tmp_path_factory.mktemp("compact") / "state")
    CrawlEngine(spark, root, EngineConfig(batch_size=25, compact_every=2)).run_seed_list(
        seeds, max_arrival=74
    )
    return seeds, root


@pytest.mark.parametrize("point", ["before_flip", "before_cleanup"])
def test_resume_after_crash_inside_compaction(
    spark, tmp_path, seeds_pdf, compact_setup, monkeypatch, point
):
    """A run killed inside batch 3's compaction, after the segment write
    and before the `_COMPACT` flip, or after the flip and before the
    folded `batch_id=` dirs are removed, resumes to the oracle's visit
    log and seen set, the visit log reads no row twice, and the next
    compaction leaves only the segment its manifest names."""
    from gepris_spark import schemas
    from gepris_spark.store import table

    seeds, setup_root = compact_setup
    root = str(tmp_path / "crashed")
    shutil.copytree(setup_root, root)
    config = EngineConfig(batch_size=25, compact_every=2)
    engine = CrawlEngine(spark, root, config)
    compact = engine.store.compact_appends

    def refuse(*_args, **_kwargs):
        raise _Crash()

    def killed(*args, **kwargs):
        with monkeypatch.context() as m:
            if point == "before_flip":
                m.setattr(table, "_write_json_atomic", refuse)
            else:
                m.setattr(table.shutil, "rmtree", refuse)
            return compact(*args, **kwargs)

    engine.store.compact_appends = killed
    with pytest.raises(_Crash):
        engine.run_seed_list(seeds)
    assert sorted(engine.committed_batches()) == [0, 1, 2, 3]
    # the new segment and the dir it folds are both on disk; only the
    # manifest says which of them holds batch 1
    log_dir = os.path.join(root, "visit_log")
    assert os.path.isdir(os.path.join(log_dir, "_compact_seg2"))
    assert os.path.isdir(os.path.join(log_dir, "batch_id=1"))
    segment = engine.store._compact_manifest("visit_log")["segment"]
    assert segment == {"before_flip": "_compact_seg1", "before_cleanup": "_compact_seg2"}[point]

    resumed = CrawlEngine(spark, root, config)
    resumed.run_seed_list(seeds)
    _assert_match(resumed, replay(_seed_rows(seeds_pdf), batch_size=25))
    rows = resumed.store.read_appends(spark, "visit_log", schemas.VISIT_LOG)
    assert rows.count() == rows.select("seq").distinct().count()
    # no segment outlives the manifest that stopped naming it
    segment = resumed.store._compact_manifest("visit_log")["segment"]
    assert [e for e in os.listdir(log_dir) if e.startswith("_compact_seg")] == [segment]


def test_edge_batches_commit_empty(spark, tmp_path, seeds_pdf):
    """An empty batch, a batch of only non-GEPRIS urls and a batch of
    only already-visited urls, run between normal batches, each commit
    a ledger row with no visits and the oracle's invalid and dup counts,
    and the whole visit log still equals the oracle's."""
    from gepris_spark.operators.politeness import empty_robots

    size = 25
    rows = _seed_rows(seeds_pdf)
    first, last = rows[:size], rows[size : 2 * size]
    visited = [v["url"] for v in replay(first).visits]
    invalid = [
        {"url": f"https://example.org/about/{i}", "priority_type": 1, "recency_ts": None}
        for i in range(size)
    ]
    again = [
        {"url": visited[i % len(visited)], "priority_type": 0, "recency_ts": None}
        for i in range(size)
    ]
    # the oracle cannot hold an empty batch: engine batch 1 is left out
    # of its list, and engine batches 2-4 are its batches 1-3
    oracle_rows = first + invalid + again + last
    oracle_batch = {0: 0, 2: 1, 3: 2, 4: 3}

    def oracle_counts(n_batches):
        res = replay(oracle_rows[: n_batches * size], batch_size=size)
        return res.invalid, res.dup_arrivals

    schema = "url string, priority_type long, recency_ts timestamp"
    batches = [first, [], invalid, again, last]
    engine = CrawlEngine(spark, str(tmp_path / "edge"), EngineConfig(batch_size=size))
    ledger = []
    for batch_id, batch in enumerate(batches):
        df = spark.createDataFrame(
            [(r["url"], r["priority_type"], r["recency_ts"]) for r in batch], schema
        )
        ledger.append(engine.run_batch(batch_id, df, empty_robots(spark)))
    for row in ledger[1:4]:
        assert row["n_visited"] == 0
    for batch_id, row in enumerate(ledger):
        k = oracle_batch.get(batch_id)
        if k is None:
            want = (0, 0)
        else:
            after, before = oracle_counts(k + 1), oracle_counts(k)
            want = (after[0] - before[0], after[1] - before[1])
        assert (row["n_invalid"], row["n_dup_or_seen"]) == want, batch_id

    oracle = replay(oracle_rows, batch_size=size)
    to_engine = {k: b for b, k in oracle_batch.items()}
    want = [
        (v["seq"], v["url"], v["scheduled_ms"], to_engine[v["batch_id"]]) for v in oracle.visits
    ]
    assert _engine_visits(engine) == want
    assert {r["url"] for r in engine.url_seen().collect()} == oracle.url_seen
