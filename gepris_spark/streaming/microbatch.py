"""The crawl engine: checkpointed micro-batch loop (SURVEY §3.1 Spark
lifecycle, §7.2 steps 5-6).

Each micro-batch:

  select batch (seed-list slice, arrival order)
    -> canonicalize + validate (F2, built-ins)
    -> URL-seen filter (bloom fast path + exact anti-join, A1)
    -> robots + politeness schedule (A4; per-host token bucket whose
       sequence numbers, delay and next send time persist across
       batches in the ledger rows; the delay adapts to a latency feed
       when one is passed, AIMD)
    -> visit-order assignment (the replay contract)
    -> commit: two idempotent jobs run concurrently — visit-log append
       (per-batch directory) and bloom update — beside the collect of
       the batch's host rows, and then the ledger row (K5 run ledger,
       database.py:214-229), which carries every host's state, is
       appended and fsynced

The ledger row is the commit point. A batch's prior state is pinned to
the ledger, never to whatever its own commit jobs may have left: the
exact seen set is the visit log of the batches before it, and the host
state is the `hosts` of the previous ledger row. So a crash anywhere
inside the commit, with either job landed, re-runs the batch from the
same inputs; stale bloom bits only cost an exact check.

Deterministic: no wall clock anywhere in the data path — `scheduled_ms`
is logical time. A killed run resumes from the ledger and reproduces
the remaining batches byte-identically (north rule), which
tests/test_replay.py proves by diffing runs killed between batches and
inside the commit against an uninterrupted one.

Structured Streaming is deliberately NOT used: ordering + politeness
need cross-batch global state (per-host counters) and multi-table
commits, which the explicit loop + snapshot store gives directly,
mirroring the reference's run-ledger semantics (SURVEY §7.4 risk 5).
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark import schemas
from gepris_spark.functions import canonical as C
from gepris_spark.operators import politeness
from gepris_spark.operators.urlseen import BloomUrlSeen
from gepris_spark.store.table import SnapshotStore

# target rows per range partition of the per-batch global visit order —
# enough to amortize task launch, small enough that a partition's sort
# fits comfortably in executor memory at any batch size
_ORDER_ROWS_PER_PARTITION = 8192

# frontier snapshots kept after each details batch, and visit_log
# batches left live by compaction: the current one and its
# predecessor. Each frontier commit writes a new version dir (untouched
# buckets are hardlinks), so without expiration a long crawl
# accumulates one table copy per batch — at 10^10 urls that dwarfs the
# live table.
_SNAPSHOT_RETENTION = 2

# one host's politeness state, as each ledger row's `hosts` holds it:
# {host: [next_seq, delay_ms, next_ms]}. delay_ms and next_ms are the
# AIMD latency feedback (politeness.py AIMD notes): the host's current
# token-bucket delay and the logical send time of its next request.
# Without a latency feed the delay holds at its floor and
# next_ms = next_seq * delay_ms, the fixed-delay schedule.
HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("next_seq", T.LongType(), False),
        T.StructField("delay_ms", T.LongType(), True),
        T.StructField("next_ms", T.LongType(), True),
    ]
)

_GEPRIS_DETAIL_RE = r"^https?://[^/]*/gepris/([^/]+)/(\d+)$"


@dataclass
class EngineConfig:
    batch_size: int = 10_000
    # the bloom has no size setting: each bucket starts at 8 KiB and is
    # rebuilt larger whenever its estimated false-positive rate passes
    # urlseen.FP_BOUND, so it never saturates into "everything pays the
    # exact anti-join"; each ledger row reports its size and fill
    bloom_buckets: int = 16
    # detailed per-batch accounting (input/dup/invalid counts) costs 3
    # extra count jobs per batch; throughput-critical deployments can
    # turn it off — visit counts and stage timings are always kept
    detailed_metrics: bool = True
    # fold the visit_log append ledger (one file-set per batch) into a
    # consolidated segment every N committed batches (Iceberg
    # rewrite_data_files; store.compact_appends). The newest
    # `_SNAPSHOT_RETENTION` batches stay live so re-runs of recent
    # batches remain cheap. None disables auto-compaction.
    compact_every: int | None = None


class CrawlEngine:
    def __init__(self, spark: SparkSession, root: str, config: EngineConfig | None = None):
        self.spark = spark
        self.root = root
        self.config = config or EngineConfig()
        self.store = SnapshotStore(root)
        self.bloom = BloomUrlSeen(root, n_buckets=self.config.bloom_buckets)
        # the ledger is read once, here: the engine is its root's only
        # writer. A last line with no newline is a row whose write never
        # finished, so its batch did not commit; `_ledger_len` ends before it
        try:
            with open(self._ledger_path(), "rb") as fh:
                data = fh.read()
        except FileNotFoundError:
            data = b""
        self._ledger_len = data.rfind(b"\n") + 1
        rows = [json.loads(line) for line in data[: self._ledger_len].splitlines()]
        self._committed = {row["batch_id"]: row for row in rows}

    # ------------------------------------------------------------ state
    def _ledger_path(self) -> str:
        return os.path.join(self.root, "ledger.jsonl")

    def committed_batches(self) -> dict[int, dict]:
        """{batch_id: ledger row} of every committed batch."""
        return dict(self._committed)

    def _commit_ledger(self, row: dict) -> None:
        line = (json.dumps(row) + "\n").encode()
        with open(self._ledger_path(), "ab") as fh:
            # cut a torn row off, so this row starts on a line of its own
            fh.truncate(self._ledger_len)
            fh.write(line)
            fh.flush()
            os.fsync(fh.fileno())
        self._ledger_len += len(line)
        self._committed[row["batch_id"]] = row

    def _hosts_frame(self, hosts: dict[str, list[int]]) -> DataFrame:
        return self.spark.createDataFrame([(h, *s) for h, s in hosts.items()], HOST_STATE)

    def host_state(self) -> DataFrame:
        """Per-host politeness state of the last committed batch."""
        last = max(self._committed, default=None)
        return self._hosts_frame({} if last is None else self._committed[last]["hosts"])

    def visit_log(self) -> DataFrame:
        return self.store.read_appends(self.spark, "visit_log", schemas.VISIT_LOG)

    def url_seen(self) -> DataFrame:
        """Exact URL-seen truth set (the bloom is only the fast path).
        In a full deployment this is the frontier table itself."""
        return self.visit_log().select("url")

    # ------------------------------------------------------- one batch
    def _candidates(self, batch: DataFrame) -> DataFrame:
        """Canonicalize + validate + in-batch dedup (replay contract 1-2).

        All built-ins — regexp canonicalization (F2), group-by-min for a
        deterministic representative per canonical url.
        """
        parsed = (
            batch.withColumn("_canon", C.canonical_url(F.col("url")))
            .withColumn("_ctx", F.regexp_extract(F.col("_canon"), _GEPRIS_DETAIL_RE, 1))
            .withColumn("_id", F.regexp_extract(F.col("_canon"), _GEPRIS_DETAIL_RE, 2))
        )
        valid = parsed.where((F.col("_ctx") != "") & (F.col("_id") != "")).select(
            F.col("_canon").alias("url"),
            F.col("_ctx").alias("context"),
            F.col("_id").cast("long").alias("item_id"),
            "priority_type",
            "recency_ts",
            C.url_host(F.col("_canon")).alias("host"),
        )
        dedup = valid.groupBy("url").agg(
            F.min(F.struct("priority_type", "recency_ts", "context", "item_id", "host")).alias("_r"),
            F.count(F.lit(1)).alias("_arrivals"),
        )
        return dedup.select(
            "url",
            F.col("_r.context").alias("context"),
            F.col("_r.item_id").alias("item_id"),
            F.col("_r.priority_type").alias("priority_type"),
            F.col("_r.recency_ts").alias("recency_ts"),
            F.col("_r.host").alias("host"),
            "_arrivals",
        )

    def run_batch(
        self,
        batch_id: int,
        batch: DataFrame,
        robots: DataFrame,
        latencies: DataFrame | None = None,
    ) -> dict:
        import time as _time

        timings: dict[str, float] = {}

        def timed(label: str, fn):
            t0 = _time.perf_counter()
            out = fn()
            timings[label] = round(_time.perf_counter() - t0, 3)
            return out

        detailed = self.config.detailed_metrics
        # every sized exchange in the batch pipeline gets the same
        # batch-bound partition count (an explicit repartition count
        # disables AQE coalescing, so tiny batches must be sized here,
        # not replanned at runtime); candidates never outnumber the
        # batch's arrivals, so ceil(batch_size / rows-per-partition)
        # bounds them all, capped at the cluster parallelism
        n_batch_parts = max(
            1,
            min(
                self.spark.sparkContext.defaultParallelism,
                -(-self.config.batch_size // _ORDER_ROWS_PER_PARTITION),
            ),
        )
        batch_caches: list = []
        n_input = timed("input_count", batch.count) if detailed else -1
        candidates = self._candidates(batch).persist()
        n_valid_arrivals = (
            int(
                timed("candidates", lambda: candidates.agg(F.sum("_arrivals")).collect())[0][0]
                or 0
            )
            if detailed
            else -1
        )
        # the exact seen set is the visit log of the batches before this
        # one (pruned to their partition dirs): the exact check and a
        # bloom rebuild both read it, and neither sees this batch's own
        # dir, which a re-run of a batch whose visit-log write landed
        # before its ledger row would otherwise find already written
        prior_seen = self.visit_log().where(F.col("batch_id") < batch_id).select("url")
        fresh = self.bloom.filter_new(
            candidates.drop("_arrivals"), prior_seen, num_partitions=n_batch_parts
        ).persist()
        n_fresh = timed("urlseen_filter", fresh.count) if detailed else -1
        allowed = politeness.apply_robots(fresh, robots)

        # per-host token-bucket sequence, delay and next send time
        # carried across batches: the `hosts` of the previous ledger row
        # (none before the first batch)
        prior = self._committed
        prev = max((b for b in prior if b < batch_id), default=None)
        hosts = {} if prev is None else prior[prev]["hosts"]
        state = self._hosts_frame(hosts).select(
            "host",
            F.col("next_seq").alias("_base_seq"),
            F.col("delay_ms").alias("_state_delay"),
            F.col("next_ms").alias("_base_ms"),
        )
        # delay_ms from apply_robots is the FLOOR (robots crawl-delay
        # override or the 2 s start delay); the host's evolved AIMD delay
        # replaces it for this batch, never dropping below the floor
        joined = (
            allowed.join(F.broadcast(state), "host", "left")
            .withColumn("_lo_ms", F.col("delay_ms"))
            .withColumn(
                "delay_ms",
                F.greatest(F.coalesce(F.col("_state_delay"), F.col("delay_ms")), F.col("delay_ms")),
            )
        )
        first_seq = max((r["first_seq"] + r["n_visited"] for r in prior.values()), default=0)

        def schedule_and_order():
            scheduled = politeness.assign_schedule(
                joined, num_partitions=n_batch_parts, cache_registry=batch_caches
            )
            # logical send time continues from the host's next_ms with
            # this batch's delay as the spacing; a host new to the crawl
            # starts at sequence 0, time 0
            base_seq = F.coalesce(F.col("_base_seq"), F.lit(0))
            base_ms = F.coalesce(F.col("_base_ms"), F.lit(0))
            scheduled = scheduled.withColumn("host_seq", F.col("host_seq") + base_seq).withColumn(
                "scheduled_ms", (base_ms + F.col("scheduled_ms")).cast("long")
            )
            return politeness.visit_order_with_count(
                scheduled, num_partitions=n_batch_parts, cache_registry=batch_caches
            )

        # the span holds both rank passes and their count collects; a
        # small batch's one range partition skips range sampling
        ordered, n_visited = timed("schedule_order", schedule_and_order)

        # ---- commit sequence (each step idempotent for resume) ----
        visits = ordered.select(
            (F.col("seq") + F.lit(first_seq)).cast("long").alias("seq"),
            "url",
            "host",
            "context",
            "item_id",
            "scheduled_ms",
        )
        batch_state = ordered.groupBy("host").agg(
            (F.max("host_seq") + 1).alias("next_seq"),
            F.first("delay_ms").alias("delay_ms"),
            F.first("_lo_ms").alias("_lo"),
            (F.max("scheduled_ms") + F.first("delay_ms")).alias("next_ms"),
        )
        if latencies is not None:
            # observed latency per (host, batch): integer mean over the
            # batch's measured fetches — DIV keeps it exact so the
            # replay oracle reproduces the same delay trajectory; a host
            # with no measured fetch keeps its delay
            obs = (
                visits.join(F.broadcast(latencies.select("url", "fetch_cost_ms")), "url")
                .groupBy("host")
                .agg(F.expr("sum(fetch_cost_ms) DIV count(1)").alias("_obs"))
            )
            batch_state = batch_state.join(obs, "host", "left").withColumn(
                "delay_ms",
                politeness.aimd_next_delay(F.col("delay_ms"), F.col("_obs"), F.col("_lo")),
            )
        batch_state = batch_state.select("host", "next_seq", "delay_ms", "next_ms")
        # the three commit actions are independent functions of the
        # persisted `ordered` (visit-log append, bloom bitset update,
        # the collect of this batch's host rows) and each is idempotent
        # under batch replay, so run them as CONCURRENT Spark jobs — on
        # a cluster the driver otherwise sits idle between three small
        # actions; the ledger write below stays strictly after the
        # group, so the ledger row implies both writes landed
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(
                    timed, "visit_write",
                    lambda: self.store.append_batch(visits, "visit_log", batch_id),
                ),
                pool.submit(
                    timed, "bloom_update",
                    lambda: self.bloom.add_urls(visits.select("url"), seen_urls=prior_seen),
                ),
                pool.submit(timed, "state_commit", batch_state.collect),
            ]
            for f in futures:
                f.result()
        urlseen_health = futures[1].result()
        # hosts visited this batch take their new rows; the others carry over
        hosts = {**hosts, **{r["host"]: list(r[1:]) for r in futures[2].result()}}
        candidates.unpersist()
        fresh.unpersist()
        for df in batch_caches:
            df.unpersist()
        # accounting matches the oracle: dup = arrival whose canonical
        # url was already seen (in-batch or cross-batch); invalid =
        # non-GEPRIS/robots-disallowed; visited = the rest
        ledger_row = {
            "batch_id": batch_id,
            "n_candidates": int(n_valid_arrivals),
            "n_visited": int(n_visited),
            "n_dup_or_seen": int(n_valid_arrivals - n_fresh) if detailed else -1,
            "n_invalid": (
                int(n_input - n_valid_arrivals + (n_fresh - n_visited)) if detailed else -1
            ),
            "hosts": dict(sorted(hosts.items())),
            "first_seq": int(first_seq),
            **urlseen_health,
            "stage_sec": timings,
        }
        self._commit_ledger(ledger_row)
        if (
            self.config.compact_every
            and len(self.store._live_batch_dirs("visit_log")) >= self.config.compact_every
        ):
            self.store.compact_appends(
                self.spark,
                "visit_log",
                schemas.VISIT_LOG,
                keep_last=_SNAPSHOT_RETENTION,
            )
        return ledger_row

    # ---------------------------------------------------- details crawl
    def run_details_batch(
        self,
        run_id: int,
        scheduled: DataFrame,
        pages: DataFrame,
        runs: DataFrame,
        max_retries: int = 2,
        fetch=None,
    ) -> dict:
        """§3.1 lifecycle, steps 4-7: run the de -> en chain (A6) over
        the scheduled batch, then again over its retry rows until the A5
        budget is spent (each retry refetches, mirroring
        refresh_cache=True), insert bilingual items + terminal
        non-success rows into history (K3), mark the ids checked in the
        frontier (K2).

        `pages` is the page source (corpus-backed fetch); `runs` the run
        ledger for the history latest-view join. `fetch` overrides the
        fetch stage (details_chain's injection point) — e.g.
        fetchparse.read_through_fetch for cache-with-live-fallback, or
        http_fetch_stage for the all-live leg.

        A re-run with the same `run_id` is idempotent: the history
        insert compares against runs before `run_id` only and overwrites
        its own append dir, and the frontier merge sets the same
        last-check values again.
        """
        from gepris_spark.operators import chaining, fetchparse
        from gepris_spark.operators.frontier import Frontier
        from gepris_spark.operators.history import History

        # A5: the first attempt and every re-fetch run the same chain
        # until the attempt budget is gone or nothing is left to retry;
        # the corpus fetch is deterministic, so retries that keep failing
        # drain to terminal errors when no retries are left.
        # Each attempt's retry set is localCheckpoint'd (eager) so the
        # isEmpty probe and the next chain never re-execute the full
        # upstream fetch+parse lineage.
        item_parts, nonsuccess_parts, cached = [], [], []
        batch = scheduled
        for attempt in range(max_retries + 1):
            result = chaining.details_chain(
                batch,
                pages,
                fetchparse.parse_stage,
                max_retries=max_retries - attempt,
                fetch=fetch,
            )
            item_parts.append(result["items"])
            nonsuccess_parts.append(result["terminal_nonsuccess"])
            cached.extend(result["_cached"])
            retry = result["retry"].localCheckpoint(eager=True)
            if attempt == max_retries or retry.isEmpty():
                break
            batch = retry.select("url", "context", "item_id", F.lit("de").alias("language"))
        # downstream runs >1 action over items and non-success rows
        # (history insert, frontier mark, counts): checkpoint each once
        items = functools.reduce(DataFrame.unionByName, item_parts).localCheckpoint(eager=True)
        nonsuccess = functools.reduce(DataFrame.unionByName, nonsuccess_parts).localCheckpoint(
            eager=True
        )
        # the checkpoints above materialized everything downstream of
        # the chain's stage-boundary persists — release them now so a
        # long-running engine doesn't accumulate cached batches
        for df in cached:
            df.unpersist()

        history = History(self.spark, self.store)
        batch_rows = items.select(
            F.col("id"), "context", F.col("item"), F.col("status")
        ).unionByName(
            nonsuccess.select(
                F.col("item_id").cast("long").alias("id"),
                "context",
                F.lit(None).cast("string").alias("item"),
                "status",
            )
        )
        history.insert_batch(batch_rows, runs, run_id)
        frontier = Frontier(self.spark, self.store)
        frontier.upsert_details_batch(
            items.select(F.col("id").alias("item_id"), "context").unionByName(
                nonsuccess.select("item_id", "context")
            ),
            run_id,
        )

        # one small aggregate gives the batch's counts and the contexts
        # the close-of-run passes need: items are always `success` and
        # non-success rows never are
        counts = batch_rows.groupBy("context", "status").count().collect()
        n_items = sum(r["count"] for r in counts if r["status"] == "success")
        batch_contexts = {r["context"] for r in counts if r["context"]}
        moved_contexts = {r["context"] for r in counts if r["context"] and r["status"] == "moved"}

        # close-of-run database operations (pipelines.py:34-46):
        # projekt runs discover newly-referenced persons (Q4); person/
        # institution runs invalidate dependents of moved ids (Q5/Q6).
        from gepris_spark.operators import views

        hist_df = history.read()
        if "projekt" in batch_contexts:
            run_refs = views.person_projekt_references(
                hist_df.where(
                    (F.col("created_at") == run_id) & (F.col("context") == "projekt")
                ).where(F.col("status") == "success")
            )
            frontier.discover_new_persons(
                run_refs.select(F.col("person_id").alias("id")), run_id
            )
        for ctx in ("person", "institution"):
            if ctx in moved_contexts:
                frontier.mark_projekte_for_moved_references(hist_df, runs, ctx, run_id)
        if "institution" in moved_contexts:
            frontier.mark_roots_for_moved_subinstitutions(hist_df, runs, run_id)
        # the frontier's last commit of the batch is above — retire its
        # snapshot dirs older than the retention window
        self.store.expire_snapshots("frontier", keep_last=_SNAPSHOT_RETENTION)
        return {
            "run_id": run_id,
            "n_items": n_items,
            "n_nonsuccess": sum(r["count"] for r in counts) - n_items,
            "n_unresolved_retries": retry.count(),
        }

    # ------------------------------------------------------- full crawl
    def run_seed_list(
        self,
        seeds: DataFrame,
        robots: DataFrame | None = None,
        max_arrival: int | None = None,
        latencies: DataFrame | None = None,
    ) -> list[dict]:
        """Replay a seed list in arrival-order micro-batches, resuming
        past already-committed batches.

        The seeds' `arrival_seq` column pins the seed-list order (the
        fixture generator writes it); batching on an explicit column
        keeps the batch -> row mapping deterministic under any
        partitioning.
        """
        robots = robots if robots is not None else politeness.empty_robots(self.spark)
        if "arrival_seq" not in seeds.columns:
            raise ValueError("seed list needs an explicit arrival column 'arrival_seq'")
        if max_arrival is not None:
            n = max_arrival + 1
        else:
            n = seeds.agg(F.max("arrival_seq")).collect()[0][0]
            n = int(n) + 1 if n is not None else 0
        batch_size = self.config.batch_size
        results = []
        for batch_id, start in enumerate(range(0, n, batch_size)):
            if batch_id in self._committed:
                results.append(self._committed[batch_id])
                continue
            batch = seeds.where(
                (F.col("arrival_seq") >= start) & (F.col("arrival_seq") < start + batch_size)
            )
            results.append(self.run_batch(batch_id, batch, robots, latencies=latencies))
        return results
