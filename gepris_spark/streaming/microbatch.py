"""The crawl engine: checkpointed micro-batch loop (SURVEY §3.1 Spark
lifecycle, §7.2 steps 5-6).

Each micro-batch:

  select batch (seed-list slice, arrival order)
    -> canonicalize + validate (F2, built-ins)
    -> URL-seen filter (bloom fast path + exact anti-join, A1)
    -> robots + politeness schedule (A4; per-host token bucket whose
       sequence numbers, delay and next send time persist across
       batches in a host-state table; the delay adapts to a latency
       feed when one is passed, AIMD)
    -> visit-order assignment (the replay contract)
    -> commit, step by step, each step idempotent: visit-log append
       (per-batch directory), bloom update, host-state snapshot,
       ledger row (K5 run ledger, database.py:214-229)

Deterministic: no wall clock anywhere in the data path — `scheduled_ms`
is logical time. A killed run resumes from the ledger and reproduces
the remaining batches byte-identically (north rule), which
tests/test_replay.py proves by diffing a killed+resumed run against an
uninterrupted one.

Structured Streaming is deliberately NOT used: ordering + politeness
need cross-batch global state (per-host counters) and multi-table
commits, which the explicit loop + snapshot store gives directly,
mirroring the reference's run-ledger semantics (SURVEY §7.4 risk 5).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark import schemas
from gepris_spark.functions import canonical as C
from gepris_spark.operators import politeness

# target rows per range partition of the per-batch global visit order —
# enough to amortize task launch, small enough that a partition's sort
# fits comfortably in executor memory at any batch size
_ORDER_ROWS_PER_PARTITION = 8192
from gepris_spark.operators.urlseen import BloomUrlSeen
from gepris_spark.store.table import SnapshotStore

# snapshots of the mutable state tables (frontier, host_state) kept
# after each committed batch: the current one and its predecessor. Each
# commit writes a new version dir (untouched frontier buckets are
# hardlinks, host_state is one file), so without expiration a long
# crawl accumulates one table copy per batch — at 10^10 urls that
# dwarfs the live table.
_SNAPSHOT_RETENTION = 2

HOST_STATE = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("next_seq", T.LongType(), False),
        # AIMD latency feedback (politeness.py AIMD notes): the host's
        # current token-bucket delay and the logical send time of its
        # next request. Without a latency feed the delay holds at its
        # floor and next_ms = next_seq * delay_ms, the fixed-delay
        # schedule. NULL only in host rows written before these existed.
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
    bloom_hashes: int = 5
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
        self.bloom = BloomUrlSeen(
            root, n_buckets=self.config.bloom_buckets, k=self.config.bloom_hashes
        )

    # ------------------------------------------------------------ state
    def _ledger_path(self) -> str:
        return os.path.join(self.root, "ledger.jsonl")

    def committed_batches(self) -> dict[int, dict]:
        out: dict[int, dict] = {}
        try:
            with open(self._ledger_path()) as fh:
                for line in fh:
                    row = json.loads(line)
                    out[row["batch_id"]] = row
        except OSError:
            pass
        return out

    def _commit_ledger(self, row: dict) -> None:
        with open(self._ledger_path(), "a") as fh:
            fh.write(json.dumps(row) + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def host_state(self) -> DataFrame:
        return self.store.read(self.spark, "host_state", HOST_STATE)

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
        # carried across batches
        state = self.host_state().select(
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
        scheduled = politeness.assign_schedule(
            joined, num_partitions=n_batch_parts, cache_registry=batch_caches
        )
        # logical send time continues from the host's next_ms with this
        # batch's delay as the spacing (a host row without next_ms was
        # written by the fixed-delay schedule: next_seq * delay_ms)
        base_seq = F.coalesce(F.col("_base_seq"), F.lit(0))
        scheduled = scheduled.withColumn("host_seq", F.col("host_seq") + base_seq).withColumn(
            "scheduled_ms",
            (
                F.coalesce(F.col("_base_ms"), base_seq * F.col("delay_ms"))
                + F.col("scheduled_ms")
            ).cast("long"),
        )

        prior = self.committed_batches()
        first_seq = max((r["first_seq"] + r["n_visited"] for r in prior.values()), default=0)
        # one range partition for a small batch skips the range-sampling
        # job entirely — the same seq contract, minus two fixed jobs
        ordered, n_visited = timed(
            "schedule_order",
            lambda: (lambda df, n: (df.persist(), n))(
                *politeness.visit_order_with_count(
                    scheduled,
                    num_partitions=n_batch_parts,
                    cache_registry=batch_caches,
                )
            ),
        )

        # ---- commit sequence (each step idempotent for resume) ----
        visits = ordered.select(
            (F.col("seq") + F.lit(first_seq)).cast("long").alias("seq"),
            "url",
            "host",
            "context",
            "item_id",
            "scheduled_ms",
            F.lit(batch_id).cast("long").alias("batch_id"),
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
        # hosts visited this batch have a strictly larger next_seq, so a
        # struct-max keeps the batch row and leaves untouched hosts on
        # their prior (next_seq, delay, next_ms) — one groupBy, no join
        merged_state = (
            self.host_state()
            .unionByName(batch_state)
            .groupBy("host")
            .agg(F.max(F.struct("next_seq", "delay_ms", "next_ms")).alias("_s"))
            .select("host", "_s.next_seq", "_s.delay_ms", "_s.next_ms")
        )
        # the three commit outputs are independent functions of the
        # persisted `ordered` (visit-log append, bloom bitset update,
        # host-state snapshot) and each is idempotent under batch
        # replay, so run them as CONCURRENT Spark jobs — on a cluster
        # the driver otherwise sits idle between three small actions;
        # the ledger write below stays strictly after the group, so the
        # resume marker still implies all three landed
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            futures = [
                pool.submit(
                    timed, "visit_write",
                    lambda: self.store.append_batch(visits, "visit_log", batch_id),
                ),
                pool.submit(
                    timed, "bloom_update",
                    lambda: self.bloom.add_urls(
                        visits.select("url"), assume_distinct=True, seen_urls=prior_seen
                    ),
                ),
                pool.submit(
                    timed, "state_commit",
                    lambda: self.store.commit_snapshot(merged_state, "host_state", num_files=1),
                ),
            ]
            for f in futures:
                f.result()
        urlseen_health = futures[1].result()
        ordered.unpersist()
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
            "frontier_version": self.store.current_version("frontier"),
            "first_seq": int(first_seq),
            **urlseen_health,
            "stage_sec": timings,
        }
        self._commit_ledger(ledger_row)
        # the batch is durable (ledger fsynced) — retire snapshot dirs
        # older than the retention window; local fs metadata ops, no jobs
        for table in ("host_state", "frontier"):
            self.store.expire_snapshots(table, keep_last=_SNAPSHOT_RETENTION)
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
        """§3.1 lifecycle, steps 4-7: fetch+parse the scheduled de batch,
        loop A5 retries until exhausted (each retry refetches, mirroring
        refresh_cache=True), chain the en stage (A6), insert bilingual
        items + terminal non-success rows into history (K3), mark the
        ids checked in the frontier (K2).

        `pages` is the page source (corpus-backed fetch); `runs` the run
        ledger for the history latest-view join. `fetch` overrides the
        fetch stage (details_chain's injection point) — e.g.
        fetchparse.read_through_fetch for cache-with-live-fallback, or
        http_fetch_stage for the all-live leg.
        """
        from gepris_spark.operators import chaining, fetchparse
        from gepris_spark.operators.frontier import Frontier
        from gepris_spark.operators.history import History

        # broadcast only while the configured batch budget fits the
        # fetch-join ceiling; a >=50M-row design-point batch must take
        # the shuffle-join path (fetchparse.FETCH_BROADCAST_MAX_ROWS)
        bcast = self.config.batch_size <= fetchparse.FETCH_BROADCAST_MAX_ROWS
        result = chaining.details_chain(
            scheduled,
            pages,
            fetchparse.parse_stage,
            max_retries=max_retries,
            broadcast_fetch=bcast,
            fetch=fetch,
        )
        items, nonsuccess = result["items"], result["terminal_nonsuccess"]
        cached = list(result.get("_cached", []))
        # A5: re-fetch retries until the attempt budget is gone; the
        # corpus fetch is deterministic, so retries that keep failing
        # drain to terminal errors via route_statuses' exhaustion rule.
        # Each iteration's retry set is localCheckpoint'd (eager) so the
        # isEmpty probe and the next chain never re-execute the full
        # upstream fetch+parse lineage; items/nonsuccess unions are
        # likewise checkpointed per iteration, as downstream runs >1
        # action over them (history insert, frontier mark, counts).
        retry = result["retry"].localCheckpoint(eager=True)
        attempt = 0
        while attempt < max_retries:
            if retry.isEmpty():
                break
            again = chaining.details_chain(
                retry.select("url", "context", "item_id", F.lit("de").alias("language"), "attempt"),
                pages,
                fetchparse.parse_stage,
                max_retries=max_retries,
                broadcast_fetch=bcast,
                fetch=fetch,
            )
            items = items.unionByName(again["items"])
            nonsuccess = nonsuccess.unionByName(again["terminal_nonsuccess"])
            retry = again["retry"].localCheckpoint(eager=True)
            cached.extend(again.get("_cached", []))
            attempt += 1
        items = items.localCheckpoint(eager=True)
        nonsuccess = nonsuccess.localCheckpoint(eager=True)
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

        # close-of-run database operations (pipelines.py:34-46):
        # projekt runs discover newly-referenced persons (Q4); person/
        # institution runs invalidate dependents of moved ids (Q5/Q6).
        # The context/moved probes are O(contexts) driver lookups, so a
        # clean batch pays nothing beyond two tiny aggregations.
        from gepris_spark.operators import views

        batch_contexts = {
            r["context"]
            for r in batch_rows.select("context").distinct().collect()
            if r["context"]
        }
        moved_contexts = {
            r["context"]
            for r in nonsuccess.where(F.col("status") == "moved")
            .select("context")
            .distinct()
            .collect()
            if r["context"]
        }
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
        return {
            "run_id": run_id,
            "n_items": items.count(),
            "n_nonsuccess": nonsuccess.count(),
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
        committed = self.committed_batches()
        results = []
        for batch_id, start in enumerate(range(0, n, batch_size)):
            if batch_id in committed:
                results.append(committed[batch_id])
                continue
            batch = seeds.where(
                (F.col("arrival_seq") >= start) & (F.col("arrival_seq") < start + batch_size)
            )
            results.append(self.run_batch(batch_id, batch, robots, latencies=latencies))
        return results
