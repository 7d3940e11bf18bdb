"""The distributed URL frontier: state table + priority queue.

Reproduces the reference's `available_items` state machine
(/root/reference/gepris_crawler/database.py) with Iceberg-style MERGE
over the snapshot store:

* K2 details upsert (database.py:66-76)
* Q4 newly-referenced-person discovery, an anti-join (database.py:118-147)
* Q5/Q6 moved-reference invalidation (database.py:163-207)
* A2 priority queue: never-checked first, then stalest-first
  (database.py:43-64)

Scale design: the frontier is hash-bucketed on (context, id) — the
MERGE joins are equi-joins on the bucket keys, micro-batch sources are
broadcast, and the priority select is a per-partition top-k followed by
a global top-k (TakeOrderedAndProject), so nothing materializes the
full 10^10-row table on one node.

The search-results sweep's K1 upsert and Q7 vanish marking run through
the same `merge` and `commit` paths from `operators/search.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gepris_spark import schemas
from gepris_spark.operators import views
from gepris_spark.store.table import SnapshotStore

KEYS = ["id", "context"]
TABLE = "frontier"


class Frontier:
    def __init__(self, spark: SparkSession, store: SnapshotStore, n_buckets: int = 64):
        self.spark = spark
        self.store = store
        self.n_buckets = n_buckets

    # ------------------------------------------------------------- state
    def read(self) -> DataFrame:
        return self.store.read(self.spark, TABLE, schemas.FRONTIER)

    def commit(self, df: DataFrame) -> int:
        """Full-table rewrite path (sweep updates that touch every
        bucket: vanish marking, moved-invalidation)."""
        return self.store.commit_bucketed(df, TABLE, "id", self.n_buckets)

    def merge(self, source: DataFrame, matched_update, not_matched_insert) -> int:
        """Bucket-pruned MERGE path (micro-batch upserts): only hash
        buckets present in the source are read + rewritten; the rest of
        the frontier is hardlinked forward (store.merge_bucketed)."""
        return self.store.merge_bucketed(
            self.spark,
            TABLE,
            schemas.FRONTIER,
            source,
            KEYS,
            matched_update,
            not_matched_insert,
            n_buckets=self.n_buckets,
        )

    # ---------------------------------------------------------------- K2
    def upsert_details_batch(self, ids: DataFrame, run_id: int) -> int:
        """Details-run upsert (database.py:66-76): mark checked.
        Idempotent: a re-run with the same `run_id` sets the same
        values again."""
        run = F.lit(run_id).cast("long")
        source = ids.select(F.col("item_id").cast("long").alias("id"), "context").dropDuplicates(KEYS)

        def updates(t, s):
            return {"last_detail_check": run, "detail_check_needed": F.lit(False)}

        def inserts(s):
            return {
                "id": F.col("s.id"),
                "context": F.col("s.context"),
                "last_detail_check": run,
                "detail_check_needed": F.lit(False),
            }

        return self.merge(source, updates, inserts)

    # ---------------------------------------------------------------- Q4
    def discover_new_persons(self, referenced_person_ids: DataFrame, run_id: int) -> int:
        """Insert newly-referenced persons (database.py:118-147).

        `referenced_person_ids`: single column `id` of person ids
        referenced by this run's projekt items (produced by the
        reference-explosion view, operators/views.py). Anti-join against
        known persons, insert with detail_check_needed=True.
        """
        source = (
            referenced_person_ids.select(F.col("id").cast("long"))
            .distinct()
            .select("id", F.lit("person").alias("context"))
        )

        def updates(t, s):
            return {}  # already-known persons are untouched (the anti-join arm)

        def inserts(s):
            return {
                "id": F.col("s.id"),
                "context": F.col("s.context"),
                "detail_check_needed": F.lit(True),
            }

        return self.merge(source, updates, inserts)

    # ------------------------------------------------------------- Q5/Q6
    def mark_check_needed_for_ids(self, ids: DataFrame) -> int:
        """Flag rows whose id is in `ids` (single column `id`).

        Mirrors the reference exactly: the UPDATE matches on id only,
        with NO context filter (database.py:183-186,203-206) — a projekt
        and a person sharing an id are both flagged.
        """
        frontier = self.read()
        # no explicit broadcast: invalidation sets are usually tiny but
        # nothing bounds them (a full-corpus renumbering flags every
        # projekt) — AQE picks broadcast-hash at runtime when the
        # distinct id set is actually small
        flagged = (
            frontier.join(ids.select("id").distinct().withColumn("_hit", F.lit(True)), "id", "left")
            .select(
                *[F.col(c) for c in schemas.FRONTIER.fieldNames() if c != "detail_check_needed"],
                F.when(F.col("_hit"), F.lit(True))
                .otherwise(F.col("detail_check_needed"))
                .alias("detail_check_needed"),
            )
            .select(*schemas.FRONTIER.fieldNames())
        )
        return self.commit(flagged)

    def mark_projekte_for_moved_references(
        self, history: DataFrame, runs: DataFrame, context: str, run_id: int
    ) -> int:
        """Q5 end-to-end — moved persons/institutions invalidate the
        projekte that reference them
        (database.py:163-188
        mark_detail_check_needed_on_projekts_for_moved_person_institution):

          moved = history rows of THIS run with status='moved'
          refs  = latest_{person|institution}_projekt_references
                  (the Q3 explosion over latest_detail_items,
                  dfg-gepris.sql:100-115)
          flag every projekt_id whose referenced id moved

        The moved set is tiny (a GEPRIS renumbering event), so the
        ref-edge join broadcasts it; the frontier UPDATE is
        mark_check_needed_for_ids, a full frontier rewrite."""
        if context == "person":
            refs = views.person_projekt_references(
                views.latest_detail_items(history, runs)
            )
            key = "person_id"
        elif context == "institution":
            refs = views.institution_projekt_references(
                views.latest_detail_items(history, runs)
            )
            key = "institution_id"
        else:
            raise ValueError(f"context must be person|institution, was {context!r}")
        # the reference's moved-items query has no context filter
        # (database.py:173-177) but its details runs are single-context,
        # so created_at==run_id implies the spider's context; this
        # engine batches contexts together and must filter explicitly
        # or a moved projekt would leak into person/institution refs
        moved = history.where(
            (F.col("created_at") == run_id)
            & (F.col("status") == "moved")
            & (F.col("context") == context)
        ).select(F.col("id").alias("_moved_id"))
        projekt_ids = (
            refs.join(F.broadcast(moved), refs[key] == F.col("_moved_id"))
            .select(F.col("projekt_id").alias("id"))
            .distinct()
        )
        return self.mark_check_needed_for_ids(projekt_ids)

    def mark_roots_for_moved_subinstitutions(
        self, history: DataFrame, runs: DataFrame, run_id: int
    ) -> int:
        """Q6 end-to-end — a moved sub-institution invalidates its tree
        root (database.py:190-207
        mark_detail_check_needed_on_root_institutions_for_moved_sub_institution):

          moved = this run's status='moved' history rows
          hier  = institution_hierarchy closure over latest_items
                  (dfg-gepris.sql:117-141)
          flag root_id of every moved row with a non-null parent
          (a moved ROOT flags itself — matching the reference, whose
          join keys on hierarchy.id with parent_id NOT NULL)."""
        hier = views.institution_hierarchy(
            views.latest_items(self.read(), history, runs)
        )
        # same single-context-run equivalence as above: only moved
        # INSTITUTIONS participate in the sub-institution invalidation
        moved = history.where(
            (F.col("created_at") == run_id)
            & (F.col("status") == "moved")
            & (F.col("context") == "institution")
        ).select(F.col("id").alias("_moved_id"))
        root_ids = (
            hier.where(F.col("parent_id").isNotNull())
            .join(F.broadcast(moved), hier["id"] == F.col("_moved_id"))
            .select(F.col("root_id").alias("id"))
            .distinct()
        )
        return self.mark_check_needed_for_ids(root_ids)

    # ---------------------------------------------------------------- A2
    def get_ids(
        self,
        runs: DataFrame,
        context: str,
        only_needed: bool = False,
        limit: int = 0,
    ) -> DataFrame:
        """Priority queue (database.py:43-64): UNION ALL of

        1. never-checked ids (last_detail_check IS NULL), then
        2. checked ids ordered by their checking run's start time ASC
           (stalest first), optionally filtered to detail_check_needed.

        The reference leaves tier 1 unordered (Postgres heap order; its
        test inserts in id order and asserts id order) — we pin tier 1
        to id ASC and tie-break tier 2 by id for determinism.

        Returns (item_id, context, priority_tier, order_ts). With a
        limit, Spark plans TakeOrderedAndProject (per-partition top-k +
        global top-k) — no full sort, no single-node materialization.
        """
        frontier = self.read().where(F.col("context") == context)
        tier1 = frontier.where(F.col("last_detail_check").isNull()).select(
            F.col("id").alias("item_id"),
            F.lit(0).alias("priority_tier"),
            F.lit(None).cast("timestamp").alias("order_ts"),
        )
        tier2_base = frontier.where(F.col("last_detail_check").isNotNull())
        if only_needed:
            tier2_base = tier2_base.where(F.col("detail_check_needed"))
        tier2 = tier2_base.join(
            F.broadcast(runs.select(F.col("id").alias("_run_id"), "run_started_at")),
            F.col("last_detail_check") == F.col("_run_id"),
            "inner",
        ).select(
            F.col("id").alias("item_id"),
            F.lit(1).alias("priority_tier"),
            F.col("run_started_at").alias("order_ts"),
        )
        out = (
            tier1.unionByName(tier2)
            .select("item_id", F.lit(context).alias("context"), "priority_tier", "order_ts")
            .orderBy("priority_tier", F.col("order_ts").asc_nulls_first(), "item_id")
        )
        if limit > 0:
            out = out.limit(limit)
        return out
