"""Append-only item history sink (SURVEY §2.2 K3, §2.7 A5 routing).

Reference: `details_items_history` insert-if-changed
(database.py:100-116) — a new row is appended only when the latest row
for (id, context) differs in (status, item) under null-safe equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gepris_spark import schemas
from gepris_spark.operators import views
from gepris_spark.store.table import SnapshotStore

TABLE = "history"


class History:
    def __init__(self, spark: SparkSession, store: SnapshotStore):
        self.spark = spark
        self.store = store

    def read(self) -> DataFrame:
        df = self.store.read_appends(self.spark, TABLE, schemas.HISTORY)
        return df.select(*schemas.HISTORY.fieldNames())

    def insert_batch(self, batch: DataFrame, runs: DataFrame, run_id: int) -> int:
        """K3 — append rows of (id, context, item, status) for run_id,
        skipping rows identical (null-safe) to the latest history row.

        Left-anti join against the Q1 latest view with `<=>` on item and
        equality on status (database.py:107-111's NOT EXISTS). The view
        covers the runs before `run_id` only: a re-run of `run_id` must
        not compare against the rows it wrote itself, which would skip
        them all and overwrite its append dir empty.
        """
        prior = self.read().where(F.col("created_at") < run_id)
        latest = views.latest_detail_items(prior, runs).select(
            "id", "context", F.col("item").alias("_l_item"), F.col("status").alias("_l_status")
        )
        fresh = (
            batch.join(latest, ["id", "context"], "left")
            .where(
                F.col("_l_status").isNull()
                | ~((F.col("status") == F.col("_l_status")) & F.col("item").eqNullSafe(F.col("_l_item")))
            )
            .select(
                F.col("id").cast("long"),
                "context",
                F.lit(run_id).cast("long").alias("created_at"),
                "item",
                "status",
            )
        )
        self.store.append_batch(fresh, TABLE, run_id)
        return run_id


def route_statuses(parsed: DataFrame, retries_left: int) -> dict[str, DataFrame]:
    """A5 — status routing of parse output: success/moved/error rows go
    to history; retry rows re-enter the frontier while `retries_left`
    (the same for every row of a batch) is positive, else become errors
    (middlewares.py:15-63)."""
    retry = (F.col("status") == "retry") & F.lit(retries_left > 0)
    terminal = parsed.where(~retry).withColumn(
        "status", F.when(F.col("status") == "retry", "error").otherwise(F.col("status"))
    )
    return {"terminal": terminal, "retry": parsed.where(retry)}
