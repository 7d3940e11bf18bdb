"""Custom stateful streaming operator: per-host politeness sequencing
with `applyInPandasWithState`.

The micro-batch engine keeps per-host token-bucket sequence numbers in
its ledger rows (each row's `hosts`, microbatch.py HOST_STATE) because
its loop commits several tables under one ledger row. A pure Structured Streaming deployment of
the same A4 semantics maps naturally onto Spark's keyed state store:
the frontier arrives as a stream, groups by host, and a pandas state
function assigns each request the next host_seq — state (one long per
host) survives micro-batches in the checkpointed state store, so a
killed stream resumes sequencing exactly where it stopped, the
streaming twin of the engine's ledger-resume guarantee.

Within one micro-batch, rows are ordered by the same A2/A3 priority
key the batch scheduler uses (priority_type, recency stalest-first,
url tiebreak — politeness.assign_schedule), so a single-batch stream
reproduces the batch schedule exactly; across batches the stream is
arrival-ordered, which is precisely the streaming contract (you cannot
reorder against requests you have not seen yet).

Scale: state is O(distinct hosts) longs; the shuffle is the groupBy
host — same key the batch path shuffles on. A pathologically hot host
serializes within its group task per micro-batch, which is inherent to
in-order per-host sequencing (the batch path's range-partition trick
reorders across the whole batch; a stream must emit in arrival order).
Politeness DELAY makes this moot in production: a host's batch share
is bounded by batch_window / crawl_delay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

SCHEDULE_OUT = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("host", T.StringType()),
        T.StructField("context", T.StringType()),
        T.StructField("item_id", T.LongType()),
        T.StructField("host_seq", T.LongType()),
        T.StructField("scheduled_ms", T.LongType()),
    ]
)

_STATE = T.StructType([T.StructField("next_seq", T.LongType())])


def stateful_schedule(frontier: DataFrame, delay_ms: int = 1000) -> DataFrame:
    """frontier: streaming DF with (url, host, context, item_id,
    priority_type, recency_ts). Returns the scheduled stream; host_seq
    continues across micro-batches via the keyed state store."""

    def assign(key, pdfs, state):
        import pandas as pd

        (host,) = key
        (base,) = state.get if state.exists else (0,)
        batch = pd.concat(list(pdfs), ignore_index=True)
        # na_position='first' matches the batch scheduler's
        # asc_nulls_first ordering (politeness.assign_schedule) — the
        # pandas default ('last') would diverge on null priority/recency
        batch = batch.sort_values(
            ["priority_type", "recency_ts", "url"],
            kind="mergesort",
            na_position="first",
        ).reset_index(drop=True)
        batch["host_seq"] = base + batch.index.to_numpy()
        batch["scheduled_ms"] = batch["host_seq"] * delay_ms
        state.update((int(base + len(batch)),))
        yield batch[["url", "host", "context", "item_id", "host_seq", "scheduled_ms"]]

    return (
        frontier.select(
            "url", "host", "context", "item_id", "priority_type", "recency_ts"
        )
        .groupBy("host")
        .applyInPandasWithState(
            assign,
            outputStructType=SCHEDULE_OUT,
            stateStructType=_STATE,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
