"""The politeness schedule's range-partitioned ranks at many hosts: one
hot host that spans range partitions beside a thousand small hosts
that share them. Both ranks must equal a plain single-threaded sort."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from gepris_spark.operators import politeness

SCHEMA = "url string, host string, priority_type long, recency_ts timestamp, delay_ms long"


def _batch_rows(seed: int = 11) -> list[tuple]:
    """2,400 rows of one hot host and 1-2 rows each of 1,200 small
    hosts, with NULL priorities and recencies mixed in."""
    rng = np.random.default_rng(seed)
    hosts = [("gepris.dfg.de", 2400, 2000)] + [
        (f"h{i:04d}.example.org", int(rng.integers(1, 3)), int(rng.choice([500, 1000, 2000])))
        for i in range(1200)
    ]
    base = datetime(2024, 1, 1)
    rows = []
    for host, n, delay in hosts:
        for j in range(n):
            priority = None if rng.random() < 0.1 else int(rng.integers(0, 3))
            minutes = int(rng.integers(0, 500))
            recency = None if rng.random() < 0.1 else base + timedelta(minutes=minutes)
            rows.append((f"https://{host}/gepris/projekt/{j}", host, priority, recency, delay))
    return rows


def test_many_hosts_ranks_equal_pandas_sort(spark):
    rows = _batch_rows()
    caches: list = []
    scheduled = politeness.assign_schedule(
        spark.createDataFrame(rows, SCHEMA), num_partitions=4, cache_registry=caches
    )
    ordered, n = politeness.visit_order_with_count(
        scheduled, num_partitions=4, cache_registry=caches
    )
    got = ordered.select("url", "host_seq", "scheduled_ms", "seq").toPandas().set_index("url")
    for df in caches:
        df.unpersist()
    assert n == len(rows) == len(got)

    pdf = pd.DataFrame(rows, columns=["url", "host", "priority_type", "recency_ts", "delay_ms"])
    by_priority = pdf.sort_values(["priority_type", "recency_ts", "url"], na_position="first")
    by_priority["host_seq"] = by_priority.groupby("host").cumcount()
    want = by_priority.set_index("url").loc[got.index]
    want["scheduled_ms"] = want["host_seq"] * want["delay_ms"]
    assert (got["host_seq"] == want["host_seq"]).all()
    assert (got["scheduled_ms"] == want["scheduled_ms"]).all()

    by_time = want.reset_index().sort_values(
        ["scheduled_ms", "priority_type", "url"], na_position="last"
    )
    assert got.loc[by_time["url"], "seq"].tolist() == list(range(len(rows)))
