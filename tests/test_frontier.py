"""Frontier state-machine tests — ports of the reference's
test/test_database.py cases (exact expected states)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from gepris_spark import schemas
from gepris_spark.operators.frontier import Frontier
from gepris_spark.operators.history import History
from gepris_spark.operators import views
from gepris_spark.operators.search import mark_vanished, upsert_search_batch
from gepris_spark.store.table import SnapshotStore


def _runs(spark, rows):
    base = datetime.datetime(2021, 1, 1)
    data = [
        (i, spider, ctx, base + datetime.timedelta(hours=i), base + datetime.timedelta(hours=i, minutes=30), n)
        for (i, spider, ctx, n) in rows
    ]
    return spark.createDataFrame(data, schemas.RUNS)


def _frontier_rows(frontier):
    return {
        (r["id"], r["context"]): (
            r["last_available_seen"],
            r["last_available_change"],
            r["last_available_item"],
            r["last_detail_check"],
            r["detail_check_needed"],
        )
        for r in frontier.read().collect()
    }


def test_get_ids_priority_order(spark, store_dir):
    """test_database.py:20-38 — expected order [1, 2, 4, 3]."""
    fr = Frontier(spark, SnapshotStore(store_dir))
    runs = _runs(
        spark,
        [(1, "search_results", "projekt", 4), (2, "details", "projekt", 1), (3, "details", "projekt", 1)],
    )
    rows = [
        (3, "projekt", 1, 1, '{"name_de": "test3"}', 2, False),
        (4, "projekt", 1, 1, '{"name_de": "test4"}', 1, True),
        (1, "projekt", 1, 1, '{"name_de": "test1"}', None, True),
        (2, "projekt", 1, 1, '{"name_de": "test2"}', None, True),
    ]
    fr.store.commit_snapshot(spark.createDataFrame(rows, schemas.FRONTIER), "frontier")

    def ids(**kw):
        return [r["item_id"] for r in fr.get_ids(runs, "projekt", **kw).collect()]

    assert ids() == [1, 2, 4, 3]
    assert ids(limit=2) == [1, 2]
    assert ids(only_needed=True) == [1, 2, 4]
    assert ids(limit=2, only_needed=True) == [1, 2]
    assert [r["item_id"] for r in fr.get_ids(runs, "person", limit=2, only_needed=True).collect()] == []


def test_upsert_search_and_details_sequence(spark, store_dir):
    """test_database.py:40-88 — the exact K1/K2 transition sequence."""
    fr = Frontier(spark, SnapshotStore(store_dir))
    item_p1 = '{"id": 1, "name_de": "p1"}'

    def batch(item_id, item):
        return spark.createDataFrame([(item_id, "projekt", item)], "id long, context string, item string")

    upsert_search_batch(fr, batch(1, item_p1), run_id=1)
    assert _frontier_rows(fr) == {(1, "projekt"): (1, 1, item_p1, None, True)}

    upsert_search_batch(fr, batch(1, item_p1), run_id=2)  # same item: seen bumps, change stays
    assert _frontier_rows(fr) == {(1, "projekt"): (2, 1, item_p1, None, True)}

    item_p3 = '{"id": 1, "name_de": "p3"}'
    upsert_search_batch(fr, batch(1, item_p3), run_id=3)  # changed item
    assert _frontier_rows(fr) == {(1, "projekt"): (3, 3, item_p3, None, True)}

    ids = spark.createDataFrame([(1, "projekt")], "item_id long, context string")
    fr.upsert_details_batch(ids, run_id=4)  # details check: needed -> False
    assert _frontier_rows(fr) == {(1, "projekt"): (3, 3, item_p3, 4, False)}

    ids2 = spark.createDataFrame([(2, "projekt")], "item_id long, context string")
    fr.upsert_details_batch(ids2, run_id=4)  # details on unknown id -> bare insert
    assert _frontier_rows(fr)[(2, "projekt")] == (None, None, None, 4, False)

    item2 = '{"id": 2, "name_de": "p1"}'
    upsert_search_batch(fr, batch(2, item2), run_id=5)
    # change detected (NULL -> item) but seen was NULL -> needed stays False
    assert _frontier_rows(fr)[(2, "projekt")] == (5, 5, item2, 4, False)


def test_discover_new_persons(spark, store_dir):
    """test_database.py:90-124 — Q4 anti-join discovery."""
    store = SnapshotStore(store_dir)
    fr = Frontier(spark, store)
    hi = History(spark, store)
    runs = _runs(
        spark,
        [(1, "search_results", "projekt", 1), (2, "search_results", "person", 1), (3, "details", "projekt", 1)],
    )
    upsert_search_batch(
        fr,
        spark.createDataFrame([(100, "projekt", '{"id": 100, "name_de": "test"}')], "id long, context string, item string"),
        run_id=1,
    )
    upsert_search_batch(
        fr,
        spark.createDataFrame([(201, "person", '{"id": 201, "name_de": "test"}')], "id long, context string, item string"),
        run_id=2,
    )
    item = '{"id": 100, "attributes": {"antragsteller_personen": [200, 201]}}'
    hi.insert_batch(
        spark.createDataFrame([(100, "projekt", item, "success")], "id long, context string, item string, status string"),
        runs,
        run_id=3,
    )
    run3_items = hi.read().where(F.col("created_at") == 3)
    refs = views.person_projekt_references(run3_items.withColumn("context", F.col("context")))
    fr.discover_new_persons(refs.select(F.col("person_id").alias("id")), run_id=3)

    rows = _frontier_rows(fr)
    assert rows[(200, "person")] == (None, None, None, None, True)
    assert rows[(201, "person")] == (2, 2, '{"id": 201, "name_de": "test"}', None, True)


def test_mark_vanished(spark, store_dir):
    """test_database.py:126-145 — Q7."""
    fr = Frontier(spark, SnapshotStore(store_dir))
    item = '{"id": 1, "name_de": "p1"}'
    upsert_search_batch(
        fr,
        spark.createDataFrame([(1, "projekt", item)], "id long, context string, item string"), run_id=1
    )
    mark_vanished(fr, "projekt", run_id=2)
    assert _frontier_rows(fr) == {(1, "projekt"): (1, 2, None, None, True)}


def test_history_insert_dedup(spark, store_dir):
    """database.py:100-116 — K3 insert-if-changed with null-safe item compare."""
    store = SnapshotStore(store_dir)
    hi = History(spark, store)
    runs = _runs(spark, [(1, "details", "projekt", 1), (2, "details", "projekt", 1), (3, "details", "projekt", 1)])

    def b(item, status):
        return spark.createDataFrame([(1, "projekt", item, status)], "id long, context string, item string, status string")

    hi.insert_batch(b('{"a": 1}', "success"), runs, run_id=1)
    assert hi.read().count() == 1
    hi.insert_batch(b('{"a": 1}', "success"), runs, run_id=2)  # identical -> skipped
    assert hi.read().count() == 1
    hi.insert_batch(b(None, "error"), runs, run_id=3)  # different -> appended
    rows = {(r["created_at"]): (r["item"], r["status"]) for r in hi.read().collect()}
    assert rows == {1: ('{"a": 1}', "success"), 3: (None, "error")}


def test_mark_check_needed_for_ids(spark, store_dir):
    fr = Frontier(spark, SnapshotStore(store_dir))
    rows = [
        (1, "projekt", None, None, None, 1, False),
        (2, "projekt", None, None, None, 1, False),
        (2, "person", None, None, None, 1, False),  # same id, other context: also flagged (reference quirk)
    ]
    fr.store.commit_snapshot(spark.createDataFrame(rows, schemas.FRONTIER), "frontier")
    fr.mark_check_needed_for_ids(spark.createDataFrame([(2,)], "id long"))
    got = _frontier_rows(fr)
    assert got[(1, "projekt")][4] is False
    assert got[(2, "projekt")][4] is True
    assert got[(2, "person")][4] is True


def test_parse_robots_txt(spark):
    from gepris_spark.operators import politeness

    body = """
# comment
User-agent: evilbot
Disallow: /

User-agent: *
Disallow: /gepris/private
Disallow:
Crawl-delay: 4.5
"""
    row = politeness.parse_robots_txt("gepris.dfg.de", body)
    assert row["disallow_prefixes"] == ["/gepris/private"]
    assert row["crawl_delay_ms"] == 4500
    df = politeness.robots_table(spark, {"gepris.dfg.de": body})
    got = df.collect()[0]
    assert got["crawl_delay_ms"] == 4500
    # no crawl-delay -> default politeness budget
    assert politeness.parse_robots_txt("x", "User-agent: *\nDisallow: /y")["crawl_delay_ms"] == 2000
