"""Query-layer view tests — ports of test/test_init_sql.py expected
edge sets (reference explosion + recursive hierarchy closure)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from gepris_spark import schemas
from gepris_spark.operators import views


def _latest(spark, rows):
    """rows: (id, context, item_json)"""
    return spark.createDataFrame(
        [(i, c, j, "success") for (i, c, j) in rows],
        "id long, context string, item string, status string",
    )


def test_reference_explosion_edge_sets(spark):
    """test_init_sql.py:18-55 — person/institution reference views."""
    item = (
        '{"id": 1, "attributes": {"antragsteller_personen": [2, 3],'
        ' "unternehmen_institutionen": [4],'
        ' "partner_organisation_institutionen": [5],'
        ' "not_a_relation": [9]}}'
    )
    latest = _latest(spark, [(1, "projekt", item)])
    p_edges = {
        (r["person_id"], r["projekt_id"], r["relation"])
        for r in views.person_projekt_references(latest).collect()
    }
    assert p_edges == {
        (2, 1, "antragsteller_personen"),
        (3, 1, "antragsteller_personen"),
    }
    i_edges = {
        (r["institution_id"], r["projekt_id"], r["relation"])
        for r in views.institution_projekt_references(latest).collect()
    }
    assert i_edges == {
        (4, 1, "unternehmen_institutionen"),
        (5, 1, "partner_organisation_institutionen"),
    }


def test_institution_hierarchy_closure(spark):
    """test_init_sql.py:57-87 / FIXTURES.md §5 — exact closure for
    normalised_subinstitutions = ['2', {'3': ['4','5']}, '6']."""
    item = '{"id": 1, "trees": {"normalised_subinstitutions": ["2", {"3": ["4", "5"]}, "6"]}}'
    latest = _latest(spark, [(1, "institution", item), (7, "institution", '{"id": 7}')])
    got = {
        (r["id"], r["parent_id"], r["root_id"])
        for r in views.institution_hierarchy(latest).collect()
    }
    assert got == {
        (1, None, 1),
        (2, 1, 1),
        (3, 1, 1),
        (4, 3, 1),
        (5, 3, 1),
        (6, 1, 1),
        (7, None, 7),
    }


def test_latest_detail_items_and_latest_items(spark):
    base = datetime.datetime(2021, 1, 1)
    runs = spark.createDataFrame(
        [
            (1, "details", "projekt", base, None, None),
            (2, "details", "projekt", base + datetime.timedelta(hours=1), None, None),
        ],
        schemas.RUNS,
    )
    history = spark.createDataFrame(
        [
            (1, "projekt", 1, '{"v": 1}', "success"),
            (1, "projekt", 2, '{"v": 2}', "success"),
            (2, "projekt", 1, None, "moved"),
            (3, "projekt", 1, None, "error"),
        ],
        schemas.HISTORY,
    )
    latest = views.latest_detail_items(history, runs)
    got = {(r["id"]): (r["created_at"], r["item"], r["status"]) for r in latest.collect()}
    assert got == {1: (2, '{"v": 2}', "success"), 2: (1, None, "moved"), 3: (1, None, "error")}

    frontier = spark.createDataFrame(
        [
            (1, "projekt", 1, 1, '{"a": 1}', None, True),
            (2, "projekt", 1, 1, '{"a": 2}', None, True),
            (3, "projekt", 1, 1, '{"a": 3}', None, True),
        ],
        schemas.FRONTIER,
    )
    items = views.latest_items(frontier, history, runs)
    got = {r["id"]: r["item"] for r in items.collect()}
    # success -> history item; moved excluded; error -> frontier fallback
    assert got == {1: '{"v": 2}', 3: '{"a": 3}'}

