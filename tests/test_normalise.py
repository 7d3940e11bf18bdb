"""Normalization (N1-N6) + entity ETL (Q9-Q11) tests — exact-match
style, modeled on the reference's golden-item tests
(test/test_details_spider.py, test/test_init_sql.py)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gepris_spark.functions import normalise as N
from gepris_spark.operators import fetchparse
from gepris_spark.plans import etl


# ------------------------------------------------------- N3-N6 (pure)
def test_normalise_sub_institutions_nested():
    # trees.py:16-34 semantics: leaf -> id; branch -> {id: children}
    tree = [
        {"value": "A", "path": "/gepris/institution/10"},
        {
            "value": "B",
            "path": "/gepris/institution/20",
            "children": [{"value": "C", "path": "/gepris/institution/30"}],
        },
    ]
    assert N._normalise_sub_institutions(tree) == [10, {"20": [30]}]


def test_normalise_sub_institutions_rejects_non_reference():
    with pytest.raises(ValueError):
        N._normalise_sub_institutions(["just a string"])
    with pytest.raises(ValueError):
        N._normalise_sub_institutions([{"value": "x", "path": "/not/gepris"}])


def test_normalise_prices():
    cats = [
        {
            "value": "Leibniz-Preis",
            "children": [{"value": "2001", "path": "https://example.org/p/1"}],
        }
    ]
    out = N._normalise_prices(cats)
    assert out == {"Leibniz-Preis": [{"value": "2001", "path": "example.org/p/1"}]}
    with pytest.raises(ValueError):
        N._normalise_prices([{"value": "no children"}])


def test_normalise_tree_leaves_keeps_context_and_branches():
    tree = [
        {"value": "P1", "path": "/gepris/projekt/1"},
        {"value": "other ctx", "path": "/gepris/person/9"},  # dropped
        "stray string",  # dropped
        {"value": "Group", "children": [{"value": "P2", "path": "/gepris/projekt/2"}]},
    ]
    assert N._normalise_tree_leaves(tree, "projekt") == [1, {"Group": [2]}]


def test_normalise_tree_leaves_extend_ordering_quirk():
    """trees.py:73-74: a stray *list* entry appends its elements to the
    END of the worklist — they are visited after later siblings."""
    tree = [
        [{"value": "X", "path": "/gepris/projekt/100"}],
        {"value": "Y", "path": "/gepris/projekt/200"},
    ]
    assert N._normalise_tree_leaves(tree, "projekt") == [200, 100]


def test_normalise_trees_dispatch_rejects_unknown():
    with pytest.raises(ValueError):
        N.normalise_trees_dict({"mystery_tree": []}, "institution")
    out = N.normalise_trees_dict(
        {"untergeordneteInstitutionen": [{"value": "A", "path": "/gepris/institution/5"}]},
        "institution",
    )
    assert out == {"normalised_subinstitutions": [5]}


# ------------------------------------------------------------- N1 (df)
@pytest.fixture(scope="module")
def parsed_projekt(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    meta = seeds.dropna(subset=["item_id"]).select("url", "context", "item_id").distinct()
    fetched = pages.join(meta, "url").select("url", "language", "html", "context", "item_id")
    out = fetchparse.parse_stage(fetched)
    out.persist()
    out.count()
    return out


def test_normalise_attributes_recode_and_split(spark, parsed_projekt):
    norm = N.normalise_attributes(
        parsed_projekt.where((F.col("context") == "projekt") & (F.col("status") == "success"))
    )
    row = norm.orderBy("url", "language").first()
    keys = set(row["norm_attributes"].keys())
    # raw German keys recoded (normalisation.py:4-17 + map)
    assert "antragsteller_personen" in keys
    assert "fachliche_zuordnungen" in keys
    # processed + removed keys never appear in the normalized map
    assert "foerderung_zeitraum" not in keys and "projekt_kennung" not in keys
    assert row["unknown_keys"] == []
    # F12 split-processing: corpus writes 'Förderung von X bis Y'
    assert 2000 <= row["foerderung_beginn"] <= 2019
    assert 2001 <= row["foerderung_ende"] <= 2021


def test_normalise_attributes_quarantines_unknown_keys(spark):
    df = spark.createDataFrame(
        [("u", "projekt", 1, "success", {"Antragsteller": ["x"], "Klingon": ["y"]})],
        "url string, context string, item_id long, status string, attributes map<string,array<string>>",
    )
    norm = N.normalise_attributes(df)
    row = norm.first()
    assert row["unknown_keys"] == ["Klingon"]
    assert set(row["norm_attributes"].keys()) == {"antragsteller_personen"}


# ------------------------------------------------------------- N2 (df)
def _ref(v: str, path: str) -> str:
    return json.dumps({"value": v, "path": path})


def test_gender_person_sets(spark):
    attrs = {
        "Antragsteller": [_ref("Herr A", "/gepris/person/11")],
        "Antragstellerin": [],  # would conflict with Antragsteller if both present
        "Leiterin": [_ref("Frau B", "/gepris/person/22"), _ref("Frau C", "/gepris/person/33")],
        "Fachliche Zuordnung": ["Informatik"],
    }
    del attrs["Antragstellerin"]
    df = spark.createDataFrame(
        [("u", 1, attrs)], "url string, item_id long, attributes map<string,array<string>>"
    )
    row = N.gender_person_sets(df).first()
    assert row["male_personen"] == [11]
    assert row["female_personen"] == [22, 33]
    assert row["gender_key_conflict"] is False


def test_gender_key_conflict_detected(spark):
    attrs = {
        "Antragsteller": [_ref("A", "/gepris/person/1")],
        "Antragstellerinnen": [_ref("B", "/gepris/person/2")],
    }
    df = spark.createDataFrame(
        [("u", 1, attrs)], "url string, item_id long, attributes map<string,array<string>>"
    )
    row = N.gender_person_sets(df).first()
    # both raw keys recode to antragsteller_personen -> reference raises
    assert row["gender_key_conflict"] is True


# --------------------------------------------------------- Q9-Q11 ETL
def test_projekte_table_from_corpus(spark, parsed_projekt):
    norm = etl.normalised_items(parsed_projekt, "projekt")
    projekte = etl.projekte_table(norm)
    row = projekte.orderBy("id").first()
    assert row["id"] == 1
    # corpus h1 is 'Eintrag\xa01 ...' — NBSP is non-printable under F1
    # (str.isprintable), so it is dropped, not turned into a space
    assert row["name"] == "Eintrag1 (projekt)"
    assert 2000 <= row["foerderung_beginn"] <= 2019
    assert 2001 <= row["foerderung_ende"] <= 2021
    # projektbaum leaves: id*10+1 leaf; branch child id*10+2 nested
    assert row["teil_projekte"][0] == 11
    assert projekte.where(F.col("n_unknown_keys") > 0).count() == 0


def test_personen_institutionen_tables(spark, parsed_projekt):
    personen = etl.personen_table(etl.normalised_items(parsed_projekt, "person"))
    assert personen.count() > 0
    p = personen.orderBy("id").first()
    assert p["verstorben"] is False and p["gender"] == "unknown"

    inst = etl.institutionen_table(etl.normalised_items(parsed_projekt, "institution"))
    assert inst.count() > 0
    assert inst.where(F.col("name").isNull()).count() == 0


def test_edges_and_gender_backprop(spark):
    attrs = {
        "Antragstellerin": [_ref("Frau X", "/gepris/person/7")],
        "Antragstellende Institution": [_ref("Uni Y", "/gepris/institution/70")],
    }
    norm = etl.normalised_items(
        spark.createDataFrame(
            [("u", "projekt", 5, "success", "de", attrs, None, "Projekt 5")],
            "url string, context string, item_id long, status string, "
            "language string, attributes map<string,array<string>>, "
            "trees_json string, name string",
        ),
        "projekt",
    )
    p_edges = etl.personen_projekte_edges(norm).collect()
    assert [(r["person_id"], r["projekt_id"], r["relation"]) for r in p_edges] == [
        (7, 5, "antragsteller_personen")
    ]
    i_edges = etl.institutionen_projekte_edges(norm).collect()
    assert [(r["institution_id"], r["projekt_id"]) for r in i_edges] == [(70, 5)]

    personen = spark.createDataFrame(
        [(7, "Frau X", "unknown"), (8, "Herr Z", "male")],
        "id long, name string, gender string",
    )
    projekte = etl.projekte_table(norm)
    updated = {r["id"]: r["gender"] for r in etl.gender_backprop(personen, projekte).collect()}
    assert updated == {7: "female", 8: "male"}
