"""Search-results pipeline tests (SURVEY §3.2): S1 pagination, P6 row
iteration with null-link skip, P7 sub-institution exploder, G3 total
discovery, G4 per-page count check, then the K1 change-detecting
upsert + Q7 vanish sweep — mirroring the reference's
test_search_results_spider.py exact-count strategy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gepris_spark.operators import search
from gepris_spark.operators.frontier import Frontier
from gepris_spark.sources import corpus
from gepris_spark.store.table import SnapshotStore


@pytest.fixture(scope="module")
def search_parsed(spark):
    out = {}
    for context in ("projekt", "person", "institution"):
        pages = corpus.gen_search_pages_pdf(context, n_items=120, page_size=50, seed=42)
        df = spark.createDataFrame(pages)
        parsed = search.parse_search_stage(df)
        parsed.persist().count()
        out[context] = (pages, parsed)
    return out


def test_total_result_count_discovered(search_parsed):
    for context, (pages, parsed) in search_parsed.items():
        totals = {r["total_result_count"] for r in parsed.select("total_result_count").distinct().collect()}
        assert totals == {120}, context  # G3, dot-stripped


def test_null_links_skipped_and_counted(search_parsed):
    pages, parsed = search_parsed["projekt"]
    n_real = int(pages["n_real_items"].sum())
    assert parsed.count() == n_real
    n_null = int(pages["n_rows_on_page"].sum()) - n_real
    got_null = (
        parsed.select("url", "n_null_links").distinct().agg(F.sum("n_null_links")).collect()[0][0]
    )
    assert got_null == n_null


def test_projekt_attributes_loaded(search_parsed):
    _, parsed = search_parsed["projekt"]
    row = parsed.orderBy("item_id").first()
    assert row["name_de"].startswith("Eintrag")
    assert "Antragsteller" in row["attributes"] and "Förderung" in row["attributes"]


def test_person_addresse_loaded(search_parsed):
    _, parsed = search_parsed["person"]
    row = parsed.orderBy("item_id").first()
    assert row["addresse"].startswith("Universität")


def test_institution_subinstitution_exploder(search_parsed):
    _, parsed = search_parsed["institution"]
    subs = parsed.where(F.col("uebergeordnete_institution").isNotNull())
    assert subs.count() > 0
    row = subs.orderBy("item_id").first()
    # sub ids are parent*100+j in the fixture
    assert row["item_id"] // 100 == row["uebergeordnete_institution"]
    assert row["name_de"].startswith("Unterinstitut")
    assert row["addresse"].startswith("Nebenstraße")


def test_page_counts_match_expected(search_parsed):
    """G4: per-page loaded items == page rows minus null links."""
    pages, parsed = search_parsed["projekt"]
    per_page = {
        r["url"]: r["n"] for r in parsed.groupBy("url").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for rec in pages.itertuples(index=False):
        assert per_page.get(rec.url, 0) == rec.n_real_items


def test_search_sweep_upserts_and_vanish(spark, tmp_path):
    """§3.2 lifecycle: sweep run 1 inserts; a shrunken run 2 marks the
    vanished ids (Q7) and re-flags them for detail checks."""
    store = SnapshotStore(str(tmp_path / "fstore"))
    frontier = Frontier(spark, store)

    def sweep(n_items, run_id):
        pages = corpus.gen_search_pages_pdf("projekt", n_items=n_items, page_size=50, seed=42)
        parsed = search.parse_search_stage(spark.createDataFrame(pages))
        batch = parsed.select(
            "item_id",
            F.to_json(F.struct("name_de", "attributes")).alias("item"),
        ).select(F.col("item_id").alias("id"), F.lit("projekt").alias("context"), "item")
        search.upsert_search_batch(frontier, batch, run_id)
        search.mark_vanished(frontier, "projekt", run_id)

    sweep(100, run_id=1)
    n_after_1 = frontier.read().count()
    assert n_after_1 > 90  # 100 minus null links
    sweep(50, run_id=2)
    fr = frontier.read()
    assert fr.count() == n_after_1  # vanish marks, never deletes
    vanished = fr.where(F.col("last_available_item").isNull() & F.col("detail_check_needed"))
    seen_run2 = fr.where(F.col("last_available_seen") == 2)
    assert vanished.count() == n_after_1 - seen_run2.count()


def test_projekt_single_link_ref_stores_the_details_bytes():
    """A projekt search row whose attribute value is one non-ASCII link
    ref stores the same bytes the details parse stores for that value:
    the UTF-8 text, not `\\uXXXX` escapes."""
    from gepris_spark.operators import fetchparse

    pair = (
        '<span class="name">Antragsteller</span>'
        '<span class="value"><a href="/gepris/person/7">Jürgen Müller</a></span>'
    )
    search_page = (
        '<html><body><div id="liste"><div><h2><a href="/gepris/projekt/1">Eintrag 1</a></h2>'
        f'<div class="details"><div>{pair}</div></div></div></div></body></html>'
    )
    details_page = (
        '<html lang="de"><head><title>Projekt</title></head><body>'
        '<h2 class="h2-context-title">Projekt</h2><abbr>DFG</abbr>'
        '<h1 class="facelift">Eintrag 1</h1>'
        f'<div class="content_inside">{pair}</div></body></html>'
    )
    (row,) = search._parse_search_page("https://h/search", "projekt", search_page)
    details = fetchparse._parse_one("https://h/gepris/projekt/1", details_page, "de", "projekt", 1)
    assert row["attributes"]["Antragsteller"] == details["attributes"]["Antragsteller"]
    assert row["attributes"]["Antragsteller"] == [
        '{"value": "Jürgen Müller", "path": "/gepris/person/7"}'
    ]
