"""A6 de→en chaining tests (reference details.py:59-117 semantics)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gepris_spark.operators import chaining, fetchparse


def _de_batch(spark, corpus_dir):
    """(every corpus id's de page request, the corpus pages)"""
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    batch = (
        seeds.dropna(subset=["item_id"])
        .select("url", "context", "item_id")
        .distinct()
        .withColumn("language", F.lit("de"))
    )
    return batch, pages


@pytest.fixture(scope="module")
def chain_result(spark, corpus_dir):
    out = chaining.details_chain(
        *_de_batch(spark, corpus_dir), fetchparse.parse_stage, max_retries=2
    )
    for name, df in out.items():
        if not name.startswith("_"):
            df.persist().count()
    return out


def test_chain_only_fetches_en_for_de_successes(spark, corpus_dir, chain_result):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    de_success = {
        r["url"] for r in pages.where((F.col("language") == "de") & (F.col("status") == "success")).collect()
    }
    items = chain_result["items"].collect()
    assert {r["url"] for r in items} <= de_success
    assert len(items) > 50


def test_bilingual_items_carry_both_names(chain_result):
    with_en = [r for r in chain_result["items"].collect() if r["en_status"] == "success"]
    assert with_en, "some en pages must succeed"
    item = json.loads(with_en[0]["item"])
    assert item["name_de"] and item["name_en"]
    assert "attributes" in item and "attributes_en" in item


def test_en_failure_degrades_not_blocks(chain_result):
    """A moved/bad en page yields a de-only item, never a dropped id."""
    rows = chain_result["items"].collect()
    degraded = [r for r in rows if r["en_status"] != "success"]
    for r in degraded:
        item = json.loads(r["item"])
        assert item["name_de"] is not None
        assert item.get("name_en") is None


def test_retries_left_route_retry_rows(spark, corpus_dir, chain_result):
    """Every row of one chain call is on the same attempt, so the retry
    budget is the caller's count, not a column: with retries left, the
    corpus's ~2% wrong_language de pages come back as retry rows with no
    `attempt`; with none left, the same rows are terminal `error` rows."""
    retry = chain_result["retry"]
    assert "attempt" not in retry.columns
    retried = {r["url"] for r in retry.collect()}
    assert retried

    out = chaining.details_chain(
        *_de_batch(spark, corpus_dir), fetchparse.parse_stage, max_retries=0
    )
    assert out["retry"].count() == 0
    nonsuccess = {r["url"]: r["status"] for r in out["terminal_nonsuccess"].collect()}
    assert all(nonsuccess.get(u) == "error" for u in retried)
    for df in out["_cached"]:
        df.unpersist()


def test_terminal_nonsuccess_statuses(chain_result):
    statuses = {r["status"] for r in chain_result["terminal_nonsuccess"].collect()}
    assert statuses <= {"moved", "error"}
    assert "moved" in statuses or "error" in statuses
