"""A6 stages 3-4: projekt result-page chain
(reference spiders/details.py:91-117, items.py:133-149,
normalisation/project_result_attributes.py:7-9).

The oracle below recomputes each projekt's expected `result` dict
straight from the corpus generator's primitives — the engine must
reproduce it through the full fetch->parse->join dataflow."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gepris_spark.operators import chaining, fetchparse
from gepris_spark.sources import corpus


@pytest.fixture(scope="module")
def chain_out(spark, corpus_dir):
    pages = spark.read.parquet(f"{corpus_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{corpus_dir}/seeds.parquet")
    batch = (
        seeds.dropna(subset=["item_id"])
        .select("url", "context", "item_id")
        .distinct()
        .withColumn("language", F.lit("de"))
    )
    out = chaining.details_chain(batch, pages, fetchparse.parse_stage, max_retries=2)
    items_df = out["items"].persist()
    rows = items_df.collect()
    return rows, items_df


def _res_status(url: str, item_id: int, language: str) -> str:
    host = url.split("/")[2]
    res_url = f"https://{host}{corpus.result_href(item_id)}"
    hr = corpus._stable_u64(42, "respage", res_url, language)
    return "success" if hr % 100 < 96 else "moved"


def _expected_summary(item_id: int, language: str) -> str | None:
    h = corpus._stable_u64("ressum", item_id, language)
    if h % 10 == 0:
        return None  # 'Keine Zusammenfassung vorhanden' filter path
    return f"Ergebnisbericht {item_id}: Abschluss und Auswertung ({language})."


def _expected_publications(item_id: int) -> list[list[str]]:
    h = corpus._stable_u64("ressum", item_id, "de")
    pubs = []
    for j in range(1 + h % 3):
        doi = f"https://doi.org/10.5555/{item_id}.{j}"
        dx = f"https://dx.doi.org/10.5555/{item_id}.{j}"
        pubs.append(
            [
                f"Autor {item_id}-{j} (2020): Titel {item_id}-{j}",
                json.dumps({"value": f"DOI {item_id}.{j}", "path": doi}, ensure_ascii=False),
                json.dumps({"value": dx, "path": dx}, ensure_ascii=False),
            ]
        )
    return pubs


def _expected_result(url: str, item_id: int, en_ok: bool) -> dict | None:
    """parse_english_project + parse_project_result oracle."""
    if not en_ok:
        return None  # result tab is only seen on the en page
    if not corpus.has_result(item_id):
        return None
    if _res_status(url, item_id, "de") != "success":
        return None  # de result fetch failed -> no result dict
    en_res_ok = _res_status(url, item_id, "en") == "success"
    return {
        "ergebnis_zusammenfassung_de": _expected_summary(item_id, "de"),
        "ergebnis_zusammenfassung_en": (
            _expected_summary(item_id, "en") if en_res_ok else None
        ),
        "ergebnis_publikationen": _expected_publications(item_id),
        "attributes": {
            "ergebnis_erstellungsjahr": 2005 + corpus._stable_u64("resyear", item_id) % 18
        },
    }


def test_every_projekt_result_matches_oracle(chain_out):
    rows, _ = chain_out
    checked = with_result = 0
    for r in rows:
        item = json.loads(r["item"])
        got = item.get("result")
        if r["context"] != "projekt":
            assert got is None, f"non-projekt {r['id']} must not carry a result"
            continue
        want = _expected_result(r["url"], int(r["id"]), r["en_status"] == "success")
        if want is None:
            assert got is None, f"projekt {r['id']}: unexpected result {got}"
        else:
            # to_json drops nulls — compare on the non-null projection
            want_nn = {k: v for k, v in want.items() if v is not None}
            want_nn["attributes"] = want["attributes"]
            assert got == want_nn, f"projekt {r['id']}: {got} != {want_nn}"
            with_result += 1
        checked += 1
    assert checked > 30, "corpus must exercise enough projekte"
    assert with_result > 10, "corpus must exercise enough result tabs"


def test_result_coverage_has_every_degradation_path(chain_out):
    """The corpus must hit: result present, tab absent, de-result moved,
    en-result moved, and the no-abstract filter."""
    rows, _ = chain_out
    states = set()
    for r in rows:
        if r["context"] != "projekt":
            continue
        item = json.loads(r["item"])
        res = item.get("result")
        iid = int(r["id"])
        if not corpus.has_result(iid):
            states.add("no_tab")
        elif res is None:
            states.add("degraded_de")
        else:
            states.add("present")
            if "ergebnis_zusammenfassung_en" not in res:
                states.add("no_en_summary")
            if "ergebnis_zusammenfassung_de" not in res:
                states.add("no_abstract_de")
    assert {"no_tab", "present"} <= states, states


def test_erstellungsjahr_is_int_typed(chain_out):
    years = [
        json.loads(r["item"])["result"]["attributes"]["ergebnis_erstellungsjahr"]
        for r in chain_out[0]
        if r["context"] == "projekt" and json.loads(r["item"]).get("result")
    ]
    assert years and all(isinstance(y, int) for y in years)
    assert all(2005 <= y < 2023 for y in years)


def test_publication_chrome_is_filtered(chain_out):
    """'(' , ')' and '(Siehe online unter' never survive the loader
    (items.py:136-138 MapCompose filters)."""
    seen_any = False
    for r in chain_out[0]:
        item = json.loads(r["item"])
        res = item.get("result")
        if not res:
            continue
        for pub in res["ergebnis_publikationen"]:
            seen_any = True
            assert "(" not in pub and ")" not in pub
            assert "(Siehe online unter" not in pub
    assert seen_any


def test_attach_result_columns_matches_reference_etl(spark, chain_out):
    """dfg-gepris.sql:310-335: the projekte table carries the four
    ergebnis columns extracted from item->'result'."""
    from gepris_spark.plans import etl

    rows, items_df = chain_out
    base = items_df.where(F.col("context") == "projekt").select("id")
    out = {r["id"]: r for r in etl.attach_result_columns(base, items_df).collect()}
    for r in rows:
        if r["context"] != "projekt":
            continue
        item = json.loads(r["item"])
        res = item.get("result") or {}
        got = out[r["id"]]
        assert got["ergebnis_zusammenfassung_de"] == res.get("ergebnis_zusammenfassung_de")
        assert got["ergebnis_zusammenfassung_en"] == res.get("ergebnis_zusammenfassung_en")
        assert got["ergebnis_erstellungsjahr"] == (res.get("attributes") or {}).get(
            "ergebnis_erstellungsjahr"
        )
        if res:
            assert json.loads(got["ergebnis_publikationen"]) == res["ergebnis_publikationen"]
        else:
            assert got["ergebnis_publikationen"] is None
