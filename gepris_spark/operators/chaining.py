"""A6 — de→en request chaining + bilingual item assembly
(SURVEY §2.7 A6; reference spiders/details.py:59-117).

The reference crawls each details id as a chain: german page → english
page (→ optional result pages), threading the partial item through
`cb_kwargs`. A distributed engine replaces callback-threading with
*stage columns and a join*:

  parse(de batch) ── success ──> continuation rows (language='en')
                └─ moved/error -> terminal immediately (no en fetch,
                                  matching details.py:72-76)
  parse(en batch) ──┐
  final item = de rows LEFT JOIN en rows ON (context, item_id)

The join is an equi-join on the id — at scale both sides arrive
partitioned by the same frontier keys, so co-partitioning makes it
shuffle-light; the en side is never larger than the de success set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def continuation_rows(parsed_de: DataFrame) -> DataFrame:
    """Follow-up frontier rows for the next language stage: only pages
    that parsed successfully in german get an english fetch
    (details.py:59-76 yields the en request from parse_german)."""
    return parsed_de.where(F.col("status") == "success").select(
        "url",
        "context",
        "item_id",
        F.lit("en").alias("language"),
    )


def result_continuation_rows(parsed_en: DataFrame) -> DataFrame:
    """Frontier rows for the projekt result page (A6 stage 3).

    The reference follows the result tab found on the ENGLISH details
    page (details.py:91-96: exactly one li#tabbutton2 > a), resolving
    the href against the details url (urljoin + url_query_cleaner).
    Pure column expressions cover the three href shapes: absolute,
    root-relative, and sibling-relative."""
    base_url = F.regexp_replace(F.col("url"), r"[?#].*$", "")
    href = F.col("result_href")
    resolved = (
        F.when(href.rlike("^https?://"), href)
        .when(
            href.startswith("/"),
            F.concat(F.regexp_extract(base_url, r"^(https?://[^/]+)", 1), href),
        )
        .otherwise(F.concat(F.regexp_replace(base_url, r"[^/]+$", ""), href))
    )
    return (
        parsed_en.where(
            (F.col("status") == "success")
            & (F.col("context") == "projekt")
            & F.col("result_href").isNotNull()
        )
        .select(
            resolved.alias("url"),
            "context",
            "item_id",
            F.lit("de").alias("language"),
        )
    )


_NORM_COLS = [
    "url", "context", "item_id", "status", "name", "beschreibung", "caption", "image_id",
    "phash", "norm_attributes", "unknown_keys", "ref_ids",
    "foerderung_beginn", "foerderung_ende", "male_personen",
    "female_personen", "norm_trees_json", "tree_error",
]


def normalised_success_rows(terminal_success: DataFrame) -> DataFrame:
    """Apply the reference's ItemLoader normalization (N1/N2/N3-N6 +
    L7 reference-id extraction) to the de success rows BEFORE item
    assembly — the reference's process_item stores the *loaded* (i.e.
    normalized) item in history, and the relational views (Q3-Q6, Q8)
    read that normalized shape back. Round 1 stored raw attributes,
    which silently starved those views on the engine's own output.

    One pass over all three contexts: the key recode and the tree
    dispatch look up each row's own `context`, and the gender sets are
    NULL outside projekt rows. `ref_ids` carries the L7 extraction for
    every whitelisted relation key as map<key, ids>."""
    from gepris_spark.functions import normalise as N

    is_projekt = F.col("context") == "projekt"
    df = N.gender_person_sets(
        N.normalise_attributes(terminal_success.where(F.col("context").isin(list(N.KEY_MAPS))))
    )
    df = N.normalise_trees(
        df.withColumn("male_personen", F.when(is_projekt, F.col("male_personen")))
        .withColumn("female_personen", F.when(is_projekt, F.col("female_personen")))
    )
    entries = F.map_entries("norm_attributes")
    p_entries = F.filter(entries, lambda e: e["key"].isin(N.PERSON_REFERENCE_KEYS))
    i_entries = F.filter(entries, lambda e: e["key"].isin(N.INSTITUTION_REFERENCE_KEYS))
    ref_map = F.map_concat(
        F.map_from_entries(
            F.transform(
                p_entries, lambda e: F.struct(e["key"], N.reference_ids(e["value"], "person"))
            )
        ),
        F.map_from_entries(
            F.transform(
                i_entries,
                lambda e: F.struct(e["key"], N.reference_ids(e["value"], "institution")),
            )
        ),
    )
    return df.withColumn("ref_ids", ref_map).select(*_NORM_COLS)


_ASSEMBLED_SCHEMA = (
    "id long, context string, url string, status string, en_status string, item string"
)


def _jsonable(v):
    """numpy/Arrow scalars and containers -> plain JSON types."""
    import numpy as np

    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, (np.ndarray, list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def _notnull(v) -> bool:
    import math

    if v is None:
        return False
    return not (isinstance(v, float) and math.isnan(v))


def _assemble_items_stage(joined: DataFrame) -> DataFrame:
    """One Arrow pass serializing the typed, already-normalized columns
    into the reference-shaped item JSON. Purely mechanical — every
    semantic transform (N1/N2/N3-N6/L7) happened upstream in the Spark
    plan, so there is no normalization logic to drift here."""
    import json as _json
    from collections.abc import Iterator

    import pandas as pd

    from gepris_spark.functions import normalise as N

    array_keys = (
        frozenset(N.PERSON_REFERENCE_KEYS)
        | frozenset(N.INSTITUTION_REFERENCE_KEYS)
        | {"internationaler_bezug", "gross_geraete", "geraetegruppe"}
    )

    def build(r: dict) -> str:
        attrs: dict = {}
        for k, vals in (r["norm_attributes"] or {}).items():
            vals = _jsonable(vals) or []
            attrs[k] = vals if k in array_keys else (vals[0] if len(vals) == 1 else vals)
        for k, ids in (r["ref_ids"] or {}).items():
            attrs[k] = [int(i) for i in _jsonable(ids)]
        for k in ("foerderung_beginn", "foerderung_ende"):
            if _notnull(r[k]):
                attrs[k] = int(r[k])
        if r["context"] == "projekt" and r["male_personen"] is not None:
            attrs["male_personen"] = [int(i) for i in _jsonable(r["male_personen"])]
            attrs["female_personen"] = [int(i) for i in _jsonable(r["female_personen"])]
        item: dict = {
            "name_de": r["name_de"],
            "name_en": r["name_en"],
            "beschreibung_de": r["beschreibung_de"],
            "beschreibung_en": r["beschreibung_en"],
            "attributes": attrs,
        }
        if r["attributes_en"]:
            item["attributes_en"] = _jsonable(r["attributes_en"])
        uk = r["unknown_keys"]
        if uk is not None and len(uk):
            item["unknown_keys"] = [str(k) for k in uk]
        if r["norm_trees_json"]:
            item["trees"] = _json.loads(r["norm_trees_json"])
        if r["tree_error"]:
            item["tree_error"] = r["tree_error"]
        for k in ("caption", "image_id"):
            if r[k] is not None:
                item[k] = r[k]
        if _notnull(r["phash"]):
            item["phash"] = int(r["phash"])
        res = r["_result"]
        if res is not None:
            clean = {}
            for k, v in _jsonable(res).items():
                if not _notnull(v):
                    continue
                if isinstance(v, dict):
                    # Arrow renders a nullable-int struct field as float
                    v = {
                        kk: (int(vv) if isinstance(vv, float) and vv.is_integer() else vv)
                        for kk, vv in v.items()
                        if _notnull(vv)
                    }
                clean[k] = v
            item["result"] = clean
        return _json.dumps(
            {k: v for k, v in item.items() if v is not None}, ensure_ascii=False
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = pdf.to_dict("records")
            yield pd.DataFrame(
                {
                    "id": pdf["id"].astype("int64"),
                    "context": pdf["context"],
                    "url": pdf["url"],
                    "status": pdf["status"],
                    "en_status": pdf["en_status"],
                    "item": [build(r) for r in recs],
                }
            )

    return joined.mapInPandas(run, _ASSEMBLED_SCHEMA)


def assemble_bilingual(
    parsed_de: DataFrame, parsed_en: DataFrame, result_de: DataFrame, result_en: DataFrame
) -> DataFrame:
    """Final details item: german fields + english name/attributes where
    the english page succeeded (details.py:78-117 merges the en parse
    into the de item). Output carries one JSON `item` column shaped
    like the reference's JSONB: name_de/name_en, NORMALIZED attributes
    (canonical keys, relation keys as long-id arrays, foerderung ints,
    male/female person sets), normalized `trees`, optional `result` —
    exactly what the relational views (Q3-Q6, Q8) and the reference's
    entity ETL read back out of history.

    `parsed_de` must be the output of normalised_success_rows. The
    joins stay Spark; the final JSON assembly is one Arrow pass that
    only serializes typed columns (no normalization logic in Python —
    that all happened in the Spark plan).

    Left join: a failed/missing en page degrades to a de-only item with
    en_status recorded — the reference's error middleware records the
    same partial outcome.
    """
    de = parsed_de.select(
        "url",
        "context",
        F.col("item_id").cast("long").alias("item_id"),
        F.col("status").alias("status"),
        F.col("name").alias("name_de"),
        F.col("beschreibung").alias("beschreibung_de"),
        "norm_attributes",
        "unknown_keys",
        "ref_ids",
        "foerderung_beginn",
        "foerderung_ende",
        "male_personen",
        "female_personen",
        "norm_trees_json",
        "tree_error",
        "caption",
        "image_id",
        "phash",
    )
    en = parsed_en.select(
        "context",
        F.col("item_id").cast("long").alias("item_id"),
        F.col("status").alias("en_status"),
        F.col("name").alias("name_en"),
        F.col("beschreibung").alias("beschreibung_en"),
        F.col("attributes").alias("attributes_en"),
    )
    joined = de.join(en, ["context", "item_id"], "left")

    # A6 stages 3-4: the result dict merges the de result page's
    # summary/attributes/publications with the en page's summary
    # (details.py:103-110). Divergence from the reference, documented:
    # a failed result fetch degrades to a partial/absent `result`
    # instead of losing the whole projekt item to the errback.
    rde = result_de.where(F.col("status") == "success").select(
        "context",
        F.col("item_id").cast("long").alias("item_id"),
        F.col("summary").alias("_r_sum_de"),
        F.col("erstellungsjahr").alias("_r_jahr"),
        F.col("publications").alias("_r_pubs"),
    )
    ren = result_en.where(F.col("status") == "success").select(
        "context",
        F.col("item_id").cast("long").alias("item_id"),
        F.col("summary").alias("_r_sum_en"),
    )
    joined = joined.join(rde, ["context", "item_id"], "left").join(
        ren, ["context", "item_id"], "left"
    )
    result_col = F.when(
        F.col("_r_pubs").isNotNull()
        | F.col("_r_sum_de").isNotNull()
        | F.col("_r_jahr").isNotNull(),
        F.struct(
            F.col("_r_sum_de").alias("ergebnis_zusammenfassung_de"),
            F.col("_r_sum_en").alias("ergebnis_zusammenfassung_en"),
            F.col("_r_pubs").alias("ergebnis_publikationen"),
            F.struct(F.col("_r_jahr").alias("ergebnis_erstellungsjahr")).alias("attributes"),
        ),
    )

    joined = joined.select(
        F.col("item_id").alias("id"),
        "context",
        "url",
        "status",
        F.coalesce(F.col("en_status"), F.lit("missing")).alias("en_status"),
        "name_de",
        "name_en",
        "beschreibung_de",
        "beschreibung_en",
        "norm_attributes",
        "unknown_keys",
        "ref_ids",
        "foerderung_beginn",
        "foerderung_ende",
        "male_personen",
        "female_personen",
        "norm_trees_json",
        "tree_error",
        "caption",
        "image_id",
        "phash",
        "attributes_en",
        result_col.alias("_result"),
    )
    return _assemble_items_stage(joined)


def details_chain(
    scheduled_de: DataFrame,
    pages: DataFrame,
    parse,
    max_retries: int,
    fetch=None,
) -> dict[str, DataFrame]:
    """Run the full two-language details chain over a scheduled batch.

    `parse` is the parse stage callable (fetched -> parsed), injected so
    tests can pass a corpus-backed fetch; `pages` is the page source
    for operators.fetchparse.fetch_pages.

    `fetch` overrides the fetch stage itself (scheduled -> fetched rows
    with fetch_status/html/fetch_cost_ms): pass e.g.
    `lambda s: fetchparse.http_fetch_stage(s, fetchparse.urllib_fetcher())`
    to run the chain against live HTTP (S7 real leg) — every de/en/
    result continuation then fetches through the same hook, and `pages`
    may be None. Default is the corpus join (fetch_pages).

    `max_retries` is the retries left for this batch's rows: every row
    of one call is on the same attempt, so the budget is the caller's
    to count down, not a column.

    Returns {'items': bilingual items, 'retry': rows needing re-fetch,
    'terminal_nonsuccess': moved/error de rows}. Retries here cover the
    de stage (language/structure failures re-enter the frontier while
    retries are left, A5); en failures degrade to de-only items instead
    of blocking the chain.
    """
    from gepris_spark.operators import fetchparse
    from gepris_spark.operators.history import route_statuses

    if fetch is None:
        def fetch(sched):
            return fetchparse.fetch_pages(sched, pages)

    # the chain DAG is a diamond: the en stage re-derives from the de
    # parse, the result stages from the en parse, and the final item
    # join consumes all four — without a persist at each stage boundary
    # every downstream action re-executes the whole upstream fetch+parse
    # once per path (measured 14-23x at batch scale). MEMORY_AND_DISK
    # persists (not checkpoints) keep lineage for AQE while bounding
    # each stage to one execution; run_details_batch unpersists via the
    # returned `_cached` handles once the batch is committed.
    parsed_de = parse(fetch(scheduled_de)).persist()
    routed = route_statuses(parsed_de, max_retries)
    terminal_de = routed["terminal"]

    cont = continuation_rows(terminal_de)
    parsed_en = parse(fetch(cont)).persist()

    # A6 stages 3-4: projekt result pages, de then en, keyed off the
    # en page's result tab (details.py:91-117). Both stages touch only
    # the projekt-with-result subset — the fetch join prunes everything
    # else before any html moves.
    res_cont_de = result_continuation_rows(parsed_en)
    result_de = fetchparse.parse_result_stage(fetch(res_cont_de)).persist()
    res_cont_en = result_de.where(F.col("status") == "success").select(
        "url", "context", "item_id", F.lit("en").alias("language")
    )
    result_en = fetchparse.parse_result_stage(fetch(res_cont_en))

    items = assemble_bilingual(
        normalised_success_rows(terminal_de.where(F.col("status") == "success")),
        parsed_en,
        result_de=result_de,
        result_en=result_en,
    )
    return {
        "items": items,
        "retry": routed["retry"],
        "terminal_nonsuccess": terminal_de.where(F.col("status") != "success"),
        # persisted stage boundaries — callers unpersist after consuming
        "_cached": [parsed_de, parsed_en, result_de],
    }
