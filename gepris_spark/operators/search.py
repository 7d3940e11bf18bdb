"""The search-results sweep (SURVEY §3.2): parse the paginated search
pages into one row per result item (P6/P7/G3/G4), upsert them into the
frontier with change detection (K1), then mark the ids the sweep no
longer lists as vanished (Q7).

No engine entry point runs the sweep; the contract queries and their
tests do. It parses with `fetchparse`'s text helpers and writes through
`Frontier.merge` / `Frontier.commit`, the frontier's one MERGE and one
rewrite path.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark.operators.fetchparse import (
    _clean,
    _extract_text_and_links,
    _non_empty_text,
    attributes_pairs_list,
)
from gepris_spark.operators.frontier import Frontier
from gepris_spark.operators.htmldom import parse_html


def _parse_search_page(url: str, context: str, html: str) -> list[dict]:
    """P6/P7/G3/G4 — search-results page parse (search_results.py:36-100):
    iterate `#liste` children minus `.pagination`, skip `/null` links
    (counted as warns), per-context payload (projekt attribute pairs /
    person beschreibung / institution subInstitution exploder), page
    total from `#result-info@data-result-count` (dot-stripped)."""
    doc = parse_html(html)
    total = None
    info = next((n for n in doc.iter() if n is not doc and n.attrs.get("id") == "result-info"), None)
    if info is not None and info.attrs.get("data-result-count"):
        try:
            total = int(info.attrs["data-result-count"].replace(".", ""))
        except ValueError:
            total = None
    liste = next((n for n in doc.iter() if n is not doc and n.attrs.get("id") == "liste"), None)
    items: list[dict] = []
    n_null_links = 0
    if liste is not None:
        for result in liste.child_elements():
            if "pagination" in (result.attrs.get("class") or "").split():
                continue
            link = next(
                (a for h2 in result.find_all("h2") for a in h2.find_all("a")), None
            )
            if link is None:
                continue
            href = link.attrs.get("href") or ""
            if href == f"/gepris/{context}/null":
                n_null_links += 1
                continue
            item_id = href.rsplit("/", 1)[-1]
            base = {
                "url": url,
                "context": context,
                "item_id": int(item_id) if item_id.isdigit() else None,
                "name_de": _non_empty_text(link),
                "addresse": None,
                "attributes": None,
                "uebergeordnete_institution": None,
            }
            if context == "projekt":
                attrs: dict[str, list[str]] = {}
                for detail_div in result.find_all("div", cls="details"):
                    for line in detail_div.child_elements():
                        for key, value in attributes_pairs_list(list(line.find_all("span"))):
                            if key is None:
                                continue
                            if value is None:
                                attrs[key] = []
                            elif isinstance(value, list):
                                attrs[key] = [
                                    v if isinstance(v, str) else json.dumps(v, ensure_ascii=False)
                                    for v in value
                                ]
                            else:
                                attrs[key] = [
                                    value
                                    if isinstance(value, str)
                                    else json.dumps(value, ensure_ascii=False)
                                ]
                base["attributes"] = attrs
                items.append(base)
            elif context == "person":
                besch = result.find("div", cls="beschreibung")
                text = _extract_text_and_links(besch) if besch is not None else None
                base["addresse"] = text if isinstance(text, str) else (
                    json.dumps(text, ensure_ascii=False) if text else None
                )
                items.append(base)
            else:  # institution: parent row + one item per subInstitution (P7)
                items.append(base)
                for sub in result.find_all("div", cls="subInstitution"):
                    sub_link = next(iter(sub.find_all("a")), None)
                    if sub_link is None:
                        continue
                    sub_href = sub_link.attrs.get("href") or ""
                    sub_id = sub_href.rsplit("/", 1)[-1]
                    sub_text = [
                        _clean(t) for t in sub.children if isinstance(t, str) and _clean(t)
                    ]
                    items.append(
                        {
                            "url": url,
                            "context": context,
                            "item_id": int(sub_id) if sub_id.isdigit() else None,
                            "name_de": _non_empty_text(sub_link),
                            "addresse": sub_text[0] if sub_text else None,
                            "attributes": None,
                            "uebergeordnete_institution": base["item_id"],
                        }
                    )
    for it in items:
        it["total_result_count"] = total
        it["n_loaded_on_page"] = len(items)
        it["n_null_links"] = n_null_links
    return items


def parse_search_stage(fetched: DataFrame) -> DataFrame:
    """mapInPandas 1->n over fetched search pages (columns url, context,
    html) -> one row per search-result item."""
    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("context", T.StringType()),
            T.StructField("item_id", T.LongType()),
            T.StructField("name_de", T.StringType()),
            T.StructField("addresse", T.StringType()),
            T.StructField("attributes", T.MapType(T.StringType(), T.ArrayType(T.StringType()))),
            T.StructField("uebergeordnete_institution", T.LongType()),
            T.StructField("total_result_count", T.LongType()),
            T.StructField("n_loaded_on_page", T.IntegerType()),
            T.StructField("n_null_links", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                rows.extend(
                    _parse_search_page(r.url, r.context, r.html if isinstance(r.html, str) else "")
                )
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return fetched.select("url", "context", "html").mapInPandas(run, out_schema)


# -------------------------------------------------------------------- K1
def upsert_search_batch(frontier: Frontier, batch: DataFrame, run_id: int) -> int:
    """Search-results upsert with change detection (database.py:77-96).

    `batch`: columns (id, context, item) — item is the JSON of the
    search-result row. Semantics (Postgres ON CONFLICT mirrored):

    * NOT MATCHED -> insert with last_available_seen/change=run,
      detail_check_needed=True.
    * MATCHED -> last_available_seen=run, item overwritten;
      last_available_change=run only when item IS DISTINCT FROM old;
      detail_check_needed=True only when the item changed AND the
      row had been seen by a search run before.
    """
    run = F.lit(run_id).cast("long")
    source = batch.select(
        F.col("id").cast("long"),
        "context",
        F.col("item").alias("last_available_item"),
    )

    def updates(t, s):
        changed = ~F.col("t.last_available_item").eqNullSafe(F.col("s.last_available_item"))
        return {
            "last_available_seen": run,
            "last_available_change": F.when(
                changed, run
            ).otherwise(F.col("t.last_available_change")),
            "last_available_item": F.col("s.last_available_item"),
            "detail_check_needed": F.when(
                changed & F.col("t.last_available_seen").isNotNull(), F.lit(True)
            ).otherwise(F.col("t.detail_check_needed")),
        }

    def inserts(s):
        return {
            "id": F.col("s.id"),
            "context": F.col("s.context"),
            "last_available_seen": run,
            "last_available_change": run,
            "last_available_item": F.col("s.last_available_item"),
            "detail_check_needed": F.lit(True),
        }

    return frontier.merge(source, updates, inserts)


# -------------------------------------------------------------------- Q7
def mark_vanished(frontier: Frontier, context: str, run_id: int) -> int:
    """Vanished-item marking after a search sweep (database.py:149-161)."""
    run = F.lit(run_id).cast("long")
    cond = (
        (F.col("context") == context)
        & (F.col("last_available_seen") != run)
        & F.col("last_available_seen").isNotNull()
        & F.col("last_available_item").isNotNull()
    )
    updated = frontier.read().select(
        "id",
        "context",
        "last_available_seen",
        F.when(cond, run).otherwise(F.col("last_available_change")).alias(
            "last_available_change"
        ),
        F.when(cond, F.lit(None).cast("string"))
        .otherwise(F.col("last_available_item"))
        .alias("last_available_item"),
        "last_detail_check",
        F.when(cond, F.lit(True)).otherwise(F.col("detail_check_needed")).alias(
            "detail_check_needed"
        ),
    )
    return frontier.commit(updated)
