"""Normalization operators N1-N6 (SURVEY §2.6) — key canonicalization,
gender aggregation, tree rewrites.

The reference normalizes each scraped item in Python dict-land
(normalisation/normalisation.py:4-17, project_attributes.py:343-404,
trees.py:16-117). Here the same semantics are DataFrame-shaped:

* N1 `normalise_attributes` — map-key recode of the raw German
  attribute keys via a literal lookup keyed by each row's own
  `context`, so one pass serves projekt, person and institution rows;
  unknown keys quarantined (the reference raises UnexpectedFieldError;
  a distributed engine routes the row to a quarantine status instead
  and keeps going), split-processing for grammar-valued keys
  (foerderung_zeitraum -> begin/end years on projekt rows,
  project_attributes.py:301-316), key drops.
* N2 `gender_person_sets` — union of person-id arrays whose *German*
  key implies a gender (project_attributes.py:371-404; full 76-entry
  gender map at :225-297).
* N3-N6 `normalise_trees` — the recursive tree rewrites
  (trees.py:16-117) over the `trees_json` column as ONE Arrow-batched
  pandas UDF (recursion depth is small; structure is unbounded so it
  cannot be a static StructType — SURVEY §7.4 risk 3).

The attribute/gender maps below carry the entries exercised by the
synthetic corpus plus the structurally-distinct cases (multi-German-
key collapse, gendered variants). The full inventories live in the
reference at project_attributes.py:123-218 (96 entries),
person_attributes.py:15-22, institution_attributes.py:14-20; extending
is data-only, not code.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark.functions import canonical as C

MALE, FEMALE, UNKNOWN = "male", "female", "unknown"

# German key -> (normalized key, gender implied by the key or None).
# project_attributes.py:123-218 + :225-297, collapsed into one table.
PROJEKT_KEY_MAP: dict[str, tuple[str, str | None]] = {
    "Antragsteller": ("antragsteller_personen", MALE),
    "Antragstellerin": ("antragsteller_personen", FEMALE),
    "Antragstellerinnen": ("antragsteller_personen", FEMALE),
    "Antragstellerinnen / Antragsteller": ("antragsteller_personen", UNKNOWN),
    "Ehemalige Antragsteller": ("ehemalige_antragsteller_personen", MALE),
    "Ehemalige Antragstellerin": ("ehemalige_antragsteller_personen", FEMALE),
    "Sprecher": ("sprecher_personen", MALE),
    "Sprecherin": ("sprecher_personen", FEMALE),
    "Leiter": ("leiter_personen", MALE),
    "Leiterin": ("leiter_personen", FEMALE),
    "Fachliche Zuordnung": ("fachliche_zuordnungen", None),
    "DFG-Verfahren": ("dfg_verfahren", None),
    "Förderung": ("foerderung_zeitraum", None),
    "Projektkennung": ("projekt_kennung", None),
    "Internetseite": ("webseite", None),
    "Internationaler Bezug": ("internationaler_bezug", None),
    "Großgeräte": ("gross_geraete", None),
    "Gerätegruppe": ("geraetegruppe", None),
    "Mitverantwortlich": ("mit_verantwortliche_personen", MALE),
    "Mitverantwortliche": ("mit_verantwortliche_personen", UNKNOWN),
    "Antragstellende Institution": ("antragstellende_institutionen", None),
    "Partnerorganisation": ("partner_organisation_institutionen", None),
}

# person_attributes.py:15-22
PERSON_KEY_MAP: dict[str, tuple[str, str | None]] = {
    "Adresse": ("adressen", None),
    "Telefon": ("telefon", None),
    "Fax": ("fax", None),
    "E-Mail": ("mail", None),
    "Internet": ("internet", None),
}

# institution_attributes.py:14-20
INSTITUTION_KEY_MAP: dict[str, tuple[str, str | None]] = {
    "Adresse": ("adressen", None),
    "Telefon": ("telefon", None),
    "Fax": ("fax", None),
    "E-Mail": ("mail", None),
    "Internet": ("internet", None),
}

KEY_MAPS = {
    "projekt": PROJEKT_KEY_MAP,
    "person": PERSON_KEY_MAP,
    "institution": INSTITUTION_KEY_MAP,
}

# keys dropped after recode (project_attributes.py:319 KEYS_TO_REMOVE)
PROJEKT_KEYS_TO_REMOVE = {"projekt_kennung"}
# keys whose value is split-processed (project_attributes.py:321-323)
PROJEKT_KEYS_TO_PROCESS = {"foerderung_zeitraum"}

# relation keys whose values are {value,path} references to persons —
# subset of PERSONEN_REFERENCES (project_attributes.py:37-55)
PERSON_REFERENCE_KEYS = [
    "antragsteller_personen",
    "ehemalige_antragsteller_personen",
    "sprecher_personen",
    "leiter_personen",
    "mit_verantwortliche_personen",
]
INSTITUTION_REFERENCE_KEYS = [
    "antragstellende_institutionen",
    "partner_organisation_institutionen",
]


def _key_map_expr() -> Column:
    """Literal map context -> (German key -> normalized key), looked up
    with the row's own `context` (part of the plan; no shuffle, no
    Python)."""
    pairs: list[Column] = []
    for ctx, key_map in KEY_MAPS.items():
        keys = [F.lit(x) for raw, (norm, _g) in key_map.items() for x in (raw, norm)]
        pairs.extend([F.lit(ctx), F.create_map(*keys)])
    return F.create_map(*pairs)


# ------------------------------------------------------------------ N1
def normalise_attributes(parsed: DataFrame) -> DataFrame:
    """N1 (normalisation.py:4-17): recode raw attribute-map keys to the
    canonical names of the row's `context`, split-process grammar keys,
    drop noise keys.

    Adds:
      norm_attributes  map<string,array<string>> with canonical keys
      unknown_keys     array<string> (reference raises; engine
                       quarantines — rows with unknown keys keep their
                       data and carry the evidence)
      foerderung_beginn / foerderung_ende (F12; NULL unless projekt)

    Pure built-ins: map_entries -> transform over the entry array with
    a literal lookup map -> map_from_entries. No explode, no shuffle.
    The projekt drop set applies to every row: only projekt keys recode
    to its names.
    """
    km = _key_map_expr()[F.col("context")]
    entries = F.map_entries(F.coalesce(F.col("attributes"), F.map_from_arrays(
        F.array().cast("array<string>"), F.array().cast("array<array<string>>"))))
    recoded = F.transform(
        entries,
        lambda e: F.struct(
            F.coalesce(km[e["key"]], e["key"]).alias("key"),
            e["value"].alias("value"),
            km[e["key"]].isNull().alias("unknown"),
        ),
    )
    df = parsed.withColumn("_rec", recoded)
    df = df.withColumn(
        "unknown_keys",
        F.transform(F.filter(F.col("_rec"), lambda e: e["unknown"]), lambda e: e["key"]),
    )
    # NOTE: a 2-arg lambda in F.filter means (element, index) — keep the
    # drop-set check single-argument
    drop = sorted(PROJEKT_KEYS_TO_REMOVE | PROJEKT_KEYS_TO_PROCESS)
    keep = F.filter(F.col("_rec"), lambda e: ~e["unknown"] & ~e["key"].isin(drop))
    df = df.withColumn(
        "norm_attributes",
        F.map_from_entries(F.transform(keep, lambda e: F.struct(e["key"], e["value"]))),
    ).drop("_rec")
    zeitraum = F.element_at(F.element_at(F.col("attributes"), "Förderung"), 1)
    years = C.parse_foerderung_zeitraum(zeitraum)
    for name in ("foerderung_beginn", "foerderung_ende"):
        df = df.withColumn(
            name, F.when(F.col("context") == "projekt", years.getField(name).cast("int"))
        )
    return df


# ------------------------------------------------------------------ L7
def _ref_path(v: Column) -> Column:
    """Attribute values store references as JSON '{"value":..,"path":..}'
    strings (fetchparse.py); non-JSON strings yield null path."""
    return F.get_json_object(v, "$.path")


def reference_ids(values: Column, context: str) -> Column:
    """L7 (project_attributes.py:343-349): keep_only_references ->
    get_reference_path -> extract_<ctx>_id -> long, as one transform
    chain with null-dropping (MapCompose semantics)."""
    ids = F.transform(values, lambda v: C.extract_id_long(_ref_path(v), context))
    return F.filter(ids, lambda x: x.isNotNull())


# ------------------------------------------------------------------ N2
def gender_person_sets(df: DataFrame) -> DataFrame:
    """N2 (project_attributes.py:371-404): for each *raw German* key
    whose gender tag is male/female, collect the person ids referenced
    under it; output distinct unions `male_personen`/`female_personen`.

    The reference errors when two raw keys recode to the same
    normalized person key on one item; here that surfaces as
    `gender_key_conflict` (quarantine evidence, same fail-loud info).
    """
    male_arrays, female_arrays, norm_seen = [], [], []
    for raw, (norm, g) in PROJEKT_KEY_MAP.items():
        if norm not in PERSON_REFERENCE_KEYS:
            continue
        vals = F.element_at(F.col("attributes"), raw)
        ids = F.when(vals.isNotNull(), reference_ids(vals, "person")).otherwise(
            F.array().cast("array<bigint>")
        )
        if g == MALE:
            male_arrays.append(ids)
        elif g == FEMALE:
            female_arrays.append(ids)
        norm_seen.append(
            F.when(vals.isNotNull(), F.array(F.lit(norm))).otherwise(
                F.array().cast("array<string>")
            )
        )

    def _union(arrays: list[Column]) -> Column:
        if not arrays:
            return F.array().cast("array<bigint>")
        return F.array_sort(F.array_distinct(F.flatten(F.array(*arrays))))

    seen = F.flatten(F.array(*norm_seen)) if norm_seen else F.array().cast("array<string>")
    return (
        df.withColumn("male_personen", _union(male_arrays))
        .withColumn("female_personen", _union(female_arrays))
        .withColumn("gender_key_conflict", F.size(seen) != F.size(F.array_distinct(seen)))
    )


# --------------------------------------------------------------- N3-N6
def _is_ref(e) -> bool:
    return isinstance(e, dict) and ("path" in e or "value" in e)


def _children(e):
    return e.get("children") if isinstance(e, dict) else None


def _extract_ctx_id(path, context: str):
    if not isinstance(path, str):
        return None
    parts = path.strip("/").split("/")
    if len(parts) == 3 and parts[0] == "gepris" and parts[1] == context and parts[2].isdigit():
        return int(parts[2])
    return None


def _normalise_sub_institutions(institutions: list) -> list:
    """N3 (trees.py:16-34): refs -> id leaves / {id: children} branches;
    anything else is a structural error."""
    leaves = []
    for sub in institutions:
        if not _is_ref(sub):
            raise ValueError(f"subinstitution must be a reference: {sub!r}")
        sub_id = _extract_ctx_id(sub.get("path"), "institution")
        if sub_id is None:
            raise ValueError(f"subinstitution must carry an institution path: {sub!r}")
        ch = _children(sub)
        leaves.append(sub_id if ch is None else {str(sub_id): _normalise_sub_institutions(ch)})
    return leaves


def _normalise_prices(categories: list) -> dict:
    """N4 (trees.py:37-51): category -> [{value, path-without-http}]."""
    out = {}
    for cat in categories:
        if not (_is_ref(cat) and _children(cat) is not None):
            raise ValueError(f"price category must be a reference with children: {cat!r}")
        prices = []
        for price in _children(cat):
            if not (_is_ref(price) and _children(price) is None):
                raise ValueError(f"price must be a childless reference: {price!r}")
            p = dict(price)
            path = p.get("path") or ""
            p["path"] = path[8:] if path.startswith("https://") else path[7:] if path.startswith("http://") else path
            prices.append(p)
        out[cat.get("value")] = prices
    return out


def _normalise_tree_leaves(entries: list, context_to_keep: str) -> list:
    """N5 (trees.py:54-77) including the in-place worklist-extend
    ordering quirk at :73-74 (stray lists append their elements to the
    END of the scan, not in place — parity-tested)."""
    entries = list(entries)
    leaves = []
    i = 0
    while i < len(entries):
        e = entries[i]
        if _is_ref(e) and _extract_ctx_id(e.get("path"), context_to_keep) is not None:
            if _children(e) is not None:
                raise ValueError(f"tree reference should not have children: {e!r}")
            leaves.append(_extract_ctx_id(e.get("path"), context_to_keep))
        elif _is_ref(e) and _children(e) is not None:
            leaves.append({e.get("value"): _normalise_tree_leaves(_children(e), context_to_keep)})
        elif isinstance(e, list):
            entries.extend(e)
        i += 1
    return leaves


_TREE_DISPATCH = {
    # N6 (trees.py:79-117): whitelisted tree names per context
    "institution": {
        "untergeordneteInstitutionen": ("normalised_subinstitutions", _normalise_sub_institutions),
        "projekteNachProgrammen": ("normalised_projects", lambda t: _normalise_tree_leaves(t, "projekt")),
        # the synthetic corpus emits 'projektbaum'; same leaf semantics
        "projektbaum": ("normalised_projects", lambda t: _normalise_tree_leaves(t, "projekt")),
    },
    "person": {
        "projekteNachRolle": ("normalised_projects", lambda t: _normalise_tree_leaves(t, "projekt")),
        "preise": ("normalised_prices", _normalise_prices),
        "projektbaum": ("normalised_projects", lambda t: _normalise_tree_leaves(t, "projekt")),
    },
    "projekt": {
        "projektbaum": ("normalised_projects", lambda t: _normalise_tree_leaves(t, "projekt")),
    },
}


def normalise_trees_dict(trees: dict, context: str) -> dict:
    dispatch = _TREE_DISPATCH.get(context, {})
    unexpected = set(trees) - set(dispatch)
    if unexpected:
        raise ValueError(f"unexpected trees on page: {sorted(unexpected)}")
    out = {}
    for name, tree in trees.items():
        norm_name, fn = dispatch[name]
        out[norm_name] = fn(tree)
    return out


def normalise_trees(parsed: DataFrame) -> DataFrame:
    """N3-N6 over the whole DataFrame: one Arrow-batched mapInPandas
    adding `norm_trees_json` + `tree_error` (fail-loud evidence; the
    reference raises mid-crawl, the engine quarantines the row)."""
    out_schema = T.StructType(
        list(parsed.schema.fields)
        + [
            T.StructField("norm_trees_json", T.StringType()),
            T.StructField("tree_error", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            norm, errs = [], []
            for trees_json, context in zip(pdf["trees_json"], pdf["context"]):
                if trees_json is None or (isinstance(trees_json, float) and pd.isna(trees_json)):
                    norm.append(None)
                    errs.append(None)
                    continue
                try:
                    result = normalise_trees_dict(json.loads(trees_json), context)
                    norm.append(json.dumps(result, ensure_ascii=False, sort_keys=True))
                    errs.append(None)
                except ValueError as exc:
                    norm.append(None)
                    errs.append(str(exc))
            yield pdf.assign(norm_trees_json=norm, tree_error=errs)

    return parsed.mapInPandas(run, out_schema)
