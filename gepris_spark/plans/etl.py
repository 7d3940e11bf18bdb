"""Entity ETL Q9-Q11 (SURVEY §2.9): typed relational tables from
normalized items, edge tables, gender back-propagation.

The reference does this in SQL functions over JSONB
(database/init/dfg-gepris.sql:233-378). Here the pipeline is:

  parse_stage -> normalise_attributes (N1) -> gender_person_sets (N2)
              -> normalise_trees (N3-N6) -> these builders

N1 and N3-N6 read each row's own `context`, so the same calls serve
one context's rows here and all three in the details crawl
(operators/chaining.normalised_success_rows).

All builders are pure built-ins (map lookups, explode, joins,
broadcast); the per-entity tables partition naturally by id for the
downstream frontier MERGE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gepris_spark.functions import parity as P
from gepris_spark.functions import normalise as N


def normalised_items(parsed: DataFrame, context: str) -> DataFrame:
    """Full normalization chain for one context's parsed success rows."""
    df = parsed.where((F.col("context") == context) & (F.col("status") == "success"))
    df = N.normalise_attributes(df)
    if context == "projekt":
        df = N.gender_person_sets(df)
    return N.normalise_trees(df)


def _first_attr(key: str) -> Column:
    return F.element_at(F.element_at(F.col("norm_attributes"), key), 1)


# ------------------------------------------------------------------ Q9
def projekte_table(norm: DataFrame) -> DataFrame:
    """create_projekte_from_items (dfg-gepris.sql:291-339): typed
    projekt rows. teil_projekt_zu comes from the normalised project
    tree's first child relationship at the reference; here from the
    projektbaum tree's first leaf (same shape in the synthetic corpus)."""
    tree_ids = F.from_json(
        F.get_json_object("norm_trees_json", "$.normalised_projects"),
        T.ArrayType(T.StringType()),
    )
    return norm.select(
        F.col("item_id").cast("long").alias("id"),
        P.clean_string(F.col("name")).alias("name"),
        _first_attr("dfg_verfahren").alias("dfg_verfahren"),
        P.split_comma_space(_first_attr("fachliche_zuordnungen")).alias("fachrichtungen"),
        F.col("foerderung_beginn"),
        F.col("foerderung_ende"),
        P.split_comma_space(_first_attr("internationaler_bezug")).alias("internationaler_bezug"),
        P.remove_http_prefix(_first_attr("webseite")).alias("webseite"),
        # leaves only: branch entries serialize as JSON objects
        F.transform(
            F.filter(tree_ids, lambda x: x.rlike("^[0-9]+$")), lambda x: x.cast("long")
        ).alias("teil_projekte"),
        F.col("male_personen"),
        F.col("female_personen"),
        F.size(F.col("unknown_keys")).alias("n_unknown_keys"),
    )


def attach_result_columns(projekte: DataFrame, items: DataFrame) -> DataFrame:
    """The bilingual + ergebnis columns of the reference projekte table
    (dfg-gepris.sql:317-335: item->>'name_en', beschreibung_de/en and
    item->'result'->…), extracted from the item JSON and left-joined
    onto the typed projekte rows.

    Broadcast-safe: the join key is the same id the projekte table is
    already partitioned on."""
    res = items.where(F.col("context") == "projekt").select(
        F.col("id"),
        F.get_json_object("item", "$.name_en").alias("name_en"),
        F.get_json_object("item", "$.beschreibung_de").alias("beschreibung_de"),
        F.get_json_object("item", "$.beschreibung_en").alias("beschreibung_en"),
        F.get_json_object("item", "$.result.ergebnis_zusammenfassung_de").alias(
            "ergebnis_zusammenfassung_de"
        ),
        F.get_json_object("item", "$.result.ergebnis_zusammenfassung_en").alias(
            "ergebnis_zusammenfassung_en"
        ),
        F.get_json_object("item", "$.result.ergebnis_publikationen").alias(
            "ergebnis_publikationen"
        ),
        F.get_json_object("item", "$.result.attributes.ergebnis_erstellungsjahr")
        .cast("int")
        .alias("ergebnis_erstellungsjahr"),
    )
    return projekte.join(res, "id", "left")


def personen_table(norm: DataFrame) -> DataFrame:
    """create_personen_from_items (dfg-gepris.sql:233-262): person rows
    with verstorben from the crucifix marker (F7) and gender guessed
    from the title word (F8) as the reference does."""
    raw_name = F.col("name")
    return norm.select(
        F.col("item_id").cast("long").alias("id"),
        P.clean_string(P.remove_crucifix_suffix(raw_name)).alias("name"),
        P.has_crucifix_suffix(raw_name).alias("verstorben"),
        P.guess_gender_from_title(raw_name).alias("gender"),
        _first_attr("adressen").alias("adresse"),
        _first_attr("mail").alias("mail"),
        P.remove_http_prefix(_first_attr("internet")).alias("internet"),
    )


def institutionen_table(norm: DataFrame) -> DataFrame:
    """create_institutionen_from_items (dfg-gepris.sql:264-289):
    institution rows; uebergeordnete_institution resolved later from
    the hierarchy closure (views.institution_hierarchy)."""
    return norm.select(
        F.col("item_id").cast("long").alias("id"),
        P.clean_string(F.col("name")).alias("name"),
        _first_attr("adressen").alias("adresse"),
        P.remove_http_prefix(_first_attr("internet")).alias("internet"),
        F.get_json_object("norm_trees_json", "$.normalised_subinstitutions").alias(
            "subinstitutions_json"
        ),
    )


# ----------------------------------------------------------------- Q10
def _edges(norm: DataFrame, relation_keys: list[str], ref_context: str, id_name: str) -> DataFrame:
    """create_*_projekte_references (dfg-gepris.sql:341-367): one edge
    row per (projekt, relation, referenced id). The relation loop is an
    explode over a literal array — one shuffle-free pass."""
    per_relation = F.array(
        *[
            F.struct(
                F.lit(k).alias("relation"),
                F.coalesce(
                    N.reference_ids(F.element_at(F.col("norm_attributes"), k), ref_context),
                    F.array().cast("array<bigint>"),
                ).alias("ids"),
            )
            for k in relation_keys
        ]
    )
    return (
        norm.select(F.col("item_id").cast("long").alias("projekt_id"), F.explode(per_relation).alias("e"))
        .select("projekt_id", F.col("e.relation").alias("relation"), F.explode("e.ids").alias(id_name))
        .select(id_name, "projekt_id", "relation")
    )


def personen_projekte_edges(norm: DataFrame) -> DataFrame:
    return _edges(norm, N.PERSON_REFERENCE_KEYS, "person", "person_id")


def institutionen_projekte_edges(norm: DataFrame) -> DataFrame:
    return _edges(norm, N.INSTITUTION_REFERENCE_KEYS, "institution", "institution_id")


# ----------------------------------------------------------------- Q11
def gender_backprop(personen: DataFrame, projekte: DataFrame) -> DataFrame:
    """UPDATE personen SET gender FROM projekt male/female sets
    (dfg-gepris.sql:369-378) as a broadcast-joined MERGE: the distinct
    gendered-id sets are tiny relative to personen, so the update is a
    left join + coalesce, never a full shuffle of personen."""
    tagged = (
        projekte.select(F.explode("male_personen").alias("id"), F.lit("male").alias("_g"))
        .unionByName(
            projekte.select(F.explode("female_personen").alias("id"), F.lit("female").alias("_g"))
        )
        .groupBy("id")
        # conflicting evidence (both male and female) -> leave unknown,
        # matching the reference's UNKNOWN bucket
        .agg(
            F.when(F.count_distinct("_g") == 1, F.first("_g")).alias("_gender_from_projekt")
        )
    )
    return personen.join(F.broadcast(tagged), "id", "left").withColumn(
        "gender",
        F.when(
            (F.col("gender") == "unknown") & F.col("_gender_from_projekt").isNotNull(),
            F.col("_gender_from_projekt"),
        ).otherwise(F.col("gender")),
    ).drop("_gender_from_projekt")
