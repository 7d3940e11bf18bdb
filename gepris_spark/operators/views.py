"""The reference's SQL query layer (SURVEY §2.9) as DataFrame views.

Source: /root/reference/database/init/dfg-gepris.sql. Each function
takes the engine's state tables and returns a DataFrame; all pure
built-ins (windows, joins, explode) — WholeStageCodegen end to end,
no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

# Relation-name enums (dfg-gepris.sql:66-97): attribute keys of projekt
# items whose values are arrays of person / institution ids.
PERSON_PROJEKT_RELATIONS = [
    "antragsteller_personen",
    "ehemalige_antragsteller_personen",
    "mit_antragsteller_personen",
    "auslaendische_mit_antragsteller_personen",
    "leiter_personen",
    "stellvertreter_personen",
    "teilprojektleiter_personen",
    "gastgeber_personen",
    "gaeste_personen",
    "sprecher_personen",
    "co_sprecher_personen",
    "ehemalige_sprecher_personen",
    "kooperationspartner_personen",
    "auslaendische_kooperationspartner_personen",
    "beteiligte_personen",
    "mit_verantwortliche_personen",
    "internationale_mit_verantwortliche_personen",
]
INSTITUTION_PROJEKT_RELATIONS = [
    "antragstellende_institutionen",
    "mit_antragstellende_institutionen",
    "auslaendische_institutionen",
    "beteiligte_institutionen",
    "beteiligte_hochschule_institutionen",
    "partner_institutionen",
    "partner_organisation_institutionen",
    "unternehmen_institutionen",
    "sprecher_institutionen",
    "ehemalige_sprecher_institutionen",
]


def latest_detail_items(history: DataFrame, runs: DataFrame) -> DataFrame:
    """Q1 — latest-wins dedup (dfg-gepris.sql:48-51 DISTINCT ON):
    rank-1 window over (id, context) by checking run start DESC."""
    joined = history.join(
        F.broadcast(runs.select(F.col("id").alias("_run_id"), "run_started_at")),
        history["created_at"] == F.col("_run_id"),
        "inner",
    )
    win = Window.partitionBy("id", "context").orderBy(
        F.col("run_started_at").desc(), F.col("created_at").desc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") == 1)
        .select("id", "context", "created_at", "item", "status", "run_started_at")
    )


def latest_items(frontier: DataFrame, history: DataFrame, runs: DataFrame) -> DataFrame:
    """Q2 — CASE-fallback join (dfg-gepris.sql:56-64): success -> item,
    error -> last_available_item, else '{}'; moved rows excluded."""
    latest = latest_detail_items(history, runs)
    joined = frontier.alias("a").join(
        latest.alias("l"), ["id", "context"], "inner"
    )
    return (
        joined.where(F.col("l.status") != "moved")
        .select(
            "id",
            "context",
            F.when(F.col("l.status") == "success", F.col("l.item"))
            .when(F.col("a.last_available_item").isNotNull(), F.col("a.last_available_item"))
            .otherwise(F.lit("{}"))
            .alias("item"),
        )
    )


def reference_edges(
    latest: DataFrame, relations: list[str], id_name: str
) -> DataFrame:
    """Q3 — reference explosion views (dfg-gepris.sql:99-115): projekt
    items x relation names -> (person|institution_id, projekt_id,
    relation) edge rows.

    PER-KEY extraction, exactly like the reference view (which joins
    the enum of relation names against jsonb_exists and extracts each
    key separately): attributes in real items are mixed-typed (scalars,
    string arrays, id arrays), so a single
    from_json(map<string,array<long>>) of the whole object fails and
    would silently drop every edge. One get_json_object per whitelisted
    relation name, then explode the (relation, ids) pairs."""
    per_relation = F.array(
        *[
            F.struct(
                F.lit(rel).alias("relation"),
                F.coalesce(
                    F.from_json(
                        F.get_json_object(F.col("item"), f"$.attributes.{rel}"),
                        T.ArrayType(T.LongType()),
                    ),
                    F.array().cast("array<long>"),
                ).alias("ids"),
            )
            for rel in relations
        ]
    )
    exploded = (
        latest.where(F.col("context") == "projekt")
        .select(F.col("id").alias("projekt_id"), F.explode(per_relation).alias("e"))
        .select(
            "projekt_id",
            F.col("e.relation").alias("relation"),
            F.explode("e.ids").alias(id_name),
        )
    )
    return exploded.select(id_name, "projekt_id", "relation")


def person_projekt_references(latest: DataFrame) -> DataFrame:
    return reference_edges(latest, PERSON_PROJEKT_RELATIONS, "person_id")


def institution_projekt_references(latest: DataFrame) -> DataFrame:
    return reference_edges(latest, INSTITUTION_PROJEKT_RELATIONS, "institution_id")


# nesting levels `institution_hierarchy` follows at most: a runaway
# guard, real trees nest 5 deep or less
MAX_HIERARCHY_DEPTH = 32


def institution_hierarchy(latest: DataFrame) -> DataFrame:
    """Q8 — recursive institution hierarchy closure
    (dfg-gepris.sql:117-141): Spark has no recursive CTE, so iterate
    one nesting level per pass until fixpoint, at most
    `MAX_HIERARCHY_DEPTH` passes.

    Input: latest institution items whose trees carry
    `normalised_subinstitutions` — a nested JSON array where a string
    leaf is a child id and an object {"<child>": [grandchildren...]}
    names a child subtree (normalisation/trees.py:16-34).
    Output rows: (id, parent_id, root_id) — every institution, its
    direct parent (null for roots), and its tree root.

    Each iteration is one explode + union; intermediate results are
    localCheckpoint'd every few levels to break lineage growth.
    """
    inst = latest.where(F.col("context") == "institution").select(
        F.col("id").cast("long").alias("id"),
        F.get_json_object("item", "$.trees.normalised_subinstitutions").alias("children_json"),
    )
    # frontier of (node id, its children-json, root id, parent of node)
    roots = inst.select(
        "id",
        "children_json",
        F.col("id").alias("root_id"),
        F.lit(None).cast("long").alias("parent_id"),
    )
    closure = roots.select("id", "parent_id", "root_id")
    frontier = roots.where(F.col("children_json").isNotNull())
    depth = 0
    while depth < MAX_HIERARCHY_DEPTH:
        entries = frontier.select(
            F.col("id").alias("parent_id"),
            "root_id",
            F.explode(
                F.from_json("children_json", T.ArrayType(T.StringType()))
            ).alias("child_entry"),
        )
        if entries.isEmpty():
            break
        # a child entry is either a bare id string, or an object whose
        # single key is the child id and whose value is its subtree
        parsed = entries.select(
            "parent_id",
            "root_id",
            F.when(
                F.col("child_entry").startswith("{"),
                F.element_at(
                    F.map_keys(
                        F.from_json("child_entry", T.MapType(T.StringType(), T.StringType()))
                    ),
                    1,
                ),
            )
            .otherwise(F.col("child_entry"))
            .cast("long")
            .alias("id"),
            F.when(
                F.col("child_entry").startswith("{"),
                F.element_at(
                    F.map_values(
                        F.from_json("child_entry", T.MapType(T.StringType(), T.StringType()))
                    ),
                    1,
                ),
            ).alias("children_json"),
        ).where(F.col("id").isNotNull())
        step = parsed.select("id", "parent_id", "root_id").localCheckpoint(eager=True)
        if step.isEmpty():
            break
        closure = closure.unionByName(step)
        frontier = parsed.where(F.col("children_json").isNotNull())
        depth += 1
    return closure

