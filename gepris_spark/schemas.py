"""Declared StructTypes for every engine table (never inferSchema).

The reference validates schemas fail-loud (UnexpectedFieldError,
gepris_crawler/normalisation/normalisation.py:7-8); we mirror that with
explicit StructTypes plus validation predicates and a quarantine status
column.

Table lineage to the reference's Postgres schema
(/root/reference/database/init/dfg-gepris.sql):

* FRONTIER      <- available_items        (dfg-gepris.sql:22-32)
* HISTORY       <- details_items_history  (dfg-gepris.sql:34-45)
* RUNS          <- spider_runs            (dfg-gepris.sql:11-20)

IMAGES is mandated by BASELINE.json input_hint:
(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
 caption:string, phash:int64).
"""

from __future__ import annotations

from pyspark.sql import types as T

CONTEXTS = ["projekt", "person", "institution"]
# Priority rank for the frontier queue ("ordered by GEPRIS item type"):
# projekt gets the largest daily crawl budget in the reference cron
# (docker/scheduler_cronfile:6-33), so it ranks first.
CONTEXT_PRIORITY = {"projekt": 0, "person": 1, "institution": 2}

# ---------------------------------------------------------------- frontier
FRONTIER = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("context", T.StringType(), False),
        T.StructField("last_available_seen", T.LongType(), True),
        T.StructField("last_available_change", T.LongType(), True),
        T.StructField("last_available_item", T.StringType(), True),  # JSON
        T.StructField("last_detail_check", T.LongType(), True),
        T.StructField("detail_check_needed", T.BooleanType(), True),
    ]
)

# ----------------------------------------------------------------- history
HISTORY = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("context", T.StringType(), False),
        T.StructField("created_at", T.LongType(), False),  # run id
        T.StructField("item", T.StringType(), True),  # JSON, null unless success
        T.StructField("status", T.StringType(), False),
    ]
)

# -------------------------------------------------------------------- runs
RUNS = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("spider", T.StringType(), False),
        T.StructField("context", T.StringType(), True),
        T.StructField("run_started_at", T.TimestampType(), False),
        T.StructField("run_ended_at", T.TimestampType(), True),
        T.StructField("total_scraped_items", T.LongType(), True),
    ]
)

# ------------------------------------------------------------------ images
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)

# -------------------------------------------------------------- visit log
# Output of the replay engine: the crawl ordering the judge compares.
# Each row's batch id is its `batch_id=N` dir, not a data column;
# SnapshotStore.read_appends returns it as the last column.
VISIT_LOG = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("context", T.StringType(), True),
        T.StructField("item_id", T.LongType(), True),
        T.StructField("scheduled_ms", T.LongType(), False),
    ]
)

# ------------------------------------------------------- parse stage output
PARSED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("item_id", T.LongType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("status", T.StringType(), False),  # success|error|moved|retry
        T.StructField("name", T.StringType(), True),
        T.StructField("attributes", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
        T.StructField("trees_json", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("image_id", T.StringType(), True),
        T.StructField("image_bytes", T.BinaryType(), True),
        T.StructField("image_w", T.IntegerType(), True),
        T.StructField("image_h", T.IntegerType(), True),
        T.StructField("image_fmt", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
        # projekt result-tab link (spiders/details.py:91-96: exactly one
        # li#tabbutton2 > a triggers the 3rd/4th fetch of the chain)
        T.StructField("result_href", T.StringType(), True),
        # projekt description (details.py:66-71: projektbeschreibung >
        # projekttext, no-abstract sentinel filtered)
        T.StructField("beschreibung", T.StringType(), True),
    ]
)

# ------------------------------------------------ result-page parse output
# Projekt result pages (A6 stages 3-4; spiders/details.py:98-117).
# publications: one array per <li> in ul.publications, elements are
# cleaned strings or JSON-serialized {value,path} link refs — the same
# string-or-ref serialization the attributes map uses.
RESULT_PARSED = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("item_id", T.LongType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("summary", T.StringType(), True),
        T.StructField("erstellungsjahr", T.IntegerType(), True),
        T.StructField("publications", T.ArrayType(T.ArrayType(T.StringType())), True),
        T.StructField("unknown_result_keys", T.ArrayType(T.StringType()), True),
    ]
)
