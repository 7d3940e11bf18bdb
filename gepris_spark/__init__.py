"""gepris_spark — a brand-new PySpark-native crawl/analytics engine.

Re-expresses the capabilities of the reference Scrapy project
(primeapple/dfg-gepris-crawler, snapshot at /root/reference) as an
idiomatic Spark engine:

* a distributed URL frontier with bloom-accelerated URL-seen dedup
  (reference: app-level seen sets, gepris_crawler/spiders/search_results.py:26,60-63),
* a per-host politeness scheduler (token-bucket delays; hot hosts
  range-partitioned on (host, priority) so none sits in one partition;
  reference: AutoThrottle settings.py:119-126),
* a priority queue ordered by item type + recency
  (reference: database.py:43-64 get_ids),
* vectorized pandas/Arrow fetch+parse stages that decode page-embedded
  images and extract captions (no per-row Python),
* the reference's SQL query layer (database/init/dfg-gepris.sql) as
  DataFrame views, and
* large-scale training-data operators (dedup, similarity search,
  text analysis, multimodal plumbing).

Storage is a parquet snapshot store with Iceberg-style MERGE semantics
(`gepris_spark.store`); the API is designed so a real Iceberg catalog
can be dropped in when its runtime jar is available.
"""

__version__ = "0.1.0"
