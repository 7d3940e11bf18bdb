from gepris_spark.functions import canonical  # noqa: F401
