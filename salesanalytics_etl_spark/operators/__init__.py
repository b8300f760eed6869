from salesanalytics_etl_spark.operators.cleaning import (
    coerce_casts,
    dedupe_keep_last,
    drop_null_keys,
    trim_strings,
)
from salesanalytics_etl_spark.operators.integrity import fk_split, fk_split_composite
from salesanalytics_etl_spark.operators.upsert import merge_upsert

__all__ = [
    "trim_strings",
    "coerce_casts",
    "drop_null_keys",
    "dedupe_keep_last",
    "fk_split",
    "fk_split_composite",
    "merge_upsert",
]
