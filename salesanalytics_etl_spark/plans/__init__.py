from salesanalytics_etl_spark.plans.registry import (
    QuerySpec,
    all_oracles,
    all_queries,
    register,
)

__all__ = ["QuerySpec", "register", "all_queries", "all_oracles"]
