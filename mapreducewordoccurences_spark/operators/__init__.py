from mapreducewordoccurences_spark.operators.joins import asof_join, semi_join, anti_join
from mapreducewordoccurences_spark.operators.aggregates import decimal_sum, decimal_avg
from mapreducewordoccurences_spark.operators.windows import top_k_per_group, running_agg, lag_delta

__all__ = [
    "asof_join",
    "semi_join",
    "anti_join",
    "decimal_sum",
    "decimal_avg",
    "top_k_per_group",
    "running_agg",
    "lag_delta",
]
