from feast_spark.operators.asof_join import multi_view_pit_join, point_in_time_join
from feast_spark.operators.dedup import latest_row_dedup
from feast_spark.operators.windows import (
    lag_lead_features,
    rolling_agg,
    session_stats,
    sessionize,
    tumbling_agg,
)

__all__ = [
    "lag_lead_features",
    "latest_row_dedup",
    "multi_view_pit_join",
    "point_in_time_join",
    "rolling_agg",
    "session_stats",
    "sessionize",
    "tumbling_agg",
]
