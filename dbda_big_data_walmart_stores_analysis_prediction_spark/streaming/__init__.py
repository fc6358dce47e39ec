from dbda_big_data_walmart_stores_analysis_prediction_spark.streaming.events import (
    sessionize,
    sliding_window_counts,
)

__all__ = [
    "sessionize",
    "sliding_window_counts",
]
