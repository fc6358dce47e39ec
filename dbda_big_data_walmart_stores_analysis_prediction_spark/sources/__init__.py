from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.catalog import (
    STAR_TABLES,
    load_star_table,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.io import (
    read_csv,
    read_parquet,
    write_parquet,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.schemas import (
    WALMART_FEATURES_SCHEMA,
    WALMART_STORES_SCHEMA,
    WALMART_TEST_SCHEMA,
    WALMART_TRAIN_SCHEMA,
)

__all__ = [
    "STAR_TABLES",
    "load_star_table",
    "read_csv",
    "read_parquet",
    "write_parquet",
    "WALMART_FEATURES_SCHEMA",
    "WALMART_STORES_SCHEMA",
    "WALMART_TEST_SCHEMA",
    "WALMART_TRAIN_SCHEMA",
]
