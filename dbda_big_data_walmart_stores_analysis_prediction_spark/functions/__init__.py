from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.dates import (
    add_date_parts,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.cleaning import (
    clean_na_sentinels,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.hashing import (
    md5_int64,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.vectors import (
    cosine_similarity_col,
    dot_col,
    l2_norm_col,
)

__all__ = [
    "add_date_parts",
    "clean_na_sentinels",
    "md5_int64",
    "cosine_similarity_col",
    "dot_col",
    "l2_norm_col",
]
