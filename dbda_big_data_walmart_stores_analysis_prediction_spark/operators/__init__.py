from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.cleaning import (
    impute,
    null_counts,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
    skew_report,
    star_join,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
    add_lag_features,
    add_rolling_mean,
    top_k_per_group,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
    correlations,
    describe_plus,
    group_quartiles,
    histogram,
    group_quantile_bins,
    mad_outlier_bounds,
    outlier_bounds,
    quantile_bins,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.clustering import (
    KMeansModel,
    assign_clusters,
    cluster_embeddings,
    fit_kmeans,
    semdedup,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
    merge_upsert,
    snapshot_diff,
    word_distribution_drift,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
    bin_manifest,
    length_bucket_batches,
    pack_sequences,
    pack_sequences_ffd,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
    curriculum_stages,
    mixture_weights,
    plan_mixture,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sft import (
    assemble_conversations,
    preference_pairs,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
    vocab_coverage_curve,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.similarity import (
    random_projection,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
    bm25_scores,
    bm25_topk,
    calibrate_scores,
    merge_term_stats,
    term_stats,
    tfidf_cosine_pairs,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
    kmv_group_sketches,
    kmv_overlap_matrix,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
    winnow_fingerprints,
    winnow_pairs,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
    train_wordpiece,
    wordpiece_encode,
)

__all__ = [
    "KMeansModel",
    "assign_clusters",
    "cluster_embeddings",
    "fit_kmeans",
    "semdedup",
    "bm25_scores",
    "bm25_topk",
    "term_stats",
    "merge_term_stats",
    "tfidf_cosine_pairs",
    "mad_outlier_bounds",
    "quantile_bins",
    "group_quantile_bins",
    "skew_report",
    "winnow_fingerprints",
    "winnow_pairs",
    "null_counts",
    "impute",
    "star_join",
    "add_lag_features",
    "add_rolling_mean",
    "top_k_per_group",
    "describe_plus",
    "correlations",
    "group_quartiles",
    "histogram",
    "outlier_bounds",
    "merge_upsert",
    "snapshot_diff",
    "pack_sequences",
    "pack_sequences_ffd",
    "bin_manifest",
    "length_bucket_batches",
    "assemble_conversations",
    "preference_pairs",
    "train_wordpiece",
    "wordpiece_encode",
    "curriculum_stages",
    "plan_mixture",
    "mixture_weights",
    "kmv_group_sketches",
    "kmv_overlap_matrix",
    "random_projection",
    "vocab_coverage_curve",
    "calibrate_scores",
    "word_distribution_drift",
]
