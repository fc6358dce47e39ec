"""Trained document-quality scorer: logistic regression over the q22
feature vector, closing the loop between the MLlib surface
(plans/ml_pipeline.py — the reference's StringIndexer→Assembler→model
shape, cf. reference Scripts/model.py) and the LLM-pipeline operators:
the heuristic `quality_score` (operators/text.py) becomes the WEAK LABEL
for a calibrated model (q76's `quality_prob`).

Why this shape at 100 TB: training reads a bounded SAMPLE (a model with 6
features needs thousands of rows, not the corpus), while SCORING is one
Pipeline.transform — an assembler projection plus a dense 6-weight dot
product, whole-stage-codegen'd by MLlib's transform, no shuffle, no
Python. The expensive part of scoring is `add_text_features`' staged
regex projections, which the heuristic filter pays anyway.

It distills the heuristic into a calibrated probability — useful for
threshold transfer and as the trainable slot tests exercise end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
    add_text_features,
)

# the q22 feature vector (operators/text.py::add_text_features output)
QUALITY_FEATURES = [
    "n_tokens",
    "n_bpe_tokens",
    "avg_token_len",
    "punct_ratio",
    "digit_ratio",
    "space_ratio",
]

_ML_COLS = ("__q_features", "rawPrediction", "probability", "prediction")


def train_quality_scorer(
    docs: DataFrame,
    text_col: str = "text",
    weak_label_threshold: float = 0.5,
    max_iter: int = 50,
    reg_param: float = 0.01,
    feats: DataFrame | None = None,
):
    """Fit assembler→LogisticRegression on the text-feature vector.

    Labels are weak labels distilled from the heuristic: ``quality_score
    >= weak_label_threshold``. Train on a bounded sample at scale
    (``docs.sample(...)``) — the model is 7 doubles; the corpus-sized
    work belongs to transform, not fit.

    ``feats``: an optional PRE-COMPUTED `add_text_features` frame over
    ``docs`` (e.g. one the caller persists and reuses for the scoring
    transform) — fit-then-score callers otherwise pay the staged regex
    battery twice, once inside the fit lineage and once under the
    transform. Values are identical either way; the null-text exclusion
    below is applied to whichever frame is used.

    Returns a ``PipelineModel`` whose ``transform`` expects the
    `add_text_features` columns (`attach_quality_prob` applies it).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    # null-text rows produce NULL counts under ANSI (size/regexp_count of
    # NULL), which the assembler's handleInvalid="keep" turns into NaN
    # features — and LogisticRegression.fit REJECTS NaN vectors. The rest
    # of the engine supports null-text docs (scoring gives them 0.0 and
    # the gate drops them), so exclude them from the FIT only.
    if feats is None:
        feats = add_text_features(
            docs.where(F.col(text_col).isNotNull()), text_col
        )
    else:
        feats = feats.where(F.col(text_col).isNotNull())
    feats = feats.withColumn(
        "__weak_label",
        (F.col("quality_score") >= F.lit(weak_label_threshold)).cast("double"),
    )
    assembler = VectorAssembler(
        inputCols=QUALITY_FEATURES, outputCol="__q_features", handleInvalid="keep"
    )
    lr = LogisticRegression(
        featuresCol="__q_features",
        labelCol="__weak_label",
        maxIter=max_iter,
        regParam=reg_param,
        # the features span 4 orders of magnitude (n_tokens vs ratios);
        # standardization makes the regularized fit scale-sane
        standardization=True,
    )
    return Pipeline(stages=[assembler, lr]).fit(feats)


def attach_quality_prob(model, scored_feats: DataFrame) -> DataFrame:
    """Attach ``quality_prob`` (P(keep), rounded 6dp) to a frame that
    ALREADY carries the `add_text_features` columns (callers reuse their
    scored frame rather than re-deriving the regex projections). The
    ML vector columns never leave this function (vector types don't
    serialize to parquet sinks or oracle comparisons)."""
    from pyspark.ml.functions import vector_to_array

    out = model.transform(scored_feats)
    return out.withColumn(
        "quality_prob", F.round(vector_to_array("probability")[1], 6)
    ).drop(*_ML_COLS)
