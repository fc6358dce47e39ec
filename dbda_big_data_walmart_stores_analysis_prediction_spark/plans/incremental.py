"""Incremental corpus re-encoding — the composition `snapshot_diff`
(q118) and the tokenizer artifact sink/source (S5) exist FOR: when a
refresh delivers a new corpus snapshot, re-run the expensive Arrow
encode stage ONLY over the docs the refresh actually touched, and carry
every unchanged doc's encoding forward from the previous run's output.

At 100 TB with a ~1% daily delta this is the difference between an
encode job sized to the corpus and one sized to the delta: the diff
exchanges 16-byte fingerprints (never bodies), the id joins are
hash-partitioned semi-joins, and the one Python-heavy stage
(`encode_with_artifact`'s mapInPandas) sees added+changed rows only.

Contract notes:

* ``prev_encoded`` must be the PREVIOUS run's output for the SAME
  artifact (its schema is validated against the fresh encode's schema
  eagerly — a family mix-up fails here, not as a union error three
  stages later). Its rows for removed/changed docs are simply never
  selected; only ``unchanged`` ids are carried.
* Carried rows are carried VERBATIM — this function never re-encodes
  an unchanged doc THAT PREV HAS, which the unit test pins by feeding
  a deliberately poisoned ``prev_encoded`` and asserting the poison
  survives. An unchanged doc MISSING from ``prev_encoded`` (a partial
  or filtered previous run) falls back to the fresh encode path
  instead of silently vanishing — completeness beats thrift, and the
  anti-join that detects the gap carries ids only.
* Output = one row per doc in the NEW snapshot: the dispatched encode
  columns plus ``status`` (``unchanged`` / ``added`` / ``changed``);
  ``removed`` docs are dropped (they are not in the new corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
    snapshot_diff,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
    encode_with_artifact,
)


def incremental_encode(
    old_docs: DataFrame,
    new_docs: DataFrame,
    prev_encoded: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode the new snapshot (token counts only), reusing
    ``prev_encoded`` for every doc `snapshot_diff` marks unchanged; see
    the module docstring for the contract and the scale argument.

    Plan shape: the diff's two fingerprint exchanges + its full-outer
    join, the ids-only anti-join (the prev-gap completeness check), two
    id semi-joins, ONE mapInPandas over the added+changed(+gap) sliver,
    one union. The diff frame is lazily checkpointed — it feeds the
    carried filter, the fresh filter, and the status join, and without
    the cut the fingerprint lineage would run three times."""
    diff = snapshot_diff(
        old_docs, new_docs, id_col, text_col
    ).localCheckpoint(eager=False)
    unchanged_ids = diff.where(F.col("status") == "unchanged").select(id_col)
    # Completeness fallback: an unchanged id prev_encoded is missing (a
    # partial or filtered previous run) re-encodes fresh instead of
    # silently dropping out of the output — the anti-join ships ids only.
    gap_ids = unchanged_ids.join(
        prev_encoded.select(id_col), id_col, "left_anti"
    )
    fresh_ids = (
        diff.where(F.col("status").isin("added", "changed"))
        .select(id_col)
        .unionByName(gap_ids)
    )
    fresh_src = new_docs.join(fresh_ids, id_col, "left_semi")
    fresh = encode_with_artifact(fresh_src, model, text_col, id_col, counts_only=True)
    if set(prev_encoded.columns) != set(fresh.columns):
        raise ValueError(
            "incremental_encode: prev_encoded columns "
            f"{sorted(prev_encoded.columns)} do not match this artifact's "
            f"encode output {sorted(fresh.columns)} — pass the previous "
            "run's counts-only output for the SAME tokenizer family"
        )
    carried = prev_encoded.join(
        unchanged_ids, id_col, "left_semi"
    ).withColumn("status", F.lit("unchanged"))
    fresh_tagged = fresh.join(diff, id_col)
    return carried.unionByName(fresh_tagged.select(*carried.columns))
