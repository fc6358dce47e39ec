"""The composed "modern pretrain" data pipeline — the round-6 operator
families chained end to end the way a 2024-era pretraining corpus is
actually built (C4 → Gopher → CCNet-LM → dedup → ExactSubstr
decontamination → DSIR resampling → packing):

1. C4 line rules (``operators.text.c4_rules``): line-level rewrite +
   page gates; survivors continue with the REWRITTEN text.
2. Gopher quality rules (``operators.text.gopher_rules``): word-count /
   word-shape / line-structure / stopword thresholds on the cleaned text.
3. Gopher repetition signals (``operators.text.gopher_repetition``):
   duplicate-line and n-gram char-coverage thresholds.
4. Bigram-LM gate (``operators.text.bigram_lm_scores``): self-trained
   add-one bigram cross-entropy; keep docs at or below the corpus mean
   (the relative form of CCNet's perplexity bucketing — no external
   model artifact, same mean-gate convention as DSIR's ``keep``).
5. Exact dedup (``operators.dedup.dedup_exact``): one survivor (min id)
   per normalized content hash.
6. Near dedup (``operators.dedup.minhash_lsh_pairs`` +
   ``dedup_near``): MinHash-LSH candidates, exact-Jaccard verify,
   connected components, min-id survivor — the q56 configuration.
7. ExactSubstr decontamination, span-cut form
   (``operators.dedup.cross_exact_substring_spans`` +
   ``remove_token_spans``): leaked eval spans ≥20 tokens are cut out of
   the surviving docs token-exactly (the q77+q79 composition).
8. DSIR importance resampling (``operators.sampling.dsir_log_weights``
   + ``gumbel_top_k``): hashed-ngram importance weights of the
   DECONTAMINATED text against a target slice, derandomized
   Gumbel-top-k selection.
9. Sequence packing (``operators.packing.pack_sequences``): the chosen
   docs packed into token-budget bins by their POST-CUT token counts.

Stage-interface invariants this composition (and only this composition)
exercises, which the per-operator oracles cannot:

* every gate after stage 1 sees C4's rewritten text, not the raw page;
* ExactSubstr span offsets are computed over, and cut from, the
  DEDUPED survivors' cleaned text — offset bookkeeping must survive the
  upstream rewrites;
* DSIR scores the post-cut text, and packing consumes the post-cut
  token counts (``n_tokens − n_tokens_removed``), so token accounting
  has to stay consistent across three stages that each rewrite it.

Scale shape at 100 TB: stages 1-4 are projections / per-doc aggregates
(map-side combinable), 5-6 are the audited dedup family (capped
inverted index, broadcast stats, size-gated components), 7 broadcasts
the eval grams so the corpus never shuffles for detection and only the
contaminated slice pays for surgery, 8 broadcasts ≤4096-row bucket
stats and selects via TakeOrderedAndProject, 9 shuffles once on the
shard key. Composition boundaries are lazy-checkpointed (the
multi-consumer idiom): each materialized frame feeds 2+ downstream
derivations that would otherwise re-run the whole upstream pipeline.

The seven checkpointed frames (s1, s2, lm, s4, s5, cutdocs, chosen) each
feed 2+ downstream derivations whose re-execution was MEASURED to cost
more than the materialization (cut-by-cut A/B at sf0.1, PERF.md "q87
checkpoint chain"). s0 and s3 stay plain frames: each has one consumer
(the inline rule gates read s0 once; the window-form dedup_exact scans
s3 once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
    dedup as dd,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
    pack_sequences,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
    dsir_log_weights,
    gumbel_top_k,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
    bigram_lm_scores,
    c4_rules,
    gopher_repetition,
    gopher_rules,
)


def pretrain_corpus(
    docs: DataFrame,
    eval_docs: DataFrame,
    target_ids: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_stopwords: int = 1,
    lsh_threshold: float = 0.5,
    max_doc_freq: int | None = None,
    min_span_tokens: int = 20,
    n_buckets: int = 4096,
    resample_k: int = 100,
    pack_budget: int = 512,
    pack_shards: int = 32,
    salt: str = "pretrain",
) -> DataFrame:
    """Run the full pretrain pipeline; see the module docstring for the
    stage list. Returns one row per RESAMPLED doc:
    ``(id, shard, bin_id, n_tokens, log_importance, gumbel_score)``
    where ``n_tokens`` is the post-decontamination token count the
    packing consumed. Every value is a pure function of
    (data, thresholds, salt), so the whole composition is
    SQL-replicable end to end.

    ``eval_docs``: the benchmark set to decontaminate against
    (id, text). ``target_ids``: one id column naming the docs whose
    distribution DSIR should upweight (e.g. the curated-language slice).
    ``max_doc_freq``: shingle document-frequency cap for the near-dup
    stage — ``None`` keeps exact full-space semantics (SQL-replicable);
    set it for web-scale corpora (see ``prepare_training_corpus``).
    """
    # 1. C4: page gates + line rewrite; downstream sees clean_text.
    # The null-id drop up front preserves the pre-r16 gate semantics: the
    # rule/repetition gates used to be ID-keyed semi-joins, which a null
    # id can never survive (null never equi-joins) — the inline filters
    # below would otherwise keep a passing null-id doc.
    c4 = c4_rules(docs.select(id_col, text_col))
    s0 = c4.where(F.col("keep") & F.col(id_col).isNotNull()).select(
        F.col(id_col), F.col("clean_text").alias(text_col)
    )
    # 2-3. Gopher rule + repetition gates, INLINE (r16): both scorers are
    # row-preserving projections/aggregates over their input, so gating
    # with ``.where(keep)`` on the passthrough output replaces the two
    # ID-keyed semi-joins — each of which consumed its stage's lineage
    # twice (score build + join left side) and cost a doc-keyed join
    # exchange. s0 (the C4 regex battery) is now single-consumer — the
    # cut moved one stage later to s1, the frame the repetition battery's
    # four internal streams (skeleton, lines, 2-grams, 5-grams) fan out
    # over.
    s1 = (
        gopher_rules(
            s0, text_col, id_col, min_stopwords=min_stopwords, passthrough=True
        )
        .where(F.col("keep"))
        .select(id_col, text_col)
        .localCheckpoint(eager=False)
    )
    s2 = (
        gopher_repetition(s1, text_col, id_col, passthrough=True)
        .where(F.col("keep"))
        .select(id_col, text_col)
        .localCheckpoint(eager=False)
    )
    # 4. bigram-LM gate: keep ≤ corpus-mean cross-entropy. Docs with no
    # bigrams (<2 words) have no LM row and are dropped by the semi-join
    # — they cannot carry the fluency evidence this gate asks for.
    lm = bigram_lm_scores(s2, id_col, text_col).localCheckpoint(eager=False)
    lm_mean = lm.agg(F.round(F.avg("avg_neg_logprob"), 6).alias("__lm_mean"))
    lm_keep = (
        lm.crossJoin(F.broadcast(lm_mean))
        .where(F.col("avg_neg_logprob") <= F.col("__lm_mean"))
        .select(id_col)
    )
    # s3 is single-consumer (the window-form dedup_exact scans it once),
    # so it is not checkpointed
    s3 = s2.join(lm_keep, [id_col], "left_semi")
    # 5-6. exact then near dedup (min-id survivors, q56 configuration)
    s4 = dd.dedup_exact(s3, id_col, text_col).localCheckpoint(eager=False)
    pairs = dd.minhash_lsh_pairs(
        s4,
        id_col,
        text_col,
        k=3,
        n_hashes=16,
        bands=4,
        threshold=lsh_threshold,
        max_doc_freq=max_doc_freq,
    )
    s5 = dd.dedup_near(s4, pairs, id_col).localCheckpoint(eager=False)
    # 7. ExactSubstr decontamination: locate leaked eval spans in the
    # surviving corpus, cut them token-exactly
    spans = dd.cross_exact_substring_spans(
        s5, eval_docs, id_col, text_col, min_tokens=min_span_tokens, k=13
    )
    cutdocs = (
        dd.remove_token_spans(s5, spans, id_col, text_col)
        .select(
            F.col(id_col),
            F.col("clean_text").alias(text_col),
            (F.col("n_tokens") - F.col("n_tokens_removed")).alias(
                "__n_clean_tokens"
            ),
        )
        .localCheckpoint(eager=False)
    )
    # 8. DSIR on the decontaminated text; target = the surviving slice
    # of the caller's target ids (scored text and target text must come
    # from the SAME stage or the weight model mixes token distributions)
    weights = dsir_log_weights(
        cutdocs.select(id_col, text_col),
        cutdocs.join(target_ids, [id_col], "left_semi").select(
            id_col, text_col
        ),
        id_col,
        text_col,
        n_buckets=n_buckets,
    )
    chosen = gumbel_top_k(
        weights.where(F.col("n_grams") > 0).select(id_col, "log_importance"),
        id_col,
        "log_importance",
        k=resample_k,
        salt=salt,
    ).localCheckpoint(eager=False)
    # 9. pack the selection by post-cut token counts
    # the joined frame has counts but NO text column; text_col=None makes
    # that contract explicit (pack_sequences validates it)
    packed = pack_sequences(
        chosen.join(cutdocs.select(id_col, "__n_clean_tokens"), [id_col]),
        id_col,
        text_col=None,
        tokens_col="__n_clean_tokens",
        budget=pack_budget,
        n_shards=pack_shards,
        salt=f"{salt}-pack",
    )
    return packed.join(
        chosen.select(id_col, "log_importance", "gumbel_score"), [id_col]
    )
