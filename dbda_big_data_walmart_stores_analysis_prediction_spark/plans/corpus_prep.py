"""End-to-end training-corpus preparation — the composition the north-star
operators exist for: quality filter → language filter → exact dedup →
near-dup collapse → token accounting, as ONE lazy plan (plus the two
iterative jobs inside connected components).

Pipeline shape at 100 TB: every stage is a narrow projection or a
key-partitioned shuffle; nothing collects to the driver except the final
summary. Stages compose on DataFrames, so callers can slot in their own
filters (or swap MinHash-LSH for SimHash/embedding pairs) without touching
the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import dedup as dd
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
    add_text_features,
    language_id,
)


def prepare_training_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    keep_langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.5,
    max_doc_freq: int | None = 10_000,
) -> DataFrame:
    """Filter + dedup a raw document table into a training-ready corpus.

    Returns the surviving rows of ``docs`` with ``quality_score``,
    ``lang_pred`` and ``n_tokens`` attached. Survivor rules: quality ≥
    ``min_quality``, predicted language in ``keep_langs``, one doc per
    exact-duplicate group and per near-duplicate cluster (min id wins).

    ``max_doc_freq`` caps shingle document-frequency in the near-dup stage
    (``cap_shingle_doc_freq``): a boilerplate shingle shared by f·N docs
    otherwise fans the LSH bucket join out toward (f·N)² candidate pairs —
    and shared headers/footers are the NORMAL case for web-scale training
    corpora, so the capstone defaults the cap ON. 10k bounds any single
    shingle's worst-case fan-out at 10⁸ comparable-key rows (a few tasks'
    work) while touching only shingles that appear in >10k documents —
    pure boilerplate by any definition, whose Jaccard contribution is
    noise. The oracle-checked q56/q70 queries keep the default cap: it
    cannot bind on the 500- and 5,000-document fixtures, so their SQL
    oracles need no cap. Pass ``None`` for exact full-space semantics.

    The composition-boundary materialization (see the inline persist note)
    is ``DataFrame.persist()``'s default level, ``MEMORY_AND_DISK_DESER``:
    deserialized in memory, spilling to disk.
    """
    # Persist at the COMPOSITION boundary (the EXACT frame below): the
    # downstream near-dup stage derives it several times (signatures via
    # the shingle checkpoint, the survivor anti-join, the final
    # projection), and each derivation would otherwise re-run scoring +
    # language ID + the dedup window from the raw scan. Individual
    # operators stay cache-free (measured right per-operator);
    # compositions are exactly where one materialization amortizes.
    # The count() materializes EAGERLY: Spark submits independent
    # downstream stages concurrently, and sibling stages racing an
    # unmaterialized cache all recompute the lineage (measured r4: lazy
    # persist left the cold run at ~20s; eager materialization makes
    # cold ≈ warm). Callers free the blocks with .unpersist() or let LRU
    # eviction handle it.
    #
    # HISTORY (r16): a second persist used to sit on SCORED, above the
    # quality/language filter, for two reasons that both expired in r15:
    # (a) the join-back dedup_exact consumed its input twice — the window
    # form consumes it once, leaving scored a single-consumer frame; and
    # (b) pushing the filter into the scoring lineage inlined the
    # when-chain argmax ~11x per row (measured 5x the cost of the whole
    # scored frame) — the single-reference argmax bounds that inlining
    # (r15: 44 → 4 array_intersect in the pushed filter). Dropping the
    # scored persist removes a full corpus-sized materialization + its
    # count job per run (measured r16 at sf0.1: q70 scored persist+count
    # was 1.55 s against 0.88 s for the same lineage through noop; q56
    # 5.6 → 4.3 s, q70 5.5 → 4.2 s in-session end to end).
    scored = language_id(add_text_features(docs, text_col), text_col)
    filtered = scored.where(
        (F.col("quality_score") >= min_quality)
        & (F.col("lang_pred").isin(*keep_langs))
    )
    exact = dd.dedup_exact(filtered, id_col, text_col).persist()
    exact.count()
    pairs = dd.minhash_lsh_pairs(
        exact,
        id_col,
        text_col,
        threshold=near_dup_threshold,
        max_doc_freq=max_doc_freq,
    )
    return dd.dedup_near(exact, pairs, id_col)


def clean_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_max_doc_freq: int = 1000,
) -> DataFrame:
    """Raw-crawl cleaning prelude — the stages that run BEFORE scoring and
    dedup in a web pipeline (CCNet/RefinedWeb shape), in the order that
    preserves each stage's signal:

    1. line-level boilerplate dedup (`dedup_lines`) on the RAW text —
       must run first because markup stripping collapses the newlines the
       line splitter keys on;
    2. markup stripping (`strip_markup`) on the line-deduped text;
    3. PII redaction (`redact_pii`) on the cleaned prose.

    Returns ``(id, text)`` with the cleaned text under the original
    column name, ready for `prepare_training_corpus`. Every stage is a
    scan projection except the line-dedup's two hash-keyed shuffles, so
    the whole prelude adds no join or aggregate over document pairs.
    """
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        dedup_lines,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        redact_pii,
        strip_markup,
    )

    ld = dedup_lines(docs, id_col, text_col, max_doc_freq=line_max_doc_freq).select(
        F.col(id_col), F.col("clean_text").alias(text_col)
    )
    ms = strip_markup(ld, text_col, id_col).select(
        F.col(id_col), F.col("clean_text").alias(text_col)
    )
    return redact_pii(ms, text_col, id_col).select(
        F.col(id_col), F.col("clean_text").alias(text_col)
    )


def corpus_summary(corpus: DataFrame) -> DataFrame:
    """Tiny per-language accounting frame for the prepared corpus (the only
    thing that ever reaches the driver)."""
    return (
        corpus.groupBy("lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        )
        .orderBy("lang_pred")
    )


def corpus_funnel(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    keep_langs: tuple[str, ...] = ("en",),
    near_dup_threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Stage-by-stage doc/token funnel of the cleaning chain — the
    accounting report every ingest decision reads: how many documents
    and tokens did the quality/language gates, the exact dedup, and the
    near-dup collapse each actually remove?

    Output: one row per stage, ``(stage, stage_order, n_docs,
    n_tokens)`` for ``raw`` → ``quality_lang`` → ``exact_dedup`` →
    ``near_dedup``. ``n_tokens`` is the whitespace token accounting the
    chain itself carries (`add_text_features`'s ``n_tokens``) at EVERY
    stage — the raw row aggregates over the scored frame too (a
    row-preserving projection of the input), so one tokenization rule
    covers the whole funnel and null text counts as 0 tokens.

    Runs the SAME operators with the SAME defaults as
    `prepare_training_corpus` at the q56 oracle configuration
    (``max_doc_freq=None`` ⇒ exact full-space near-dup semantics), so
    the funnel's final row reconciles exactly with the q56 survivor
    set — pinned by the spliced q125 oracle, which reuses the
    registered q56 CTE chain verbatim.

    Scale shape: four map-side-combinable single-row aggregates over
    the shared lineage; the scored and exact-dedup frames are lazily
    checkpointed (each feeds multiple consumers — the same boundaries
    `prepare_training_corpus` persists eagerly).
    """
    def level(df: DataFrame, stage: str, order: int, tok) -> DataFrame:
        return df.agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(tok), F.lit(0)).cast("bigint").alias("n_tokens"),
        ).select(
            F.lit(stage).alias("stage"),
            F.lit(order).alias("stage_order"),
            "n_docs",
            "n_tokens",
        )

    scored = language_id(
        add_text_features(docs.select(id_col, text_col), text_col), text_col
    ).localCheckpoint(eager=False)
    filtered = scored.where(
        (F.col("quality_score") >= min_quality)
        & F.col("lang_pred").isin(*keep_langs)
    )
    exact = dd.dedup_exact(filtered, id_col, text_col).localCheckpoint(
        eager=False
    )
    pairs = dd.minhash_lsh_pairs(
        exact,
        id_col,
        text_col,
        threshold=near_dup_threshold,
        max_doc_freq=max_doc_freq,
    )
    final = dd.dedup_near(exact, pairs, id_col)
    # The raw row aggregates over the CHECKPOINTED scored frame, not the
    # raw table: add_text_features + language_id are row-preserving
    # projections, so count(*) matches the raw count, sum(n_tokens) skips
    # the null-text rows exactly as the inline null-as-0 rule would, and
    # the funnel costs four aggregates over ONE materialized scan instead
    # of an extra full pass over the raw corpus. n_tokens also comes from
    # the SAME tokens_col rule every other stage sums — one tokenization
    # definition, by construction.
    return (
        level(scored, "raw", 0, F.col("n_tokens"))
        .unionByName(level(filtered, "quality_lang", 1, F.col("n_tokens")))
        .unionByName(level(exact, "exact_dedup", 2, F.col("n_tokens")))
        .unionByName(level(final, "near_dedup", 3, F.col("n_tokens")))
    )
