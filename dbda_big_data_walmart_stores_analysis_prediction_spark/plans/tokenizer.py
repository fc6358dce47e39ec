"""The composed tokenizer-training pipelines — the q87 argument applied
to the tokenizer family: clean corpus → train → encode THE SAME corpus
→ pack by the REAL subword counts, chained the way a pretraining
tokenizer is actually produced (train the vocabulary on exactly the text
it will encode, then budget training sequences on the counts the encoder
emits, not whitespace approximations). Two family members share the
clean stage and the composition contract: `tokenizer_corpus` (BPE,
q98/q99) and `tokenizer_corpus_unigram` (unigram-LM, q100/q101).

Stages:

1. Quality + language gates (``operators.text.add_text_features`` +
   ``language_id``): the q56 clean configuration (quality ≥ 0.3,
   predicted language in ``keep_langs``).
2. Exact dedup (``operators.dedup.dedup_exact``): one survivor (min id)
   per normalized content hash — duplicate pages must not double-vote
   merge statistics (the tokenizer-specific reason dedup precedes
   training everywhere from GPT-2's WebText onward).
3. BPE train (``operators.bpe.train_bpe``): distributed word counts →
   size-gated driver merge loop over the bounded vocabulary.
4. BPE encode (``operators.bpe.bpe_encode``): the learned merge table
   broadcast back over the SAME cleaned corpus (Arrow-batched
   ``mapInPandas``), emitting real ``n_subword_tokens`` per doc.
5. Sequence packing (``operators.packing.pack_sequences``): token-budget
   bins on the ENCODED counts (``tokens_col``), not whitespace counts.

Stage-interface invariants only this composition exercises (the exact
argument that motivated the q87 pretrain capstone — per-operator oracles
verify each stage's internals, never the hand-offs):

* the trainer and the encoder must see the SAME cleaned, deduped text
  through the SAME normalization — a drift between ``word_counts``'s
  and ``bpe_encode``'s norm would silently skew every merge statistic;
* packing budgets consume the ENCODER's token accounting, so the
  ``n_subword_tokens`` → ``tokens_col`` hand-off (the contract
  ``pack_sequences`` validates eagerly) is exercised with real counts.

Oracle posture (q98/q99): at ``n_merges=0`` the END-TO-END path —
including the encoder's real output counts and the packing arithmetic
over them — is SQL-replicable bit-for-bit (zero merges ⇒ every word
encodes to its characters plus the ``</w>`` marker, so
``n_subword_tokens = chars(word) + 1`` summed over words), which is the
one point where the full composed pipeline can be hash-checked in a SQL
oracle. The registered q98 runs exactly that; q99 runs the same
composition at a real merge budget (rows-only for the driver, pinned
exactly by a from-scratch reference implementation in the test suite —
the merge LOOP's internals stay covered by q84/q88's oracled stages).

Scale shape at 100 TB: stages 1-2 are the audited q56 clean path (staged
regex projections + one hash-keyed shuffle); stage 3's corpus-scale half
is one explode + map-side-combinable aggregate under a
TakeOrderedAndProject cap, and only the bounded vocabulary head reaches
the driver; stage 4 is a broadcast-model Arrow projection (no shuffle);
stage 5 shuffles once on the shard key. The cleaned corpus is
lazy-checkpointed — it feeds both the trainer's aggregate and the
encoder's scan, and without the cut the quality/language regex lineage
would run twice.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
    dedup as dd,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
    bpe_encode,
    train_bpe,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
    pack_sequences,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
    add_text_features,
    language_id,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.unigram import (
    train_unigram,
    unigram_encode,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
    wordpiece_encode,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.sources import io


def _clean_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    min_quality: float,
    keep_langs: tuple[str, ...],
    keep_cols: tuple[str, ...] = (),
    checkpoint: bool = True,
) -> DataFrame:
    """Stages 1-2, shared by both tokenizer families (and the recipe-v2
    capstone): q56-configuration quality + language gates, exact dedup,
    and the lazy checkpoint at the two-consumer boundary (the trainer's
    aggregate materializes it; the encoder's scan reads the checkpoint
    instead of re-running the scoring regex lineage). ``keep_cols`` ride
    through untouched (every stage is "*"-additive and `dedup_exact`
    preserves its input columns) — the recipe-v2 composition needs the
    source stratum for its epoch mix.

    ``checkpoint=False`` skips the cut: callers whose trainer never
    consumes the cleaned corpus (the zero-merge BPE point — `train_bpe`
    short-circuits before touching data) have exactly ONE downstream
    scan, and a checkpoint there writes every cleaned row to the block
    manager for nobody to re-read — at corpus scale, a full wasted
    materialization pass."""
    scored = language_id(
        add_text_features(docs.select(id_col, text_col, *keep_cols), text_col),
        text_col,
    )
    filtered = scored.where(
        (F.col("quality_score") >= min_quality)
        & F.col("lang_pred").isin(*keep_langs)
    ).select(id_col, text_col, *keep_cols)
    deduped = dd.dedup_exact(filtered, id_col, text_col)
    return deduped.localCheckpoint(eager=False) if checkpoint else deduped


def tokenizer_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    n_merges: int = 60,
    min_pair_count: int = 2,
    max_vocab_rows: int = 1_000_000,
    min_quality: float = 0.3,
    keep_langs: tuple[str, ...] = ("en",),
    budget: int = 2048,
    n_shards: int = 8,
    salt: str = "tokpack",
    out: dict | None = None,
) -> DataFrame:
    """Run the composed tokenizer pipeline; see the module docstring for
    the stage list. Returns one row per surviving doc:
    ``(id, shard, bin_id, n_tokens)`` where ``n_tokens`` is the REAL
    subword count ``bpe_encode`` emitted for the doc — the frame a
    training data-loader would shard and batch on.

    ``out``, when given, receives the internal artifacts under
    ``{"clean": <cleaned corpus>, "merges": <merge table>, "encoded":
    <per-doc tokens>}`` — the instrumentation hook tests and callers who
    need the shipped tokenizer artifact use (no plan effect).

    Single-action assumption at ``n_merges=0``: the zero-merge trainer
    short-circuits, so the cleaned corpus is NOT checkpointed (nothing
    would re-read it) and the returned frame's lineage re-runs the full
    clean chain on EVERY action. Callers issuing multiple actions on the
    zero-merge result (count then write, retries) should pass
    ``out={}``, which restores the checkpoint by adding consumers."""
    # The clean checkpoint exists for the trainer/encoder double consume;
    # at n_merges=0 the trainer never touches data (train_bpe
    # short-circuits), so the only scan is the encoder's — skip the cut
    # unless the ``out`` hook adds extra consumers.
    clean = _clean_corpus(
        docs, id_col, text_col, min_quality, keep_langs,
        checkpoint=n_merges > 0 or out is not None,
    )
    merges = train_bpe(
        clean,
        text_col,
        n_merges=n_merges,
        min_pair_count=min_pair_count,
        max_vocab_rows=max_vocab_rows,
    )
    # counts_only: packing budgets on n_subword_tokens alone, and Spark
    # cannot prune the token arrays through the mapInPandas boundary —
    # the full token frame stays available (lazily) via the `out` hook.
    counted = bpe_encode(clean, merges, text_col, id_col, counts_only=True)
    if out is not None:
        out["clean"] = clean
        out["merges"] = merges
        out["encoded"] = bpe_encode(clean, merges, text_col, id_col)
    return pack_sequences(
        counted,
        id_col,
        text_col=None,
        tokens_col="n_subword_tokens",
        budget=budget,
        n_shards=n_shards,
        salt=salt,
    )


def tokenizer_corpus_unigram(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    vocab_size: int = 200,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    em_iters: int = 3,
    max_vocab_rows: int = 1_000_000,
    min_quality: float = 0.3,
    keep_langs: tuple[str, ...] = ("en",),
    budget: int = 2048,
    n_shards: int = 8,
    salt: str = "unipack",
    out: dict | None = None,
) -> DataFrame:
    """The unigram-LM twin of `tokenizer_corpus`: identical clean stage
    (shared `_clean_corpus`), then `train_unigram` (distributed word +
    seed-piece counts, driver Viterbi EM over the bounded dict) →
    `unigram_encode` THE SAME corpus (broadcast vocab, Arrow-batched
    Viterbi) → `pack_sequences` on the encoder's real ``n_pieces``. Only
    the train/encode pair is swapped — the stage hand-offs under test
    (one normalization feeding trainer and encoder; packing on the
    encoder's accounting) are the same composition contract.

    Oracle posture (q100/q101): at ``max_piece_len=1`` the seed
    inventory is exactly the corpus's single characters, so Viterbi has
    one segmentation per word regardless of the learned probabilities —
    every doc's ``n_pieces`` is the non-space character count of its
    normalized text — and the END-TO-END path is SQL-replicable (the
    q98 zero-merge argument, unigram edition; holds whenever the
    `word_counts` cap isn't reached, since the char inventory derives
    from the capped word table). The registered q100 runs exactly that
    (with ``em_iters=0`` — EM cannot change a forced segmentation);
    q101 runs the real trained configuration, rows-only for the driver,
    pinned by tests/test_northstar.py's from-scratch Viterbi-EM
    reference.

    Scale shape: clean is the audited q56 path; both training
    aggregates are capped TakeOrderedAndProject collects; encode is a
    broadcast-vocab Arrow projection with no shuffle; packing shuffles
    once on the shard key — no stage's memory or shuffle grows faster
    than the bounded vocabulary except the one shard-key exchange.
    """
    clean = _clean_corpus(docs, id_col, text_col, min_quality, keep_langs)
    vocab = train_unigram(
        clean,
        text_col,
        vocab_size=vocab_size,
        max_piece_len=max_piece_len,
        seed_size=seed_size,
        em_iters=em_iters,
        max_vocab_rows=max_vocab_rows,
    )
    counted = unigram_encode(clean, vocab, text_col, id_col, counts_only=True)
    if out is not None:
        out["clean"] = clean
        out["vocab"] = vocab
        out["encoded"] = unigram_encode(clean, vocab, text_col, id_col)
    return pack_sequences(
        counted,
        id_col,
        text_col=None,
        tokens_col="n_pieces",
        budget=budget,
        n_shards=n_shards,
        salt=salt,
    )


class _Artifact(NamedTuple):
    """One tokenizer family's row of the artifact-contract table."""

    family: str  # how the contract is named in error messages
    cols: tuple[str, ...]  # the trainer's output columns
    order_by: str | None  # the rank column `load_tokenizer_artifact` sorts on
    encode: Callable[..., DataFrame]
    count_col: str  # the encoder's per-doc token-count column


# Matched in order: a frame carrying several contracts' columns resolves to
# the first (BPE, then WordPiece, then unigram).
_ARTIFACTS = (
    _Artifact(
        "BPE merge-table",
        ("merge_rank", "left", "right", "new_symbol", "pair_count"),
        "merge_rank", bpe_encode, "n_subword_tokens",
    ),
    _Artifact(
        "WordPiece vocab", ("piece", "wp_rank"),
        "wp_rank", wordpiece_encode, "n_wp_tokens",
    ),
    _Artifact(
        "unigram vocab", ("piece", "logprob"), None, unigram_encode, "n_pieces"
    ),
)


def _artifact_family(cols: list[str], where: str) -> _Artifact:
    """The `_ARTIFACTS` row whose columns ``cols`` carry; a frame that
    carries none fails loudly with every contract spelled out."""
    for art in _ARTIFACTS:
        if set(art.cols).issubset(cols):
            return art
    contracts = ", ".join(f"the {a.family} contract {a.cols}" for a in _ARTIFACTS)
    raise ValueError(
        f"{where}: columns {sorted(cols)} are not a saved tokenizer "
        f"artifact — they match none of {contracts}"
    )


def save_tokenizer_artifact(model: DataFrame, path: str) -> None:
    """Persist a trained tokenizer artifact — a BPE merge table
    (``train_bpe`` output), a WordPiece vocabulary (``train_wordpiece``
    output), or a unigram piece vocabulary
    (``train_unigram`` output) — as parquet, the tokenizer family's
    member of the model sink/source contract (SURVEY S5: the ML pipeline
    ships a PipelineModel; a tokenizer pipeline ships this table). The
    schema is validated eagerly against `_ARTIFACTS` so a wrong frame
    fails HERE with the contract spelled out, not at load time on a
    different cluster.

    The artifact is a bounded table (``n_merges`` or ``vocab_size``
    rows) written at natural parallelism — the encode cluster reloads it
    with `load_tokenizer_artifact` and broadcasts it into the family's
    encoder (``bpe_encode``/``wordpiece_encode``/``unigram_encode``)
    exactly as the in-session frame."""
    _artifact_family(model.columns, "save_tokenizer_artifact")
    io.write_parquet(model, path)


def load_tokenizer_artifact(spark, path: str) -> DataFrame:
    """Reload a tokenizer artifact written by `save_tokenizer_artifact`,
    re-validating the schema contract (a path mix-up loads loudly, not as
    a silent empty-ranks encode). Returns the frame ready to feed its
    family's encoder: a BPE merge table ordered by ``merge_rank``, a
    WordPiece vocab ordered by ``wp_rank``, a unigram piece vocab as
    stored. Every encoder collects + broadcasts it, so load cost is one
    bounded scan."""
    model = io.read_parquet(spark, path)
    art = _artifact_family(model.columns, f"load_tokenizer_artifact: {path}")
    return model.orderBy(art.order_by) if art.order_by else model


def encode_with_artifact(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts_only: bool = False,
) -> DataFrame:
    """Tokenize documents with a trained artifact, dispatching on its
    schema through `_ARTIFACTS`: a BPE merge table runs ``bpe_encode``,
    a WordPiece vocab runs ``wordpiece_encode``, a unigram piece vocab
    runs ``unigram_encode``. Output follows the dispatched family
    (``bpe_tokens``/``n_subword_tokens`` vs ``wp_tokens``/``n_wp_tokens``
    vs ``pieces``/``n_pieces``).

    Works unchanged on a STREAMING ``df``: every encoder is a stateless
    broadcast-model Arrow projection — no shuffle, no aggregation, no
    watermark — so each micro-batch is encoded exactly as a batch frame
    would be (the model is a bounded BATCH frame, collected once at plan
    construction and shipped in the UDF closure). This is the encode
    half of the tokenizer family run continuously over crawl
    deliveries; `tests/test_streaming.py` pins replay == batch."""
    art = _artifact_family(model.columns, "encode_with_artifact")
    return art.encode(df, model, text_col, id_col, counts_only=counts_only)


def tokenizer_audit(
    df: DataFrame,
    model: DataFrame,
    by_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain tokenizer fit report: run a trained artifact over the
    corpus (the `encode_with_artifact` dispatch, counts only — token
    ARRAYS never leave the Arrow stage) and aggregate, per ``by_col``,
    the numbers a tokenizer rollout is judged on: doc count, total tokens, total raw
    characters, and the chars-per-token compression ratio. A tokenizer
    trained on one mix always serves another — this is the audit that
    shows WHERE it fertilizes (web English at 4.2 chars/token) and where
    it shreds (a new language at 1.1, i.e. near-char fallback), the
    standard go/no-go before re-training.

    Works with any artifact family (the `encode_with_artifact` schema
    dispatch); the per-doc count column is the one the family's
    `_ARTIFACTS` entry names (``n_subword_tokens`` / ``n_wp_tokens`` /
    ``n_pieces``). Every doc counts: the encoders emit 0 tokens for
    null/empty text (never drop rows), raw chars coalesce null text to
    0, the count join is null-SAFE so a null-id doc pairs with its own
    encode row instead of silently vanishing from n_docs/total_chars,
    and a domain with 0 total tokens reports ratio 0.0 rather than
    dividing by zero. Ids must be UNIQUE (at most one null included) —
    they key the count join, so a duplicated id would cross-match and
    double-count its docs.

    Scale shape: one Arrow encode scan + one id-equi join (the count
    frame carries two columns — Spark co-partitions both sides on the
    id) + one grouped aggregate. No driver data path."""
    for need, what in (
        (by_col, "by_col"),
        (text_col, "text_col"),
        (id_col, "id_col"),
    ):
        if need not in df.columns:
            raise ValueError(
                f"tokenizer_audit: {what} {need!r} is not a column of the "
                f"input frame (has {df.columns})"
            )
    art = _artifact_family(model.columns, "tokenizer_audit")
    enc = art.encode(
        df.select(id_col, text_col), model, text_col, id_col,
        counts_only=True,
    )
    base = df.select(
        F.col(id_col),
        F.col(by_col),
        F.coalesce(F.length(F.col(text_col)), F.lit(0)).alias("__chars"),
    )
    tok = F.sum(F.col(art.count_col)).cast("bigint")
    chars = F.sum("__chars").cast("bigint")
    return (
        base.join(
            enc.select(
                F.col(id_col).alias("__id_e"), F.col(art.count_col)
            ),
            F.col(id_col).eqNullSafe(F.col("__id_e")),
        )
        .groupBy(F.col(by_col))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            tok.alias("total_tokens"),
            chars.alias("total_chars"),
            F.when(
                tok > 0,
                F.round(
                    chars.cast("double") / tok.cast("double"), 4
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("chars_per_token"),
        )
    )


def tokenizer_ab_report(
    df: DataFrame,
    model_a: DataFrame,
    model_b: DataFrame,
    by_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Side-by-side tokenizer comparison: `tokenizer_audit` run for TWO
    artifacts (any families — the `encode_with_artifact` schema dispatch
    resolves each independently) joined per domain, plus the relative
    token-count delta — the A/B report behind "does the extended /
    re-trained / other-family tokenizer actually compress this corpus
    better, and where". The natural consumer of `extend_bpe`: base vs
    extended on the domain mix answers whether the new merges paid.

    Output per ``by_col`` value: ``(by, n_docs, tokens_a, tokens_b,
    chars_per_token_a, chars_per_token_b, token_delta_pct)`` where
    ``token_delta_pct = 100 * (tokens_b - tokens_a) / tokens_a``
    (rounded 6 dp; NULL for a domain artifact A tokenized to 0 tokens —
    no meaningful ratio). Negative delta = B compresses better.

    Scale shape: two counts-only Arrow encode scans (one per artifact —
    irreducible: the models differ), each the audited q129 shape, then
    one join of two ≤ |domains|-row frames.
    """
    def half(model, tok_alias, cpt_alias):
        rep = tokenizer_audit(df, model, by_col, text_col, id_col)
        return rep.select(
            by_col,
            "n_docs",
            F.col("total_tokens").alias(tok_alias),
            F.col("chars_per_token").alias(cpt_alias),
        )

    a = half(model_a, "tokens_a", "chars_per_token_a")
    b = (
        half(model_b, "tokens_b", "chars_per_token_b")
        .drop("n_docs")
        .withColumnRenamed(by_col, "__by_b")
    )
    delta = F.when(
        F.col("tokens_a") > 0,
        F.round(
            (F.col("tokens_b") - F.col("tokens_a"))
            / F.col("tokens_a")
            * 100.0,
            6,
        ),
    )
    # null-SAFE domain join: both halves group the same frame, so a NULL
    # domain exists on both sides and must pair with itself — a plain
    # equi-join would silently drop the null-domain row the audits (and
    # the SQL oracle's GROUP BY) both report
    return a.join(
        b, F.col(by_col).eqNullSafe(F.col("__by_b"))
    ).drop("__by_b").select(
        by_col,
        "n_docs",
        "tokens_a",
        "tokens_b",
        "chars_per_token_a",
        "chars_per_token_b",
        delta.alias("token_delta_pct"),
    )
