"""Unigram-LM tokenizer (Kudo 2018, the SentencePiece "unigram" model) —
the second member of the tokenizer family, sharing BPE's split of labor
(operators/bpe.py):

* **The corpus-scale work is distributed**: word counting is the shared
  `bpe.word_counts` stage (oracled as q88), and the seed-piece inventory
  — every substring of every distinct word up to ``max_piece_len``,
  weighted by word frequency — is one double-explode + map-side
  aggregate (`seed_piece_counts`, oracled as q94). Both are bounded
  TakeOrdered collects: by Heaps' law the distinct-word table, and a
  fortiori its capped substring head, is orders of magnitude smaller
  than the corpus.
* **EM runs driver-side over the bounded vocabulary** — the same
  size-gated decision class as BPE's merge loop: Viterbi (hard) EM over
  the word-frequency dict, which is exactly how reference unigram
  trainers operate (SentencePiece trains on the word/sentence frequency
  table, not the raw corpus).
* **Encoding is distributed again**: the learned ``(piece, logprob)``
  table is a tiny broadcast and `unigram_encode` applies per-word
  Viterbi segmentation on the family's one Arrow-batched encode stage
  (`bpe._encode_docs`).

Determinism: every tie in the DP breaks to the lexicographically
smallest piece sequence, seed caps order by (count desc, piece), and
pruning orders by (prob desc, piece) — the vocab is a pure function of
(corpus, sizes), so tests can assert it exactly. Single characters seen
in the corpus are never pruned (coverage guarantee: no UNK on corpus
text).

Deliberate divergence from SentencePiece: hard (Viterbi) EM instead of
full forward-backward expected counts, and loss-free top-k pruning
instead of likelihood-delta pruning — simpler, deterministic, and the
same fixed points on the fixture-scale corpora the tests pin; the
distributed stages are identical either way, which is what this engine
is demonstrating.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
    _encode_docs,
    word_counts,
)


def seed_piece_counts(
    df: DataFrame,
    text_col: str = "text",
    max_piece_len: int = 8,
    max_vocab_rows: int = 1_000_000,
    max_seed_rows: int = 100_000,
) -> DataFrame:
    """Candidate-piece inventory for unigram training: every substring
    (length 1..``max_piece_len``) of every distinct corpus word, weighted
    by the word's occurrence count — ``(piece, n)``, capped at
    ``max_seed_rows`` by (count desc, piece). The double explode runs on
    the DISTINCT-word table (already capped at ``max_vocab_rows``), so
    its row count is bounded by vocab × len × max_piece_len regardless
    of corpus size, and the aggregate is map-side combinable. A word of
    length W contributes each substring once per (start, len) slot —
    within-word multiplicity counts, as in SentencePiece's suffix-array
    seed."""
    wc = word_counts(df, text_col, max_vocab_rows)
    return (
        wc.select(
            "word",
            "n",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("i"),
        )
        .select(
            "word",
            "n",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len), F.length("word") - F.col("i") + 1
                    ),
                )
            ).alias("l"),
        )
        .select(F.expr("substring(word, i, l)").alias("piece"), F.col("n"))
        .groupBy("piece")
        .agg(F.sum("n").alias("n"))
        .orderBy(F.col("n").desc(), F.col("piece"))
        .limit(max_seed_rows)
    )


def _viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Best segmentation of ``word`` under piece log-probs: maximize the
    summed logprob; ties break to the lexicographically smallest piece
    sequence. Pieces absent from ``logp`` are unusable; single chars are
    guaranteed present for corpus text (train keeps them), so a path
    always exists there — unseen chars fall back to themselves as one
    out-of-vocab piece."""
    n = len(word)
    NEG = float("-inf")
    # dp[j] = (score, pieces tuple) for word[:j]
    dp: list[tuple[float, tuple[str, ...]]] = [(NEG, ())] * (n + 1)
    dp[0] = (0.0, ())
    for j in range(1, n + 1):
        best = (NEG, ())
        for i in range(max(0, j - max_len), j):
            if dp[i][0] == NEG:
                continue
            piece = word[i:j]
            lp = logp.get(piece)
            if lp is None:
                continue
            cand = (dp[i][0] + lp, dp[i][1] + (piece,))
            if cand[0] > best[0] or (
                cand[0] == best[0] and cand[1] < best[1]
            ):
                best = cand
        dp[j] = best
    if dp[n][0] == NEG:
        return [word]  # unseen character(s): emit whole word as OOV piece
    return list(dp[n][1])


def train_unigram(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    max_piece_len: int = 8,
    seed_size: int = 2000,
    em_iters: int = 3,
    max_vocab_rows: int = 1_000_000,
) -> DataFrame:
    """Learn a unigram-LM piece vocabulary: ``(piece, logprob)`` rounded
    to 6dp, at most ``vocab_size`` rows plus any corpus single-chars the
    cap would have cut (coverage floor). Distributed stages gather the
    bounded (word, count) and seed-piece tables; Viterbi EM then
    alternates segment-under-current-probs / re-estimate-from-segment-
    counts over the word dict, and the final vocabulary keeps the
    ``vocab_size`` most probable pieces (prob desc, piece asc tie-break)
    with single chars always retained."""
    spark = df.sparkSession
    wc = [
        (r["word"], r["n"])
        for r in word_counts(df, text_col, max_vocab_rows).collect()
    ]
    seeds = {
        r["piece"]: r["n"]
        for r in seed_piece_counts(
            df, text_col, max_piece_len, max_vocab_rows, seed_size
        ).collect()
    }
    chars = {c for w, _ in wc for c in w}
    for c in chars:
        seeds.setdefault(c, 1)
    total = sum(seeds.values())
    logp = {p: math.log(n / total) for p, n in seeds.items()}
    for _ in range(em_iters):
        counts: dict[str, int] = {}
        for word, n in wc:
            for piece in _viterbi(word, logp, max_piece_len):
                counts[piece] = counts.get(piece, 0) + n
        for c in chars:
            counts.setdefault(c, 1)  # coverage floor survives every round
        total = sum(counts.values())
        logp = {p: math.log(n / total) for p, n in counts.items()}
    kept = sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    kept_pieces = {p for p, _ in kept}
    kept += [(c, logp[c]) for c in sorted(chars) if c not in kept_pieces]
    return spark.createDataFrame(
        [(p, round(lp, 6)) for p, lp in kept], "piece string, logprob double"
    )


def unigram_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts_only: bool = False,
) -> DataFrame:
    """Tokenize documents with a trained unigram vocab: ``(id, pieces
    array<string>, n_pieces)`` via per-word Viterbi under the broadcast
    ``(piece, logprob)`` table — the family's one encode stage
    (`bpe._encode_docs`: Arrow-batched, zero shuffle, scan-parallel).
    Unseen characters pass through as whole-word OOV pieces, so output
    always reassembles the normalized text. ``counts_only=True`` emits
    ``(id, n_pieces)`` without materializing or Arrow-shipping the piece
    arrays — the packing-path option."""
    logp = {r["piece"]: r["logprob"] for r in vocab.collect()}
    max_len = max((len(p) for p in logp), default=1)
    return _encode_docs(
        df,
        text_col,
        id_col,
        lambda word: _viterbi(word, logp, max_len),
        "pieces",
        "n_pieces",
        counts_only,
    )
