"""WordPiece tokenizer training + encoding (Schuster & Nakajima 2012;
the BERT tokenizer) — the third member of the tokenizer family,
sharing the split of labor BPE (operators/bpe.py) and unigram
(operators/unigram.py) established:

* **The corpus-scale work is distributed**: word counting is the shared
  `bpe.word_counts` stage (one explode + map-side-combinable hash
  aggregate under a TakeOrderedAndProject cap, oracled as q88). Only
  the bounded distinct-word head reaches the driver.
* **The merge loop runs driver-side over the bounded vocabulary** —
  WordPiece is merge-based like BPE but ranks candidate pairs by the
  LM-likelihood score ``count(ab) / (count(a) * count(b))`` instead of
  raw pair frequency, which is exactly how reference WordPiece
  trainers (HF tokenizers' `WordPieceTrainer`) operate: they too train
  on word counts, not the raw corpus.
* **Encoding is distributed again**: the learned piece vocabulary is a
  tiny broadcast and `wordpiece_encode` applies greedy
  longest-match-first segmentation (the published WordPiece inference
  rule, a.k.a. MaxMatch) on the family's one Arrow-batched encode
  stage (`bpe._encode_docs`), zero shuffle, scan-parallel.

Symbol scheme: the BERT convention — a word's first character is a
word-start piece, every later character carries the ``##`` continuation
prefix, and merging ``(a, ##b)`` yields ``a + b`` (the merged symbol
keeps the left side's prefix status). Scores compare EXACTLY via
cross-multiplied integers (``c1 * l2 * r2`` vs ``c2 * l1 * r1``) — no
float in the argmax — with ties broken by higher pair count then
lexicographically smallest ``(left, right)``, so the vocabulary is a
pure function of ``(corpus, n_merges)`` and tests can assert it
exactly. (A corpus whose text itself contains ``#`` shares the
standard convention's prefix ambiguity; the normalization keeps
punctuation, so ``##x`` the piece and ``##x`` the word-start of a
literal ``##x`` token are the same string — harmless for counting,
documented here.)

Oracle posture mirrors the family: at ``n_merges=0`` the vocabulary is
exactly the corpus's character inventory (word-start chars + ``##``
continuation chars, rank = sorted order) and greedy longest-match
degenerates to one piece per character — both the trained vocab and
the end-to-end encode counts are SQL-replicable (q114/q115). The
trained configuration is the q84/q99/q101 solver-round class
(iterative argmax loop, no SQL twin): rows-only for the driver, pinned
exactly by the from-scratch twin in tests/test_northstar.py.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
    _encode_docs,
    _pair_merge_loop,
    word_counts,
)

UNK = "[UNK]"


def _word_symbols(word: str) -> tuple[str, ...]:
    """BERT-style symbol sequence: first char bare, the rest ``##``-prefixed."""
    return (word[0],) + tuple("##" + c for c in word[1:])


def _merge_syms(left: str, right: str) -> str:
    """Merged symbol: left + right with the continuation prefix stripped
    from the right side (the merged piece inherits left's prefix status)."""
    return left + right[2:]


def _best_score_pair(
    pair_counts: Counter, sym_counts: Counter, min_pair_count: int
) -> tuple[str, str] | None:
    """WordPiece's pick rule over the pairs reaching ``min_pair_count``:
    the highest ``count(ab) / (count(a) * count(b))``, compared exactly
    by cross-multiplication, then the higher pair count, then the
    smallest pair; None when no pair is eligible."""
    best = None
    for p, c in pair_counts.items():
        if c < min_pair_count:
            continue
        if best is None:
            best = p
            continue
        bl, br = sym_counts[best[0]], sym_counts[best[1]]
        pl, pr = sym_counts[p[0]], sym_counts[p[1]]
        # score(p) vs score(best): c_p/(pl*pr) vs c_b/(bl*br),
        # compared exactly as c_p*bl*br vs c_b*pl*pr.
        lhs = c * bl * br
        rhs = pair_counts[best] * pl * pr
        if lhs > rhs or (
            lhs == rhs and (-c, p) < (-pair_counts[best], best)
        ):
            best = p
    return best


def train_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 40,
    min_pair_count: int = 2,
    max_vocab_rows: int = 1_000_000,
) -> DataFrame:
    """Learn a WordPiece vocabulary from a document frame.

    Returns ``(piece, wp_rank)``: the base character inventory (every
    word-start char and every ``##`` continuation char of the capped
    word table, rank = sorted order) followed by the learned merges in
    merge order — the exact artifact the encoder consumes, analogous to
    HF tokenizers' ``vocab.txt``. Pair selection maximizes
    ``count(pair) / (count(left) * count(right))`` with exact integer
    cross-multiplication over the pairs whose raw count reaches
    ``min_pair_count`` — sub-threshold pairs are INELIGIBLE (a high
    likelihood score on singleton noise would just memorize the corpus
    tail), matching reference trainers' min-frequency filters; the loop
    stops early only when no eligible pair remains.

    The merges run on `bpe._pair_merge_loop`, the loop train_bpe uses,
    with WordPiece's pick rule and merged-symbol rule: pair AND symbol
    counts are maintained incrementally, so each round costs the argmax
    scan plus ``index[best]`` rewrites, not a full vocabulary recount.
    """
    spark = df.sparkSession
    # Eager column contract (the pack_sequences convention): a wrong
    # text_col fails HERE with the contract spelled out, not downstream
    # as a silently-empty encode.
    if text_col not in df.columns:
        raise ValueError(
            f"train_wordpiece: text_col {text_col!r} is not a column of "
            f"the input frame (has {df.columns})"
        )
    rows = word_counts(df, text_col, max_vocab_rows).collect()
    vocab: list[list] = [[_word_symbols(r["word"]), r["n"]] for r in rows]
    base = sorted({s for syms, _ in vocab for s in syms})
    merges = _pair_merge_loop(
        vocab, n_merges, min_pair_count, _best_score_pair, _merge_syms
    )
    pieces = base + [new for _, _, new, _ in merges]
    return spark.createDataFrame(
        [(p, r) for r, p in enumerate(pieces)], "piece string, wp_rank int"
    )


def _greedy_match(
    word: str, pieces: set[str], max_start: int, max_cont: int
) -> list[str]:
    """Greedy longest-match-first (MaxMatch) segmentation — the published
    WordPiece inference rule: at each position take the LONGEST vocab
    piece (``##``-prefixed past position 0); if no piece matches at some
    position, the WHOLE word becomes one ``[UNK]`` (BERT's behavior, so
    a single unseen character never yields a half-tokenized word)."""
    n = len(word)
    out: list[str] = []
    i = 0
    while i < n:
        limit = min(n - i, max_start if i == 0 else max_cont)
        found = None
        for length in range(limit, 0, -1):
            cand = word[i : i + length] if i == 0 else "##" + word[i : i + length]
            if cand in pieces:
                found = cand
                i += length
                break
        if found is None:
            return [UNK]
        out.append(found)
    return out


def wordpiece_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts_only: bool = False,
) -> DataFrame:
    """Tokenize documents with a trained WordPiece vocabulary:
    ``(id, wp_tokens array<string>, n_wp_tokens)`` via greedy
    longest-match-first per word over the shared normalization — the
    family's one encode stage (`bpe._encode_docs`: Arrow-batched, zero
    shuffle, scan-parallel). A word with any unmatchable position emits
    one ``[UNK]`` token. ``counts_only=True`` emits ``(id, n_wp_tokens)``
    without materializing or Arrow-shipping the token arrays — the
    packing-path option.

    The vocabulary (``|base| + n_merges`` rows) collects once and ships
    in the UDF closure — a broadcast-sized model artifact, same pattern
    as the BPE merge table and the IVF centroids."""
    pieces = {r["piece"] for r in vocab.collect()}
    max_start = max((len(p) for p in pieces if not p.startswith("##")), default=1)
    max_cont = max((len(p) - 2 for p in pieces if p.startswith("##")), default=1)
    return _encode_docs(
        df,
        text_col,
        id_col,
        lambda word: _greedy_match(word, pieces, max_start, max_cont),
        "wp_tokens",
        "n_wp_tokens",
        counts_only,
    )
