"""BPE tokenizer training + encoding (Sennrich et al. 2016) — the
missing tokenizer-side member of the LLM-pipeline operator family.

Split of labor, sized for 100 TB:

* **Word counting is the corpus-scale work** and runs fully distributed:
  one explode + hash aggregate with map-side combine, identical shape to
  the TF/doc-freq aggregates the text family already uses. By Heaps' law
  the DISTINCT-word table is orders of magnitude smaller than the corpus
  (millions of rows for web-scale text), so it is the natural collect
  boundary.
* **The merge loop runs driver-side over the bounded vocabulary** — the
  same size-gated decision class as `dedup.connected_components`' 1M-edge
  union-find and `similarity`'s IVF centroid sample: `max_vocab_rows`
  caps the collect (deterministic truncation: highest-count words first,
  lexicographic tie-break), and the classic pair-count/merge iteration
  over a word-frequency dict is exactly how reference BPE trainers
  (subword-nmt, HF tokenizers) operate — they too train on word counts,
  not the raw corpus.
* **Encoding goes back to being distributed**: the learned merge table is
  a tiny broadcast (``n_merges`` rows) and `bpe_encode` applies it with
  an Arrow-batched pandas UDF (the multimodal slow-path convention —
  per-word loops are not expressible as built-in array ops).

This module also holds the tokenizer family's shared core: `word_counts`,
the merge loop `_pair_merge_loop` (BPE and WordPiece differ only in the
pick rule and the merged-symbol rule they pass in) and the encode stage
`_encode_docs` (BPE, WordPiece and unigram differ only in the per-word
segmenter and the output column names).

Everything is deterministic: pair argmax ties break to the
lexicographically smallest pair, so the merge table is a pure function
of (corpus, n_merges) and tests can assert it exactly.
"""

from __future__ import annotations

import operator
from collections import Counter, defaultdict
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.text import (
    norm_text_col,
    norm_words_col,
)

END = "</w>"


def word_counts(
    df: DataFrame, text_col: str = "text", max_vocab_rows: int = 1_000_000
) -> DataFrame:
    """Corpus-wide word frequencies over the shared normalization:
    ``(word, n)``, capped at ``max_vocab_rows`` by (count desc, word) —
    a deterministic head of the Zipf curve, which is also where all of
    BPE's early merge mass lives. The cap turns the later collect into a
    bounded driver transfer no matter the corpus size; Spark plans the
    orderBy+limit as TakeOrderedAndProject (per-partition heaps, no full
    sort)."""
    w = F.explode(norm_words_col(text_col)).alias("word")
    return (
        df.where(F.col(text_col).isNotNull())
        .select(w)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("word"))
        .limit(max_vocab_rows)
    )


def _merge_word(
    syms: tuple[str, ...], left: str, right: str, new: str
) -> tuple[str, ...]:
    """Rewrite every ``(left, right)`` occurrence in ``syms`` to ``new``,
    scanning left to right (so ``a a a`` merges the first pair only)."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(new)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 50,
    min_pair_count: int = 2,
    max_vocab_rows: int = 1_000_000,
) -> DataFrame:
    """Learn a BPE merge table from a document frame.

    Returns ``(merge_rank, left, right, new_symbol, pair_count)`` with
    ``merge_rank`` starting at 0 — the exact artifact a tokenizer ships.
    Words are character sequences closed by the ``</w>`` end marker
    (Sennrich's original scheme, so merges never cross word boundaries
    and a trailing symbol distinguishes "un-" from "-un"). The loop stops
    early when no pair reaches ``min_pair_count`` (merging singleton
    noise would just memorize the corpus tail).
    """
    spark = df.sparkSession
    # Eager column contract (the pack_sequences convention), checked BEFORE
    # the zero-merge short-circuit: a wrong text_col must fail here with
    # the contract spelled out even on the fast path, not surface later as
    # a silently-empty encode.
    if text_col not in df.columns:
        raise ValueError(
            f"train_bpe: text_col {text_col!r} is not a column of the "
            f"input frame (has {df.columns})"
        )
    schema = (
        "merge_rank int, left string, right string, new_symbol string, "
        "pair_count bigint"
    )
    # Zero merges need zero statistics: skip the corpus word-count
    # aggregate and the driver transfer entirely (a corpus-scale job at
    # real scale; the q98/q100-style zero-merge capstone runs pay it for
    # a merge table that is empty by definition).
    if n_merges <= 0:
        return spark.createDataFrame([], schema)
    rows = word_counts(df, text_col, max_vocab_rows).collect()
    vocab: list[list] = [[tuple(r["word"]) + (END,), r["n"]] for r in rows]
    merges = _pair_merge_loop(
        vocab, n_merges, min_pair_count, _most_frequent_pair, operator.add
    )
    return spark.createDataFrame(
        [(rank, *m) for rank, m in enumerate(merges)], schema
    )


def _most_frequent_pair(
    pair_counts: Counter, sym_counts: Counter, min_pair_count: int
) -> tuple[str, str] | None:
    """BPE's pick rule: the highest pair count, ties to the smallest
    pair; None once no pair reaches ``min_pair_count``."""
    top = max(pair_counts.values(), default=None)
    if top is None or top < min_pair_count:
        return None
    return min(p for p, c in pair_counts.items() if c == top)


def _pair_merge_loop(
    vocab: list[list],
    n_merges: int,
    min_pair_count: int,
    pick: Callable[[Counter, Counter, int], tuple[str, str] | None],
    merge_sym: Callable[[str, str], str],
) -> list[tuple[str, str, str, int]]:
    """The driver-side merge loop over a bounded ``[symbols, count]``
    vocabulary (mutated in place), shared by `train_bpe`, `extend_bpe`
    and `wordpiece.train_wordpiece`: each round ``pick`` chooses a pair
    from the live pair and symbol counts (BPE: most frequent;
    WordPiece: best likelihood score), ``merge_sym`` names the merged
    symbol, and every word containing the pair is rewritten. Returns
    ``(left, right, new_symbol, pair_count)`` per merge, in order.

    Incremental maintenance (the subword-nmt optimization): a merge only
    changes the counts of words CONTAINING the merged pair, so each
    round touches index[best] words, not the whole vocabulary — at the
    1M-word gate bound the naive full recount costs ~vocab*len work per
    merge (measured 8.8 s for 40 merges even on a 2k-word vocab at
    sf0.1; the argmax scan, not the rewrite, is then the bound)."""
    sym_counts: Counter = Counter()
    pair_counts: Counter = Counter()
    index: defaultdict = defaultdict(set)

    def tally(i: int, syms: tuple[str, ...], c: int) -> None:
        """Add (``c > 0``) or remove (``c < 0``) word ``i``'s counts."""
        for s in syms:
            sym_counts[s] += c
            if sym_counts[s] <= 0:
                del sym_counts[s]
        for p in zip(syms, syms[1:]):
            pair_counts[p] += c
            if pair_counts[p] <= 0:
                del pair_counts[p]
            if c > 0:
                index[p].add(i)
            else:
                index[p].discard(i)

    merges: list[tuple[str, str, str, int]] = []
    if n_merges <= 0:
        return merges
    for i, (syms, c) in enumerate(vocab):
        tally(i, syms, c)
    for _ in range(n_merges):
        best = pick(pair_counts, sym_counts, min_pair_count)
        if best is None:
            break
        left, right = best
        new = merge_sym(left, right)
        merges.append((left, right, new, int(pair_counts[best])))
        for i in list(index[best]):
            syms, c = vocab[i]
            tally(i, syms, -c)
            vocab[i][0] = _merge_word(syms, left, right, new)
            tally(i, vocab[i][0], c)
    return merges


def extend_bpe(
    df: DataFrame,
    base_merges: DataFrame,
    text_col: str = "text",
    n_new_merges: int = 20,
    min_pair_count: int = 2,
    max_vocab_rows: int = 1_000_000,
) -> DataFrame:
    """Vocabulary EXTENSION: continue Sennrich training from an existing
    merge table on a new corpus — the continued-pretraining /
    domain-adaptation move (extend a general tokenizer with
    domain-specific merges so in-domain text stops fragmenting) without
    invalidating a single existing token id: base merges keep their
    ranks verbatim, new merges append at ranks ``len(base)..``.

    Semantics are exactly "training had continued": the new corpus's
    word vocabulary is first rewritten by the base merges in rank order
    (the trainer's own state evolution), then the standard
    pair-count/argmax loop (`_pair_merge_loop`) runs for
    ``n_new_merges`` more rounds. Pinned invariant: extending on the
    SAME corpus equals training longer —
    ``extend_bpe(c, train_bpe(c, k), n) == train_bpe(c, k + n)`` row
    for row (tests/). Base rows keep their original ``pair_count``
    (a statistic of the corpus they were trained on, not this one).

    Returns the FULL extended merge table, schema-identical to
    `train_bpe` — a drop-in for `bpe_encode`, `save_tokenizer_artifact`
    and every other consumer. ``n_new_merges <= 0`` returns the base
    table unchanged (after the eager column check). Scale shape: same
    as `train_bpe` — the only corpus-scale job is the `word_counts`
    aggregate; the base table is artifact-sized by contract and the
    loop runs driver-side over the bounded vocabulary head.
    """
    spark = df.sparkSession
    if text_col not in df.columns:
        raise ValueError(
            f"extend_bpe: text_col {text_col!r} is not a column of the "
            f"input frame (has {df.columns})"
        )
    schema = (
        "merge_rank int, left string, right string, new_symbol string, "
        "pair_count bigint"
    )
    base = sorted(base_merges.collect(), key=lambda r: r["merge_rank"])
    if [r["merge_rank"] for r in base] != list(range(len(base))):
        raise ValueError(
            "extend_bpe: base_merges ranks must be contiguous from 0 "
            f"(got {[r['merge_rank'] for r in base]!r}); pass a table "
            "produced by train_bpe/extend_bpe (or loaded from a saved "
            "tokenizer artifact)"
        )
    base_rows = [
        (r["merge_rank"], r["left"], r["right"], r["new_symbol"],
         r["pair_count"])
        for r in base
    ]
    if n_new_merges <= 0:
        return spark.createDataFrame(base_rows, schema)
    rows = word_counts(df, text_col, max_vocab_rows).collect()
    vocab: list[list] = [[tuple(r["word"]) + (END,), r["n"]] for r in rows]
    # replay the base merges over the fresh vocabulary in rank order —
    # after this the (vocab, pair-count) state is exactly the trainer's
    # state after its first len(base) rounds on this corpus
    for _, left, right, _, _ in base_rows:
        for entry in vocab:
            entry[0] = _merge_word(entry[0], left, right, left + right)
    merges = _pair_merge_loop(
        vocab, n_new_merges, min_pair_count, _most_frequent_pair, operator.add
    )
    return spark.createDataFrame(
        base_rows
        + [(rank, *m) for rank, m in enumerate(merges, start=len(base_rows))],
        schema,
    )


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    counts_only: bool = False,
) -> DataFrame:
    """Tokenize documents with a learned merge table: ``(id, bpe_tokens
    array<string>, n_subword_tokens)``. Lowest-rank-first pair merging per
    word — the standard BPE inference rule, byte-identical to applying
    the training merges in order. The count column is named
    ``n_subword_tokens`` deliberately: ``add_text_features`` already
    emits an ``n_bpe_tokens`` with DIFFERENT semantics (a regex
    token-shape count), and a shared name would make joins of the two
    frames ambiguous.

    The merge table (``n_merges`` rows) collects once and ships in the
    UDF closure — a broadcast-sized model artifact, same pattern as the
    IVF centroids. The per-word merge loop is inherently imperative, so
    this is an Arrow-batched ``mapInPandas`` (the multimodal slow-path
    convention): one Python pass per document batch, no shuffle at all —
    encoding parallelizes embarrassingly with the scan.

    ``counts_only=True`` emits ``(id, n_subword_tokens)`` without
    materializing or Arrow-shipping the token arrays — consumers that
    budget on the counts (sequence packing, the tokenizer capstones)
    should use it: Spark cannot column-prune THROUGH a ``mapInPandas``,
    so the full form would build and serialize every token string (one
    per character at the zero-merge point) just to have the count read
    off and the array dropped. The memo cache then holds ints, not
    lists."""
    ranks = {
        (r["left"], r["right"]): r["merge_rank"] for r in merges.collect()
    }
    return _encode_docs(
        df,
        text_col,
        id_col,
        lambda word: _encode_word(word, ranks),
        "bpe_tokens",
        "n_subword_tokens",
        counts_only,
    )


def _encode_docs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    segment: Callable[[str], list[str]],
    tokens_col: str,
    count_col: str,
    counts_only: bool,
) -> DataFrame:
    """The one encode stage of the tokenizer family: ``(id, tokens_col
    array<string>, count_col)`` per document, each normalized word split
    by ``segment`` (the family's per-word rule with its collected model
    in the closure). Null or empty text encodes to no tokens. One
    Arrow-batched ``mapInPandas`` pass: no shuffle, scan-parallel.

    ``counts_only`` emits ``(id, count_col)`` and never builds the token
    arrays: Spark cannot column-prune THROUGH a ``mapInPandas``, so the
    full form would build and serialize every token string just to have
    the count read off and the array dropped."""
    id_type = df.schema[id_col].dataType.simpleString()
    tokens = "" if counts_only else f"{tokens_col} array<string>, "
    out_schema = f"{id_col} {id_type}, {tokens}{count_col} bigint"
    # Zipf-head memoization cap: per-task distinct words are bounded by the
    # split's contents, not the corpus, so an uncapped dict could reach
    # hundreds of MB in a Python worker on wide-vocabulary partitions; the
    # head of the frequency curve is where virtually all hits live anyway.
    cache_max = 262_144

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the memo holds token lists, or their lengths when counts_only;
        # `doc += enc` then extends a list or adds an int alike
        cache: dict = {}
        for pdf in batches:
            docs = []
            for text in pdf["__norm"]:
                doc = 0 if counts_only else []
                if text:
                    for word in text.split(" "):
                        if not word:
                            continue
                        enc = cache.get(word)
                        if enc is None:
                            enc = segment(word)
                            if counts_only:
                                enc = len(enc)
                            if len(cache) < cache_max:
                                cache[word] = enc
                        doc += enc
                docs.append(doc)
            out = {id_col: pdf[id_col]}
            if counts_only:
                out[count_col] = docs
            else:
                out[tokens_col] = docs
                out[count_col] = [len(t) for t in docs]
            yield pd.DataFrame(out)

    src = df.select(F.col(id_col), norm_text_col(text_col).alias("__norm"))
    return src.mapInPandas(encode, out_schema)


def vocab_coverage_curve(
    df: DataFrame, sizes: list[int], text_col: str = "text"
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocabulary size,
    what fraction of the corpus's word OCCURRENCES the top-N most
    frequent words cover — the standard plot behind "how big should the
    tokenizer vocabulary be" (the knee of this curve is where adding
    vocab stops buying compression). Word stream and tie-breaks are the
    shared `word_counts` construction (count desc, word asc), so the
    curve describes exactly the vocabulary the tokenizer trainers see.

    Output: ``(vocab_size, covered_tokens, total_tokens, coverage)``,
    one row per distinct requested size, coverage rounded to 6 dp (0.0
    on an empty corpus).

    Scale shape: the total is one map-side ``sum(size(words))``
    aggregate (no explode shuffle); the head is `word_counts`'
    TakeOrderedAndProject (per-partition heaps, never a full vocabulary
    sort); ranking and the size join then run on a ≤ max(sizes)-row
    frame. The single-partition window is bounded by max(sizes) BY
    CONSTRUCTION — the corpus never meets it."""
    if not sizes:
        raise ValueError("sizes must be a non-empty list of vocab sizes")
    for s in sizes:
        if int(s) < 1:
            raise ValueError(f"vocab sizes must be >= 1, got {s}")
    if text_col not in df.columns:
        raise ValueError(
            f"vocab_coverage_curve: text_col {text_col!r} is not a column "
            f"of the input frame (has {df.columns})"
        )
    from pyspark.sql.window import Window

    distinct_sizes = sorted({int(s) for s in sizes})
    top = word_counts(df, text_col, max_vocab_rows=max(distinct_sizes))
    ranked = top.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.col("n").desc(), F.col("word")))
        .alias("__rn"),
    )
    total = (
        df.where(F.col(text_col).isNotNull())
        .agg(
            F.coalesce(
                F.sum(F.size(norm_words_col(text_col))), F.lit(0)
            )
            .cast("bigint")
            .alias("total_tokens")
        )
    )
    sizes_df = df.sparkSession.createDataFrame(
        [(s,) for s in distinct_sizes], "vocab_size bigint"
    )
    covered = (
        sizes_df.join(
            F.broadcast(ranked), F.col("__rn") <= F.col("vocab_size"), "left"
        )
        .groupBy("vocab_size")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("covered_tokens"))
    )
    return covered.crossJoin(F.broadcast(total)).select(
        "vocab_size",
        "covered_tokens",
        "total_tokens",
        F.when(
            F.col("total_tokens") > 0,
            F.round(
                F.col("covered_tokens").cast("double")
                / F.col("total_tokens").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("coverage"),
    )
