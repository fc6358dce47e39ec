"""Text-analysis operators over document tables (north-star surface —
SURVEY.md notes the reference has no string functions at all;
these are the operators a training-data pipeline needs at 100 TB).

Everything is built-in JVM expressions over the ``documents`` schema
(doc_id, text, lang, source, n_chars): language-ID by stopword voting,
quality scoring, token counting (whitespace + BPE-ish regex), and
deterministic document fingerprints. No UDFs — at 100 TB these run inside
whole-stage codegen directly against the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.hashing import (
    md5_int64,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.text import (
    norm_text_col,
    norm_words_col,
    tokens_col,
)

# Tiny per-language stopword sets for the n-gram/stopword-voting language
# heuristic. Deliberately small + frozen: the operator's contract is
# deterministic scoring, not linguistic accuracy.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de": ("der", "die", "und", "das", "in", "von", "zu", "mit", "ist", "den"),
    "fr": ("le", "la", "et", "les", "des", "en", "un", "du", "une", "est"),
}

# One BPE-ish word/number/punct token pattern, shared by Spark and the
# DuckDB oracle (same regex dialect subset).
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def _stopword_hits(words: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(words, sw))


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality/statistics features in ONE projection.

    Columns added: n_tokens (whitespace), n_bpe_tokens (regex), avg_token_len,
    punct_ratio, digit_ratio, space_ratio, quality_score (deterministic
    heuristic in [0,1]).
    """
    # NOT fanned out (`dedup._fan_out_small_scan`): with the single-
    # reference argmax in language_id the scoring battery is ~0.2 ms/row,
    # and the A/B showed the extra exchange costs more than the
    # parallelism buys at the 1-task-scan scale (0.87 s vs 1.59 s for the
    # filtered clean stage at sf0.1) — the doctrine's cheap-path case.
    # STAGED projections (see language_id): each regex/split runs ONCE per
    # row in the counts stage instead of being re-inlined into every ratio
    # and again into the quality formula (~6-10 redundant regexp passes in
    # the single-select form).
    t = F.col(text_col)
    counts = df.select(
        "*",
        F.length(t).cast("double").alias("__n_chars"),
        F.size(tokens_col(t)).cast("bigint").alias("__n_tokens"),
        F.regexp_count(t, F.lit(BPE_TOKEN_PATTERN)).cast("bigint").alias("__n_bpe"),
        F.length(F.regexp_replace(t, "[A-Za-z0-9 ]", "")).cast("double").alias("__n_punct"),
        F.length(F.regexp_replace(t, "[^0-9]", "")).cast("double").alias("__n_digit"),
        F.length(F.regexp_replace(t, "[^ ]", "")).cast("double").alias("__n_space"),
    )
    n_chars = F.col("__n_chars")
    n_tokens = F.col("__n_tokens")
    ratios = counts.select(
        "*",
        F.when(n_tokens > 0, (n_chars - F.col("__n_space")) / n_tokens)
        .otherwise(0.0)
        .alias("__avg_tok"),
        F.when(n_chars > 0, F.col("__n_punct") / n_chars).otherwise(0.0).alias("__punct_ratio"),
        F.when(n_chars > 0, F.col("__n_digit") / n_chars).otherwise(0.0).alias("__digit_ratio"),
        F.when(n_chars > 0, F.col("__n_space") / n_chars).otherwise(0.0).alias("__space_ratio"),
    )
    avg_tok = F.col("__avg_tok")
    # quality: long-enough docs with word-like tokens and low punct/digit load
    quality = (
        F.least(n_tokens.cast("double") / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.when((avg_tok >= 3) & (avg_tok <= 10), 0.3).otherwise(0.0)
        + F.greatest(F.lit(0.0), F.lit(0.15) - F.col("__punct_ratio")) * 2.0 / 3.0 * 1.0
        + F.greatest(F.lit(0.0), F.lit(0.2) - F.col("__digit_ratio"))
    )
    return ratios.select(
        "*",
        n_tokens.alias("n_tokens"),
        F.col("__n_bpe").alias("n_bpe_tokens"),
        F.round(avg_tok, 4).alias("avg_token_len"),
        F.round("__punct_ratio", 4).alias("punct_ratio"),
        F.round("__digit_ratio", 4).alias("digit_ratio"),
        F.round("__space_ratio", 4).alias("space_ratio"),
        # floor-based half-up rounding: quality sums decimal fractions (0.4,
        # 0.3, ...) that frequently land on exact .XXXX5 doubles where
        # engines' round() implementations disagree; floor(x*1e4 + 0.5) is
        # plain double math and therefore bit-identical everywhere.
        # NULL text scores 0.0 outright — least()/greatest() ignore null
        # operands, so the formula would otherwise sum the "no penalty"
        # branches to 0.7 for a document with no content at all.
        F.when(
            t.isNotNull(), F.floor(quality * 10000 + F.lit(0.5)) / 10000
        )
        .otherwise(0.0)
        .alias("quality_score"),
    ).drop(
        "__n_chars", "__n_tokens", "__n_bpe", "__n_punct", "__n_digit",
        "__n_space", "__avg_tok", "__punct_ratio", "__digit_ratio", "__space_ratio"
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-voting language ID: argmax over per-language distinct
    stopword hits, deterministic tie-break toward the alphabetically first
    language code, 'und' (undetermined) when nothing hits.

    Adds ``lang_pred`` plus per-language hit counts ``hits_<lang>``.
    """
    # STAGED projections, not one giant select: inlining the tokenization
    # into every hit column and again into the argmax chain repeats the
    # split+array_distinct ~12x per row (measured 4.6s for 5k docs at
    # sf0.1 — the whole scoring stage). Aliasing words/hits in their own
    # projections makes each computed once; CollapseProject keeps
    # non-cheap multiply-referenced aliases staged.
    langs = sorted(STOPWORDS)
    with_words = df.select(
        "*", F.array_distinct(tokens_col(F.lower(F.col(text_col)))).alias("__words")
    )
    with_hits = with_words.select(
        "*",
        *[
            _stopword_hits(F.col("__words"), lang).cast("bigint").alias(f"hits_{lang}")
            for lang in langs
        ],
    ).drop("__words")
    # Argmax via array_max over (hits, rank) structs — each ``hits_<lang>``
    # referenced exactly ONCE. The earlier nested when-chain embedded the
    # running best (and through it every previous language's hit count)
    # twice per level, so whenever the optimizer inlined the staged hits
    # aliases — predicate pushdown through these projections substitutes
    # aliases unconditionally — the tree exploded to ~11 array_intersect
    # evaluations per language per row (measured 44 intersect + 49 split
    # calls in the q56-clean filter plan, ~4 s/5k docs single-task).
    # Ranks DESCEND alphabetically (first language gets the largest), so
    # struct max = max hits with ties to the alphabetically first
    # language; a sentinel (h=0, rank=n) beats all-zero (and, via
    # null-first struct ordering, all-null) hit rows, encoding the 'und'
    # fallback without ever re-reading the hits field.
    n = len(langs)
    cands = F.array(
        F.struct(
            F.lit(0).cast("bigint").alias("h"), F.lit(n).alias("nr")
        ),
        *[
            F.struct(
                F.col(f"hits_{lang}").alias("h"),
                F.lit(n - 1 - i).alias("nr"),
            )
            for i, lang in enumerate(langs)
        ],
    )
    lookup = F.array(*[F.lit(l) for l in [*reversed(langs), "und"]])
    pred = F.element_at(lookup, F.array_max(cands)["nr"] + F.lit(1))
    return with_hits.select("*", pred.alias("lang_pred"))


def tfidf_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus TF-IDF, fully declarative: (id, term, tf, tfidf) with
    smooth idf = ln((N+1)/(df+1)) + 1.

    Plan shape at scale: one explode (fan-out = tokens/doc), two hash
    aggregates with map-side partial combine (tf over (doc, term), df over
    term), one scalar job for N, then a join on ``term``. The term
    dimension is heavy-tailed ("the" collides) — AQE skew-join splitting
    handles the hot terms; the idf side is only |vocab| rows, so Catalyst
    broadcasts it when it fits. No UDFs anywhere.

    Tokenization (lower + split on non-alphanumerics, drop empties) is
    regex-dialect-portable, so the whole operator is DuckDB
    oracle-comparable (q50).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != "",
    )
    terms = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    n_docs = df.select(id_col).distinct().count()
    idf = (
        F.log((F.lit(float(n_docs) + 1.0)) / (F.col("dfreq") + F.lit(1.0)))
        + F.lit(1.0)
    )
    return tf.join(dfreq, "term").select(
        id_col,
        "term",
        "tf",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )


def add_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic document fingerprint table ``(id, fp_exact,
    fp_minshingle)``:

    * ``fp_exact``   — md5-int64 of the whitespace-normalized lowercased text
      (exact-dup key; oracle-reproducible).
    * ``fp_minshingle`` — min md5-int64 over the doc's word k-shingles
      (a 1-permutation MinHash: equal for docs sharing their lowest shingle).

    Same shuffle-free shingling as ``dedup.shingle_table`` — explode the
    k-gram start indices and build each shingle with ``slice``+``concat_ws``
    inside one whole-stage-codegen span. The earlier
    ``array_min(transform(...))`` lambda-HOF form computed the identical
    value but evaluated interpreted, measured ~3.5x slower. The per-shingle
    md5 is folded map-side by the partial ``min`` aggregate, so only the
    16-byte ``(id, fp)`` pairs ever reach the shuffle — at any corpus scale
    the exchanged bytes are O(docs), never O(shingles). A null/empty text
    keeps its row with null fingerprints (matching the oracle's semantics
    over NULL token arrays); distinct-ing shingles first would be wasted
    work under ``min``.
    """
    norm = norm_text_col(text_col)
    base = df.select(
        F.col(id_col),
        md5_int64(norm).alias("fp_exact"),
        F.split(F.trim(norm), r"\s+").alias("__w"),
    )
    # one index row even for null text so the doc survives with null fps
    idx = F.explode(
        F.coalesce(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - (k - 1), F.lit(1))),
            F.array(F.lit(1)),
        )
    )
    sh = F.when(
        F.col("__w").isNotNull(), F.concat_ws(" ", F.slice("__w", F.col("__i"), k))
    )
    return (
        base.select(id_col, "fp_exact", "__w", idx.alias("__i"))
        .select(id_col, "fp_exact", sh.alias("__sh"))
        .groupBy(id_col, "fp_exact")
        .agg(F.min(md5_int64(F.col("__sh"))).alias("fp_minshingle"))
    )


def repetition_scores(
    df: DataFrame, text_col: str = "text", n: int = 5, id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition: the fraction of word n-grams that are
    repeats of an earlier n-gram in the same doc — the standard
    boilerplate/degenerate-text quality gate (docs full of repeated
    paragraphs or looping phrases score high and get filtered before
    training).

    Returns ``(id, n_grams, uniq_grams, dup_gram_frac)`` with
    ``dup_gram_frac = 1 - uniq/total`` rounded to 6dp. Docs shorter than
    ``n`` words contribute their full token string as the one n-gram
    (scoring 0.0), mirroring the shingle convention; null-text docs keep a
    row with null counts.

    Same codegen explode(sequence)+slice n-gram build as
    ``dedup.shingle_table`` but WITHOUT the distinct — the whole point is
    counting duplicates — so the only shuffle is the map-side-combinable
    per-doc aggregate: count + approx-free countDistinct over grams that
    never leave their doc's group. O(tokens) work, no inverted index.
    """
    norm = norm_text_col(text_col)
    base = df.select(
        F.col(id_col), F.split(F.trim(norm), r"\s+").alias("__w")
    )
    idx = F.explode(
        F.coalesce(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - (n - 1), F.lit(1))),
            F.array(F.lit(1)),
        )
    )
    gram = F.when(
        F.col("__w").isNotNull(), F.concat_ws(" ", F.slice("__w", F.col("__i"), n))
    )
    return (
        base.select(id_col, "__w", idx.alias("__i"))
        .select(id_col, gram.alias("__g"))
        .groupBy(id_col)
        .agg(
            F.count("__g").alias("n_grams"),
            F.count_distinct(F.col("__g")).alias("uniq_grams"),
        )
        .select(
            id_col,
            "n_grams",
            "uniq_grams",
            F.when(
                F.col("n_grams") > 0,
                F.round(1 - F.col("uniq_grams") / F.col("n_grams"), 6),
            ).alias("dup_gram_frac"),
        )
    )


# Redaction patterns shared verbatim with the DuckDB oracle — a portable
# regex subset (character classes, bounded repetition, alternation; no
# lookaround) that Java regex and RE2 interpret identically.
PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}",
    "ipv4": "([0-9]{1,3}[.]){3}[0-9]{1,3}",
}


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub PII-shaped spans from a document table before training:
    ``(id, clean_text, n_email, n_ipv4, n_redactions)`` with each matched
    span replaced by a typed placeholder token (``<EMAIL>``, ``<IP>``).

    Counting happens on the ORIGINAL text (regexp_count), redaction by
    chained regexp_replace — all JVM codegen expressions inside the scan
    projection; zero shuffles, trivially scan-parallel at any corpus size.
    Counts are therefore raw-text pattern frequencies, not inserted-token
    tallies: a span matching two patterns (an IPv4-shaped email local part
    like ``1.2.3.4@example.com``) is counted by both but consumed by the
    first replacement, so ``n_redactions`` can exceed the number of
    placeholder tokens in ``clean_text``.
    Patterns are deliberately a portable regex subset so the oracle
    replicates the behavior byte-for-byte; swap in jurisdiction-specific
    pattern packs via ``PII_PATTERNS`` at deployment.
    """
    t = F.col(text_col)
    counts = df.select(
        F.col(id_col),
        t,
        F.regexp_count(t, F.lit(PII_PATTERNS["email"])).cast("bigint").alias("n_email"),
        F.regexp_count(t, F.lit(PII_PATTERNS["ipv4"])).cast("bigint").alias("n_ipv4"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>"),
        PII_PATTERNS["ipv4"],
        "<IP>",
    )
    return counts.select(
        id_col,
        clean.alias("clean_text"),
        "n_email",
        "n_ipv4",
        (F.col("n_email") + F.col("n_ipv4")).alias("n_redactions"),
    )


def strip_markup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Strip HTML-ish markup from crawled text: ``(id, clean_text,
    n_tags)``.

    Three chained regex passes, all in one codegen scan projection (zero
    shuffles): drop <script>/<style> blocks wholesale ((?s) dotall,
    non-greedy body), remove remaining tags, collapse the whitespace the
    removals leave behind. ``n_tags`` counts tags in the RAW text — the
    usual boilerplate-density signal (a high tag:text ratio marks nav/chrome
    pages worth dropping before training). Patterns stay in the regex
    subset Java and RE2 interpret identically, so the oracle replicates the
    output byte-for-byte.
    """
    t = F.col(text_col)
    no_blocks = F.regexp_replace(
        t, r"(?s)<(script|style)[^>]*>.*?</(script|style)>", " "
    )
    no_tags = F.regexp_replace(no_blocks, r"<[^>]+>", " ")
    clean = F.trim(F.regexp_replace(no_tags, r"\s+", " "))
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(r"<[^>]+>")).cast("bigint").alias("n_tags"),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style LM quality signal: per-document average bigram
    cross-entropy ``(id, n_bigrams, avg_neg_logprob)`` under an add-one-
    smoothed bigram model — low means fluent/in-distribution text, high
    means gibberish, boilerplate soup, or out-of-domain noise. CCNet uses
    a pretrained Wikipedia KenLM; with no model artifacts in the engine's
    environment, the model here is trained IN-PLAN on the scored corpus
    itself — self-perplexity, which still separates degenerate from fluent
    documents because smoothing penalizes rare transitions.

    ``P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)`` with ``V`` the corpus
    vocabulary size; ``avg_neg_logprob = round(avg(-ln P), 4)`` over the
    doc's bigrams. Docs with fewer than 2 tokens (or null text) emit no
    row — they have no bigrams to judge; gate them on length instead.

    Scale shape: training is two hash aggregates over the corpus's
    token stream (map-side combinable; V is a 1-row broadcast); scoring
    joins each doc bigram against the count tables on the token keys —
    shuffle-hash on md5-uniform-ish word keys, no sorts, no windows, no
    UDFs. Unseen words/bigrams cost nothing extra: the left joins
    coalesce their counts to 0 and smoothing covers them.
    """
    spark_norm = F.split(norm_text_col(text_col), r"\s+")

    def bigrams(frame: DataFrame) -> DataFrame:
        base = frame.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("doc"), spark_norm.alias("__w")
        ).where(F.size("__w") >= 2)
        idx = F.explode(F.sequence(F.lit(0), F.size("__w") - 2))
        return base.select("doc", "__w", idx.alias("__i")).select(
            "doc",
            F.element_at("__w", F.col("__i") + 1).alias("w1"),
            F.element_at("__w", F.col("__i") + 2).alias("w2"),
        )

    # ONE materialization of the bigram stream feeds everything downstream
    # — uni, bi, vocab, and the scoring probe itself; without it the
    # tokenize+explode stage, the dominant cost at corpus scale,
    # re-executes once per consumer.
    doc_bi = bigrams(df).localCheckpoint(eager=False)
    uni = doc_bi.groupBy("w1").agg(F.count("*").alias("__c1"))
    bi = doc_bi.groupBy("w1", "w2").agg(F.count("*").alias("__c2"))
    # V counts DISTINCT words anywhere in the corpus (both bigram
    # slots), matching the usual vocabulary definition — derived from the
    # ALREADY-AGGREGATED count tables (every w1 survives into uni and
    # every w2 into bi), never from a fresh corpus scan
    vocab = (
        uni.select(F.col("w1").alias("w"))
        .unionByName(bi.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("__V"))
    )
    scored = (
        doc_bi.join(bi.hint("shuffle_hash"), ["w1", "w2"], "left")
        .join(uni.hint("shuffle_hash"), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc",
            (
                -F.log(
                    (F.coalesce("__c2", F.lit(0)) + 1)
                    / (F.coalesce("__c1", F.lit(0)) + F.col("__V"))
                )
            ).alias("__nlp"),
        )
    )
    return scored.groupBy("doc").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("__nlp"), 4).alias("avg_neg_logprob"),
    ).select(F.col("doc").alias(id_col), "n_bigrams", "avg_neg_logprob")


# The 8 required-stopword list from the Gopher paper (Rae et al. 2021,
# A.1.1 "quality filtering"): a doc must contain at least 2 of these to
# pass — a cheap English-fluency proxy that kills keyword-stuffed pages.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopwords: int = 2,
    passthrough: bool = False,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021 §A.1.1 — the rule
    set MassiveWeb/Gopher filtered on, reused near-verbatim by RefinedWeb
    and Dolma): per-doc structural metrics plus the canonical thresholds,
    as ONE codegen projection — no shuffle, no UDF, no second scan.

    Rules (doc fails → filtered before training):

    * word count in ``[min_words, max_words]``
    * mean word length in [3, 10]
    * symbol-to-word ratio (``#``, ``...``, ``…``) ≤ 0.1
    * ≤ 90% of lines start with a bullet (``-``/``*``/``•``) — the paper
      removes "more than 90%", so exactly 0.9 survives, matching the
      ellipsis rule's boundary handling
    * ≤ 30% of lines end with an ellipsis
    * ≥ 80% of words contain at least one alphabetic character
    * ≥ ``min_stopwords`` (Gopher: 2) distinct hits from the 8-word
      required-stopword list

    Returns ``(id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
    n_req_stopwords, keep)``; ratios rounded to 4 dp and every threshold
    compared against the ROUNDED value so an external SQL engine lands on
    the identical keep bit. Null/empty docs keep a row (zero counts,
    ``keep=false``) — like the other scorers this is a projection, never a
    silent filter. ``passthrough=True`` retains every input column
    alongside the rule columns (the `c4_rules` convention) so a pipeline
    can gate with ``.where("keep")`` instead of a semi-join that consumes
    the upstream lineage twice; the caller owns avoiding collisions with
    the eight output columns.

    At 100 TB this is the cheapest gate in the pipeline — pure per-row
    expressions inside whole-stage codegen, so it belongs FIRST in a
    corpus-prep plan, ahead of anything that shuffles."""
    nn = F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    # filter boundary empties instead of trim+split: F.trim strips only
    # SPACES, so a leading/trailing tab or newline would otherwise leave
    # phantom "" tokens that inflate n_words and dilute alpha_word_frac
    w = F.filter(
        F.when(nn, F.split(F.col(text_col), r"\s+")), lambda x: x != ""
    )
    lines = F.when(nn, F.split(F.col(text_col), "\n"))
    n_words = F.coalesce(F.size(w), F.lit(0)).cast("bigint")
    n_lines = F.greatest(F.coalesce(F.size(lines), F.lit(0)), F.lit(1))
    non_space_chars = F.when(
        nn, F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    ).otherwise(F.lit(0))
    n_symbols = F.coalesce(
        F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.|…")), F.lit(0)
    )
    n_bullet = F.coalesce(
        F.size(F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))), F.lit(0)
    )
    n_ellipsis = F.coalesce(
        F.size(F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))), F.lit(0)
    )
    n_alpha = F.coalesce(
        F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))), F.lit(0)
    )
    # reuse the word array (array_intersect already dedups) instead of a
    # third full-text regex split — this battery's cost IS the splits
    stop_hits = F.coalesce(
        F.size(
            F.array_intersect(
                F.transform(w, lambda x: F.lower(x)),
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            )
        ),
        F.lit(0),
    ).cast("bigint")

    safe_w = F.greatest(n_words, F.lit(1))
    head = [F.col(c) for c in df.columns] if passthrough else [F.col(id_col)]
    m = df.select(
        *head,
        n_words.alias("n_words"),
        F.round(non_space_chars / safe_w, 4).alias("mean_word_len"),
        F.round(n_symbols / safe_w, 4).alias("symbol_word_ratio"),
        F.round(n_bullet / n_lines, 4).alias("bullet_line_frac"),
        F.round(n_ellipsis / n_lines, 4).alias("ellipsis_line_frac"),
        F.round(n_alpha / safe_w, 4).alias("alpha_word_frac"),
        stop_hits.alias("n_req_stopwords"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("bullet_line_frac") <= 0.9)
        & (F.col("ellipsis_line_frac") <= 0.3)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("n_req_stopwords") >= min_stopwords)
    )
    return m.select("*", keep.alias("keep"))


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2 — the filter that
    built the corpus T5 trained on): line-level REWRITING plus page-level
    gates, the complement of `gopher_rules`' score-only battery.

    * keep only lines that end in a terminal punctuation mark
      (``. ! ? " '``)
    * keep only lines with ≥ ``min_words_per_line`` words (paper: 3)
    * drop any line containing the word "javascript" (case-insensitive)
    * drop the whole page if it contains "lorem ipsum" (case-insensitive)
      or a ``{`` (code)
    * drop the page if the cleaned text has < ``min_sentences`` sentences
      (paper: 5; counted as ``[.!?]`` occurrences in the kept lines)

    Returns ``(id, clean_text, n_lines, n_lines_kept, n_sentences,
    keep)``; ``clean_text`` is the kept lines rejoined with newlines (the
    rewritten page a downstream tokenizer would consume), whether or not
    the page survives — like every scorer here, a projection, not a
    silent filter. Null docs keep a zero row.

    One codegen projection per row (array lambdas over the line split —
    the lambda operates on the BOUND line element, so there is no
    re-inlined-source blowup), no shuffle, no UDF: at 100 TB this runs at
    scan speed, which is why C4-style gates go first in a pipeline.
    """
    nn = F.col(text_col).isNotNull()
    lines = F.when(nn, F.split(F.col(text_col), "\n"))
    kept = F.filter(
        lines,
        lambda line: line.rlike(r"""[.!?"']\s*$""")
        & (
            F.size(
                F.filter(F.split(line, r"\s+"), lambda x: x != "")
            )
            >= min_words_per_line
        )
        & ~F.lower(line).contains("javascript"),
    )
    clean = F.coalesce(F.array_join(kept, "\n"), F.lit(""))
    page_bad = F.coalesce(
        F.lower(F.col(text_col)).contains("lorem ipsum")
        | F.col(text_col).contains("{"),
        F.lit(True),
    )
    m = df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.coalesce(F.size(lines), F.lit(0)).cast("bigint").alias("n_lines"),
        F.coalesce(F.size(kept), F.lit(0)).cast("bigint").alias("n_lines_kept"),
        F.coalesce(
            F.regexp_count(clean, F.lit(r"[.!?]")), F.lit(0)
        ).cast("bigint").alias("n_sentences"),
        page_bad.alias("__bad"),
    )
    return m.select(
        id_col,
        "clean_text",
        "n_lines",
        "n_lines_kept",
        "n_sentences",
        (~F.col("__bad") & (F.col("n_sentences") >= min_sentences)).alias("keep"),
    )


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    passthrough: bool = False,
) -> DataFrame:
    """Gopher's repetition-signal battery (Rae et al. 2021 §A.1.1, the
    table of duplicate-text filters; reused by RefinedWeb/Dolma) — the
    char-coverage complement of `repetition_scores`' single dup-gram
    fraction:

    * ``dup_line_frac``        — duplicated lines / lines (≤ 0.30)
    * ``dup_line_char_frac``   — chars in duplicate line OCCURRENCES
                                 beyond the first / total chars (≤ 0.20)
    * ``top_2gram_char_frac``  — chars covered by the most frequent word
                                 2-gram's occurrences / total (≤ 0.20);
                                 deterministic top-1: (count desc, gram)
    * ``dup_5gram_char_frac``  — chars in 5-grams occurring >1 time /
                                 total (≤ 0.15)

    Char coverage for n-grams is the standard approximation every public
    implementation uses (occurrences × gram length, capped at 1.0) —
    overlapping occurrences make exact coverage a span-union problem that
    buys nothing for a threshold filter. ``keep`` compares ROUNDED (4 dp)
    values; null/whitespace docs keep a zero row with keep=false.

    Plan: three per-doc aggregates (line counts, 2-gram top-1, 5-gram
    dup mass), each one explode + map-side-combinable groupBy shuffled on
    the doc id, joined back to the doc skeleton — no windows over raw
    rows, no UDFs, no cross-doc state, so the whole battery scales with
    the token count like the shingle family. (Two fused single-Generate
    variants were measured 15-20% SLOWER locally — see the in-body
    comment and PERF.md.)

    ``passthrough=True`` retains every input column alongside the metric
    columns (the `c4_rules`/`gopher_rules` convention), carried through
    the doc skeleton — so a pipeline gates with ``.where("keep")``
    instead of a semi-join back to the input (one fewer doc-keyed join,
    and the input lineage is consumed once)."""
    from pyspark.sql.window import Window

    nn = F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
    extras = (
        [c for c in df.columns if c not in (id_col, text_col)]
        if passthrough
        else []
    )
    base = df.where(nn).select(
        F.col(id_col).alias("doc"),
        F.col(text_col).alias("__t"),
        F.length(text_col).alias("__chars"),
        *extras,
    )
    skel_carry = (["__t", *extras]) if passthrough else []
    skel = base.select(
        "doc", F.greatest("__chars", F.lit(1)).alias("__chars"), *skel_carry
    )

    # line duplication
    ln = base.select("doc", F.explode(F.split("__t", "\n")).alias("line"))
    line_stats = (
        ln.groupBy("doc", "line")
        .agg(F.count("*").alias("c"))
        .groupBy("doc")
        .agg(
            F.sum("c").alias("__n_lines"),
            F.count("*").alias("__n_distinct"),
            F.sum(
                F.when(F.col("c") > 1, (F.col("c") - 1) * F.length("line")).otherwise(0)
            ).alias("__dup_line_chars"),
        )
    )

    # Two independent gram streams, one per size. A fused single-Generate
    # variant was built and measured twice (r7, PERF.md "q86 gram-stage
    # fusion"): both the tagged-struct-explode form and the
    # (doc, g2, g5)-keyed form (a 5-gram determines its leading 2-gram)
    # lost 15-20% locally — the lazy-checkpoint materialization of the
    # corpus-sized count frame costs more than the scan+split it saves,
    # and without the checkpoint the fused Generate re-executes per
    # consumer anyway. Kept the two-stream shape: each stream is one
    # explode + one map-side-combinable groupBy, nothing grows faster
    # than the token count. `norm_words_col` (not a raw split of the
    # normalized text) keeps boundary tabs/newlines from minting phantom
    # '' tokens that the oracle's list_filter drops.
    def gram_rows(k: int):
        b = base.select("doc", norm_words_col("__t").alias("__w")).where(
            F.size("__w") >= 1
        )
        idx = F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("__w") - (k - 1), F.lit(1)))
        )
        return (
            b.select("doc", "__w", idx.alias("__i"))
            .select(
                "doc",
                F.concat_ws(" ", F.slice("__w", F.col("__i"), k)).alias("g"),
            )
            .where(F.col("g") != "")
        )

    top2 = (
        gram_rows(2)
        .groupBy("doc", "g")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(F.desc("c"), F.asc("g"))
            ),
        )
        .where(F.col("__rn") == 1)
        .select("doc", (F.col("c") * F.length("g")).alias("__top2_chars"))
    )
    dup5 = (
        gram_rows(5)
        .groupBy("doc", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc")
        .agg(
            F.sum(
                F.when(F.col("c") > 1, F.col("c") * F.length("g")).otherwise(0)
            ).alias("__dup5_chars")
        )
    )

    carry_out = (
        [F.col("__t").alias(text_col), *[F.col(c) for c in extras]]
        if passthrough
        else []
    )
    m = (
        skel.join(line_stats, "doc", "left")
        .join(top2, "doc", "left")
        .join(dup5, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            *carry_out,
            F.round(
                (F.col("__n_lines") - F.col("__n_distinct")) / F.col("__n_lines"), 4
            ).alias("dup_line_frac"),
            F.round(
                F.coalesce(F.col("__dup_line_chars"), F.lit(0)) / F.col("__chars"), 4
            ).alias("dup_line_char_frac"),
            F.round(
                F.least(
                    F.coalesce(F.col("__top2_chars"), F.lit(0)) / F.col("__chars"),
                    F.lit(1.0),
                ),
                4,
            ).alias("top_2gram_char_frac"),
            F.round(
                F.least(
                    F.coalesce(F.col("__dup5_chars"), F.lit(0)) / F.col("__chars"),
                    F.lit(1.0),
                ),
                4,
            ).alias("dup_5gram_char_frac"),
        )
    )
    keep = (
        (F.col("dup_line_frac") <= 0.3)
        & (F.col("dup_line_char_frac") <= 0.2)
        & (F.col("top_2gram_char_frac") <= 0.2)
        & (F.col("dup_5gram_char_frac") <= 0.15)
    )
    scored = m.select("*", keep.alias("keep"))
    zero_carry = (
        [F.col(text_col), *[F.col(c) for c in extras]] if passthrough else []
    )
    zeros = df.where(~F.coalesce(nn, F.lit(False))).select(
        F.col(id_col),
        *zero_carry,
        F.lit(0.0).alias("dup_line_frac"),
        F.lit(0.0).alias("dup_line_char_frac"),
        F.lit(0.0).alias("top_2gram_char_frac"),
        F.lit(0.0).alias("dup_5gram_char_frac"),
        F.lit(False).alias("keep"),
    )
    return scored.unionByName(zeros)


def calibrate_scores(
    df: DataFrame,
    group_col: str,
    score_col: str,
    out_col: str = "score_pct",
) -> DataFrame:
    """Per-domain percentile calibration of a quality signal: within each
    ``group_col`` stratum, replace the raw score with its percentile rank
    ``(rank − 1) / (non-null scores − 1)`` in [0, 1]. Raw quality scores
    are not comparable ACROSS domains (a mid-tier web doc outscores a
    top-tier forum post on absolute features); "keep the top 30% of each
    domain" — the FineWeb-style per-domain threshold — needs exactly this
    rank, not the raw value.

    Deterministic and oracle-portable: ties share a percentile (``rank``
    over score ascending, not ``row_number`` — equal evidence gets equal
    treatment and no hash tiebreak is needed), null scores keep their row
    with a NULL percentile (ranked NULLS LAST so they never perturb the
    scored ranks, and excluded from the denominator), and a single-score
    group calibrates to 0.0. Output = the input plus ``out_col`` rounded
    to 6 dp.

    Scale shape: ONE exchange (hash partition on the group) feeding one
    window sort — the grouped-aggregate shape; skewed domains are single
    fat partitions handled by AQE."""
    for need, what in ((group_col, "group_col"), (score_col, "score_col")):
        if need not in df.columns:
            raise ValueError(
                f"calibrate_scores: {what} {need!r} is not a column of the "
                f"input frame (has {df.columns})"
            )
    if out_col in df.columns:
        raise ValueError(
            f"calibrate_scores: out_col {out_col!r} already exists on the "
            "input frame; pass a different out_col"
        )
    from pyspark.sql.window import Window

    # NaN firewall (the curriculum_stages rule): a NaN score is "no
    # evidence", not "best in domain" — fold it into the null rule so it
    # gets a NULL percentile instead of out-ranking every real score
    s = F.when(~F.isnan(F.col(score_col).cast("double")), F.col(score_col))
    w = Window.partitionBy(group_col).orderBy(s.asc_nulls_last())
    n = F.count(s).over(Window.partitionBy(group_col))
    rk = F.rank().over(w)
    pct = F.when(
        s.isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.when(n > 1, F.round((rk - 1).cast("double") / (n - 1), 6)).otherwise(
            F.lit(0.0)
        )
    )
    return df.select("*", pct.alias(out_col))


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a (small) query
    table — the retrieval scorer behind RAG passage prep and query-driven
    curation. Output ``(query_id, doc, score)`` (score rounded 6 dp),
    every (query, candidate-doc) pair that shares ≥ 1 term.

    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))`` (the non-negative Robertson
    form), ``score = Σ_t idf_t · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))``
    over the query's DISTINCT terms. Tokenization is `tfidf_scores`'
    regex-dialect-portable form (lower + split on non-alphanumerics), so
    the whole scorer is DuckDB oracle-comparable. N/avgdl count docs with
    ≥ 1 token.

    Plan shape at scale: the corpus pays ONE explode + one (doc, term)
    hash aggregate; doc lengths reuse that aggregate (sum of tf per doc).
    Everything term-keyed after that is QUERY-TERM-sized, not
    vocab-sized: the tf table is broadcast-semi-filtered on the distinct
    query terms BEFORE the document-frequency aggregate (only query
    terms' df values are ever read, and the filtered counts are
    identical for them), so df is a |query terms|-row aggregate instead
    of a 10^8-row vocabulary exchange per scoring run. The query-term
    table is tiny and broadcast; the 1-row (N, avgdl) aggregate
    broadcasts via crossJoin. No UDFs, no shuffle of anything doc-sized
    beyond the tf aggregate.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != "",
    )
    terms = docs.select(F.col(id_col).alias("doc"), F.explode(toks).alias("term"))
    tf = terms.groupBy("doc", "term").agg(
        F.count("*").cast("double").alias("tf")
    ).localCheckpoint(eager=False)
    dl = tf.groupBy("doc").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    qtoks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.col(qtext_col)), "[^a-z0-9]+"),
            lambda t: t != "",
        )
    )
    qterms = queries.select(
        F.col(qid_col).alias("query_id"), F.explode(qtoks).alias("term")
    )
    # query-term prefilter: df and the scoring join only ever consume
    # query terms, so drop every other term map-side BEFORE aggregating
    # document frequencies — the df aggregate and both term joins become
    # query-term-sized instead of vocabulary-sized
    tf_q = tf.join(
        F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
    )
    dfreq = tf_q.groupBy("term").agg(
        F.count("*").cast("double").alias("dfreq")
    )

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dfreq") + F.lit(0.5))
        / (F.col("dfreq") + F.lit(0.5))
    )
    norm = F.col("tf") * (F.lit(k1) + 1.0) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf_q.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc")
        .agg(F.round(F.sum(idf * norm), 6).alias("score"))
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k BM25 retrieval per query: rank on the ROUNDED score (6 dp)
    with doc-id ascending as the tiebreak, so exact-duplicate documents
    (equal scores by construction) and near-ties order identically in
    any engine. One WindowGroupLimit pass over the (small) scored
    table — the candidate set is only docs sharing a term with a query."""
    from pyspark.sql.window import Window

    scored = bm25_scores(docs, queries, id_col, text_col, qid_col, qtext_col, k1, b)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc", "score")
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Lexical near-duplicate pairs by TF-IDF cosine — the sparse-vector
    sibling of the embedding cosine path (`similarity.near_dup_pairs`)
    and the weighted refinement of `dedup.jaccard_pairs`: candidate pairs
    share ≥ 1 term, similarity is Σ w_a·w_b / (‖a‖·‖b‖) over
    `tfidf_scores` weights. Output ``(doc_a, doc_b, cosine)`` rounded
    6 dp, filtered ≥ ``threshold``.

    ``max_doc_freq`` drops stop-terms (doc frequency above the cap)
    BEFORE norms and the self-join — the jaccard-family discipline:
    weights, norms, and cosine all live in the capped vocabulary space
    (self-consistent semantics, bounded join fan-out; an uncapped run's
    fan-out is the hottest term's doc-frequency squared).

    Plan: tfidf weights (one explode + two aggregates), per-doc norms
    (one more doc-keyed aggregate, joined back so both self-join sides
    carry their norm through the shuffle — the `shingle_sets` carry
    trick), one checkpointed weight table feeding an inverted-index
    shuffle-hash self-join on the term, one pair aggregate. Nothing
    doc-sized is ever collected or broadcast.
    """
    # checkpoint: the doc-freq cap, the norms aggregate, and the weight
    # table all consume the tfidf frame — without the boundary the
    # explode + two-aggregate chain re-derives per consumer
    w = tfidf_scores(docs, id_col, text_col).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        keep = (
            w.groupBy("term")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("term")
        )
        w = w.join(keep, "term", "left_semi")
    norms = w.groupBy(id_col).agg(
        F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("nrm")
    )
    wn = (
        w.join(norms, id_col)
        .select(F.col(id_col).alias("doc"), "term", "tfidf", "nrm")
        .localCheckpoint(eager=False)
    )
    a = wn.alias("a")
    b = wn.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(
            F.round(
                F.sum(F.col("a.tfidf") * F.col("b.tfidf"))
                / (F.first(F.col("a.nrm")) * F.first(F.col("b.nrm"))),
                6,
            ).alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
    )


def term_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The BM25/idf statistics table a retrieval index maintains:
    ``(term, dfreq, n_docs, total_tokens)`` — per-term document frequency
    plus the corpus scalars (docs with ≥ 1 token, total token count; the
    scalars repeat on every row so the table is self-contained and
    additive). Tokenization is the `tfidf_scores`/`bm25_scores` portable
    form. One explode + two map-side-combined aggregates + a 1-row
    broadcast."""
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
        lambda t: t != "",
    )
    terms = docs.select(F.col(id_col).alias("doc"), F.explode(toks).alias("term"))
    tf = terms.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("dfreq"))
    meta = tf.groupBy("doc").agg(F.sum("tf").alias("dl")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    return dfreq.crossJoin(F.broadcast(meta))


def merge_term_stats(old_stats: DataFrame, batch_docs: DataFrame,
                     id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Incremental maintenance of `term_stats`: fold a NEW document batch
    into an existing statistics table WITHOUT rescanning the indexed
    corpus — dfreq, n_docs, and total_tokens are all additive, so the
    merge is a full-outer sum on the term plus scalar addition.
    Contract (pinned by the q157 oracle, which recomputes from the
    union): ``merge_term_stats(term_stats(corpus), batch) ==
    term_stats(corpus ∪ batch)`` whenever batch doc ids are disjoint
    from the corpus — which the exactly-once ingest upstream
    (`dedup_incremental` / the streaming anti-join) guarantees.

    At 100 TB this is the difference between a batch-sized job per
    refresh and a corpus-sized one: the corpus contributes only its
    (bounded-vocabulary) stats table. The batch stats are checkpointed:
    two consumers (the scalar meta and the term merge) would otherwise
    re-run the batch tokenize."""
    b = term_stats(batch_docs, id_col, text_col).localCheckpoint(eager=False)
    old_meta = old_stats.agg(
        F.coalesce(F.max("n_docs"), F.lit(0)).alias("n_old"),
        F.coalesce(F.max("total_tokens"), F.lit(0)).alias("t_old"),
    )
    new_meta = b.agg(
        F.coalesce(F.max("n_docs"), F.lit(0)).alias("n_new"),
        F.coalesce(F.max("total_tokens"), F.lit(0)).alias("t_new"),
    )
    meta = (
        old_meta.crossJoin(F.broadcast(new_meta))
        .select(
            (F.col("n_old") + F.col("n_new")).cast("bigint").alias("n_docs"),
            (F.col("t_old") + F.col("t_new")).cast("bigint").alias("total_tokens"),
        )
    )
    merged = (
        old_stats.select("term", F.col("dfreq").alias("__da"))
        .join(b.select("term", F.col("dfreq").alias("__db")), "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("__da"), F.lit(0))
                + F.coalesce(F.col("__db"), F.lit(0))
            ).cast("bigint").alias("dfreq"),
        )
    )
    return merged.crossJoin(F.broadcast(meta))
