"""Text primitives shared by the text-analysis and dedup operators.

All pure built-in expressions (codegen'd, no Python in the hot path), with
DuckDB-expressible semantics so every downstream operator stays
oracle-comparable:

* tokens:    ``split(trim(text), '\\s+')``
* shingles:  word k-grams joined by a single space
* hashes:    md5-derived int64 (functions/hashing.py)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def nfkc_col(text: Column | str) -> Column:
    """Unicode NFKC compatibility normalization as an Arrow-batched pandas
    UDF — the published C4/Gopher/CCNet pipelines NFKC-fold text before
    any rule fires (full-width forms → ASCII, ligatures ﬁ → fi,
    superscripts ² → 2), so this is the spec-fidelity option for real
    multilingual crawls.

    OPT-IN, never in the default path, for two structural reasons:
    (1) neither Spark SQL nor DuckDB has an NFKC builtin, so any oracled
    query that folded by default would lose its hash-check (DuckDB's
    ``nfc_normalize`` is NFC, a different form); (2) it is a Python
    round-trip — the one place this module deliberately leaves
    whole-stage codegen. The synthetic fixtures are pure ASCII, where
    NFKC is the identity, so default-off diverges from the published
    pipelines only on inputs the tests never see; see
    ``norm_text_col(..., nfkc=True)`` for the composed form."""
    c = F.col(text) if isinstance(text, str) else text

    import pandas as pd  # noqa: F401 — resolves the UDF's postponed hints
    from pyspark.sql.functions import pandas_udf

    def _nfkc(s):
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFKC", x) if x is not None else None
        )

    _nfkc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_nfkc, "string")(c)


def norm_text_col(text: Column | str, nfkc: bool = False) -> Column:
    """THE content-normalization every fingerprint/shingle/dedup operator
    keys on: lowercase, trim, collapse runs of whitespace to one space.
    One definition — the alignment between span offsets, fingerprints, and
    shingles across operators is structural, not copy-paste discipline.
    Splitting this on ``\\s+`` yields the same token BOUNDARIES as
    ``tokens_col`` (case differs), which is what lets `remove_token_spans`
    cut case-preserving tokens at offsets computed on normalized text.

    ``nfkc=True`` prepends Unicode NFKC compatibility folding (see
    ``nfkc_col``) — the published C4/Gopher spec's first step. Opt-in:
    it costs a Python round-trip and has no DuckDB twin, so oracled
    queries keep the default; enable it on real multilingual crawls
    where full-width/ligature/superscript forms must collide."""
    c = F.col(text) if isinstance(text, str) else text
    if nfkc:
        c = nfkc_col(c)
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def norm_words_col(text: Column | str) -> Column:
    """Words of the normalized text (`norm_text_col` split on its single
    spaces) with boundary empties filtered — THE word array the
    tokenizer-side operators (BPE word counts, DSIR gram builder) share.
    One definition for the same reason as `norm_text_col`: if empty-token
    or separator semantics ever change, every consumer moves together."""
    return F.filter(F.split(norm_text_col(text), " "), lambda x: x != "")
