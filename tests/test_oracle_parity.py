"""Local replica of the driver's DuckDB-oracle correctness gate.

For every query with an oracle: run the Spark query and the DuckDB SQL on
the same parquet tables, compare row count, column names, and an
order-insensitive value multiset (floats rounded inside the queries
themselves, per plans/star_queries.py conventions).
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod
from tests.conftest import SF_SMOKE

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # + 0.0 folds IEEE negative zero into positive zero: -0.0 == 0.0
        # numerically, but str(-0.0) != str(0.0) would misalign the
        # multiset sort (seen on denormal vectors rounding to -0.0 in one
        # engine and +0.0 in the other)
        return round(v, 6) + 0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bool):
        return int(v)
    return v


def _multiset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(
        normed, key=lambda row: tuple((c is None, str(c)) for c in row)
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, name):
    sdf = QUERIES[name](spark, SF_SMOKE)
    duck_cols, duck_rows = _run_oracle(SF_SMOKE, name)
    _compare_engines(name, sdf.columns, sdf.collect(), duck_cols, duck_rows)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "avg_order_total" in df.columns


def _compare_engines(name, spark_cols, spark_rows, duck_cols, duck_rows):
    """THE comparison tail every parity test shares: column set, row
    count, then order-insensitive value multiset."""
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    s = _multiset([tuple(r) for r in spark_rows], spark_cols)
    d = _multiset(duck_rows, duck_cols)
    assert len(s) == len(d), f"{name}: row count {len(s)} vs {len(d)}"
    mismatches = [(a, b) for a, b in zip(s, d) if a != b]
    assert s == d, f"{name}: value mismatch, first diffs: {mismatches[:3]}"


def _run_oracle(sf_dir, name, dir_tables=()):
    """Run the oracle SQL with views over ``sf_dir``; tables named in
    ``dir_tables`` are Spark-written DIRECTORIES (glob their parts)."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if not os.path.exists(path):
            continue
        pat = f"{path}/*.parquet" if t in dir_tables else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")
    res = con.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    con.close()
    return duck_cols, duck_rows


def _assert_adversarial_parity(spark, tmp_path, name, table, df, copy_tables=()):
    """Shared battery body: write the adversarial frame as the named table,
    run the registered Spark query and its DuckDB oracle against it, and
    compare. ``copy_tables`` brings benign sf0.001 dims along for queries
    that join the adversarial fact against a dimension (e.g. q162)."""
    import shutil

    sf_dir = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
    for t in copy_tables:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{sf_dir}/{t}.parquet")
    sdf = QUERIES[name](spark, sf_dir)
    duck_cols, duck_rows = _run_oracle(sf_dir, name, dir_tables=(table,))
    _compare_engines(name, sdf.columns, sdf.collect(), duck_cols, duck_rows)


ADVERSARIAL_DOCS = [
    # regex metacharacters, quotes, backslashes, unicode, mixed whitespace
    (0, 'back\\slash and "quotes" and \'single\' ones.', "en", "srcA", 40),
    (1, "dots... and ellipsis… and #hash marks", "en", "srcA", 38),
    (2, "parens (x) [y] {z} plus+star* dollar$ caret^", "de", "srcB", 44),
    (3, "tab\tseparated\twords\tand a period.", "en", "srcB", 33),
    (4, "  leading and trailing whitespace  ", "fr", "srcA", 35),
    (5, "newline\nin the middle\nof the doc.", "en", "srcB", 33),
    (6, None, "es", "srcA", 0),
    (7, "", "en", "srcB", 0),
    (8, "unicode: café naïve 北京 emoji 🙂 done.", "fr", "srcA", 37),
    (9, "the of and to a in is it that for.", "en", "srcB", 34),
    (10, "a|b a|b a|b pipe pipe pipe.", "en", "srcA", 27),
    (11, "question mark? exclamation! period. quote.'", "de", "srcB", 43),
    # boundary NON-space whitespace (tab/newline) — trim does not strip
    # these before a plain split, so a raw split mints phantom '' tokens;
    # pins the norm_words_col boundary-empty contract (r6 ADVICE)
    (12, "\tleading tab and trailing newline words here\n", "en", "srcA", 44),
    # Unicode compatibility forms (full-width, ligature, superscript,
    # ideographic space) — every engine op must treat these as ordinary
    # code points (length/substring/split agree cross-engine), and q89's
    # fold chain must cover exactly these forms (they are its documented
    # replace set; a new form here breaks q89 loudly, by design)
    (13, "ﬁnal ２ｎｄ　draft of x² ＢＰＥ ﬂow.", "fr", "srcB", 29),
]

DOC_QUERY_NAMES = [
    "q81_gopher_rules",
    "q83_c4_rules",
    "q80_dsir_importance",
    "q22_text_features",
    "q69_line_dedup",
    "q78_bigram_lm_scores",
    "q64_pii_redaction",
    "q23_language_id",
    "q24_fingerprints",
    "q25_exact_dup_groups",
    "q62_repetition_scores",
    "q67_markup_stripping",
    "q74_doc_chunking",
    "q75_exact_substring_spans",
    "q79_decontaminated_corpus",
    "q26_jaccard_pairs",
    "q27_minhash_lsh_pairs",
    "q28_simhash",
    "q29_simhash_near_pairs",
    "q50_tfidf_top_terms",
    "q55_dedup_clusters",
    "q56_corpus_prep",
    "q60_incremental_dedup",
    "q61_stratified_corpus_mix",
    "q63_sequence_packing",
    "q65_contamination_report",
    "q66_dedup_keep_longest",
    "q68_ngram_decontamination",
    "q70_web_corpus_pipeline",
    "q71_temperature_mix",
    "q73_corpus_report",
    "q77_cross_exact_substring",
    "q82_dsir_resample",
    "q86_gopher_repetition",
    "q87_pretrain_capstone",
    "q88_bpe_word_counts",
    "q89_nfkc_fold",
    "q90_bloom_dedup_probe",
    "q91_bloom_incremental_dedup",
    "q92_cms_heavy_hitters",
    "q94_unigram_seed_counts",
    "q96_theta_overlap",
    "q97_eval_sample_per_group",
    "q98_tokenizer_capstone",
    "q100_unigram_capstone",
    "q102_span_corruption",
    "q103_fim_transform",
    "q104_epoch_repeat_mix",
    "q105_bin_manifest",
    "q114_wordpiece_vocab",
    "q115_wordpiece_tokens",
    "q117_length_bucket_batches",
    "q118_snapshot_diff",
    "q119_incremental_encode",
    "q120_chat_assembly",
    "q121_preference_pairs",
    "q122_sft_loader_capstone",
    "q124_sft_decontamination",
    "q125_corpus_funnel",
    "q127_source_overlap_matrix",
    "q128_curriculum_schedule",
    "q130_mixture_plan",
    "q131_planned_mixture_realized",
    "q133_vocab_coverage_curve",
    "q134_calibrated_scores",
    "q135_word_distribution_drift",
    "q136_curation_loader_capstone",
    "q137_memorization_report",
    "q141_packing_budget_sweep",
    "q144_tokenizer_ab_report",
    "q146_corpus_refresh_capstone",
    "q147_top_duplicated_grams",
    "q150_drift_gated_refresh",
    "q151_winnow_pairs",
    "q152_bm25_topk",
    "q156_tfidf_cosine_pairs",
    "q157_incremental_term_stats",
    "q158_winnow_keep_longest",
    "q160_retrieval_prep_capstone",
    "q161_group_quantile_bins",
    "q163_binary_blob_features",
    "q165_group_mad_outliers",
    "q170_jaccard_prefix_pairs",
]


@pytest.mark.parametrize("name", DOC_QUERY_NAMES)
def test_oracle_parity_on_adversarial_corpus(spark, tmp_path, name):
    """The fixture corpus is benign ASCII prose; this pins Spark/DuckDB
    regex+split agreement on the nasty inputs a real crawl contains
    (metacharacters, quotes, unicode, boundary whitespace) for every
    documents-only oracled query."""
    docs = spark.createDataFrame(
        ADVERSARIAL_DOCS,
        "doc_id long, text string, lang string, source string, n_chars bigint",
    )
    _assert_adversarial_parity(spark, tmp_path, name, "documents", docs)


def _adversarial_embeddings():
    import math

    rows = []
    for i in range(24):
        if i == 0:
            vec = [0.0] * 64                      # zero vector (cosine /0)
        elif i in (1, 2):
            vec = [1.0] + [0.0] * 63              # exact duplicates
        elif i == 3:
            vec = [1e-30] * 64                    # denormal magnitude
        elif i == 4:
            vec = [1e18] * 64                     # huge magnitude
        elif i == 5:
            vec = [-1.0] + [0.0] * 63             # antipode of 1/2
        else:
            vec = [
                math.sin(0.1 * i * (j + 1)) for j in range(64)
            ]                                      # deterministic spread
        rows.append((i, [float(v) for v in vec], i % 3))
    return rows


@pytest.mark.parametrize(
    "name",
    [
        "q30_knn_bruteforce",
        "q31_embedding_near_dups",
        "q72_semantic_dedup",
        "q132_random_projection",
        "q138_int8_quantization",
        "q139_knn_quantized",
        "q143_ann_recall",
        "q145_embedding_drift",
    ],
)
def test_oracle_parity_on_adversarial_embeddings(spark, tmp_path, name):
    """Zero vectors (cosine division by zero), exact duplicates, antipodes
    and denormal/huge magnitudes — the embedding-side analog of the text
    adversarial battery."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    emb = spark.createDataFrame(_adversarial_embeddings(), schema)
    _assert_adversarial_parity(spark, tmp_path, name, "embeddings", emb)


def _adversarial_events():
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)

    def ts(sec):
        return t0 + dt.timedelta(seconds=sec)

    return [
        # malformed / hostile JSON props — only forms BOTH parsers agree
        # on (Jackson tolerates single-quote keys / trailing garbage that
        # yyjson rejects; yyjson tolerates trailing commas Jackson
        # rejects — those sit outside the oracle contract, per q21's
        # docstring)
        (0, ts(0), 1, "click", 1.0, "{bad json"),
        (1, ts(10), 1, "view", 2.5, ""),
        (2, ts(20), 1, "click", 0.0, None),
        (3, ts(30), 2, "purchase", 9.99, "[]"),
        (4, ts(40), 2, "click", 1.0, '{"page": "a/b?x=1&y=2", "n": 3}'),
        (5, ts(50), 2, "view", -1.0, '{"page": null}'),
        (6, ts(60), 3, "click", 1e18, '{"nested": {"page": "deep"}}'),
        (7, ts(70), 3, "view", -1e18, '{"page": "unicodé 北京 🙂"}'),
        # identical timestamps (window/asof tie-breaks)
        (8, ts(100), 4, "click", 1.0, '{"page": "t1"}'),
        (9, ts(100), 4, "purchase", 2.0, '{"page": "t2"}'),
        (10, ts(100), 4, "click", 3.0, '{"page": "t3"}'),
        # null user / null type
        (11, ts(200), None, "click", 1.0, '{"page": "x"}'),
        (12, ts(210), 5, None, 1.0, '{"page": "y"}'),
        # long idle gap then burst (sessionization boundaries)
        (13, ts(4000), 5, "click", 1.0, '{"page": "s"}'),
        (14, ts(4001), 5, "view", 1.0, '{"page": "s"}'),
        (15, ts(9999), 5, "purchase", 5.0, '{"page": "s"}'),
        # numeric $.k extraction: int, float, non-numeric, JSON null
        (16, ts(300), 6, "click", 1.0, '{"k": 7}'),
        (17, ts(310), 6, "view", 1.0, '{"k": 2.5}'),
        (18, ts(320), 6, "click", 1.0, '{"k": "abc"}'),
        (19, ts(330), 6, "purchase", 1.0, '{"k": null}'),
        # multiple-of-50 users: the q168/q172/q177 sampled-series family
        # filters user_id % 50 = 0, so without these rows those queries
        # process ZERO battery rows and their parity entries are vacuous
        # (r14 ADVICE). User 0: click-only hour (q172's conditional sum
        # → NULL-valued observed row), a 2h interior hole (linear
        # interpolation), then a 25h jump whose value exceeds 3× the
        # trailing mean over ≥12 zero-filled steps (q177's spike fires).
        (20, ts(0), 0, "click", 1.0, None),
        (21, ts(30), 0, "view", 2.0, None),
        (22, ts(7200), 0, "view", 4.0, None),
        (23, ts(7260), 0, "click", 8.0, None),
        (24, ts(90000), 0, "purchase", 16.0, None),
        # User 50: ±1e18 magnitudes in hours/types where NO sum group
        # (hour×type, user×hour) holds two extremes — absorption stays
        # order-independent — pinning the bounded-window exclusion in
        # q172/q177; a same-timestamp tie; leading spine hours whose
        # conditional sum is NULL (leading-hole stays-null rule).
        (25, ts(7300), 50, "view", 1e18, None),
        (26, ts(3700), 50, "view", -1e18, None),
        (27, ts(100), 50, "click", 3.0, '{"page": "tie"}'),
        (28, ts(50000), 50, "purchase", 9.99, None),
        (29, ts(50000), 50, "view", 0.0, None),
    ]


@pytest.mark.parametrize(
    "name",
    [
        "q20_events_hourly_window",
        "q21_events_json_extract",
        "q37_sessionization",
        "q38_sliding_windows",
        "q45_asof_click_purchase",
        "q51_range_join_sessions",
        "q155_skew_report",
        "q54_attribution_join",
        "q59_event_dedup",
        "q93_hll_distinct",
        "q164_hll_distinct_by",
        "q166_group_median_highcard",
        "q167_group_quantiles_highcard",
        "q168_gap_fill_series",
        "q169_session_incident_overlap",
        "q171_group_mad_highcard",
        "q172_gap_fill_linear",
        "q173_conversion_funnel",
        "q174_cohort_retention",
        "q175_rfm_segments",
        "q176_event_transitions",
        "q177_series_spike_detection",
        "q178_volume_trend_slope",
        "q179_churn_by_cohort",
        "q180_event_path_trigrams",
        "q181_quantile_fence_monitor",
    ],
)
def test_oracle_parity_on_adversarial_events(spark, tmp_path, name):
    """Malformed JSON, timestamp ties, null users/types, extreme values —
    the events-side adversarial battery (JSON extraction and event-time
    semantics are where engines classically diverge)."""
    ev = spark.createDataFrame(
        _adversarial_events(),
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    _assert_adversarial_parity(spark, tmp_path, name, "events", ev)


def test_oracle_parity_q162_adversarial_events(spark, tmp_path):
    """q162 joins the adversarial events against the benign customer dim:
    null user ids, extreme values, and count ties must salt and
    aggregate identically in both engines."""
    ev = spark.createDataFrame(
        _adversarial_events(),
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    _assert_adversarial_parity(
        spark,
        tmp_path,
        "q162_adaptive_salted_join",
        "events",
        ev,
        copy_tables=("customer",),
    )


@pytest.fixture(scope="module")
def adversarial_rel_dir(spark, tmp_path_factory):
    """Built ONCE per module: the 24 parametrized relational tests read the
    same immutable fixture (rebuilding it per test re-ran two Spark write
    jobs 24x for byte-identical data)."""
    return _adversarial_relational(spark, tmp_path_factory.mktemp("rel"))


def _adversarial_relational(spark, tmp_path):
    """Copy the sf0.001 star tables, then APPEND hostile rows to lineitem
    and orders: null group keys, null measures, negative/extreme values,
    duplicate keys, dangling foreign keys. Joins stay meaningful; the
    edges get stressed."""
    import datetime as dt
    import shutil

    sf_dir = str(tmp_path / "sf")
    (tmp_path / "sf").mkdir()
    for t in TABLES:
        if t in ("lineitem", "orders"):
            continue  # rebuilt below with hostile rows appended
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", f"{sf_dir}/{t}.parquet")

    d = dt.datetime(1995, 6, 1)
    bad_li = spark.createDataFrame(
        [
            # null group keys (returnflag/linestatus)
            (900001, 1, 1, 1, 5.0, 100.0, 0.05, 0.02, None, None, d),
            # null measures under real keys
            (900002, 1, 1, 1, None, None, None, None, "N", "O", d),
            # negative quantity (a return), zero price
            (900003, 2, 2, 1, -3.0, 0.0, 0.0, 0.0, "R", "F", d),
            # extreme magnitudes — 1e6, not 1e15: far beyond the fixture's ~1e4
            # values, but keeping double sums inside the 4-dp rounding
            # agreement (at 1e15 the engines' sum ORDER shows in the 4th
            # decimal — float associativity, not semantics)
            (900004, 2, 2, 2, 1e6, 1e6, 0.99, 0.08, "A", "F", d),
            # null shipdate (date-part / filter edges)
            (900005, 3, 3, 1, 1.0, 50.0, 0.1, 0.0, "N", "O", None),
            # exact duplicate pair (dedup/count edges)
            (900006, 3, 3, 2, 2.0, 20.0, 0.0, 0.0, "N", "F", d),
            (900006, 3, 3, 2, 2.0, 20.0, 0.0, 0.0, "N", "F", d),
            # dangling orderkey (no matching order)
            (999999, 4, 4, 1, 1.0, 10.0, 0.0, 0.0, "R", "F", d),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    )
    bad_ord = spark.createDataFrame(
        [
            # null custkey (outer-join edge), null priority (mode with null)
            (900001, None, "O", 100.0, d, None),
            # null totalprice and date
            (900002, 1, "F", None, None, "1-URGENT"),
            # negative and extreme totalprice
            (900003, 2, "O", -500.0, d, "5-LOW"),
            (900004, 2, "F", 1e6, d, "1-URGENT"),
            # duplicate orderkey (join-fanout edge)
            (900005, 3, "O", 10.0, d, "3-MEDIUM"),
            (900005, 3, "O", 10.0, d, "3-MEDIUM"),
        ],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    od = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    li.unionByName(bad_li).coalesce(1).write.parquet(f"{sf_dir}/lineitem.parquet")
    od.unionByName(bad_ord).coalesce(1).write.parquet(f"{sf_dir}/orders.parquet")
    return sf_dir


REL_QUERY_NAMES = [
    "q01_pricing_summary",
    "q02_top_customers_rolling",
    "q04_mode_orderpriority",
    "q06_revenue_by_segment",
    "q07_revenue_by_region_nation",
    "q08_lag_rolling_features",
    "q09_top3_orders_per_customer",
    "q10_customers_without_orders",
    "q13_orders_by_date_parts",
    "q14_conditional_bucketing",
    "q15_describe_lineitem",
    "q16_histogram_totalprice",
    "q17_quartiles_by_priority",
    "q18_correlation_matrix",
    "q19_outlier_count",
    "q33_rollup_pricing",
    "q34_intersect_except",
    "q41_full_outer_reconcile",
    "q42_rank_family",
    "q44_median_imputation",
    "q46_cube_order_stats",
    "q48_pivot_status_by_priority",
    "q57_grouping_sets_sql",
    "q58_array_agg",
]


@pytest.mark.parametrize("name", REL_QUERY_NAMES)
def test_oracle_parity_on_adversarial_relational(spark, adversarial_rel_dir, name):
    """Null group keys, null measures, negative/extreme values, duplicate
    and dangling keys in lineitem/orders — the relational-side adversarial
    battery (aggregate/join/window null semantics are where engines
    classically diverge)."""
    sdf = QUERIES[name](spark, adversarial_rel_dir)
    duck_cols, duck_rows = _run_oracle(
        adversarial_rel_dir, name, dir_tables=("lineitem", "orders")
    )
    _compare_engines(name, sdf.columns, sdf.collect(), duck_cols, duck_rows)


# ---------------------------------------------------------------------------
# q87 capstone-oracle composition guard: every stage of _Q87_SQL is built
# by the same ``_sql_*`` builder as its per-operator oracle. Each row is
# (builder, per-operator args, q87 args); the builder's output for each
# arg set must appear verbatim in the matching oracle, so re-inlining a
# hand copy on either side fails here by name.
# ---------------------------------------------------------------------------

_Q87_STAGE_BUILDERS = {
    "q25_exact_dup_groups": ("_sql_exact_dedup_ctes", ("u",), ("s3", "e")),
    "q27_minhash_lsh_pairs": ("_sql_lsh_pairs_ctes", ("sh",), ("nsh", "n")),
    "q63_sequence_packing": (
        "_sql_pack_ctes",
        ("t", "pack"),
        ("pk", "pretrain-pack", "p"),
    ),
    "q77_cross_exact_substring": ("_sql_spans_ctes", ("documents",), ("s5", "x")),
    "q78_bigram_lm_scores": ("_sql_bigram_lm_ctes", ("documents",), ("s2", "l", True)),
    "q79_decontaminated_corpus": (
        "_sql_span_cut_ctes",
        ("documents", "spans"),
        ("s5", "xruns", "x"),
    ),
    "q80_dsir_importance": ("_sql_dsir_ctes", ("documents",), ("cut", "d", True)),
    "q81_gopher_rules": ("_sql_gopher_ctes", ("raw",), ("s0", "g")),
    "q82_dsir_resample": ("_sql_gumbel_select", ("w", "dsir"), ("dw8", "pretrain")),
    "q83_c4_rules": ("_sql_c4_ctes", ("raw",), ("inj", "c")),
    "q86_gopher_repetition": ("_sql_repetition_ctes", ("raw",), ("s1", "r", True)),
}


@pytest.mark.parametrize("fragment", sorted(_Q87_STAGE_BUILDERS))
def test_q87_oracle_fragment_pins(fragment):
    """The per-operator oracle and q87's stage are generated by one
    builder: its output for each argument set is in the matching SQL."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import (
        northstar_queries as nq,
    )

    name, own_args, q87_args = _Q87_STAGE_BUILDERS[fragment]
    builder = getattr(nq, name)
    assert builder(*own_args) in ORACLES[fragment], (
        f"{fragment}: oracle no longer built by {name}{own_args}"
    )
    assert builder(*q87_args) in nq._Q87_SQL, (
        f"{fragment}: q87 stage no longer built by {name}{q87_args}"
    )


ADVERSARIAL_ORDERS = [
    # (o_orderkey, o_orderpriority, o_totalprice)
    # extreme magnitudes straddling many binary exponents, exact
    # duplicates, negative zero, subnormal, nulls, single-value and
    # null-key groups — the quantile engine's log-bucket scan must agree
    # with quantile_cont exactly on all of them
    (1, "1-URGENT", 1.0e300),
    (2, "1-URGENT", -1.0e300),
    (3, "1-URGENT", 5e-324),
    (4, "1-URGENT", -0.0),
    (5, "1-URGENT", 0.0),
    (6, "2-HIGH", 42.0),
    (7, "2-HIGH", 42.0),
    (8, "2-HIGH", 42.0),
    (9, "3-MEDIUM", None),
    (10, "3-MEDIUM", 7.25),
    (11, None, 13.5),
    (12, None, -13.5),
    (13, "4-LOW", 1.0000000000000002),  # one ulp above 1.0
    (14, "4-LOW", 1.0),
    (15, "4-LOW", 0.9999999999999999),
    (16, "5-NONE", None),
] + [(100 + i, "5-NONE", float((i * 37) % 101) - 50.0) for i in range(60)]


@pytest.mark.parametrize(
    "name",
    ["q17_quartiles_by_priority", "q19_outlier_count", "q153_mad_outliers"],
)
def test_oracle_parity_on_adversarial_orders(spark, tmp_path, name):
    """The round-12 quantile engine (log-bucket scan + span-merge) against
    quantile_cont on hostile doubles: ±1e300 spans, subnormals, ±0.0,
    one-ulp neighbors, duplicate spikes, all-null and null-key groups."""
    orders = spark.createDataFrame(
        ADVERSARIAL_ORDERS,
        "o_orderkey long, o_orderpriority string, o_totalprice double",
    )
    _assert_adversarial_parity(spark, tmp_path, name, "orders", orders)


def test_oracle_parity_on_adversarial_lineitem_binning(spark, tmp_path):
    """q154's decile boundaries + comparison-chain assignment on the same
    hostile value set (single-column lineitem)."""
    li = spark.createDataFrame(
        [(v,) for (_, _, v) in ADVERSARIAL_ORDERS],
        "l_extendedprice double",
    )
    _assert_adversarial_parity(
        spark, tmp_path, "q154_quantile_binning", "lineitem", li
    )
