"""Property-based tests (SURVEY.md §5.5) — hypothesis over small frames.

max_examples is kept low: every example costs Spark jobs; the properties
are about structural invariants, not numeric fuzzing.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

values = st.lists(
    st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)), min_size=1, max_size=30
)


@given(xs=values)
@settings(**SETTINGS)
def test_impute_median_leaves_no_nulls(spark, xs):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.cleaning import (
        impute,
    )

    df = spark.createDataFrame([(x,) for x in xs], "x double")
    out = impute(df, ["x"], [])
    if any(x is not None for x in xs):
        assert out.where(F.col("x").isNull()).count() == 0
    else:  # all-null column: median undefined, column left as-is
        assert out.where(F.col("x").isNull()).count() == len(xs)


def test_histogram_degenerate_columns(spark):
    """An all-null column (null bounds) gives an empty histogram; a
    constant column gets width 1.0, so every non-null row lands in bin 0
    at the constant."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        histogram,
    )

    df = spark.createDataFrame([(None, 2.5), (None, 2.5), (None, None)], "n double, c double")
    assert histogram(df, "n").collect() == []
    assert [tuple(r) for r in histogram(df, "c", n_bins=4).collect()] == [(0, 2.5, 2)]


@given(
    n_dim=st.integers(1, 5),
    n_fact=st.integers(1, 20),
)
@settings(**SETTINGS)
def test_left_join_unique_dim_preserves_rows(spark, n_dim, n_fact):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.joins import (
        star_join,
    )

    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(n_dim)], "k int, attr string"
    )
    fact = spark.createDataFrame(
        [(i % (n_dim + 2), float(i)) for i in range(n_fact)], "k int, v double"
    )
    joined = star_join(fact, [(dim, "k")])
    assert joined.count() == n_fact  # unique dim keys never fan out


@given(xs=st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_lag_null_prefix_then_filled(spark, xs):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        add_lag_features,
    )

    rows = [(1, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "g int, t int, v double")
    lagged = add_lag_features(df, "v", ["g"], ["t"], lags=(1, 4))
    got = {r["t"]: r for r in lagged.collect()}
    for i in range(len(xs)):
        # first k rows of each series have NULL lag-k, then exact values
        expect1 = None if i < 1 else xs[i - 1]
        expect4 = None if i < 4 else xs[i - 4]
        assert got[i]["v_lag1"] == expect1
        assert got[i]["v_lag4"] == expect4
    filled = add_lag_features(df, "v", ["g"], ["t"], lags=(1,)).fillna(
        {"v_lag1": 0.0}
    )
    assert filled.where(F.col("v_lag1").isNull()).count() == 0


@given(xs=st.lists(st.floats(0, 1e6, allow_nan=False), min_size=2, max_size=40))
@settings(**SETTINGS)
def test_exact_quantiles_match_python(spark, xs):
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        exact_quantiles,
    )

    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = exact_quantiles(df, "x", [0.25, 0.5, 0.75])
    s = sorted(xs)
    for g, p in zip(got, [0.25, 0.5, 0.75]):
        r = (len(s) - 1) * p
        lo, hi = math.floor(r), math.ceil(r)
        want = s[lo] + (s[hi] - s[lo]) * (r - lo)
        assert abs(g - want) <= 1e-9 * max(1.0, abs(want))


def test_approx_distinct_within_rsd(spark):
    from tests.conftest import SF_ORACLE

    import __spark_entry__ as em

    rows = em.queries()["q53_approx_distinct"](spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        exact = r["exact_users"]
        # rsd=0.02 → ±3σ ≈ 6%; assert a loose 10% ceiling to stay stable
        assert abs(r["approx_users"] - exact) <= max(1, 0.1 * exact), r


def test_exact_quantiles_skewed_multi_round(spark, monkeypatch):
    """Force the histogram-refinement recursion: one mantissa slice
    (``_SUB_BUCKETS = 1``) collapses every same-exponent value into one
    log-bucket cell, and a tiny ``_COLLECT_LIMIT`` makes the [1,2) cell
    (160 rows, 60 of them a duplicate spike) overflow — so subdivision
    rounds and the instant min==max resolution (the 42.0 mass) all run."""
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        analytics as A,
    )

    monkeypatch.setattr(A, "_BINS", 8)
    monkeypatch.setattr(A, "_COLLECT_LIMIT", 50)
    monkeypatch.setattr(A, "_MAX_ROUNDS", 6)
    monkeypatch.setattr(A, "_SUB_BUCKETS", 1)
    xs = [1 + i / 101.0 for i in range(100)] + [1.5] * 60 + [42.0] * 900
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    probs = [0.02, 0.05, 0.1, 0.5, 0.9]
    got, stats = A.exact_quantiles_multi(df, ["x"], probs, return_stats=True)
    s = sorted(xs)
    for g, p in zip(got["x"], probs):
        r = (len(s) - 1) * p
        lo, hi = math.floor(r), math.ceil(r)
        want = s[lo] + (s[hi] - s[lo]) * (r - lo)
        assert abs(g - want) <= 1e-9 * max(1.0, abs(want)), (p, g, want)
    n, mean, stddev, mn, mx = stats["x"]
    assert n == len(xs) and mn == min(xs) and mx == max(xs)
    assert abs(mean - sum(xs) / len(xs)) < 1e-9


def test_exact_quantiles_bucket_order_independence(spark):
    """The log-bucket scan may NOT rely on bucket-code order matching value
    order (a faithfully-rounded log2 can slip one code at powers of two).
    Monkeypatch the bucketing to a hash — maximally non-monotone, every
    cell's value span overlapping — and the span-merge discipline must
    still produce exact answers via the refinement fallback."""
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        analytics as A,
    )

    xs = [42.0] * 900 + [i / 7.0 for i in range(100)]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    probs = [0.05, 0.25, 0.5, 0.75, 0.95]
    s = sorted(xs)

    def want(p):
        r = (len(s) - 1) * p
        lo, hi = math.floor(r), math.ceil(r)
        return s[lo] + (s[hi] - s[lo]) * (r - lo)

    normal = A.exact_quantiles_multi(df, ["x"], probs)["x"]
    for g, p in zip(normal, probs):
        assert abs(g - want(p)) <= 1e-9, (p, g, want(p))

    from pyspark.sql import functions as F

    orig = A._log_bucket
    try:
        A._log_bucket = lambda v, k: F.pmod(F.hash(v), F.lit(7)).cast("long")
        hashed = A.exact_quantiles_multi(df, ["x"], probs)["x"]
    finally:
        A._log_bucket = orig
    assert hashed == normal


def test_group_quartiles_null_and_empty_groups(spark):
    """group_quartiles on the grouped rank-pick: a NULL group key, a constant
    group, and a group whose values are ALL null (must still emit its
    all-null row) alongside a normal group."""
    rows = [(None, float(i)) for i in range(11)] + [("c", 7.0)] * 5
    rows += [("a", float((i * 13) % 29)) for i in range(40)]
    rows += [("empty", None)] * 3
    df = spark.createDataFrame(rows, "g string, x double")
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_quartiles,
    )

    got = {r["g"]: tuple(r)[1:] for r in group_quartiles(df, "g", "x").collect()}
    assert got[None][2] == 5.0  # median of 0..10
    assert got["c"] == (7.0, 7.0, 7.0, 7.0, 7.0)
    assert got["empty"] == (None, None, None, None, None)
    import statistics

    a_vals = sorted(float((i * 13) % 29) for i in range(40))
    assert abs(got["a"][2] - statistics.median(a_vals)) <= 1e-9


def test_group_quartiles_match_python(spark):
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_quartiles,
    )

    rows = []
    data = {}
    for g in range(3):
        xs = [((i * 37 + g * 11) % 97) / 7.0 for i in range(50 + g * 30)]
        data[g] = sorted(xs)
        rows += [(g, x) for x in xs]
    # group 3: a spike — ~90% of the values are one repeated value (an
    # imputed median), so every quartile rank lands inside the run
    spike = [1234.5] * 180 + [((i * 29) % 53) * 41.0 for i in range(20)]
    data[3] = sorted(spike)
    rows += [(3, x) for x in spike]
    df = spark.createDataFrame(rows, "g int, x double")
    got = {r["g"]: r for r in group_quartiles(df, "g", "x").collect()}
    for g, s in data.items():
        for col, p in [("q1", 0.25), ("median", 0.5), ("q3", 0.75)]:
            r = (len(s) - 1) * p
            lo, hi = math.floor(r), math.ceil(r)
            want = s[lo] + (s[hi] - s[lo]) * (r - lo)
            assert abs(got[g][col] - want) <= 1e-9, (g, col, got[g][col], want)
        assert got[g]["min"] == s[0] and got[g]["max"] == s[-1]


def test_exact_quantiles_extreme_magnitudes(spark, monkeypatch):
    """Values straddling ±1e308 make the root bracket span overflow to inf;
    the engine must fall back to a final collect instead of producing NaN
    child bounds."""
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        analytics as A,
    )

    monkeypatch.setattr(A, "_COLLECT_LIMIT", 50)
    xs = [-1.0e308, -5.0, 0.0, 5.0, 1.0e308] * 40
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    probs = [0.25, 0.5, 0.75]
    got = A.exact_quantiles_multi(df, ["x"], probs)["x"]
    s = sorted(xs)
    for g, p in zip(got, probs):
        r = (len(s) - 1) * p
        lo, hi = math.floor(r), math.ceil(r)
        want = s[lo] + (s[hi] - s[lo]) * (r - lo)
        assert g == want and math.isfinite(g), (p, g, want)


def test_exact_quantiles_spike_resolves_early(spark, monkeypatch):
    """A run of equal values inside a wider cell (an imputed median)
    resolves in the round whose cell first isolates it, not after the
    round cap: 3,000 copies of 1040.0 among 1,000 values spread over
    [1024, 1084) share one log-bucket cell, every quartile rank lands in
    the run, and the run is far above ``_COLLECT_LIMIT``. Each aggregate
    round is two jobs (AQE runs the shuffle map stage as its own job), so
    at most 3 rounds pass, where the round cap alone would allow 8."""
    import math

    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        analytics as A,
    )

    monkeypatch.setattr(A, "_COLLECT_LIMIT", 500)
    spread = [1024.0 + i * 0.06 + 1e-7 for i in range(1000)]
    xs = [1040.0] * 3000 + spread
    df = spark.range(4000).select(
        F.when(F.col("id") < 3000, F.lit(1040.0))
        .otherwise(F.lit(1024.0) + (F.col("id") - 3000) * F.lit(0.06) + F.lit(1e-7))
        .alias("x")
    )
    probs = [0.25, 0.5, 0.75]
    sc = spark.sparkContext
    group = "exact-quantiles-spike"
    sc.setJobGroup(group, "spike rounds")
    try:
        got = A.exact_quantiles_multi(df, ["x"], probs)["x"]
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    s = sorted(xs)
    for g, p in zip(got, probs):
        r = (len(s) - 1) * p
        lo, hi = math.floor(r), math.ceil(r)
        want = s[lo] + (s[hi] - s[lo]) * (r - lo)
        assert g == want == 1040.0, (p, g, want)
    assert len(jobs) <= 6, jobs


# word pool kept tiny so random docs actually collide (exact + near dups)
_words = st.sampled_from("alpha beta gamma delta epsilon zeta".split())
_doc_texts = st.lists(
    st.lists(_words, min_size=1, max_size=8).map(" ".join), min_size=1, max_size=10
)


def _py_shingles(text, k=3):
    w = text.lower().strip().split()
    if len(w) <= k:
        return {" ".join(w)}
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def _py_jaccard(a, b):
    sa, sb = _py_shingles(a), _py_shingles(b)
    return round(len(sa & sb) / len(sa | sb), 6)


@given(corpus_texts=_doc_texts, new_texts=_doc_texts)
@settings(**SETTINGS)
def test_dedup_incremental_matches_python_reference(spark, corpus_texts, new_texts):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        dedup_incremental,
    )

    corpus = [(i, t) for i, t in enumerate(corpus_texts)]
    new = [(100 + i, t) for i, t in enumerate(new_texts)]
    out = dedup_incremental(
        spark.createDataFrame(corpus, "doc_id long, text string"),
        spark.createDataFrame(new, "doc_id long, text string"),
        threshold=0.5,
    )
    got = {r["doc_id"] for r in out.collect()}

    # reference: exact stage then pair-predicate near stage
    def norm(t):
        return " ".join(t.lower().strip().split())

    corpus_fps = {norm(t) for _, t in corpus}
    seen_fp = {}
    exact_surv = []
    for i, t in sorted(new):
        if norm(t) in seen_fp:
            continue
        seen_fp[norm(t)] = i
        if norm(t) not in corpus_fps:
            exact_surv.append((i, t))
    expect = set()
    for i, t in exact_surv:
        near_corpus = any(_py_jaccard(t, ct) >= 0.5 for _, ct in corpus)
        near_earlier = any(
            _py_jaccard(t, et) >= 0.5 for j, et in exact_surv if j < i
        )
        if not near_corpus and not near_earlier:
            expect.add(i)
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=25
    )
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find(spark, edges):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    expect = {x: find(x) for x in parent}
    # component id must be the smallest member, so normalize
    # union-find roots to min-of-component
    comp_members = {}
    for x, r in expect.items():
        comp_members.setdefault(r, set()).add(x)
    expect_min = {
        x: min(comp_members[r]) for x, r in expect.items()
    }
    assert got == expect_min


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=25
    )
)
@settings(**SETTINGS)
def test_connected_components_star_matches_union_find(spark, edges):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        connected_components_star,
    )

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r["id"]: r["component"] for r in connected_components_star(df).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_members = {}
    for x in parent:
        comp_members.setdefault(find(x), set()).add(x)
    expect = {x: min(comp_members[find(x)]) for x in parent}
    assert got == expect


# multi-line docs from a tiny line pool so boilerplate lines actually
# repeat across documents
_line_pool = st.sampled_from(
    ["nav home", "copyright corp", "Body Alpha", "body beta", "  spaced  line ", ""]
)
_multiline_docs = st.lists(
    st.lists(_line_pool, min_size=1, max_size=5).map("\n".join),
    min_size=1,
    max_size=8,
)


@given(texts=_multiline_docs, cap=st.integers(1, 4))
@settings(**SETTINGS)
def test_dedup_lines_matches_python_reference(spark, texts, cap):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        dedup_lines,
    )

    docs = [(i, t) for i, t in enumerate(texts)]
    out = {
        r["doc_id"]: (r["clean_text"], r["n_lines"], r["n_kept"])
        for r in dedup_lines(
            spark.createDataFrame(docs, "doc_id long, text string"),
            max_doc_freq=cap,
        ).collect()
    }

    def norm(line):
        return " ".join(line.lower().strip().split())

    df_count = {}
    for _, t in docs:
        for key in {norm(ln) for ln in t.split("\n")}:
            df_count[key] = df_count.get(key, 0) + 1
    expect = {}
    for i, t in docs:
        lines = t.split("\n")
        kept = [ln for ln in lines if df_count[norm(ln)] <= cap]
        expect[i] = ("\n".join(kept), len(lines), len(kept))
    assert out == expect


@given(
    raw_texts=st.lists(
        st.text(alphabet="ab x\t\n", min_size=0, max_size=20), min_size=1, max_size=12
    ),
    n_target=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_dsir_weights_match_python_reference(spark, raw_texts, n_target):
    """dsir_log_weights against a literal numpy-free Python reimplementation
    of the Xie-et-al. formula (same md5 bucketing, add-one smoothing)."""
    import hashlib
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        dsir_log_weights,
    )

    B = 32
    rows = [(i, t) for i, t in enumerate(raw_texts)]
    n_target = min(n_target, len(rows))
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = raw.where(F.col("doc_id") < n_target)
    got = {
        r["doc_id"]: (r["n_grams"], r["log_importance"])
        for r in dsir_log_weights(raw, target, "doc_id", "text", n_buckets=B).collect()
    }

    def grams(t):
        w = [x for x in " ".join(t.lower().strip().split()).split(" ") if x]
        return w + [f"{a} {b}" for a, b in zip(w, w[1:])]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    raw_b = {i: [bucket(g) for g in grams(t)] for i, t in rows}
    tgt_b = {i: bs for i, bs in raw_b.items() if i < n_target}
    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for bs in raw_b.values():
        for b in bs:
            cr[b] = cr.get(b, 0) + 1
    for bs in tgt_b.values():
        for b in bs:
            ct[b] = ct.get(b, 0) + 1
    nr, nt = sum(cr.values()), sum(ct.values())
    for i, bs in raw_b.items():
        if not bs:
            assert got[i] == (0, 0.0)
            continue
        s = sum(
            math.log(ct.get(b, 0) + 1) - math.log(cr[b] + 1) for b in bs
        ) + len(bs) * (math.log(nr + B) - math.log(nt + B))
        n_g, log_w = got[i]
        assert n_g == len(bs)
        assert abs(log_w - s) < 1e-3, (i, log_w, s)


_C4_LINES = [
    "the quick brown fox jumps high.",
    "no punctuation on this line",
    "tiny one.",
    "we shipped the javascript bundle today.",
    "lorem ipsum dolor sit.",
    "x { y",
    "did the test pass? yes it did!",
    "\tindented tab line counts two.",
    "",
]


@given(
    line_idx=st.lists(st.integers(0, len(_C4_LINES) - 1), min_size=0, max_size=8)
)
@settings(**SETTINGS)
def test_c4_rules_match_python_reference(spark, line_idx):
    import re

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        c4_rules,
    )

    text = "\n".join(_C4_LINES[i] for i in line_idx) if line_idx else None
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = c4_rules(df).collect()[0]

    # literal reimplementation of Raffel et al. 2020 §2.2
    if text is None:
        expect = ("", 0, 0, 0, False)
    else:
        lines = text.split("\n")
        kept = [
            ln
            for ln in lines
            if re.search(r"""[.!?"']\s*$""", ln)
            and len([w for w in re.split(r"\s+", ln) if w != ""]) >= 3
            and "javascript" not in ln.lower()
        ]
        clean = "\n".join(kept)
        n_sent = len(re.findall(r"[.!?]", clean))
        bad = "lorem ipsum" in text.lower() or "{" in text
        expect = (clean, len(lines), len(kept), n_sent, (not bad) and n_sent >= 5)
    assert (
        got["clean_text"],
        got["n_lines"],
        got["n_lines_kept"],
        got["n_sentences"],
        got["keep"],
    ) == expect


@given(
    members=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=20, unique=True),
    probes=st.lists(st.text(min_size=1, max_size=12), min_size=1, max_size=10, unique=True),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, members, probes):
    """Bloom's defining property, over arbitrary unicode keys: a member
    ALWAYS hits; non-members may false-positive but the hit set must be a
    superset of the true membership — never a miss on a member."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        bloom_bitset,
        bloom_probe,
    )

    mdf = spark.createDataFrame([(i, k) for i, k in enumerate(members)], "id long, k string")
    bits = bloom_bitset(mdf, "k", m_bits=1 << 14, k=5)
    pdf = spark.createDataFrame(
        [(i, k) for i, k in enumerate(probes)], "id long, k string"
    )
    hits = {
        r["id"]: r["bloom_hit"]
        for r in bloom_probe(pdf, bits, "k", "id", m_bits=1 << 14, k=5).collect()
    }
    mset = set(members)
    for i, k in enumerate(probes):
        if k in mset:
            assert hits[i] is True, (k, "member missed")


@given(
    occs=st.lists(st.sampled_from(["a", "bb", "ccc", "dd", "e"]), min_size=1, max_size=30),
)
@settings(**SETTINGS)
def test_cms_one_sided_for_any_multiset(spark, occs):
    """Count-Min's defining property over arbitrary multisets: every
    estimate ≥ the true count, even at a tiny, collision-heavy width."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    df = spark.createDataFrame([(w,) for w in occs], "word string")
    exact = df.groupBy("word").agg(F.count("*").alias("n"))
    cms = count_min_table(df, "word", w=4, d=2)
    out = count_min_lookup(exact, cms, "word", w=4, d=2).collect()
    for r in out:
        assert r["cms_estimate"] >= r["n"], (r["word"], r["n"], r["cms_estimate"])


@given(texts=_doc_texts)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_encode_counts_only_matches_full_path(spark, texts):
    """counts_only must be a pure projection of the full encode — for any
    corpus, (id, count) from the counts path equals len(tokens/pieces)
    from the full path, for every family (BPE, unigram, WordPiece),
    trained on the same corpus. Pins the counts_only form of the shared
    encode stage against drift (two output forms, one contract)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        bpe_encode,
        train_bpe,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.unigram import (
        train_unigram,
        unigram_encode,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    rows = [(i, t) for i, t in enumerate(texts)] + [(len(texts), None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    merges = train_bpe(df, n_merges=3, min_pair_count=1)
    full = {
        r["doc_id"]: r["n_subword_tokens"] for r in bpe_encode(df, merges).collect()
    }
    fast = {
        r["doc_id"]: r["n_subword_tokens"]
        for r in bpe_encode(df, merges, counts_only=True).collect()
    }
    assert fast == full

    vocab = train_unigram(df, vocab_size=8, max_piece_len=3, em_iters=1)
    ufull = {r["doc_id"]: r["n_pieces"] for r in unigram_encode(df, vocab).collect()}
    ufast = {
        r["doc_id"]: r["n_pieces"]
        for r in unigram_encode(df, vocab, counts_only=True).collect()
    }
    assert ufast == ufull

    wvocab = train_wordpiece(df, n_merges=3, min_pair_count=1)
    wfull = {
        r["doc_id"]: r["n_wp_tokens"]
        for r in wordpiece_encode(df, wvocab).collect()
    }
    wfast = {
        r["doc_id"]: r["n_wp_tokens"]
        for r in wordpiece_encode(df, wvocab, counts_only=True).collect()
    }
    assert wfast == wfull


def _java_norm(t: str) -> str:
    """The engine's normalization replicated with JAVA semantics: trim
    strips 0x20 only, ``\\s`` is the ASCII class [ \\t\\n\\x0b\\f\\r]
    (no \\x1f, no NBSP — both of which Python's str.split() treats as
    whitespace)."""
    import re

    return re.sub(r"[ \t\n\x0b\f\r]+", " ", t.strip(" ")).lower().strip(" ")


_wp_texts = st.lists(
    st.one_of(
        st.none(),
        st.text(
            alphabet=st.characters(
                codec="utf-8", categories=("Ll", "Lu", "Nd", "Zs", "Po")
            ),
            max_size=40,
        ),
    ),
    min_size=1,
    max_size=8,
)


@given(texts=_wp_texts)
@settings(**SETTINGS)
def test_wordpiece_roundtrip_and_zero_merge_count(spark, texts):
    """Two WordPiece invariants on arbitrary unicode corpora: (1) a
    vocab trained on the SAME corpus never UNKs it, so stripping ## from
    each doc's tokens reassembles the normalized text exactly; (2) at
    zero merges the token count equals the non-space char count of the
    normalized text (the q115 oracle identity)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab = train_wordpiece(df, n_merges=3, min_pair_count=2)
    rows = {r["doc_id"]: r for r in wordpiece_encode(df, vocab).collect()}
    vocab0 = train_wordpiece(df, n_merges=0)
    counts0 = {
        r["doc_id"]: r["n_wp_tokens"]
        for r in wordpiece_encode(df, vocab0, counts_only=True).collect()
    }
    for i, t in enumerate(texts):
        # engine-faithful normalization: Spark trim strips 0x20 only and
        # Java \s is the ASCII class — Python str.split() would also
        # split on \x1f/NBSP and silently diverge from the engine
        normed = "" if t is None else _java_norm(t)
        joined = "".join(
            tok[2:] if tok.startswith("##") and len(tok) > 2 else tok
            for tok in rows[i]["wp_tokens"]
        )
        assert joined == normed.replace(" ", ""), (t, rows[i]["wp_tokens"])
        assert counts0[i] == len(normed.replace(" ", "")), t


_turn_rows = st.lists(
    st.tuples(
        st.integers(0, 2),                      # conv_id
        st.sampled_from(["user", "assistant", "system"]),
        st.one_of(st.none(), st.text(max_size=30)),
    ),
    min_size=1,
    max_size=12,
)


@given(rows=_turn_rows)
@settings(**SETTINGS)
def test_assemble_conversations_spans_always_slice(spark, rows):
    """For arbitrary turn sets: every loss span slices exactly its
    turn's (null-coalesced) text out of chat_text, n_chars equals the
    rendered length, and n_turns counts every input turn."""
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sft import (
        assemble_conversations,
    )

    turns = [
        (conv, i, role, text) for i, (conv, role, text) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        turns, "conv_id long, turn_idx long, role string, text string"
    )
    got = {r["conv_id"]: r for r in assemble_conversations(df).collect()}
    n_by_conv = Counter(conv for conv, *_ in turns)
    texts = {i: (t if t is not None else "") for _, i, _, t in turns}
    for conv, r in got.items():
        assert r["n_turns"] == n_by_conv[conv]
        assert r["n_chars"] == len(r["chat_text"])
        for s in r["loss_spans"]:
            sliced = r["chat_text"][s["span_start"] : s["span_end"]]
            assert sliced == texts[s["turn_idx"]]


_snap = st.dictionaries(
    st.integers(0, 12),
    st.one_of(st.none(), st.text(max_size=12)),
    max_size=10,
)


@given(old=_snap, new=_snap)
@settings(**SETTINGS)
def test_snapshot_diff_matches_python_reference(spark, old, new):
    """For arbitrary snapshot pairs (including null contents and keys
    present on only one side): snapshot_diff's per-key status equals a
    pure-Python dict diff — added/removed by key membership,
    changed/unchanged by null-safe content equality."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        snapshot_diff,
    )

    if not old and not new:
        return  # empty-union diff is trivially empty; nothing to compare
    odf = spark.createDataFrame(
        [(k, v) for k, v in old.items()], "doc_id long, text string"
    ) if old else spark.createDataFrame([], "doc_id long, text string")
    ndf = spark.createDataFrame(
        [(k, v) for k, v in new.items()], "doc_id long, text string"
    ) if new else spark.createDataFrame([], "doc_id long, text string")
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(odf, ndf).collect()}
    expect = {}
    for k in set(old) | set(new):
        if k not in old:
            expect[k] = "added"
        elif k not in new:
            expect[k] = "removed"
        elif old[k] == new[k]:
            expect[k] = "unchanged"
        else:
            expect[k] = "changed"
    assert got == expect, (old, new)


_prev_keys = st.sets(st.integers(0, 12), max_size=10)


@given(old=_snap, new=_snap, prev_keys=_prev_keys)
@settings(**SETTINGS)
def test_incremental_encode_matches_python_reference(
    spark, old, new, prev_keys
):
    """For arbitrary old/new snapshots and an arbitrary (possibly
    gappy) prev_encoded: every doc in the new snapshot appears exactly
    once — carried verbatim (poisoned counts survive) iff unchanged AND
    present in prev, freshly encoded (zero-merge = non-space char count
    of the normalized text) otherwise — and removed docs never appear."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.incremental import (
        incremental_encode,
    )

    if not new:
        return  # nothing to encode; output is trivially empty
    mk = lambda d: (
        spark.createDataFrame(
            [(k, v) for k, v in d.items()], "doc_id long, text string"
        )
        if d
        else spark.createDataFrame([], "doc_id long, text string")
    )
    odf, ndf = mk(old), mk(new)
    vocab = train_wordpiece(ndf, n_merges=0)
    prev_rows = [(k, 900 + k) for k in prev_keys]  # poisoned sentinel counts
    prev = (
        spark.createDataFrame(prev_rows, "doc_id long, n_wp_tokens bigint")
        if prev_rows
        else spark.createDataFrame([], "doc_id long, n_wp_tokens bigint")
    )
    got = {
        r["doc_id"]: (r["n_wp_tokens"], r["status"])
        for r in incremental_encode(odf, ndf, prev, vocab).collect()
    }

    def norm_chars(t):
        # engine-faithful count: every char outside Java's ASCII \s class
        # (Python's str.split() also treats \x1f / NBSP as whitespace and
        # would diverge — hypothesis found exactly that)
        return 0 if t is None else len(_java_norm(t).replace(" ", ""))

    expect = {}
    for k, v in new.items():
        if k not in old:
            expect[k] = (norm_chars(v), "added")
        elif old[k] == v:
            expect[k] = (
                (900 + k, "unchanged") if k in prev_keys
                else (norm_chars(v), "unchanged")
            )
        else:
            expect[k] = (norm_chars(v), "changed")
    assert got == expect, (old, new, sorted(prev_keys))


@given(
    counts=st.lists(
        st.one_of(st.none(), st.integers(0, 200)), min_size=1, max_size=25
    )
)
@settings(**SETTINGS)
def test_length_bucket_batches_invariants(spark, counts):
    """For arbitrary (nullable) token counts: every doc appears exactly
    once, lands in the FIRST bucket that holds its (null-coalesced)
    count, no (shard, bucket, batch) group exceeds batch_size, and
    batch indices are dense from 0 with only the last batch partial."""
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        length_bucket_batches,
    )

    bounds, batch = (16, 64), 3
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "doc_id long, n long"
    )
    rows = length_bucket_batches(
        df, text_col=None, tokens_col="n", boundaries=bounds,
        batch_size=batch, n_shards=2, salt="p",
    ).collect()
    assert len(rows) == len(counts)
    for r in rows:
        n = counts[r["doc_id"]] or 0
        assert r["n_tokens"] == n
        assert r["bucket"] == next(
            (j for j, b in enumerate(bounds) if n <= b), len(bounds)
        )
    occ = Counter((r["shard"], r["bucket"], r["batch_idx"]) for r in rows)
    assert max(occ.values()) <= batch
    per_sb: dict = {}
    for (s, b, bi), c in occ.items():
        per_sb.setdefault((s, b), {})[bi] = c
    for batches in per_sb.values():
        idxs = sorted(batches)
        assert idxs == list(range(len(idxs)))
        for bi in idxs[:-1]:
            assert batches[bi] == batch


@given(
    counts=st.lists(
        st.one_of(st.none(), st.integers(0, 200)), min_size=1, max_size=25
    ),
    budgets=st.lists(
        st.integers(1, 300), min_size=1, max_size=4, unique=True
    ),
)
@settings(**SETTINGS)
def test_budget_sweep_accounting_identities(spark, counts, budgets):
    """Structural invariants of packing_budget_sweep on arbitrary
    corpora: per budget, padded_tokens == n_sequences*budget -
    total_tokens (the accounting identity), truncated_tokens <=
    total_tokens, totals are budget-invariant, and both padding and
    truncation move monotonically with the budget."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        packing_budget_sweep,
    )

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "doc_id long, n_toks long"
    )
    rows = {
        r["budget"]: r
        for r in packing_budget_sweep(
            df, "doc_id", text_col=None, tokens_col="n_toks",
            budgets=tuple(budgets), n_shards=4,
        ).collect()
    }
    assert set(rows) == set(budgets)
    total = sum(c or 0 for c in counts)
    for b, r in rows.items():
        assert r["total_tokens"] == total
        assert r["n_docs"] == len(counts)
        assert (
            r["padded_tokens"]
            == r["n_sequences"] * b - r["total_tokens"]
        )
        assert 0 <= r["truncated_tokens"] <= total
    for small, big in [(a, b) for a in budgets for b in budgets if a < b]:
        assert rows[small]["truncated_tokens"] >= rows[big]["truncated_tokens"]
        assert rows[small]["n_sequences"] >= rows[big]["n_sequences"]


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 30)),
        min_size=1,
        max_size=25,
    ),
)
@settings(**SETTINGS)
def test_ann_recall_bounds_and_self_identity(spark, pairs):
    """ann_recall invariants on arbitrary result frames: recall(x, x)
    is exactly 1.0 for every query, and against any other frame
    0 <= n_hit <= n_exact with recall = round(n_hit/n_exact, 6)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.similarity import (
        ann_recall,
    )

    df = spark.createDataFrame(pairs, "query_id long, neighbor_id long")
    self_rows = ann_recall(df, df).collect()
    assert self_rows and all(r["recall"] == 1.0 for r in self_rows)
    other = df.select(
        "query_id", (F.col("neighbor_id") + 1).alias("neighbor_id")
    )
    for r in ann_recall(other, df).collect():
        assert 0 <= r["n_hit"] <= r["n_exact"]
        assert r["recall"] == round(r["n_hit"] / r["n_exact"], 6)


def test_mad_outlier_bounds_python_twin(spark):
    import statistics

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        mad_outlier_bounds,
    )

    xs = [float((i * 17) % 101) for i in range(200)] + [5000.0, -4000.0]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    lo, hi, med, mad = mad_outlier_bounds(df, "x", k=3.0)
    pmed = statistics.median(xs)
    pmad = statistics.median(abs(x - pmed) for x in xs)
    assert med == pmed and mad == pmad
    assert lo == pmed - 3.0 * 1.4826 * pmad and hi == pmed + 3.0 * 1.4826 * pmad
    n_out = df.where((df.x < lo) | (df.x > hi)).count()
    assert n_out == sum(1 for x in xs if x < lo or x > hi) == 2


def test_quantile_bins_value_ties_share_a_bin(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        quantile_bins,
    )

    # 40% duplicate mass straddling a boundary: every 7.0 must land in
    # ONE bin (value semantics), unlike ntile's row-position split
    xs = [7.0] * 40 + [float(i) for i in range(60)] + [None]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    binned, bounds = quantile_bins(df, "x", n_bins=4)
    assert len(bounds) == 3 and bounds == sorted(bounds)
    rows = binned.collect()
    bins_of_7 = {r["bin"] for r in rows if r["x"] == 7.0}
    assert len(bins_of_7) == 1
    assert all(r["bin"] is None for r in rows if r["x"] is None)
    # bin is monotone in value
    by_bin = {}
    for r in rows:
        if r["bin"] is not None:
            by_bin.setdefault(r["bin"], []).append(r["x"])
    ordered = sorted(by_bin)
    for a, b in zip(ordered, ordered[1:]):
        assert max(by_bin[a]) <= min(by_bin[b])


@given(
    xs=st.lists(
        st.floats(-1e300, 1e300, allow_nan=False, allow_subnormal=True),
        min_size=2,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_exact_quantiles_full_magnitude_range(spark, xs):
    """The log-bucket scan across signs, subnormals, and huge exponents:
    exact interpolated quantiles must match Python on any finite input."""
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        exact_quantiles,
    )

    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = exact_quantiles(df, "x", [0.1, 0.5, 0.9])
    s = sorted(xs)
    for g, p in zip(got, [0.1, 0.5, 0.9]):
        r = (len(s) - 1) * p
        lo, hi = math.floor(r), math.ceil(r)
        want = s[lo] + (s[hi] - s[lo]) * (r - lo)
        assert g == want or abs(g - want) <= 1e-9 * max(1.0, abs(want)), (
            p, g, want,
        )


def test_group_quantile_bins_python_twin(spark):
    """Per-group quantile binning: boundaries and assignment match a
    from-scratch Python computation per group, incl. a NULL group, a
    constant group (all one bin span), null values, and tie sharing."""
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_quantile_bins,
    )

    data = {
        "a": [float((i * 13) % 29) for i in range(40)],
        None: [float(i) for i in range(11)],
        "c": [7.0] * 6,
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    rows += [("a", None), ("empty", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = group_quantile_bins(df, "g", "x", n_bins=4).collect()

    def bounds_of(xs):
        s = sorted(xs)
        out = []
        for p in (0.25, 0.5, 0.75):
            r = (len(s) - 1) * p
            lo, hi = math.floor(r), math.ceil(r)
            out.append(s[lo] + (s[hi] - s[lo]) * (r - lo))
        return out

    wants = {g: bounds_of(xs) for g, xs in data.items()}
    for r in got:
        if r["x"] is None:
            assert r["bin"] is None
            continue
        b = wants[r["g"]]
        want_bin = 1 + sum(1 for bd in b if r["x"] > bd)
        assert r["bin"] == want_bin, (r["g"], r["x"], r["bin"], want_bin)
    # constant group: every member in bin 1 (all boundaries equal 7.0)
    assert {r["bin"] for r in got if r["g"] == "c"} == {1}


def test_quantile_consumers_raise_on_empty_or_all_null(spark):
    """Contract guard (eager-validation discipline): the engine returns
    None quantiles for n=0, and every consumer formula would otherwise
    die on float(None) — each must raise a named error instead."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        mad_outlier_bounds,
        outlier_bounds,
        quantile_bins,
    )

    empty = spark.createDataFrame([], "x double")
    nulls = spark.createDataFrame([(None,), (None,)], "x double")
    nans = spark.createDataFrame([(float("nan"),)], "x double")
    for frame in (empty, nulls):
        with pytest.raises(ValueError, match="mad_outlier_bounds: column 'x'"):
            mad_outlier_bounds(frame, "x")
        with pytest.raises(ValueError, match="outlier_bounds: column 'x'"):
            outlier_bounds(frame, "x")
        with pytest.raises(ValueError, match="quantile_bins: column 'x'"):
            quantile_bins(frame, "x")
    # NaN-only is the same hole through the NaN firewall
    with pytest.raises(ValueError, match="column 'x'"):
        quantile_bins(nans, "x")


def test_quantile_bins_out_col_contract(spark):
    """out_col: a pre-existing 'bin' column raises (never silently
    overwritten / duplicated); a custom name lands the assignment there
    for both the global and per-group binners."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_quantile_bins,
        quantile_bins,
    )

    df = spark.createDataFrame(
        [(g, float(i), i) for i, g in enumerate("aabbccdd")],
        "g string, x double, bin int",
    )
    with pytest.raises(ValueError, match="'bin' already exists"):
        quantile_bins(df, "x")
    with pytest.raises(ValueError, match="'bin' already exists"):
        group_quantile_bins(df, "g", "x")

    binned, _ = quantile_bins(df, "x", n_bins=2, out_col="xbin")
    assert "xbin" in binned.columns and binned.columns.count("bin") == 1
    assert all(r["xbin"] in (1, 2) for r in binned.collect())

    gb = group_quantile_bins(df, "g", "x", n_bins=2, out_col="gbin")
    assert "gbin" in gb.columns and gb.columns.count("bin") == 1
    assert all(r["gbin"] in (1, 2) for r in gb.collect())


def test_hll_distinct_by_matches_global_per_slice(spark):
    """The keyed HLL must be the global sketch applied per group — same
    registers, same estimate numerics (the shared-expression refactor's
    pin): for every group, hll_distinct_by's row equals hll_distinct on
    that group's slice; an all-null-key group vanishes."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        hll_distinct,
        hll_distinct_by,
    )

    rows = [("a", i % 37) for i in range(500)]
    rows += [("b", i) for i in range(200)]
    rows += [("c", None)] * 5 + [(None, i % 11) for i in range(40)]
    df = spark.createDataFrame(rows, "g string, k int")
    got = {
        r["g"]: r["hll_estimate"]
        for r in hll_distinct_by(df, "g", "k", p=8).collect()
    }
    assert set(got) == {"a", "b", None}  # 'c' has only null keys
    for g in ("a", "b", None):
        cond = F.col("g").isNull() if g is None else (F.col("g") == g)
        want = hll_distinct(df.where(cond), "k", p=8).first()[0]
        assert got[g] == want, (g, got[g], want)
    # sanity: estimates are near the true cardinalities
    assert abs(got["a"] - 37) / 37 < 0.25
    assert abs(got["b"] - 200) / 200 < 0.25


def test_group_mad_outlier_bounds_python_twin(spark):
    """Per-group MAD fences match from-scratch Python per group — incl.
    a NULL group, a constant group (mad 0 => fence collapses to the
    median), and null values excluded; all-null groups are absent."""
    import statistics

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_mad_outlier_bounds_highcard,
    )

    data = {
        "a": [float((i * 17) % 101) for i in range(80)] + [5000.0],
        None: [float(i) for i in range(21)] + [-900.0],
        "c": [7.0] * 9,
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    rows += [("a", None), ("empty", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: r
        for r in group_mad_outlier_bounds_highcard(df, "g", "x", k=3.0).collect()
    }
    assert set(got) == {"a", None, "c"}  # 'empty' absent
    for g, xs in data.items():
        med = statistics.median(xs)
        mad = statistics.median(abs(x - med) for x in xs)
        half = 3.0 * 1.4826 * mad
        r = got[g]
        assert r["median"] == med and r["mad"] == mad, (g, r)
        assert r["lo"] == med - half and r["hi"] == med + half
    assert got["c"]["mad"] == 0.0 and got["c"]["lo"] == got["c"]["hi"] == 7.0
    # the fences actually classify: exactly the planted extremes fall out
    n_out = {
        g: sum(1 for x in xs if x < got[g]["lo"] or x > got[g]["hi"])
        for g, xs in data.items()
    }
    assert n_out["a"] == 1 and n_out[None] == 1 and n_out["c"] == 0


def test_group_median_highcard_python_twin(spark):
    """Rank-arithmetic median (group_quantiles_highcard at p = 0.5) ==
    statistics.median per group (odd and even n, duplicate values, null
    group, NaN/null values excluded; all-null groups absent)."""
    import statistics

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_quantiles_highcard,
    )

    data = {
        "odd": [5.0, 1.0, 9.0],
        "even": [4.0, 2.0, 8.0, 6.0],
        "dups": [7.0] * 5 + [1.0],
        None: [3.0, 3.0, 10.0, -2.0],
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    rows += [("odd", None), ("odd", float("nan")), ("gone", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: (r["n"], r["p50"])
        for r in group_quantiles_highcard(df, "g", "x", [0.5]).collect()
    }
    assert set(got) == {"odd", "even", "dups", None}
    for g, xs in data.items():
        assert got[g] == (len(xs), statistics.median(xs)), (g, got[g])


def test_group_quantiles_highcard_python_twin(spark):
    """Interpolated rank arithmetic == Python quantile_cont per group
    at dyadic probs (odd/even n, dup values, singleton group, null
    group; NaN/null excluded; empty probs and name-colliding probs
    raise)."""
    import math

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_quantiles_highcard,
    )

    data = {
        "a": [9.0, 1.0, 5.0, 3.0, 7.0],
        "b": [4.0, 2.0, 8.0, 6.0],
        "one": [42.0],
        None: [7.0] * 4 + [1.0, 2.0],
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    rows += [("a", None), ("a", float("nan"))]
    df = spark.createDataFrame(rows, "g string, x double")
    probs = [0.25, 0.5, 0.75]
    got = {
        r["g"]: r
        for r in group_quantiles_highcard(df, "g", "x", probs).collect()
    }

    def qcont(xs, p):
        s = sorted(xs)
        r = (len(s) - 1) * p
        lo, hi = math.floor(r), math.ceil(r)
        return s[lo] + (s[hi] - s[lo]) * (r - lo)

    for g, xs in data.items():
        r = got[g]
        assert r["n"] == len(xs)
        for p, name in zip(probs, ("p25", "p50", "p75")):
            assert r[name] == qcont(xs, p), (g, name, r[name], qcont(xs, p))

    with pytest.raises(ValueError, match="non-empty"):
        group_quantiles_highcard(df, "g", "x", [])
    with pytest.raises(ValueError, match="collide"):
        group_quantiles_highcard(df, "g", "x", [0.501, 0.502])


def test_group_mad_highcard_python_twin(spark):
    """Stacked-window MAD fences == the MAD-fence semantics computed in
    pure Python: same median/MAD interpolation, same k·1.4826 fence
    arithmetic, n counts non-null non-NaN values, null group is a group,
    all-null groups absent, and a constant group collapses to mad=0
    with lo==hi."""
    import statistics

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_mad_outlier_bounds_highcard,
    )

    data = {
        "a": [1.0, 2.0, 3.0, 4.0, 100.0],
        "even": [4.0, 2.0, 8.0, 6.0],
        "const": [7.0] * 4,
        "one": [42.0],
        None: [3.0, 3.0, 10.0, -200.0],
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    rows += [("a", None), ("a", float("nan")), ("gone", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    got = {
        r["g"]: r
        for r in group_mad_outlier_bounds_highcard(df, "g", "x", k=3.0).collect()
    }
    assert set(got) == set(data)
    for g, xs in data.items():
        med = statistics.median(xs)
        mad = statistics.median(abs(x - med) for x in xs)
        half = 3.0 * 1.4826 * mad
        r = got[g]
        assert r["n"] == len(xs), (g, r)
        assert r["median"] == med and r["mad"] == mad, (g, r)
        assert r["lo"] == med - half and r["hi"] == med + half, (g, r)
    assert got["const"]["mad"] == 0.0
    assert got["const"]["lo"] == got["const"]["hi"] == 7.0
    # the planted extremes are exactly what the fences classify out
    for g, want in (("a", 1), (None, 1), ("even", 0)):
        n_out = sum(
            1 for x in data[g] if x < got[g]["lo"] or x > got[g]["hi"]
        )
        assert n_out == want, (g, n_out)


def test_gap_fill_policies_python_twin(spark):
    """gap_fill's three policies against a hand-computed series: dense
    spine per key (min..max, step), zero/ffill/linear hole values,
    leading/trailing hole rules, observed flags, null key/ts dropped."""
    import datetime as dt

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        gap_fill,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        ("a", ts(0), 10.0),
        ("a", ts(3), 40.0),   # holes at 1, 2
        ("a", ts(4), None),   # observed row with null value
        ("b", ts(5), 7.0),    # singleton
        (None, ts(0), 1.0),   # dropped
        ("c", None, 1.0),     # dropped
    ]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")

    def snap(fill):
        out = gap_fill(df, "k", "t", "v", 3600, fill=fill)
        return {
            (r["k"], r["t"]): (r["v"], r["observed"]) for r in out.collect()
        }

    z = snap("zero")
    assert set(k for k, _ in z) == {"a", "b"}
    assert z[("a", ts(1))] == (0.0, False) and z[("a", ts(2))] == (0.0, False)
    assert z[("a", ts(4))] == (0.0, True)  # null value, observed row
    assert z[("b", ts(5))] == (7.0, True)
    assert len([1 for (k, _) in z if k == "a"]) == 5  # dense 0..4

    f = snap("ffill")
    assert f[("a", ts(1))] == (10.0, False)
    assert f[("a", ts(2))] == (10.0, False)
    assert f[("a", ts(4))] == (40.0, True)  # null value carries forward

    l = snap("linear")
    assert l[("a", ts(1))] == (20.0, False)
    assert l[("a", ts(2))] == (30.0, False)
    assert l[("a", ts(3))] == (40.0, True)
    assert l[("a", ts(4))][0] is None  # trailing hole: no next observation

    import pytest

    with pytest.raises(ValueError, match="unknown fill"):
        gap_fill(df, "k", "t", "v", 3600, fill="nope")


def test_group_median_highcard_interpolation_no_overflow(spark):
    """Review-pass regression: the even-n median must use quantile_cont's
    interpolation form, not (lo+hi)/2 — two near-max doubles overflow
    the sum to inf."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        group_quantiles_highcard,
    )

    big = 1.5e308
    df = spark.createDataFrame([("a", big), ("a", big)], "g string, x double")
    got = group_quantiles_highcard(df, "g", "x", [0.5]).first()
    assert got["p50"] == big  # not inf


def test_funnel_steps_python_twin(spark):
    """Funnel reach times vs a hand-walked per-key simulation: in-order
    sequences complete, out-of-order ones stop at the violated step,
    same-timestamp ties count (inclusive >=), a repeated first step
    anchors at its MIN, keys missing step 1 report all-null, and null
    key/ts rows are dropped. Contract errors: <2 steps, dup steps."""
    import datetime as dt

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        funnel_steps,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # u1: clean in-order funnel (and a later, ignored second click)
        (1, ts(0), "a"), (1, ts(5), "b"), (1, ts(9), "c"), (1, ts(20), "a"),
        # u2: b BEFORE the first a -> never reaches b
        (2, ts(10), "a"), (2, ts(3), "b"), (2, ts(15), "c"),
        # u3: exact tie a and b at the same ts -> inclusive, b reached
        (3, ts(7), "a"), (3, ts(7), "b"),
        # u4: no 'a' at all -> all steps null
        (4, ts(1), "b"), (4, ts(2), "c"),
        # dropped rows
        (None, ts(0), "a"), (5, None, "a"),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp, s string")
    got = {
        r["u"]: (r["step_1_a_ts"], r["step_2_b_ts"], r["step_3_c_ts"])
        for r in funnel_steps(df, "u", "ts", "s", ["a", "b", "c"]).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1] == (ts(0), ts(5), ts(9))
    assert got[2] == (ts(10), None, None)
    assert got[3] == (ts(7), ts(7), None)
    assert got[4] == (None, None, None)

    with pytest.raises(ValueError, match="at least 2"):
        funnel_steps(df, "u", "ts", "s", ["a"])
    with pytest.raises(ValueError, match="distinct"):
        funnel_steps(df, "u", "ts", "s", ["a", "a"])


def test_cohort_retention_python_twin(spark):
    """Retention matrix vs a hand-built cohort table: offset 0 equals
    the cohort size, each later offset counts exactly the keys active
    that many weeks after their first week, multiple events inside one
    week dedup to one active mark, and day-period granularity works."""
    import datetime as dt

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        cohort_retention,
    )

    mon = dt.datetime(2024, 1, 1)  # a Monday

    def wk(i, d=0):
        return mon + dt.timedelta(weeks=i, days=d)

    rows = [
        # cohort week 0: u1 active weeks 0,1,3; u2 active week 0 only
        (1, wk(0)), (1, wk(0, 2)), (1, wk(1)), (1, wk(3)),
        (2, wk(0, 4)),
        # cohort week 2: u3 active weeks 2,3
        (3, wk(2)), (3, wk(3, 6)),
        (None, wk(0)), (4, None),
    ]
    df = spark.createDataFrame(rows, "u long, ts timestamp")
    got = {
        (r["cohort"], r["period_offset"]): r["n_active"]
        for r in cohort_retention(df, "u", "ts", "week").collect()
    }
    assert got == {
        (wk(0), 0): 2, (wk(0), 1): 1, (wk(0), 3): 1,
        (wk(2), 0): 1, (wk(2), 1): 1,
    }

    import pytest

    with pytest.raises(ValueError, match="period"):
        cohort_retention(df, "u", "ts", "month")
    # day granularity: u1's distinct active days map to day offsets
    day = {
        (r["cohort"], r["period_offset"]): r["n_active"]
        for r in cohort_retention(
            df.where(F.col("u") == 1), "u", "ts", "day"
        ).collect()
    }
    assert day == {(wk(0), 0): 1, (wk(0), 2): 1, (wk(0), 7): 1, (wk(0), 21): 1}


def test_cells_quantile_estimate_by_matches_driver_reader(spark):
    """The keyed cell table the exact-quantile engine starts from: per
    group (a null group included) the cells' counts, sums and exact
    spans add up to the group's own count, sum, min and max, NaN and
    null values are excluded, and a group column named like a cell
    column is rejected rather than silently shadowed."""
    import math

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        analytics as A,
    )

    data = {
        "a": [float((i * 13) % 97) for i in range(200)] + [42.0] * 50,
        "b": [-5.0, 0.0, 0.0, 7.5, 1e8],
        None: [3.0],
    }
    rows = [(g, x) for g, xs in data.items() for x in xs]
    rows += [("a", float("nan")), ("b", None)]
    df = spark.createDataFrame(rows, "g string, x double")
    cells: dict = {}
    for r in A.quantile_cells_by(df, "g", "x").collect():
        cells.setdefault(r["g"], []).append(r)
    assert set(cells) == set(data)
    for g, xs in data.items():
        cs = cells[g]
        assert sum(c["n"] for c in cs) == len(xs), g
        assert min(c["mn"] for c in cs) == min(xs), g
        assert max(c["mx"] for c in cs) == max(xs), g
        assert math.isclose(sum(c["s"] for c in cs), sum(xs), rel_tol=1e-12), g
        assert all(c["mn"] <= c["mx"] for c in cs), g
    with pytest.raises(ValueError, match="cell-table schema"):
        A.quantile_cells_by(df.withColumnRenamed("g", "n"), "n", "x")


def test_event_transitions_python_twin(spark):
    """Transition matrix vs a hand-walked chain: deterministic tie-break
    at equal timestamps, the session gap breaks chains, null types are a
    state, each key's last event emits nothing, null key/ts dropped,
    and max_gap_seconds=None counts every adjacency."""
    import datetime as dt

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        event_transitions,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # u1: a->b (10s), b->c (exactly at the 60s gap, inclusive), then
        # a 61s gap BREAKS, then c->a
        (1, ts(0), "a", 1), (1, ts(10), "b", 2), (1, ts(70), "c", 3),
        (1, ts(131), "c", 4), (1, ts(140), "a", 5),
        # u2: same-timestamp tie resolved by event_id: x(6)->y(7)->z(8)
        (2, ts(0), "x", 6), (2, ts(0), "y", 7), (2, ts(0), "z", 8),
        # u3: null type is a state both ways
        (3, ts(0), None, 9), (3, ts(5), "a", 10),
        # dropped
        (None, ts(0), "a", 11), (4, None, "a", 12),
    ]
    df = spark.createDataFrame(
        rows, "u long, ts timestamp, s string, event_id long"
    )
    got = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in event_transitions(
            df, "u", "ts", "s", "event_id", max_gap_seconds=60
        ).collect()
    }
    assert got == {
        ("a", "b"): 1, ("b", "c"): 1, ("c", "a"): 1,
        ("x", "y"): 1, ("y", "z"): 1,
        (None, "a"): 1,
    }
    unbounded = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in event_transitions(
            df, "u", "ts", "s", "event_id", max_gap_seconds=None
        ).collect()
    }
    assert unbounded[("c", "c")] == 1  # the broken 61s chain now counts


def test_detect_spikes_python_twin(spark):
    """Spike flags vs a hand-walked fixed-point simulation over the
    zero-filled spine: cold start never flags (< min_window
    predecessors), a genuine spike after quiet hours flags once with
    the right first_spike, zero-filled holes count as zeros in the
    trailing mean, non-positive values never flag, and the trailing
    frame excludes the current row."""
    import datetime as dt

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        detect_spikes,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    # u1: 1.0 at hours 0..9 except holes at 3,4 (zero-filled), then a
    # 50.0 spike at hour 10
    rows = [(1, ts(h), 1.0) for h in range(10) if h not in (3, 4)]
    rows += [(1, ts(10), 50.0)]
    # u2: big NEGATIVE excursion never flags; series too short anyway
    rows += [(2, ts(0), 1.0), (2, ts(1), -99.0)]
    df = spark.createDataFrame(rows, "u long, ts timestamp, v double")
    got = {
        r["u"]: (r["n_steps"], r["n_spikes"], r["first_spike"])
        for r in detect_spikes(
            df, "u", "ts", "v", 3600, trailing=4, factor=3, min_window=4
        ).collect()
    }
    # hand-walk u1 (trailing=4 excl current, min_window=4, factor=3):
    # hour h flags iff v_fp*4 > 3*sum(prev 4). values:
    # h: 0 1 2 3 4 5 6 7 8 9 10
    # v: 1 1 1 0 0 1 1 1 1 1 50
    # h<4: cold start. h=4: prev=[1,1,1,0] s=3, v=0 -> no (v<=0).
    # h=5: prev=[1,1,0,0] s=2, 1*4=4 > 6? no. h=6: prev=[1,0,0,1] s=2,
    # 4>6 no. h=7: prev=[0,0,1,1] s=2 no. h=8: prev=[0,1,1,1] s=3,
    # 4>9 no. h=9: prev=[1,1,1,1] s=4, 4>12 no. h=10: prev=[1,1,1,1]
    # s=4, 50*4=200 > 12 -> SPIKE.
    assert got[1] == (11, 1, ts(10))
    assert got[2] == (2, 0, None)


def test_event_path_ngrams_python_twin(spark):
    """Path n-gram counts vs a hand-walked chain: the n=2 case equals
    event_transitions' matrix exactly, a 3-gram crossing a gap break is
    not counted (even when both outer hops are close to their
    neighbors), short keys emit nothing, and n<2 raises."""
    import datetime as dt

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        event_path_ngrams,
        event_transitions,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    rows = [
        # u1: a,b,c tight; then a 100s gap; then d,e tight
        (1, ts(0), "a", 1), (1, ts(10), "b", 2), (1, ts(20), "c", 3),
        (1, ts(120), "d", 4), (1, ts(130), "e", 5),
        # u2: only two events (no trigram)
        (2, ts(0), "x", 6), (2, ts(5), "y", 7),
    ]
    df = spark.createDataFrame(
        rows, "u long, ts timestamp, s string, event_id long"
    )
    tri = {
        (r["step_1"], r["step_2"], r["step_3"]): r["n_paths"]
        for r in event_path_ngrams(
            df, "u", "ts", "s", "event_id", n=3, max_gap_seconds=60
        ).collect()
    }
    # (b,c,d) and (c,d,e) cross the 100s gap -> only (a,b,c) counts
    assert tri == {("a", "b", "c"): 1}

    bi = {
        (r["step_1"], r["step_2"]): r["n_paths"]
        for r in event_path_ngrams(
            df, "u", "ts", "s", "event_id", n=2, max_gap_seconds=60
        ).collect()
    }
    matrix = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in event_transitions(
            df, "u", "ts", "s", "event_id", max_gap_seconds=60
        ).collect()
    }
    assert bi == matrix  # n=2 IS the transition matrix

    with pytest.raises(ValueError, match="n must be"):
        event_path_ngrams(df, "u", "ts", "s", "event_id", n=1)
