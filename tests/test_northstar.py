"""Quality/behavior tests for north-star operators (beyond oracle parity):
approximate operators need quality floors, not value equality."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
    dedup as dd,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
    similarity as sim,
)
from tests.conftest import REPO_ROOT, SF_SMOKE


def _docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_knn_lsh_recall(spark):
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_bruteforce(emb, queries, k=10).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_lsh(emb, queries, k=10).collect()
    }
    recall = len(bf & lsh) / len(bf)
    # uniformly random 64-dim vectors are the worst case for sign-LSH;
    # real clustered embeddings do far better. Floor guards regressions.
    assert recall >= 0.3, f"LSH recall collapsed: {recall}"


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3 plus island pair 10-11 plus isolated-by-absence 99
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r["id"]: r["component"] for r in dd.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def _cc_paths(monkeypatch, edges):
    """Labels from the public call through the driver union-find (the
    default gate) and through the star contraction (gate forced to 0)."""
    union_find = {
        r["id"]: r["component"] for r in dd.connected_components(edges).collect()
    }
    monkeypatch.setattr(dd, "_DRIVER_EDGE_BOUND", 0)
    star = {
        r["id"]: r["component"] for r in dd.connected_components(edges).collect()
    }
    return union_find, star


def test_connected_components_star_path_graph_beyond_diameter_budget(
    spark, monkeypatch
):
    # a path graph of length 40 has diameter 40 — the regime the
    # contraction exists for; its round count is logarithmic in component
    # size. Ids descend so the min label (0) sits at the FAR end of every
    # walk.
    n = 40
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    expect = {i: 0 for i in range(n + 1)}
    comp = {
        r["id"]: r["component"]
        for r in dd.connected_components_star(path).collect()
    }
    assert comp == expect
    # and the public API resolves the same graph on both sides of its
    # driver-edge gate
    union_find, star = _cc_paths(monkeypatch, path)
    assert star == union_find == expect


def test_connected_components_star_matches_min_label_on_mixed_graph(spark):
    # chains, a clique, islands, self-loops, reversed duplicates — the
    # star contraction called directly must give every vertex the minimum
    # id of its component, the same labels the public call returns
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (7, 7), (10, 11), (11, 10),
         (20, 21), (21, 22), (20, 22), (30, 31)],
        "doc_a long, doc_b long",
    )
    star = {
        r["id"]: r["component"]
        for r in dd.connected_components_star(edges).collect()
    }
    public = {
        r["id"]: r["component"] for r in dd.connected_components(edges).collect()
    }
    assert star == public
    assert star[5] == 1 and star[7] == 7 and star[22] == 20 and star[31] == 30


def test_connected_components_driver_and_distributed_paths_agree(
    spark, monkeypatch
):
    # identical labels from the size-gated union-find and the star
    # contraction, on a graph with chains, a dense clique, islands, a
    # self-loop, and reversed edge directions
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (7, 7), (10, 11), (11, 10),
         (20, 21), (21, 22), (20, 22), (30, 31)],
        "doc_a long, doc_b long",
    )
    expect = {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 7: 7, 10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 30: 30, 31: 30,
    }
    union_find, star = _cc_paths(monkeypatch, edges)
    assert star == union_find == expect


def test_dedup_near_collapses_clusters(spark):
    docs = _docs(spark).select("doc_id", "text")
    pairs = dd.minhash_lsh_pairs(docs, "doc_id", threshold=0.5)
    kept = dd.dedup_near(docs, pairs, "doc_id")
    n_docs, n_kept = docs.count(), kept.count()
    comp = dd.connected_components(pairs)
    losers = comp.where(F.col("id") != F.col("component")).count()
    assert n_kept == n_docs - losers
    # survivors of multi-doc clusters are exactly the component labels
    keep_ids = {r["component"] for r in comp.collect()}
    kept_ids = {r["doc_id"] for r in kept.collect()}
    assert keep_ids <= kept_ids


def test_corpus_prep_invariants(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.corpus_prep import (
        prepare_training_corpus,
    )

    docs = _docs(spark)
    corpus = prepare_training_corpus(docs).cache()
    try:
        assert 0 < corpus.count() < docs.count()
        # every survivor passes the filters
        assert corpus.where(F.col("quality_score") < 0.3).count() == 0
        assert corpus.where(F.col("lang_pred") != "en").count() == 0
        # no exact duplicates remain (by normalized-text fingerprint)
        from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
            exact_dup_groups,
        )

        assert exact_dup_groups(corpus, "doc_id").count() == 0
        # no near-dup pairs above threshold remain among survivors
        assert (
            dd.minhash_lsh_pairs(corpus, "doc_id", threshold=0.5).count() == 0
        )
    finally:
        corpus.unpersist()


def test_knn_ivf_recall(spark):
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_bruteforce(emb, queries, k=10).collect()
    }
    ivf = sim.knn_ivf(emb, queries, k=10, n_centroids=16, n_probe=4).collect()
    hits = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    recall = len(bf & hits) / len(bf)
    # 4/16 cells probed on uniformly random vectors (worst case for any
    # partition-based ANN); clustered real embeddings concentrate neighbors
    # in fewer cells. Floor guards regressions, not absolute quality.
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"
    # every query returns exactly k rows with rank 1..k
    assert len(ivf) == 5 * 10
    assert {r["rank"] for r in ivf} == set(range(1, 11))


def test_dedup_exact_removes_injected_dups(spark):
    docs = _docs(spark).select("doc_id", "text")
    dup = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    unioned = docs.unionAll(dup)
    deduped = dd.dedup_exact(unioned, "doc_id")
    assert deduped.count() == docs.count()
    # survivor is always the smaller id (the original)
    assert deduped.where(F.col("doc_id") >= 10000).count() == 0


def test_minhash_lsh_recall_vs_exact_jaccard(spark):
    docs = _docs(spark)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(docs, "doc_id", threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-dup docs"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.9, f"MinHash-LSH recall too low: {recall}"
    # verification step guarantees precision 1.0 (candidates re-checked)
    assert lsh <= exact


def test_simhash_near_pairs_complete_under_pigeonhole(spark):
    docs = _docs(spark).where(F.col("doc_id") < 100)
    sig = {r["doc"]: r["simhash"] for r in dd.simhash(docs, "doc_id").collect()}
    expected = set()
    ids = sorted(sig)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin(sig[a] ^ sig[b]).count("1") <= 3:
                expected.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dd.simhash_near_pairs(docs, "doc_id", max_hamming=3).collect()
    }
    assert got == expected


def test_stop_shingle_cap_bounds_fanout(spark):
    """A viral boilerplate shingle shared by every doc would otherwise
    candidate-pair the whole corpus quadratically; max_doc_freq removes it
    from the inverted index (and from the Jaccard space) entirely."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_pairs,
    )

    rows = [(i, f"common boiler plate w{i} x{i} y{i} z{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = jaccard_pairs(df, "doc_id", threshold=0.1)
    assert uncapped.count() == 40 * 39 // 2  # every pair shares the stop-shingle
    capped = jaccard_pairs(df, "doc_id", threshold=0.1, max_doc_freq=5)
    assert capped.count() == 0
    capped_lsh = minhash_lsh_pairs(df, "doc_id", threshold=0.1, max_doc_freq=5)
    assert capped_lsh.count() == 0


def test_null_and_empty_text_semantics(spark):
    """Real corpora contain null/empty documents: null text must score 0
    quality, emit NO shingles (matching SQL unnest-of-NULL), and never
    pair with genuinely-empty docs in the shingle pipelines."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        dedup as dd,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        text as tx,
    )

    rows = [(1, "the quick brown fox"), (2, None), (3, ""), (4, "the quick brown fox")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = {r["doc_id"]: r for r in tx.add_text_features(df).collect()}
    assert feats[2]["quality_score"] == 0.0
    assert feats[1]["quality_score"] > 0.0
    sh_docs = {r["doc"] for r in dd.shingle_table(df, "doc_id").collect()}
    assert 2 not in sh_docs and {1, 3, 4} <= sh_docs
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.jaccard_pairs(df, "doc_id", threshold=0.5).collect()}
    assert pairs == {(1, 4)}


def test_round6_review_regressions(spark):
    """Pins the round-6 code-review fixes: (a) q75 rejects k > min_tokens
    instead of silently missing short spans; (b) an already-star graph
    converges in ONE contraction round (the un-seeded fixpoint check used
    to need a confirming round and raised falsely at max_iter=1); (c)
    training the quality scorer on a corpus containing null-text docs
    does not crash."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.quality_model import (
        train_quality_scorer,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, None)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="must be <= min_tokens"):
        dd.exact_substring_spans(docs, min_tokens=10, k=13)

    star = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1)], "doc_a long, doc_b long"
    )
    comp = {
        r["id"]: r["component"]
        for r in dd.connected_components_star(star, max_iter=1).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1}

    model = train_quality_scorer(_docs(spark).select("doc_id", "text").unionAll(docs.where("doc_id = 2")), weak_label_threshold=0.9)
    assert model is not None


def test_quality_model_trains_scores_and_plugs_into_corpus_prep(spark):
    """The trained scorer must (a) separate the weak classes it distilled
    from (mean prob of heuristic-good docs > heuristic-bad docs), (b)
    score every doc in [0,1]."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        add_text_features,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.quality_model import (
        attach_quality_prob,
        train_quality_scorer,
    )

    docs = _docs(spark).select("doc_id", "text")
    model = train_quality_scorer(docs, weak_label_threshold=0.9)
    scored = attach_quality_prob(model, add_text_features(docs))
    stats = scored.agg(
        F.min("quality_prob"), F.max("quality_prob"),
        F.avg(F.when(F.col("quality_score") >= 0.9, F.col("quality_prob"))),
        F.avg(F.when(F.col("quality_score") < 0.9, F.col("quality_prob"))),
    ).first()
    assert 0.0 <= stats[0] <= stats[1] <= 1.0
    assert stats[2] > stats[3], "no separation between weak classes"
    assert scored.count() == docs.count()


def test_exact_substring_spans_hand_computed(spark):
    """Known overlap geometry: an 8-token span shared mid-document, one
    exact full copy, and a sub-k short doc. k=3 so the island arithmetic
    (run of g consecutive grams = g + k - 1 tokens) is hand-checkable."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        dedup as dd,
    )

    rows = [
        (1, "a1 a2 a3 a4 S1 S2 S3 S4 S5 S6 S7 S8 b1 b2"),
        (2, "c1 S1 S2 S3 S4 S5 S6 S7 S8 d1 d2"),
        (3, "a1 a2 a3 a4 S1 S2 S3 S4 S5 S6 S7 S8 b1 b2"),  # exact copy of 1
        (4, "x1 x2"),  # shorter than k: no grams, no error
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        tuple(r)
        for r in dd.exact_substring_spans(
            df, "doc_id", "text", min_tokens=5, k=3
        ).collect()
    }
    assert got == {
        (1, 2, 4, 1, 8),   # shared S-span: doc1 pos 4, doc2 pos 1, 8 tokens
        (1, 3, 0, 0, 14),  # full verbatim copy
        (2, 3, 1, 4, 8),   # same span, roles flipped by doc order
    }
    # min_tokens filters out the 8-token runs, keeps the full copy
    strict = {
        tuple(r)
        for r in dd.exact_substring_spans(
            df, "doc_id", "text", min_tokens=9, k=3
        ).collect()
    }
    assert strict == {(1, 3, 0, 0, 14)}


def test_bigram_lm_scores_behavior(spark):
    """The in-corpus bigram LM must (a) skip null/sub-2-token docs, (b)
    score a doc of corpus-frequent transitions LOWER (more fluent) than a
    doc of transitions seen nowhere else — the property the CCNet-style
    quality gate rests on."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        text as tx,
    )

    rows = [(i, "the cat sat on the mat") for i in range(20)]
    rows += [(100, "zqx wvu pqr nml"), (101, None), (102, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in tx.bigram_lm_scores(df).collect()}
    assert 101 not in out and 102 not in out
    assert out[0]["n_bigrams"] == 5 and out[100]["n_bigrams"] == 3
    assert out[0]["avg_neg_logprob"] < out[100]["avg_neg_logprob"]


def test_remove_token_spans_hand_computed(spark):
    """Span cutting: a known range disappears token-exactly with CASE
    PRESERVED (offsets come from the lowercased stream, the cut operates
    on the original tokens), OVERLAPPING spans cut their union (no double
    count), and span-free / null-text / empty-text docs pass through
    byte-for-byte with correct token accounting."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        dedup as dd,
    )

    docs = spark.createDataFrame(
        [(1, "A b C d E f G h"), (2, "x  Y z"), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 2, 3), (1, 4, 2)],  # cuts pos 2-4 and 4-5 -> union pos 2-5
        "doc_train long, start_train long, n_tokens long",
    )
    got = {r["doc_id"]: r for r in dd.remove_token_spans(docs, spans).collect()}
    assert got[1]["clean_text"] == "A b G h"
    assert got[1]["n_tokens"] == 8 and got[1]["n_tokens_removed"] == 4
    # untouched doc: ORIGINAL text verbatim (double space preserved)
    assert got[2]["clean_text"] == "x  Y z" and got[2]["n_tokens_removed"] == 0
    assert got[2]["n_tokens"] == 3
    assert got[3]["clean_text"] is None and got[3]["n_tokens"] == 0
    assert got[4]["clean_text"] == "  " and got[4]["n_tokens"] == 0


def test_cross_exact_substring_spans_hand_computed(spark):
    """Bipartite span geometry: an eval item embedded mid-train-doc must
    come back with the exact (start_train, start_eval, length); train-train
    overlaps must NOT appear (bipartite only)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        dedup as dd,
    )

    train = spark.createDataFrame(
        [
            (1, "t1 t2 S1 S2 S3 S4 S5 S6 t3 t4"),
            (2, "t1 t2 S1 S2 S3 S4 S5 S6 t3 t4"),  # exact copy of 1
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "e1 S1 S2 S3 S4 S5 S6"), (101, "zz yy xx")],
        "doc_id long, text string",
    )
    got = {
        tuple(r)
        for r in dd.cross_exact_substring_spans(
            train, ev, min_tokens=5, k=3
        ).collect()
    }
    # the 6-token S-span sits at train pos 2, eval pos 1; both train docs
    # match it; the train-train full overlap must NOT be emitted
    assert got == {(1, 100, 2, 1, 6), (2, 100, 2, 1, 6)}


def test_incremental_dedup_semantics(spark):
    corpus = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd"), (2, "xxx yyy zzz www")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "aaa bbb ccc ddd"),                  # exact dup of corpus 1
            (11, "completely different text here now"),
            (12, "completely different text here now"),  # exact dup of 11
            (13, "aaa bbb ccc ddd eee"),              # near-dup of corpus 1 (J=2/3)
            (14, "completely different text here soon"),  # near-dup of 11 (J=1/2)
        ],
        "doc_id long, text string",
    )
    out = dd.dedup_incremental(corpus, new, "doc_id", "text", threshold=0.5)
    assert {r["doc_id"] for r in out.collect()} == {11}


def test_incremental_dedup_id_collision_across_sides(spark):
    # A corpus id may numerically collide with a batch id; shingle sizes
    # must stay per-side. With a bare-doc sizes groupBy, corpus doc 1
    # (4 shingles) and batch doc 1 (3 shingles) would merge to sz=7,
    # deflating batch doc 2's Jaccard vs corpus doc 1 from 0.8 to 0.5 and
    # wrongly keeping it at threshold 0.6.
    corpus = spark.createDataFrame(
        [(1, "aaa bbb ccc ddd eee fff")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [
            (1, "xxx yyy zzz www vvv"),              # id collides, text novel
            (2, "aaa bbb ccc ddd eee fff ggg"),      # J=4/5 vs corpus doc 1
        ],
        "doc_id long, text string",
    )
    out = dd.dedup_incremental(corpus, new, "doc_id", "text", threshold=0.6)
    assert {r["doc_id"] for r in out.collect()} == {1}


def test_stratified_sample_exact_quotas_and_determinism(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        stratified_sample,
    )
    import math

    docs = _docs(spark).select("doc_id", "lang")
    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    fractions = {"en": 0.5, "de": 0.25}
    out = stratified_sample(docs, "lang", fractions, "doc_id", default_fraction=0.1)
    kept = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in totals.items():
        expect = math.ceil(n * fractions.get(lang, 0.1))
        assert kept.get(lang, 0) == expect, (lang, kept.get(lang), expect)
    # deterministic: a rerun selects the identical id set
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in stratified_sample(docs, "lang", fractions, "doc_id", default_fraction=0.1).collect()}
    assert ids1 == ids2
    # zero default drops unlisted strata entirely
    only = stratified_sample(docs, "lang", {"en": 1.0}, "doc_id")
    assert {r["lang"] for r in only.select("lang").distinct().collect()} == {"en"}


def test_temperature_mix_flattens_and_is_deterministic(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        temperature_mix,
    )
    import math

    docs = _docs(spark).select("doc_id", "lang")
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    out = temperature_mix(docs, "lang", "doc_id", alpha=0.5, total_frac=0.6)
    kept = {r["lang"]: r["n"] for r in
            out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # quotas replicate the documented formula exactly
    z = sum(math.sqrt(n) for n in totals.values())
    target = math.ceil(sum(totals.values()) * 0.6)
    for lang, n in totals.items():
        expect = min(n, math.ceil(round(target * math.sqrt(n) / z, 6)))
        assert kept.get(lang, 0) == expect, (lang, kept.get(lang), expect)
    # flattening: the dominant stratum's kept share drops below its raw share
    big = max(totals, key=totals.get)
    assert kept[big] / sum(kept.values()) < totals[big] / sum(totals.values())
    # deterministic id set across reruns
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in
            temperature_mix(docs, "lang", "doc_id", alpha=0.5, total_frac=0.6).collect()}
    assert ids1 == ids2
    # alpha=1 reduces to proportional quotas
    prop = temperature_mix(docs, "lang", "doc_id", alpha=1.0, total_frac=0.5)
    pk = {r["lang"]: r["n"] for r in
          prop.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    grand = sum(totals.values())
    for lang, n in totals.items():
        expect = min(n, math.ceil(round(math.ceil(grand * 0.5) * n / grand, 6)))
        assert pk.get(lang, 0) == expect


def test_hash_sample_per_group_null_ids_rank_last(spark):
    """hash_sample_per_group (operators/sampling.py): a null id hashes to
    a null __h, and the window must order NULLS LAST (round-8 ADVICE) —
    Spark's bare ASC default is NULLS FIRST while the DuckDB oracle's
    ORDER BY defaults NULLS LAST, the exact cross-engine rank-divergence
    class the round-6 adversarial battery caught on windows. A null-id
    row must never displace a real row from the sample."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        hash_sample_per_group,
    )

    df = spark.createDataFrame(
        [("en", 1), ("en", 2), ("en", 3), ("en", None), ("de", None)],
        "lang string, doc_id int",
    )
    out = hash_sample_per_group(df, "lang", "doc_id", n=3, salt="eval").collect()
    en = sorted(
        (r["doc_id"] for r in out if r["lang"] == "en"),
        key=lambda x: (x is None, x),
    )
    assert en == [1, 2, 3]  # null id ranked 4th, real rows fill the sample
    # a group with ONLY null ids still yields its (null) row when n allows
    de = [r for r in out if r["lang"] == "de"]
    assert len(de) == 1 and de[0]["doc_id"] is None and de[0]["sample_rank"] == 1


def test_pack_sequences_invariants(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        pack_sequences,
    )

    docs = _docs(spark).select("doc_id", "text")
    out = pack_sequences(docs, "doc_id", "text", budget=512, n_shards=8)
    rows = out.collect()
    assert len(rows) == docs.count()                       # every doc assigned once
    assert all(0 <= r["shard"] < 8 for r in rows)
    assert all(r["bin_id"] >= 0 for r in rows)
    # boundary rule: a doc's bin is floor(preceding-tokens-in-shard / budget)
    import collections
    by_shard = collections.defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r)
    again = {(r["doc_id"], r["shard"], r["bin_id"]) for r in
             pack_sequences(docs, "doc_id", "text", budget=512, n_shards=8).collect()}
    assert {(r["doc_id"], r["shard"], r["bin_id"]) for r in rows} == again  # deterministic
    # full independent recomputation: same md5 hash/shard/order/cumsum in
    # plain Python must reproduce every single bin assignment
    import hashlib

    def h(doc_id):
        return int(hashlib.md5(f"pack:{doc_id}".encode()).hexdigest()[:15], 16)

    for shard, rs in by_shard.items():
        rs = sorted(rs, key=lambda r: (h(r["doc_id"]), r["doc_id"]))
        assert all(h(r["doc_id"]) % 8 == shard for r in rs)
        prior = 0
        for r in rs:
            assert r["bin_id"] == prior // 512, (shard, r)
            prior += r["n_tokens"]

    # eager column-contract validation (round-8 ADVICE: the docstring
    # promised it, only the both-None case actually raised): the column
    # ACTUALLY USED must exist on the frame, with the contract in the
    # error, not a downstream AnalysisException
    import pytest

    with pytest.raises(ValueError, match="tokens_col 'nope'"):
        pack_sequences(docs, "doc_id", tokens_col="nope")
    with pytest.raises(ValueError, match="text_col 'gone'"):
        pack_sequences(docs, "doc_id", text_col="gone")
    with pytest.raises(ValueError, match="both were None"):
        pack_sequences(docs, "doc_id", text_col=None, tokens_col=None)
    with pytest.raises(ValueError, match="id_col 'missing_id'"):
        pack_sequences(docs, "missing_id", "text")


def test_chunk_documents_invariants(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        chunk_documents,
    )
    import pytest

    words = [f"w{i}" for i in range(130)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, "short doc"), (3, " ".join(words[:64]))],
        "doc_id long, text string",
    )
    out = [r for r in chunk_documents(docs, size=64, overlap=16).collect()]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 130 tokens, stride 48 -> starts 0/48/96: three chunks, tail covered
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["chunk_id"] for r in c1] == [0, 1, 2]
    assert c1[0]["chunk_text"].split() == words[0:64]
    assert c1[1]["chunk_text"].split() == words[48:112]     # 16-token overlap
    assert c1[2]["chunk_text"].split() == words[96:130]
    assert [r["n_tokens"] for r in c1] == [64, 64, 34]
    # short and exactly-one-window docs yield a single full chunk
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "short doc"
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_tokens"] == 64
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, size=16, overlap=16)


def test_repetition_scores_flags_degenerate_text(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),   # 4 identical 5-grams
            (2, "one two three four five six seven eight"),   # all distinct
            (3, "tiny doc"),                                  # < n words -> one gram
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.repetition_scores(df, "text", 5).collect()}
    assert out[1]["n_grams"] == 4 and out[1]["uniq_grams"] == 1
    assert out[1]["dup_gram_frac"] == 0.75
    assert out[2]["dup_gram_frac"] == 0.0
    assert out[3]["n_grams"] == 1 and out[3]["dup_gram_frac"] == 0.0


def test_redact_pii_semantics(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@corp.example.org or 192.168.001.5 ok"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c@d.co one ip 10.0.0.1"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 1 and out[1]["n_redactions"] == 2
    assert "<EMAIL>" in out[1]["clean_text"] and "<IP>" in out[1]["clean_text"]
    assert "@" not in out[1]["clean_text"] and "192.168" not in out[1]["clean_text"]
    assert out[2]["n_redactions"] == 0 and out[2]["clean_text"] == "no pii here at all"
    assert out[3]["n_email"] == 2 and out[3]["n_ipv4"] == 1


def test_cross_jaccard_finds_leaked_docs_only_across_sides(spark):
    docs = _docs(spark).select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    pairs = dd.cross_jaccard_pairs(bench, docs, threshold=0.8).collect()
    hits = {(r["doc_left"], r["doc_right"]) for r in pairs}
    # every leaked doc is found against its verbatim source with J = 1.0
    expected_self = {
        (r["doc_id"] + 200000, r["doc_id"])
        for r in docs.where(F.col("doc_id") % 11 == 0).collect()
    }
    assert expected_self <= hits
    assert all(r["jaccard"] == 1.0 for r in pairs
               if (r["doc_left"], r["doc_right"]) in expected_self)
    # bipartite: nothing compared within a side
    assert all(left >= 200000 and right < 200000 for left, right in hits)


def test_dedup_lines_strips_boilerplate_keeps_order(spark):
    hdr, foot = "SITE NAV", "(c) corp"
    docs = spark.createDataFrame(
        [
            (1, f"{hdr}\nalpha body one\nmiddle line\n{foot}"),
            (2, f"{hdr}\nbeta body two\n{foot}"),
            (3, f"{hdr}\ngamma body three\n{foot}"),
            (4, f"{hdr}\n{foot}"),                     # all boilerplate
            (5, "standalone doc no markup"),
            (6, None),                                  # dropped entirely
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dd.dedup_lines(docs, max_doc_freq=2).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # hdr/foot appear in 4 docs > cap 2 -> stripped; body order preserved
    assert out[1]["clean_text"] == "alpha body one\nmiddle line"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (4, 2)
    assert out[2]["clean_text"] == "beta body two"
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0
    assert out[5]["clean_text"] == "standalone doc no markup"
    # normalization: case/whitespace variants of a line count as one key
    v = spark.createDataFrame(
        [(1, "Cookie  Notice\nbody a"), (2, "cookie notice\nbody b"),
         (3, " COOKIE NOTICE \nbody c")],
        "doc_id long, text string",
    )
    vout = {r["doc_id"]: r["clean_text"]
            for r in dd.dedup_lines(v, max_doc_freq=2).collect()}
    assert vout == {1: "body a", 2: "body b", 3: "body c"}


def test_dedup_lines_null_id_doc_frequency(spark):
    """Doc frequency counts DISTINCT NON-NULL ids — the r16 window form
    (max(dense_rank) with a null-id correction) must reproduce the old
    countDistinct's null handling exactly: null-id docs still get their
    own output row (grouped under the null key), but they never raise a
    line's document frequency past the cap."""
    docs = spark.createDataFrame(
        [
            (1, "shared line\nbody one"),
            (2, "shared line\nbody two"),
            # null-id doc carrying the shared line: countDistinct ignores
            # it, so the shared line's frequency stays 2 == cap -> kept
            (None, "shared line\nbody null"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           dd.dedup_lines(docs, max_doc_freq=2).collect()}
    assert set(out) == {1, 2, None}
    assert out[1]["clean_text"] == "shared line\nbody one"
    assert out[None]["clean_text"] == "shared line\nbody null"
    # at cap 1 the shared line is boilerplate (2 non-null docs > 1)
    out1 = {r["doc_id"]: r["clean_text"] for r in
            dd.dedup_lines(docs, max_doc_freq=1).collect()}
    assert out1 == {1: "body one", 2: "body two", None: "body null"}


def test_clean_documents_stage_order_and_composition(spark):
    """Line dedup must see RAW newlines (markup stripping collapses them),
    then tags vanish, then PII redacts — the full cleaning prelude on one
    adversarial doc family."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.corpus_prep import (
        clean_documents,
    )

    hdr = "SITE NAV"
    docs = spark.createDataFrame(
        [
            (1, f"{hdr}\n<p>alpha body</p> mail a@b.io ok"),
            (2, f"{hdr}\n<p>beta body</p> fine text"),
            (3, f"{hdr}\ngamma body plain"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in clean_documents(docs, line_max_doc_freq=2).collect()}
    assert out[1] == "alpha body mail <EMAIL> ok"     # nav gone, tags gone, PII gone
    assert out[2] == "beta body fine text"
    assert out[3] == "gamma body plain"
    # order matters: stripping first would fuse the nav line into the body
    # (newline collapsed to a space) and the boilerplate could never be
    # removed line-wise — assert the nav text is truly absent
    assert all(hdr not in t for t in out.values())


def test_ngram_overlap_flags_span_leaks(spark):
    # an eval item buried verbatim inside a larger train doc must be
    # flagged (span-level), while near-verbatim (words changed so no 5
    # consecutive originals survive) must NOT match at n=5
    train = spark.createDataFrame(
        [
            (1, "intro words here " + " ".join(f"w{i}" for i in range(10)) + " trailing tail"),
            (2, "w0 w1 X w3 w4 w5 w6 Y w8 w9"),
            (3, "totally unrelated text with other words entirely"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, " ".join(f"w{i}" for i in range(10)))], "doc_id long, text string"
    )
    out = {(r["doc_train"], r["doc_eval"]): r["n_shared"]
           for r in dd.ngram_overlap_pairs(train, ev, n=5).collect()}
    assert set(out) == {(1, 100)}
    assert out[(1, 100)] == 6  # 10-word span -> 6 overlapping 5-grams
    # capped run (cap not binding) and uncapped agree
    capped = {(r["doc_train"], r["doc_eval"]): r["n_shared"]
              for r in dd.ngram_overlap_pairs(train, ev, n=5, max_doc_freq=100).collect()}
    assert capped == out
    # identical SHORT docs (< n words) match via the partial-shingle rule
    t2 = spark.createDataFrame([(7, "tiny leak doc")], "doc_id long, text string")
    e2 = spark.createDataFrame([(8, "tiny leak doc")], "doc_id long, text string")
    short = dd.ngram_overlap_pairs(t2, e2, n=13).collect()
    assert [(r["doc_train"], r["doc_eval"], r["n_shared"]) for r in short] == [(7, 8, 1)]


def test_dedup_near_by_keeps_preferred_survivor(spark):
    docs = spark.createDataFrame(
        [
            (1, "aaa bbb ccc ddd", 15),
            (2, "aaa bbb ccc ddd eee", 19),   # same cluster, longest -> survives
            (3, "xxx yyy zzz", 11),           # loner, untouched
            (4, "aaa bbb ccc ddd fff", 19),   # ties with 2 on length -> min id wins
        ],
        "doc_id long, text string, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 4)], "doc_a long, doc_b long")
    out = {r["doc_id"] for r in dd.dedup_near_by(docs, pairs, "n_chars").collect()}
    assert out == {2, 3}
    # min-id policy (dedup_near) would have kept 1 instead
    base = {r["doc_id"] for r in dd.dedup_near(docs, pairs).collect()}
    assert base == {1, 3}


def test_dedup_near_by_survives_reserved_column_names(spark):
    # id_col named "id" plus a user "component" column: the internal
    # component join must not collide with either (regression: .drop("id")
    # used to drop the user's id column too).
    docs = spark.createDataFrame(
        [
            (1, "aaa bbb ccc ddd", 15, "x"),
            (2, "aaa bbb ccc ddd eee", 19, "y"),
            (3, "xxx yyy zzz", 11, "z"),
        ],
        "id long, text string, n_chars long, component string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    out = dd.dedup_near_by(docs, pairs, "n_chars", id_col="id")
    assert set(out.columns) == {"id", "text", "n_chars", "component"}
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {2, 3}
    assert rows[2]["component"] == "y" and rows[3]["component"] == "z"


def test_strip_markup_semantics(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, '<html><body><p class="x">hello   world</p>'
                '<script>var a = "<b>";</script></body></html>'),
            (2, "plain text stays untouched"),
            (3, "<style>p { color: red }</style>just this"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.strip_markup(df).collect()}
    assert out[1]["clean_text"] == "hello world"
    assert out[1]["n_tags"] >= 6        # html body p script /script /body /html
    assert out[2]["clean_text"] == "plain text stays untouched"
    assert out[2]["n_tags"] == 0
    assert out[3]["clean_text"] == "just this"


def test_dsir_weights_rank_target_like_docs_higher(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        dsir_log_weights,
    )

    # target vocabulary {aa,bb}, off-target {xx,yy}; doc 4 mixes, doc 5 empty
    raw = spark.createDataFrame(
        [
            (1, "aa bb aa bb aa"),
            (2, "xx yy xx yy xx"),
            (3, "aa bb bb aa aa"),
            (4, "aa xx aa yy bb"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    target = raw.where(F.col("doc_id").isin(1, 3))
    out = dsir_log_weights(raw, target, "doc_id", "text", n_buckets=64)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    # target-vocab docs outrank the off-target doc, mixed doc in between
    assert rows[1]["log_importance"] > rows[4]["log_importance"]
    assert rows[4]["log_importance"] > rows[2]["log_importance"]
    assert rows[1]["keep"] and rows[3]["keep"] and not rows[2]["keep"]
    # null-text doc survives as a zero row, never kept
    assert rows[5]["n_grams"] == 0
    assert rows[5]["log_importance"] == 0.0
    assert not rows[5]["keep"]
    # uni+bigrams with multiplicity: 5 words -> 5 + 4 grams
    assert rows[1]["n_grams"] == 9


def test_gopher_rules_thresholds_and_structure(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        gopher_rules,
    )

    good = "the cat sat on the mat and looked to the dog with a smile " * 5
    bullets = "\n".join(f"- item {w}" for w in "one two three four five six seven eight nine ten".split()) + "\nthe end"
    ellipses = "the first thing...\nthe second thing...\nthe third\nthe fourth"
    numeric = " ".join(["12345"] * 60) + " the of"
    df = spark.createDataFrame(
        [
            (1, good),
            (2, bullets),
            (3, ellipses),
            (4, numeric),
            (5, None),
            (6, "   "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_rules(df, min_words=10).collect()}
    assert out[1]["keep"]
    # 10 of 11 lines start with a bullet (>90%) -> fails the paper's
    # "more than 90%" rule; exactly 0.9 would survive (<= boundary)
    assert out[2]["bullet_line_frac"] == 0.9091 and not out[2]["keep"]
    # 2 of 4 lines end with an ellipsis -> fails the <=0.3 rule
    assert out[3]["ellipsis_line_frac"] == 0.5 and not out[3]["keep"]
    # alphabetic-word fraction collapses on numeric spam
    assert out[4]["alpha_word_frac"] < 0.8 and not out[4]["keep"]
    # null and whitespace-only docs keep a zero row, keep=false
    for d in (5, 6):
        assert out[d]["n_words"] == 0 and not out[d]["keep"]
    # canonical stopword default rejects a doc with only one hit
    one_stop = "the quick brown fox jumps over lazy dogs again " * 6
    df2 = spark.createDataFrame([(7, one_stop)], "doc_id long, text string")
    r7 = gopher_rules(df2, min_words=10).collect()[0]
    assert r7["n_req_stopwords"] == 1 and not r7["keep"]


def test_gumbel_top_k_weighted_without_replacement(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        gumbel_top_k,
    )

    # 200 rows: ids 0-99 weight 3.0, ids 100-199 weight 0.0
    df = spark.createDataFrame(
        [(i, 3.0 if i < 100 else 0.0) for i in range(200)],
        "doc_id long, w double",
    )
    picked = gumbel_top_k(df, "doc_id", "w", k=50, salt="s1")
    rows = picked.collect()
    assert len(rows) == 50
    assert len({r["doc_id"] for r in rows}) == 50  # without replacement
    # e^3 ≈ 20x upweight: the heavy class must dominate the draw
    heavy = sum(1 for r in rows if r["doc_id"] < 100)
    assert heavy >= 45, f"heavy class underdrawn: {heavy}/50"
    # pure function of (data, salt): identical rerun, different salt differs
    again = {r["doc_id"] for r in gumbel_top_k(df, "doc_id", "w", 50, "s1").collect()}
    other = {r["doc_id"] for r in gumbel_top_k(df, "doc_id", "w", 50, "s2").collect()}
    assert again == {r["doc_id"] for r in rows}
    assert other != again


def test_c4_rules_line_and_page_semantics(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        c4_rules,
    )

    five = (
        "the first check passed here. the second check passed again. "
        "the third check passed at last. the fourth check passed as well. "
        "the fifth check passed too."
    )
    df = spark.createDataFrame(
        [
            (1, f"no terminal punctuation on this line\n{five}"),
            (2, f"this line ends with a period right here.\n{five}"),
            (3, f"too short.\n{five}"),
            (4, f"this menu needs JavaScript to render fully.\n{five}"),
            (5, f"lorem ipsum dolor sit amet over here.\n{five}"),
            (6, f"var f = function() {{ return 1; }}.\n{five}"),
            (7, "only one sentence lives on this page."),
            (8, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in c4_rules(df).collect()}
    # line without terminal punct dropped, tail kept -> 5 sentences, page ok
    assert out[1]["n_lines_kept"] == 1 and out[1]["keep"]
    # both lines kept -> 6 sentences
    assert out[2]["n_lines_kept"] == 2 and out[2]["n_sentences"] == 6
    assert out[2]["keep"]
    # <3-word line dropped (paper keeps lines of >=3 words)
    assert out[3]["n_lines_kept"] == 1
    # javascript line dropped case-insensitively
    assert out[4]["n_lines_kept"] == 1 and out[4]["keep"]
    # page kills: lorem ipsum and brace
    assert not out[5]["keep"] and not out[6]["keep"]
    # under the paper's 5-sentence floor
    assert out[7]["n_sentences"] == 1 and not out[7]["keep"]
    # null text -> zero row, clean_text '', keep false
    assert out[8]["clean_text"] == "" and out[8]["n_lines"] == 0
    assert not out[8]["keep"]


def test_bpe_train_matches_hand_computed_merges(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        train_bpe,
    )

    # the classic Sennrich corpus shape: low x3, lower x2, newest x1
    df = spark.createDataFrame(
        [(1, "low low low"), (2, "lower lower"), (3, "newest")],
        "doc_id long, text string",
    )
    merges = train_bpe(df, n_merges=3, min_pair_count=1).collect()
    got = [(r["merge_rank"], r["left"], r["right"], r["pair_count"]) for r in merges]
    # round 1: (l,o) and (o,w) tie at 5 -> lexicographic min (l,o)
    # round 2: (lo,w) at 5; round 3: (low,</w>) at 3
    assert got == [(0, "l", "o", 5), (1, "lo", "w", 5), (2, "low", "</w>", 3)]
    # deterministic: identical rerun
    again = [
        (r["merge_rank"], r["left"], r["right"], r["pair_count"])
        for r in train_bpe(df, n_merges=3, min_pair_count=1).collect()
    ]
    assert again == got


def test_bpe_encode_roundtrip_and_compression(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        bpe_encode,
        train_bpe,
    )

    df = spark.createDataFrame(
        [(1, "low low low"), (2, "lower lower"), (3, "newest"), (4, None)],
        "doc_id long, text string",
    )
    merges = train_bpe(df, n_merges=3, min_pair_count=1)
    out = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    # merged 'low</w>' is a single token; 'lower' shares the 'low' prefix
    assert out[1]["bpe_tokens"] == ["low</w>"] * 3
    assert out[2]["bpe_tokens"][:1] == ["low"]
    # round-trip: concatenated tokens reproduce the normalized text
    for i, text in [(1, "low low low"), (2, "lower lower"), (3, "newest")]:
        joined = "".join(out[i]["bpe_tokens"]).replace("</w>", "")
        assert joined == text.replace(" ", "")
        assert out[i]["n_subword_tokens"] == len(out[i]["bpe_tokens"])
    # merges compress: fewer tokens than chars+end-markers
    assert out[1]["n_subword_tokens"] < len("lowlowlow") + 3
    # null text -> empty token row, not a dropped doc
    assert out[4]["bpe_tokens"] == [] and out[4]["n_subword_tokens"] == 0


def test_gopher_repetition_signals(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        gopher_repetition,
    )

    clean = "the quick brown fox jumps over a lazy dog and then rests quietly"
    df = spark.createDataFrame(
        [
            (1, clean),
            (2, "dup line\ndup line\nunique line here"),      # 2/3 lines dup
            (3, "spam ham " * 20 + "end"),                     # one 2-gram dominates
            (4, "one two three four five " * 4 + "tail"),      # repeated 5-gram
            (5, None),
            (6, "  "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_repetition(df).collect()}
    assert out[1]["keep"]
    assert out[2]["dup_line_frac"] == round(1 / 3, 4) and not out[2]["keep"]
    assert out[3]["top_2gram_char_frac"] > 0.2 and not out[3]["keep"]
    assert out[4]["dup_5gram_char_frac"] > 0.15 and not out[4]["keep"]
    for d in (5, 6):
        assert out[d]["dup_line_frac"] == 0.0 and not out[d]["keep"]


def test_nfkc_normalization_opt_in(spark):
    """The C4/Gopher spec-fidelity option (round-7 verdict item 7):
    norm_text_col(nfkc=True) folds compatibility forms (full-width → 
    ASCII, ligature ﬁ → fi, superscript ² → 2) BEFORE lower/collapse, so
    visually-identical multilingual variants collide; default stays the
    pure-builtin path (NFKC is identity on ASCII, and the oracle engine
    has no NFKC twin)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.text import (
        norm_text_col,
    )

    df = spark.createDataFrame(
        [
            (0, "ＦＵＬＬｗｉｄｔｈ　ｔｅｘｔ"),  # full-width letters + ideographic space
            (1, "ﬁle ﬂow"),  # ligatures
            (2, "x² plus x³"),  # superscripts
            (3, "plain ascii stays."),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["dflt"], r["folded"])
        for r in df.select(
            "doc_id",
            norm_text_col("text").alias("dflt"),
            norm_text_col("text", nfkc=True).alias("folded"),
        ).collect()
    }
    assert out[0][1] == "fullwidth text"  # folded + ideographic space collapsed
    assert out[0][0] != out[0][1]
    assert out[1][1] == "file flow"
    assert out[2][1] == "x2 plus x3"
    # ASCII: NFKC is the identity — the opt-in changes nothing
    assert out[3][0] == out[3][1] == "plain ascii stays."
    assert out[4] == (None, None)


def test_bloom_bitset_and_probe_semantics(spark):
    """Bloom sketch (operators/sketches.py): members always hit (no false
    negatives), a definitive miss is possible, a FALSE POSITIVE is forced
    at tiny m (pigeonhole: more set positions than bits), null keys are
    definitive misses, and the bitset of a union is the bit_or of the
    parts' bitsets (the append-only rebuild property)."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        bloom_bitset,
        bloom_probe,
    )

    corpus = spark.createDataFrame(
        [(i, f"doc number {i}") for i in range(50)], "doc_id long, key string"
    )
    m, k = 1 << 16, 7
    bits = bloom_bitset(corpus, "key", m_bits=m, k=k)
    probe = spark.createDataFrame(
        [(0, "doc number 7"), (1, "definitely absent text"), (2, None)],
        "doc_id long, key string",
    )
    out = {
        r["doc_id"]: r["bloom_hit"]
        for r in bloom_probe(probe, bits, "key", "doc_id", m_bits=m, k=k).collect()
    }
    assert out[0] is True  # member: no false negatives, ever
    assert out[1] is False  # ample m: miss is definitive
    assert out[2] is False  # null key: definitive miss, row still present

    # duplicate probe ids (round-8 ADVICE): a repeated id contributes k
    # exploded rows PER occurrence — the all-bits test must stay
    # sum == count(*), not sum == k, or a true member reads as a
    # "definitive miss" and the no-false-negative guarantee breaks
    dup = spark.createDataFrame(
        [(0, "doc number 7"), (0, "doc number 7"), (1, "absent"), (1, "absent")],
        "doc_id long, key string",
    )
    dout = {
        r["doc_id"]: r["bloom_hit"]
        for r in bloom_probe(dup, bits, "key", "doc_id", m_bits=m, k=k).collect()
    }
    assert dout[0] is True  # duplicated member still hits
    assert dout[1] is False  # duplicated non-member still misses

    # forced false positive: m=8 bits, 50 keys * 7 hashes saturate the
    # bitset, so EVERY probe hits — including one that is not a member
    tiny = bloom_bitset(corpus, "key", m_bits=8, k=k)
    fp = bloom_probe(probe, tiny, "key", "doc_id", m_bits=8, k=k)
    assert {r["doc_id"]: r["bloom_hit"] for r in fp.collect()}[1] is True

    # union property: bitset(A ∪ B) == per-word bit_or(bitset(A), bitset(B))
    a = corpus.where(F.col("doc_id") < 25)
    b = corpus.where(F.col("doc_id") >= 25)
    merged = (
        bloom_bitset(a, "key", m_bits=m, k=k)
        .unionByName(bloom_bitset(b, "key", m_bits=m, k=k))
        .groupBy("word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    whole = bloom_bitset(corpus, "key", m_bits=m, k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_count_min_sketch_bounds_and_merge(spark):
    """Count-Min (operators/sketches.py): estimates are one-sided (never
    below the true count), exact when w is ample (no collisions among few
    keys), collide UPWARD when w is tiny, and two batches' tables merge
    by cellwise sum into the whole corpus's table."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    occ = spark.createDataFrame(
        [(w,) for w in ["a"] * 5 + ["b"] * 3 + ["c"] * 2 + ["d"]],
        "word string",
    )
    exact = occ.groupBy("word").agg(F.count("*").alias("n"))

    cms = count_min_table(occ, "word", w=1024, d=4)
    out = {
        r["word"]: (r["n"], r["cms_estimate"])
        for r in count_min_lookup(exact, cms, "word", w=1024, d=4).collect()
    }
    for w, (n, est) in out.items():
        assert est == n, (w, n, est)  # ample width: exact

    tiny = count_min_table(occ, "word", w=2, d=1)
    t = {
        r["word"]: (r["n"], r["cms_estimate"])
        for r in count_min_lookup(exact, tiny, "word", w=2, d=1).collect()
    }
    assert all(est >= n for n, est in t.values())  # one-sided, always
    assert any(est > n for n, est in t.values())  # 4 keys in 2 cells: collision

    # weighted build ≡ occurrence-level build: cells from the (word, n)
    # frequency table are bit-identical (the cell sum distributes over
    # the groupBy) — the q92 scale path (d fewer corpus-sized explodes)
    wc = occ.groupBy("word").agg(F.count("*").alias("n"))
    weighted = count_min_table(wc, "word", w=1024, d=4, weight_col="n")
    assert sorted(map(tuple, weighted.collect())) == sorted(
        map(tuple, cms.collect())
    )

    # merge property: cms(A ∪ B) == cellwise sum of cms(A), cms(B)
    a = occ.limit(6)
    b = occ.exceptAll(a)
    merged = (
        count_min_table(a, "word", w=1024, d=4)
        .unionByName(count_min_table(b, "word", w=1024, d=4))
        .groupBy("row", "col")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = count_min_table(occ, "word", w=1024, d=4)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_hll_distinct_accuracy(spark):
    """HLL (operators/sketches.py::hll_distinct): estimate within the
    ~3·stderr band (1.04/√4096 ≈ 1.6%) of the true cardinality in both
    branches — small range (linear counting) and raw (n >> m)."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        hll_distinct,
    )

    for n in (300, 50_000):
        df = spark.range(n).select(F.concat(F.lit("key-"), "id").alias("k"))
        est = hll_distinct(df, "k").collect()[0]["hll_estimate"]
        assert abs(est - n) / n < 0.05, (n, est)

    # empty / all-null inputs estimate 0.0, not NULL (round-8 ADVICE: the
    # register sum over zero rows is NULL and used to propagate into a
    # composed crossJoin consumer)
    empty = spark.createDataFrame([], "k string")
    assert hll_distinct(empty, "k").collect()[0]["hll_estimate"] == 0.0
    nulls = spark.createDataFrame([(None,), (None,)], "k string")
    assert hll_distinct(nulls, "k").collect()[0]["hll_estimate"] == 0.0


def test_unigram_train_and_encode(spark):
    """Unigram-LM tokenizer (operators/unigram.py): hand-checkable
    segmentation on a tiny corpus, round-trip (pieces reassemble the
    normalized word), OOV coverage (unseen chars pass through whole),
    and determinism (two trainings are identical)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.unigram import (
        train_unigram,
        unigram_encode,
    )

    docs = spark.createDataFrame(
        [(i, "abab abab cd") for i in range(10)] + [(10, "abab cd cd")],
        "doc_id long, text string",
    )
    vocab = train_unigram(docs, vocab_size=8, em_iters=2)
    vp = {r["piece"]: r["logprob"] for r in vocab.collect()}
    # the dominant whole words must be learned as single pieces
    assert "abab" in vp and "cd" in vp
    # coverage floor: every corpus char survives pruning
    assert {"a", "b", "c", "d"} <= set(vp)

    out = {r["doc_id"]: r for r in unigram_encode(docs, vocab).collect()}
    assert out[0]["pieces"] == ["abab", "abab", "cd"]
    assert out[10]["pieces"] == ["abab", "cd", "cd"]

    # round-trip + OOV: unseen chars emit the whole word as one piece
    probe = spark.createDataFrame(
        [(0, "abab zzz cd")], "doc_id long, text string"
    )
    enc = unigram_encode(probe, vocab).collect()[0]
    assert enc["pieces"] == ["abab", "zzz", "cd"]
    assert "".join(enc["pieces"]) == "ababzzzcd"

    # determinism: a second training is byte-identical
    vocab2 = train_unigram(docs, vocab_size=8, em_iters=2)
    assert sorted(map(tuple, vocab.collect())) == sorted(
        map(tuple, vocab2.collect())
    )


def test_theta_overlap_exact_and_estimation_regimes(spark):
    """Theta sketch (operators/sketches.py::theta_overlap): when both
    sides fit their sketches (θ = 2^60) every estimate is EXACT; in the
    estimation regime (n >> k) estimates stay within a few standard
    errors (~1/√k); null keys are ignored."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        theta_overlap,
    )

    # exact regime: 30 vs 25 keys with 10 shared, k=128 holds everything
    a = spark.createDataFrame([(f"k{i}",) for i in range(30)], "t string")
    b = spark.createDataFrame(
        [(f"k{i}",) for i in range(20, 45)] + [(None,)], "t string"
    )
    r = theta_overlap(a, b, "t", k=128).collect()[0]
    assert (
        r["est_distinct_a"],
        r["est_distinct_b"],
        r["est_union"],
        r["est_intersection"],
    ) == (30.0, 25.0, 45.0, 10.0)

    # estimation regime: 5000 vs 5000 with 1000 shared, k=256
    big_a = spark.range(5000).select(F.concat(F.lit("a"), "id").alias("t"))
    big_b = spark.range(4000, 9000).select(
        F.concat(F.lit("a"), "id").alias("t")
    )
    e = theta_overlap(big_a, big_b, "t", k=256).collect()[0]
    assert abs(e["est_distinct_a"] - 5000) / 5000 < 0.25
    assert abs(e["est_union"] - 9000) / 9000 < 0.25
    assert 300 < e["est_intersection"] < 2500  # overlap visible, right scale


def test_tokenizer_corpus_pinned_by_naive_bpe_reference(spark):
    """The q99 pin test: ``tokenizer_corpus`` at a real merge budget,
    recomputed end to end by a from-scratch pure-Python reference —
    naive-RECOUNT Sennrich training (pair counts rebuilt from the whole
    vocabulary every round, no incremental index), rank-ORDER greedy
    encoding (each learned merge applied to all occurrences in training
    order, not the engine's lowest-rank-first priority walk), and a
    hashlib-md5 re-implementation of the packing arithmetic. Every
    deliberate implementation difference from operators/bpe.py makes the
    equality a genuine cross-check, not a transcription.

    Pins exactly: the merge table (ranks, pairs, counts), each doc's
    n_subword_tokens, and each doc's (shard, bin_id) — plus the stage
    hand-offs only the composition exercises: the trainer and encoder
    share one normalization (token round-trip reproduces the normalized
    text) and packing consumed the ENCODER's counts (asserted distinct
    from whitespace counts for every surviving doc)."""
    import hashlib
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        tokenizer_corpus,
    )

    END = "</w>"
    docs = [
        (1, "the low low low lower newest"),
        (2, "that widest newest low and lower lowest"),
        (3, "of newest newest low lower to the widest"),
        # exact duplicate of doc 1 after normalization -> dedup drops it
        (4, "  The LOW   low LOW lower   NEWEST "),
        # digits only: passes quality, predicts 'und' -> language gate drops
        (5, "9999 1234 5678 42"),
        # punctuation spray: avg token len < 3 and punct-heavy -> quality gate
        (6, "the ! ? ; # . , -"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # ---- naive reference, sharing NO code with the engine ----
    def norm(t):
        return " ".join(t.strip().lower().split())

    # clean stage expectation is hand-derived from the fixture (quality and
    # language gates per operators/text.py, exact dedup keeps min id)
    survivors = {i: norm(t) for i, t in docs if i in (1, 2, 3)}

    wc = Counter(w for t in survivors.values() for w in t.split(" "))

    def naive_train(word_counts, n_merges, min_pair_count):
        vocab = [[tuple(w) + (END,), c] for w, c in sorted(word_counts.items())]
        merges = []
        for rank in range(n_merges):
            pairs = Counter()  # full recount every round
            for syms, c in vocab:
                for p in zip(syms, syms[1:]):
                    pairs[p] += c
            if not pairs:
                break
            top = max(pairs.values())
            if top < min_pair_count:
                break
            left, right = min(p for p, c in pairs.items() if c == top)
            merges.append((rank, left, right, left + right, top))
            for entry in vocab:
                syms = entry[0]
                out, i = [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                entry[0] = tuple(out)
            cur = {tuple(e[0]) for e in vocab}
            assert len(cur) == len(vocab), "merge collapsed distinct words"
        return merges

    naive_merges = naive_train(wc, n_merges=3, min_pair_count=2)
    assert len(naive_merges) == 3
    assert naive_merges[0][1:3] == ("l", "o")  # (l,o)/(o,w) tie at 9, lex min

    def naive_encode(word, merges):
        syms = list(word) + [END]
        for _, left, right, _, _ in merges:  # training order, all occurrences
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    naive_counts = {
        i: sum(len(naive_encode(w, naive_merges)) for w in t.split(" "))
        for i, t in survivors.items()
    }

    budget, n_shards, salt = 8, 2, "tokpack"

    def h60(doc_id):
        return int(hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:15], 16)

    naive_pack = {}
    for shard in range(n_shards):
        ids = sorted(
            (i for i in survivors if h60(i) % n_shards == shard),
            key=lambda i: (h60(i), i),
        )
        prior = 0
        for i in ids:
            naive_pack[i] = (shard, prior // budget, naive_counts[i])
            prior += naive_counts[i]
    assert max(b for _, b, _ in naive_pack.values()) >= 1  # bins non-trivial

    # ---- the engine, instrumented ----
    out = {}
    result = tokenizer_corpus(
        df,
        n_merges=3,
        min_pair_count=2,
        budget=budget,
        n_shards=n_shards,
        salt=salt,
        out=out,
    )

    clean = {r["doc_id"] for r in out["clean"].collect()}
    assert clean == set(survivors), "quality/language/dedup gates drifted"

    got_merges = [
        (r["merge_rank"], r["left"], r["right"], r["new_symbol"], r["pair_count"])
        for r in out["merges"].orderBy("merge_rank").collect()
    ]
    assert got_merges == [(r, l, rt, n, c) for r, l, rt, n, c in naive_merges]

    encoded = {r["doc_id"]: r for r in out["encoded"].collect()}
    for i, t in survivors.items():
        # hand-off pin #1: encoder saw the trainer's normalization —
        # the token stream round-trips to the normalized text exactly
        joined = "".join(encoded[i]["bpe_tokens"]).replace(END, " ").strip()
        assert joined == t
        assert encoded[i]["n_subword_tokens"] == naive_counts[i]
        # hand-off pin #2: subword counts are NOT whitespace counts, so
        # bin equality below can only come from the encoder hand-off
        assert naive_counts[i] != len(t.split(" "))

    got = {
        r["doc_id"]: (r["shard"], r["bin_id"], r["n_tokens"])
        for r in result.collect()
    }
    assert got == naive_pack


def test_unigram_capstone_pinned_by_naive_viterbi_reference(spark):
    """The q101 pin test: ``tokenizer_corpus_unigram`` at a real trained
    configuration, recomputed end to end by a from-scratch pure-Python
    reference — naive seed counting (nested loops over (start, len)
    slots), hard EM with EXHAUSTIVE-ENUMERATION best segmentation (every
    way to split each word, max summed logprob, lexicographically
    smallest piece sequence on ties — the engine uses a DP; enumeration
    is the independent twin), top-k pruning with the single-char
    coverage floor, and a hashlib-md5 packing twin. The small config
    (vocab_size=8, max_piece_len=3, seed_size=12, em_iters=2) makes the
    seed cap, the pruning cut, and the coverage floor all bite."""
    import hashlib
    import math
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        tokenizer_corpus_unigram,
    )

    docs = [
        (1, "the low low low lower newest"),
        (2, "that widest newest low and lower lowest"),
        (3, "of newest newest low lower to the widest"),
        (4, "  The LOW   low LOW lower   NEWEST "),
        (5, "9999 1234 5678 42"),
        (6, "the ! ? ; # . , -"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    survivors = {
        i: " ".join(t.strip().lower().split()) for i, t in docs if i in (1, 2, 3)
    }
    VOCAB, PLEN, SEEDS, ITERS = 8, 3, 12, 2
    budget, n_shards, salt = 8, 2, "unipack"

    # ---- naive reference ----
    wc = Counter(w for t in survivors.values() for w in t.split(" "))

    seed = Counter()
    for w, n in wc.items():
        for i in range(len(w)):
            for l in range(1, min(PLEN, len(w) - i) + 1):
                seed[w[i : i + l]] += n
    capped = dict(sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))[:SEEDS])
    chars = {c for w in wc for c in w}
    for c in chars:
        capped.setdefault(c, 1)
    total = sum(capped.values())
    logp = {p: math.log(n / total) for p, n in capped.items()}

    def segmentations(word, pieces):
        if not word:
            yield ()
            return
        for l in range(1, len(word) + 1):
            head = word[:l]
            if head in pieces:
                for rest in segmentations(word[l:], pieces):
                    yield (head,) + rest

    def best_seg(word, lp):
        best = None
        for seg in segmentations(word, lp):
            score = 0.0
            for p in seg:  # left-to-right, the same accumulation order
                score += lp[p]
            if (
                best is None
                or score > best[0]
                or (score == best[0] and seg < best[1])
            ):
                best = (score, seg)
        return list(best[1]) if best else [word]  # OOV: whole word

    for _ in range(ITERS):
        counts = Counter()
        for w, n in wc.items():
            for p in best_seg(w, logp):
                counts[p] += n
        for c in chars:
            counts.setdefault(c, 1)
        total = sum(counts.values())
        logp = {p: math.log(n / total) for p, n in counts.items()}

    kept = sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))[:VOCAB]
    kept_pieces = {p for p, _ in kept}
    kept += [(c, logp[c]) for c in sorted(chars) if c not in kept_pieces]
    naive_vocab = {p: round(lp, 6) for p, lp in kept}
    assert len(naive_vocab) > VOCAB  # the coverage floor restored chars

    final_lp = dict(naive_vocab)  # encode under the ROUNDED table, like
    naive_counts = {              # unigram_encode reading the DataFrame
        i: sum(len(best_seg(w, final_lp)) for w in t.split(" "))
        for i, t in survivors.items()
    }

    def h60(doc_id):
        return int(hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:15], 16)

    naive_pack = {}
    for shard in range(n_shards):
        ids = sorted(
            (i for i in survivors if h60(i) % n_shards == shard),
            key=lambda i: (h60(i), i),
        )
        prior = 0
        for i in ids:
            naive_pack[i] = (shard, prior // budget, naive_counts[i])
            prior += naive_counts[i]

    # ---- the engine, instrumented ----
    out = {}
    result = tokenizer_corpus_unigram(
        df,
        vocab_size=VOCAB,
        max_piece_len=PLEN,
        seed_size=SEEDS,
        em_iters=ITERS,
        budget=budget,
        n_shards=n_shards,
        salt=salt,
        out=out,
    )

    assert {r["doc_id"] for r in out["clean"].collect()} == set(survivors)
    got_vocab = {r["piece"]: r["logprob"] for r in out["vocab"].collect()}
    assert got_vocab == naive_vocab

    encoded = {r["doc_id"]: r for r in out["encoded"].collect()}
    for i, t in survivors.items():
        assert "".join(encoded[i]["pieces"]) == t.replace(" ", "")
        assert encoded[i]["n_pieces"] == naive_counts[i]
        assert naive_counts[i] != len(t.split(" "))  # encoder counts, not ws

    got = {
        r["doc_id"]: (r["shard"], r["bin_id"], r["n_tokens"])
        for r in result.collect()
    }
    assert got == naive_pack


def test_tokenizer_artifact_roundtrip(spark, tmp_path):
    """S5 for the tokenizer family: train -> save -> load -> encode must
    be byte-identical to encoding with the in-session model, for BOTH
    families; wrong frames fail the schema contract loudly."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        bpe_encode,
        train_bpe,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.unigram import (
        train_unigram,
        unigram_encode,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        encode_with_artifact,
        load_tokenizer_artifact,
        save_tokenizer_artifact,
    )

    df = spark.createDataFrame(
        [(1, "low low low lower"), (2, "newest widest lower low")],
        "doc_id long, text string",
    )

    merges = train_bpe(df, n_merges=3, min_pair_count=1)
    save_tokenizer_artifact(merges, str(tmp_path / "bpe"))
    loaded = load_tokenizer_artifact(spark, str(tmp_path / "bpe"))
    assert sorted(map(tuple, merges.collect())) == sorted(
        map(tuple, loaded.collect())
    )
    direct = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(df, merges).collect()}
    via = {r["doc_id"]: r["bpe_tokens"] for r in bpe_encode(df, loaded).collect()}
    assert direct == via

    vocab = train_unigram(df, vocab_size=6, max_piece_len=3, em_iters=1)
    save_tokenizer_artifact(vocab, str(tmp_path / "uni"))
    uloaded = load_tokenizer_artifact(spark, str(tmp_path / "uni"))
    ud = {r["doc_id"]: r["pieces"] for r in unigram_encode(df, vocab).collect()}
    uv = {r["doc_id"]: r["pieces"] for r in unigram_encode(df, uloaded).collect()}
    assert ud == uv

    with pytest.raises(ValueError, match="contract"):
        save_tokenizer_artifact(df, str(tmp_path / "bad"))
    df.write.mode("overwrite").parquet(str(tmp_path / "not_artifact"))
    with pytest.raises(ValueError, match="not a saved tokenizer artifact"):
        load_tokenizer_artifact(spark, str(tmp_path / "not_artifact"))
    with pytest.raises(ValueError, match="contract"):
        encode_with_artifact(df, df)


def test_repeat_by_weight_pinned_by_naive_reference(spark):
    """Epoch-weighted upsampling reproduced by an independent hashlib
    twin: per-row copy counts (floor + fractional Bernoulli), copy_id
    tagging, weight-0 drop, default-weight fallback, and determinism."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        repeat_by_weight,
    )
    import collections
    import hashlib

    docs = _docs(spark).select("doc_id", "source")
    weights = {"src0": 2.5, "src1": 0.0, "src2": 0.9999995, "src3": 1.0}
    out = repeat_by_weight(
        docs, "source", weights, "doc_id", default_weight=0.25, salt="ep"
    ).collect()

    def expected_copies(doc_id, source):
        w = weights.get(source, 0.25)
        millionths = round(w * 1_000_000)  # 6-dp contract: .9999995 → 1.0
        base, thr = divmod(millionths, 1_000_000)
        h = int(hashlib.md5(f"ep:{doc_id}".encode()).hexdigest()[:15], 16)
        return base + (1 if h % 1_000_000 < thr else 0)

    got = collections.Counter()
    for r in out:
        got[r["doc_id"]] += 1
    for r in docs.collect():
        want = expected_copies(r["doc_id"], r["source"])
        assert got.get(r["doc_id"], 0) == want, (r["doc_id"], r["source"])
    by_doc = collections.defaultdict(set)
    for r in out:
        by_doc[r["doc_id"]].add(r["copy_id"])
    for doc_id, copies in by_doc.items():
        assert copies == set(range(len(copies)))  # 0-based dense tags
    import pytest

    with pytest.raises(ValueError, match=">= 0"):
        repeat_by_weight(docs, "source", {"src0": -1.0}, "doc_id")


def test_bin_manifest_consistent_with_pack_sequences(spark):
    """The manifest must be a pure rollup of pack_sequences' assignment:
    same (doc → shard, bin) mapping, concatenation order = the (hash, id)
    packing order, offsets = exclusive cumsum of in-bin token counts
    starting at 0, and bin_tokens = sum of member counts."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        bin_manifest,
        pack_sequences,
    )
    import hashlib

    docs = _docs(spark).select("doc_id", "text")
    flat = pack_sequences(docs, "doc_id", "text", budget=256, n_shards=4)
    mani = bin_manifest(docs, "doc_id", "text", budget=256, n_shards=4)
    flat_rows = {r["doc_id"]: r for r in flat.collect()}
    n_tok = {r["doc_id"]: r["n_tokens"] for r in flat_rows.values()}

    def h(doc_id):
        return int(hashlib.md5(f"pack:{doc_id}".encode()).hexdigest()[:15], 16)

    seen = set()
    for r in mani.collect():
        ids, offs = r["doc_ids"], r["doc_offsets"]
        assert len(ids) == len(offs) == r["n_docs"]
        assert ids == sorted(ids, key=lambda d: (h(d), d))  # concat order
        assert offs[0] == 0
        run = 0
        for d, off in zip(ids, offs):
            assert (flat_rows[d]["shard"], flat_rows[d]["bin_id"]) == (
                r["shard"],
                r["bin_id"],
            )
            assert off == run, (r["shard"], r["bin_id"], d)
            run += n_tok[d]
            seen.add(d)
        assert r["bin_tokens"] == sum(n_tok[d] for d in ids)
    assert seen == set(flat_rows)  # every doc appears in exactly one bin


def test_ffd_packing_pinned_by_naive_reference(spark):
    """pack_sequences_ffd reproduced by a from-scratch pure-Python FFD
    over the same hash shards, plus the strict-capacity, coverage, and
    determinism invariants. The twin recomputes shards/order with
    hashlib (not the engine's SQL md5) and packs with an independent
    loop — exact agreement pins the semantics, not shared code."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        pack_sequences_ffd,
    )
    import collections
    import hashlib

    budget, n_shards = 256, 4
    # null-text and null-id docs ride along so the documented null
    # contract (null counts pack as LITERAL 0 tokens; null ids land in
    # their own null shard) is exercised, not coincidental
    docs = (
        _docs(spark)
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                [(90001, None), (None, "tail doc with a null id")],
                "doc_id long, text string",
            )
        )
    )
    # the engine counts regex-split tokens (split keeps the '' token of an
    # empty/boundary string, unlike str.split()); recompute exactly so
    import re as _re

    src = [
        (
            r["doc_id"],
            len(_re.split(r"\s+", r["text"].strip()))
            if r["text"] is not None
            else 0,  # the twin's null rule: null counts ARE 0 tokens
        )
        for r in docs.collect()
    ]

    def h(doc_id):
        # a null id hashes to null in the engine (concat-null absorbs),
        # landing in its own null shard; the twin mirrors with None
        if doc_id is None:
            return None
        return int(hashlib.md5(f"pack:{doc_id}".encode()).hexdigest()[:15], 16)

    expected = {}
    by_shard = collections.defaultdict(list)
    for d, n in src:
        hv = h(d)
        by_shard[hv % n_shards if hv is not None else None].append((d, n))
    for shard, members in by_shard.items():
        members.sort(
            key=lambda x: (
                -x[1],
                x[0] is None,  # null id sorts last within its ties
                h(x[0]) if x[0] is not None else 0,
                x[0] if x[0] is not None else 0,
            )
        )
        residual = []
        for d, n in members:
            placed = -1
            for i, r in enumerate(residual):
                if r >= n:
                    placed, residual[i] = i, r - n
                    break
            if placed < 0:
                residual.append(max(budget - n, 0))
                placed = len(residual) - 1
            expected[d] = (shard, placed)

    out = pack_sequences_ffd(
        docs, "doc_id", "text", budget=budget, n_shards=n_shards
    ).collect()
    assert len(out) == len(src)  # every doc assigned exactly once
    bin_load = collections.Counter()
    for r in out:
        assert r["n_tokens"] is not None  # null counts emit LITERAL 0
        assert (r["shard"], r["bin_id"]) == expected[r["doc_id"]], r
        bin_load[(r["shard"], r["bin_id"])] += r["n_tokens"]
    # the null-TEXT doc packs as LITERAL 0; the null-ID doc keeps its
    # real count, parked in the null shard
    assert {r["n_tokens"] for r in out if r["doc_id"] == 90001} == {0}
    assert {r["n_tokens"] for r in out if r["doc_id"] is None} == {6}
    # strict capacity: only single-doc bins may exceed the budget
    n_docs_per_bin = collections.Counter(
        (r["shard"], r["bin_id"]) for r in out
    )
    for key, load in bin_load.items():
        assert load <= budget or n_docs_per_bin[key] == 1, (key, load)
    # determinism across reruns
    again = {
        r["doc_id"]: (r["shard"], r["bin_id"])
        for r in pack_sequences_ffd(
            docs, "doc_id", "text", budget=budget, n_shards=n_shards
        ).collect()
    }
    assert again == expected


def test_repeat_by_weight_eager_column_contract(spark):
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        repeat_by_weight,
    )
    import pytest

    docs = _docs(spark).select("doc_id", "source")
    with pytest.raises(ValueError, match="strata_col 'nope'"):
        repeat_by_weight(docs, "nope", {}, "doc_id")
    with pytest.raises(ValueError, match="id_col 'gone'"):
        repeat_by_weight(docs, "source", {}, "gone")
    with pytest.raises(ValueError, match="copy_col 'source' already"):
        repeat_by_weight(docs, "source", {}, "doc_id", copy_col="source")


def test_select_within_budget_pinned_by_naive_reference(spark):
    """select_within_budget recomputed by a pure-Python twin over a
    fixture that hits every null seam the contract documents: null score
    (ranks last), null tokens heading a group AND mid-group (both consume
    0 budget — the same rule, pinned), null id, and a group whose first
    doc alone overflows the budget (greedy-prefix: later smaller docs
    stay unselected)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        select_within_budget,
    )
    import pytest

    rows = [
        # group a: plain descending-score pack, budget closes mid-group
        ("a", 1, 9.0, 60),
        ("a", 2, 8.0, 30),
        ("a", 3, 7.0, 20),
        ("a", 4, 6.0, 5),
        # group b: best doc has NULL tokens (group-leading null: free),
        # then a mid-group null, then real docs
        ("b", 5, 9.0, None),
        ("b", 6, 8.0, 70),
        ("b", 7, 7.5, None),
        ("b", 8, 7.0, 40),
        # group c: first doc alone overflows -> nothing after it fits
        # (greedy-prefix, not knapsack), null score ranks last, null id
        # ranks after real ids at the same score
        ("c", 9, 9.0, 150),
        ("c", 10, 8.0, 10),
        ("c", None, 8.0, 10),
        ("c", 11, None, 10),
    ]
    df = spark.createDataFrame(
        rows, "grp string, id long, score double, toks long"
    )
    budget = 100

    def key(r):
        g, i, s, t = r
        return (
            s is None, -(s or 0.0),          # score DESC NULLS LAST
            i is None, i if i is not None else 0,  # id ASC NULLS LAST
            t is None, -(t or 0),            # tokens DESC NULLS LAST
        )

    expected = {}
    for g in ("a", "b", "c"):
        cum = 0
        for rank, r in enumerate(
            sorted((r for r in rows if r[0] == g), key=key), start=1
        ):
            cum += r[3] or 0  # null tokens consume 0 budget
            expected[(g, r[1])] = (rank, cum, cum <= budget)

    out = select_within_budget(
        df, "grp", "score", "toks", "id", budget=budget
    ).collect()
    assert len(out) == len(rows)
    for r in out:
        assert (
            r["sel_rank"],
            r["cum_tokens"],
            r["selected"],
        ) == expected[(r["grp"], r["id"])], r
    # the two documented null-token outcomes agree: both selected iff the
    # running total fits, group-leading and mid-group alike
    got = {r["id"]: r["selected"] for r in out}
    assert got[5] is True and got[7] is True
    # greedy-prefix: group c's overflow head blocks everything after
    assert [got[9], got[10], got[None], got[11]] == [False, False, False, False]

    with pytest.raises(ValueError, match="score_col 'nope'"):
        select_within_budget(df, "grp", "nope", "toks", "id", budget=1)
    with pytest.raises(ValueError, match="budget must be > 0"):
        select_within_budget(df, "grp", "score", "toks", "id", budget=0)


def test_leakage_safe_split_pinned_by_naive_reference(spark):
    """leakage_safe_split recomputed by a hashlib + union-find twin: every
    member of a near-dup cluster gets the CLUSTER MIN's split bucket
    (the anti-leakage invariant), unclustered docs draw on their own id,
    and a null-id doc falls to 'test' (null bucket, CASE semantics)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        leakage_safe_split,
    )
    import hashlib

    doc_ids = [1, 2, 3, 4, 5, 6, 7, 8, 9, None]
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in doc_ids], "doc_id long, text string"
    )
    # two clusters {1,2,3} (chained: 1-2, 2-3) and {7,8}; 4,5,6,9 alone
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )

    parent = {i: i for i in doc_ids if i is not None}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in [(1, 2), (2, 3), (7, 8)]:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    def bucket(rep):
        h = int(hashlib.md5(f"split:{rep}".encode()).hexdigest()[:15], 16)
        return h % 100

    expected = {}
    for i in doc_ids:
        if i is None:
            expected[i] = (None, None, "test")
            continue
        rep = find(i)
        b = bucket(rep)
        split = "train" if b < 96 else ("val" if b < 98 else "test")
        expected[i] = (rep, b, split)

    out = leakage_safe_split(docs, pairs, train_pct=96, val_pct=2).collect()
    assert len(out) == len(doc_ids)
    for r in out:
        assert (
            r["cluster_rep"],
            r["split_bucket"],
            r["split"],
        ) == expected[r["doc_id"]], r
    # the invariant itself: clusters never straddle splits
    by_id = {r["doc_id"]: r["split"] for r in out}
    assert by_id[1] == by_id[2] == by_id[3]
    assert by_id[7] == by_id[8]


def test_train_bpe_eager_text_col_contract(spark):
    """The n_merges<=0 fast path must validate text_col BEFORE returning
    the empty merge table — a wrong column fails here, not as a silently
    empty downstream encode."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        train_bpe,
    )
    import pytest

    docs = _docs(spark).select("doc_id", "text")
    with pytest.raises(ValueError, match="text_col 'nope'"):
        train_bpe(docs, "nope", n_merges=0)
    with pytest.raises(ValueError, match="text_col 'gone'"):
        train_bpe(docs, "gone", n_merges=5)


def test_recipe_v2_pinned_by_naive_reference(spark, tmp_path):
    """The q108 pin test: ``recipe_v2`` at a trained merge budget with
    the artifact round-trip and FFD packing, recomputed end to end by a
    from-scratch pure-Python twin (hand-derived clean gates, whole-text
    partial-shingle decontamination, hashlib epoch draws, string-slicing
    FIM, naive-recount BPE training, training-order encoding, hashlib
    FFD shards). Pins exactly the seams only the composition exercises:
    the composite ``id#copy`` unit identity flowing through the FIM
    selection AND the pack hashes (copies of one doc diverge), the
    tokenizer trained on the DECONTAMINATED pre-mix corpus but applied
    to the POST-objective text, and packing on the trained encoder's
    accounting of that rewritten text — through a parquet artifact
    round-trip."""
    import hashlib
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.recipe import (
        recipe_v2,
    )

    docs_rows = [
        (1, "the low low low lower newest", "wiki"),
        (2, "that widest newest low and lower lowest", "wiki"),
        # contaminated: the eval item below carries its exact text
        (3, "of newest newest low lower to the widest", "web"),
        # exact dup of doc 1 after normalization -> dedup drops it
        (4, "  The LOW   low LOW lower   NEWEST ", "web"),
        (5, "9999 1234 5678 42", "wiki"),  # lang 'und' -> gated
        (6, "the ! ? ; # . , -", "web"),  # quality gate
        (7, "the lowest newest widest and low lower of to that", "books"),
        (
            8,
            "and the low lower lowest of newest to widest that is it for in",
            "web",
        ),
    ]
    df = spark.createDataFrame(docs_rows, "doc_id long, text string, source string")
    ev = spark.createDataFrame(
        [(1001, "of newest newest low lower to the widest")],
        "doc_id long, text string",
    )
    weights = {"wiki": 2.5, "web": 0.5, "books": 1.25}

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def norm(t):
        return " ".join(t.strip().lower().split())

    # clean gates hand-derived (q99-twin fixture rules): 4 dups away,
    # 5/6 gated, the rest survive
    survivors = {i: norm(t) for i, t, _ in docs_rows if i in (1, 2, 3, 7, 8)}
    src_of = {i: s for i, _, s in docs_rows}

    # 13-gram decontamination with the partial-shingle rule
    def grams13(t):
        w = t.split(" ")
        if len(w) < 13:
            return {t}
        return {" ".join(w[i : i + 13]) for i in range(len(w) - 12)}

    ev_grams = grams13(norm("of newest newest low lower to the widest"))
    flagged = {i for i, t in survivors.items() if grams13(t) & ev_grams}
    assert flagged == {3}
    safe = {i: t for i, t in survivors.items() if i not in flagged}
    assert set(safe) == {1, 2, 7, 8}

    # epoch draws: base + md5-Bernoulli fractional copy, 6-dp millionths
    units = {}
    for i, t in safe.items():
        m = round(weights.get(src_of[i], 1.0) * 1_000_000)
        nc = m // 1_000_000 + (1 if md5i(f"epoch:{i}") % 1_000_000 < m % 1_000_000 else 0)
        for c in range(nc):
            units[f"{i}#{c}"] = (i, t)
    assert len(units) > len(safe)  # at least one doc really upsampled

    # FIM per unit over the ORIGINAL text (clean preserves raw text)
    raw_of = {i: t for i, t, _ in docs_rows}
    min_chars, rate_denom = 20, 2
    fim_texts = {}
    n_sel = 0
    for uid, (i, _) in units.items():
        t = raw_of[i]
        n = len(t)
        sel = n >= min_chars and md5i(f"fim:sel:{uid}") % rate_denom == 0
        if sel:
            c1, c2 = md5i(f"fim:c1:{uid}") % (n + 1), md5i(f"fim:c2:{uid}") % (n + 1)
            lo, hi = min(c1, c2), max(c1, c2)
            fim_texts[uid] = (
                "<PRE>" + t[:lo] + "<SUF>" + t[hi:] + "<MID>" + t[lo:hi]
            )
            n_sel += 1
        else:
            fim_texts[uid] = t
    assert 0 < n_sel < len(units)  # both branches live

    # naive-recount BPE training on the SAFE corpus's normalized words
    END = "</w>"
    wc = Counter(w for t in safe.values() for w in t.split(" "))

    def naive_train(word_counts, n_merges, min_pair_count):
        vocab = [[tuple(w) + (END,), c] for w, c in sorted(word_counts.items())]
        merges = []
        for rank in range(n_merges):
            pairs = Counter()
            for syms, c in vocab:
                for p in zip(syms, syms[1:]):
                    pairs[p] += c
            if not pairs:
                break
            top = max(pairs.values())
            if top < min_pair_count:
                break
            left, right = min(p for p, c in pairs.items() if c == top)
            merges.append((rank, left, right, left + right, top))
            for entry in vocab:
                syms, out, i = entry[0], [], 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == left
                        and syms[i + 1] == right
                    ):
                        out.append(left + right)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                entry[0] = tuple(out)
        return merges

    naive_merges = naive_train(wc, n_merges=3, min_pair_count=2)
    assert len(naive_merges) == 3

    def naive_encode(word, merges):
        syms = list(word) + [END]
        for _, left, right, _, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    naive_counts = {
        uid: sum(
            len(naive_encode(w, naive_merges))
            for w in norm(ft).split(" ")
            if w
        )
        for uid, ft in fim_texts.items()
    }
    # the trained-on-pre-objective / applied-to-post-objective seam is
    # real: a FIM-selected unit's count must differ from what its PLAIN
    # (un-FIM'd) text would encode to — if the sentinels tokenized away
    # to nothing, packing would be budgeting on pre-objective counts
    plain_counts = {
        i: sum(
            len(naive_encode(w, naive_merges))
            for w in norm(t).split(" ")
            if w
        )
        for i, t in raw_of.items()
    }
    sel_units = [
        uid for uid, (i, _) in units.items() if fim_texts[uid] != raw_of[i]
    ]
    assert sel_units
    assert any(
        naive_counts[uid] != plain_counts[units[uid][0]] for uid in sel_units
    )

    # hashlib FFD twin over the composite unit ids
    budget, n_shards, salt = 64, 2, "rv2pack"
    expected = {}
    by_shard = {}
    for uid in units:
        by_shard.setdefault(md5i(f"{salt}:{uid}") % n_shards, []).append(uid)
    for shard, members in by_shard.items():
        members.sort(key=lambda u: (-naive_counts[u], md5i(f"{salt}:{u}"), u))
        residual = []
        for u in members:
            nt = naive_counts[u]
            placed = -1
            for j, r in enumerate(residual):
                if r >= nt:
                    placed, residual[j] = j, r - nt
                    break
            if placed < 0:
                residual.append(max(budget - nt, 0))
                placed = len(residual) - 1
            expected[u] = (shard, placed, nt)

    # ---- the engine, instrumented, artifact round-tripped ----
    out = {}
    result = recipe_v2(
        df,
        ev,
        weights=weights,
        fim_min_chars=min_chars,
        fim_rate_denom=rate_denom,
        n_merges=3,
        min_pair_count=2,
        budget=budget,
        n_shards=n_shards,
        packer="ffd",
        emit="assignment",
        artifact_path=str(tmp_path / "bpe_artifact"),
        out=out,
    )

    assert {r["doc_id"] for r in out["clean"].collect()} == set(survivors)
    assert {r["doc_id"] for r in out["safe"].collect()} == set(safe)
    got_merges = [
        (r["merge_rank"], r["left"], r["right"], r["new_symbol"], r["pair_count"])
        for r in out["model"].orderBy("merge_rank").collect()
    ]
    assert got_merges == naive_merges  # through the parquet round-trip
    got_counts = {
        r["unit_id"]: r["n_subword_tokens"] for r in out["counted"].collect()
    }
    assert got_counts == naive_counts

    got = {
        r["unit_id"]: (r["shard"], r["bin_id"], r["n_tokens"])
        for r in result.collect()
    }
    assert got == expected


def test_repeat_by_weight_wide_strata_broadcast_join(spark):
    """Above _WIDE_STRATA_THRESHOLD strata the weights resolve through a
    broadcast-joined literal frame (a 500-deep when-chain would bloat
    codegen), with semantics identical to the chain: hashlib-recomputed
    copy counts, default fallthrough for unlisted and null strata, and a
    join-shaped plan with no exchange on the corpus side."""
    import hashlib

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        _WIDE_STRATA_THRESHOLD,
        repeat_by_weight,
    )

    n_strata = 500
    assert n_strata > _WIDE_STRATA_THRESHOLD
    # weights cycle through integer, fractional, zero, and >1 fractional
    weights = {
        f"s{i}": [2.0, 0.5, 0.0, 1.25][i % 4] for i in range(n_strata)
    }
    rows = [(i, f"s{i % n_strata}") for i in range(1, 601)]
    rows += [(991, "unlisted"), (992, None)]
    df = spark.createDataFrame(rows, "doc_id long, src string")

    out = repeat_by_weight(
        df, "src", weights, "doc_id", default_weight=1.0, salt="epoch"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # the wide path engaged
    assert "Exchange hashpartitioning" not in plan  # corpus never shuffles

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def copies(doc_id, src):
        w = weights.get(src, 1.0) if src is not None else 1.0
        m = round(w * 1_000_000)
        extra = 1 if md5i(f"epoch:{doc_id}") % 1_000_000 < m % 1_000_000 else 0
        return m // 1_000_000 + extra

    expected = {
        (d, c)
        for d, s in rows
        for c in range(copies(d, s))
    }
    got = {(r["doc_id"], r["copy_id"]) for r in out.collect()}
    assert got == expected
    assert len(got) == out.count()  # copy ids unique per doc


def test_repeat_by_weight_wide_strata_int_keys(spark):
    """Non-string strata (e.g. int cluster ids) must behave identically on
    BOTH sides of the _WIDE_STRATA_THRESHOLD: the broadcast literal frame
    types its stratum column from the DATA, not a hard-coded string."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        _WIDE_STRATA_THRESHOLD,
        repeat_by_weight,
    )

    n_strata = _WIDE_STRATA_THRESHOLD + 5
    weights = {i: 2.0 for i in range(n_strata)}
    df = spark.createDataFrame(
        [(i, i % n_strata) for i in range(1, 301)],
        "doc_id long, cluster int",
    )
    out = repeat_by_weight(
        df, "cluster", weights, "doc_id", default_weight=1.0, salt="epoch"
    )
    # integer weight 2.0 for every stratum: exactly two copies per doc
    assert out.count() == 600
    narrow = repeat_by_weight(
        df,
        "cluster",
        {k: v for k, v in weights.items() if k < _WIDE_STRATA_THRESHOLD - 5},
        "doc_id",
        default_weight=2.0,
        salt="epoch",
    )
    # same effective weights through the when-chain path: identical output
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, narrow.collect())
    )


# ---------------------------------------------------------------------------
# WordPiece tokenizer family (q114-q116)
# ---------------------------------------------------------------------------


def _naive_wp_norm(t):
    return " ".join(t.strip().lower().split())


def _naive_wp_train(wc, n_merges, min_pair):
    """From-scratch WordPiece trainer, sharing no code with the engine:
    full RECOUNT every round (symbol and pair counts rebuilt from the
    whole vocabulary — the engine maintains them incrementally) and
    ``fractions.Fraction`` scoring (the engine cross-multiplies
    integers). Returns the full piece list: sorted base inventory, then
    merges in selection order. Used by the q116 AND q123 pins."""
    from collections import Counter
    from fractions import Fraction

    def symseq(word):
        return tuple([word[0]] + ["##" + c for c in word[1:]])

    vocab_words = {w: [symseq(w), c] for w, c in wc.items()}
    base = sorted({s for syms, _ in vocab_words.values() for s in syms})
    naive_pieces = list(base)
    for _ in range(n_merges):
        syms_count = Counter()
        pair_count = Counter()
        for syms, c in vocab_words.values():  # full recount every round
            for s in syms:
                syms_count[s] += c
            for a, b in zip(syms, syms[1:]):
                pair_count[(a, b)] += c
        cands = [p for p, c in pair_count.items() if c >= min_pair]
        if not cands:
            break
        best = min(
            cands,
            key=lambda p: (
                -Fraction(pair_count[p], syms_count[p[0]] * syms_count[p[1]]),
                -pair_count[p],
                p,
            ),
        )
        merged = best[0] + best[1][2:]
        naive_pieces.append(merged)
        for w, (syms, c) in vocab_words.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab_words[w] = [tuple(out), c]
    return naive_pieces, len(base)


def _naive_wp_match(word, piece_set):
    """From-scratch greedy matcher: max-over-candidates by length (the
    engine scans lengths descending and stops at the first hit)."""
    toks, i = [], 0
    while i < len(word):
        cands = [
            word[i : i + L] if i == 0 else "##" + word[i : i + L]
            for L in range(1, len(word) - i + 1)
        ]
        hits = [c for c in cands if c in piece_set]
        if not hits:
            return ["[UNK]"]
        best = max(hits, key=len)
        toks.append(best)
        i += len(best) - 2 if best.startswith("##") else len(best)
    return toks


def test_wordpiece_pinned_by_naive_reference(spark):
    """The q116 pin test: ``train_wordpiece`` + ``wordpiece_encode`` at a
    real merge budget, recomputed by the from-scratch pure-Python
    reference (`_naive_wp_train`/`_naive_wp_match` — see their docstrings
    for the deliberate implementation differences that make the equality
    a genuine cross-check, not a transcription).

    Pins exactly: the vocabulary (pieces AND ranks — base inventory
    sorted, merges in selection order) and each doc's full token
    sequence; plus the WordPiece-specific invariants: stripping ``##``
    from a word's tokens reassembles the normalized word, and a merged
    piece always outscored raw-frequency order (the fixture is built so
    pure-count BPE would pick a DIFFERENT first merge than the
    likelihood score does)."""
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    docs = [
        # 'th' is the most FREQUENT pair, but 'q'+'##u' has a far better
        # likelihood score (q occurs only before u): WordPiece must pick
        # the qu merge first where BPE-by-count would pick th.
        (1, "the then there that quik quik quail"),
        (2, "then the quik quip that there the"),
        (3, "  THE   Quik  quail THAT "),  # normalization exercise
        (4, None),  # null text: encodes to zero tokens
        (5, "café café naïve"),  # multibyte chars through both paths
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    N_MERGES, MIN_PAIR = 6, 2
    norm = _naive_wp_norm

    wc = Counter(
        w
        for _, t in docs
        if t is not None
        for w in norm(t).split(" ")
        if w
    )
    naive_pieces, n_base = _naive_wp_train(wc, N_MERGES, MIN_PAIR)

    vocab = train_wordpiece(df, n_merges=N_MERGES, min_pair_count=MIN_PAIR)
    got = [(r["piece"], r["wp_rank"]) for r in vocab.orderBy("wp_rank").collect()]
    assert got == [(p, i) for i, p in enumerate(naive_pieces)]
    # the likelihood score picked 'qu' (or another low-denominator merge)
    # before 'th' even though ('t','##h') has the higher raw count
    first_merge = naive_pieces[n_base]
    assert first_merge != "th"

    piece_set = set(naive_pieces)
    expect = {}
    for i, t in docs:
        if t is None:
            expect[i] = []
        else:
            expect[i] = [
                tok
                for w in norm(t).split(" ")
                if w
                for tok in _naive_wp_match(w, piece_set)
            ]

    enc = wordpiece_encode(df, vocab)
    rows = {r["doc_id"]: r for r in enc.collect()}
    for i, _ in docs:
        assert list(rows[i]["wp_tokens"]) == expect[i], i
        assert rows[i]["n_wp_tokens"] == len(expect[i])
    # round-trip: stripping ## reassembles each normalized word
    for i, t in docs:
        if t is None:
            continue
        joined = "".join(tok.lstrip("#") if tok.startswith("##") else tok
                         for tok in rows[i]["wp_tokens"])
        assert joined == norm(t).replace(" ", "")


def test_wordpiece_unk_empty_and_counts_only(spark):
    """Contract battery: a word containing ANY character unseen at train
    time collapses to one ``[UNK]`` (BERT semantics — never a
    half-tokenized word); null / empty / whitespace-only texts encode to
    zero tokens; ``counts_only`` matches the full path row for row; a
    wrong ``text_col`` fails eagerly at train time."""
    import pytest as _pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    train = spark.createDataFrame(
        [(1, "abc abd cab")], "doc_id long, text string"
    )
    vocab = train_wordpiece(train, n_merges=3)
    test_df = spark.createDataFrame(
        [
            (1, "abc zzz"),      # 'z' unseen -> [UNK], abc still tokenized
            (2, "axc"),          # unseen mid-word char -> whole word UNK
            (3, ""),
            (4, None),
            (5, "   "),
        ],
        "doc_id long, text string",
    )
    full = {r["doc_id"]: r for r in wordpiece_encode(test_df, vocab).collect()}
    assert full[1]["wp_tokens"][-1] == "[UNK]"
    assert full[1]["wp_tokens"][0] != "[UNK]"
    assert list(full[2]["wp_tokens"]) == ["[UNK]"]
    for i in (3, 4, 5):
        assert list(full[i]["wp_tokens"]) == []
        assert full[i]["n_wp_tokens"] == 0
    counts = {
        r["doc_id"]: r["n_wp_tokens"]
        for r in wordpiece_encode(test_df, vocab, counts_only=True).collect()
    }
    assert counts == {i: full[i]["n_wp_tokens"] for i in full}
    with _pytest.raises(ValueError, match="text_col"):
        train_wordpiece(train, text_col="body")


def test_wordpiece_artifact_roundtrip_and_dispatch(spark, tmp_path):
    """The S5 sink/source contract extends to the WordPiece family:
    train -> save -> load -> ``encode_with_artifact`` equals the direct
    encode exactly, the loader restores rank order, and a non-artifact
    frame is rejected by save with the contract spelled out."""
    import pytest as _pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        encode_with_artifact,
        load_tokenizer_artifact,
        save_tokenizer_artifact,
    )

    df = spark.createDataFrame(
        [(1, "hug hugs hugging bug bugs rug"), (2, "hug the bug rug rug")],
        "doc_id long, text string",
    )
    vocab = train_wordpiece(df, n_merges=5)
    path = str(tmp_path / "wp_vocab")
    save_tokenizer_artifact(vocab, path)
    loaded = load_tokenizer_artifact(spark, path)
    assert [tuple(r) for r in loaded.collect()] == [
        tuple(r) for r in vocab.orderBy("wp_rank").collect()
    ]
    direct = sorted(map(tuple, wordpiece_encode(df, vocab).collect()))
    via = sorted(map(tuple, encode_with_artifact(df, loaded).collect()))
    assert via == direct
    with _pytest.raises(ValueError, match="contract"):
        save_tokenizer_artifact(
            spark.createDataFrame([(1, "x")], "a long, b string"), path
        )


def test_length_bucket_batches_contract(spark):
    """Loader contract battery: bucket = first boundary that holds the
    doc (overflow bucket past the last), null text buckets as literal 0
    tokens, no batch exceeds batch_size, reruns are identical, and the
    boundary/batch_size validations fail eagerly."""
    import pytest as _pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        length_bucket_batches,
    )

    docs = [(i, " ".join(["w"] * i)) for i in range(1, 40)] + [(99, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = length_bucket_batches(
        df, boundaries=(8, 16, 32), batch_size=4, n_shards=4, salt="t"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == len(docs)
    for i, t in docs:
        r = rows[i]
        n = r["n_tokens"]
        assert n == (0 if t is None else i)
        expect_bucket = next(
            (j for j, b in enumerate((8, 16, 32)) if n <= b), 3
        )
        assert r["bucket"] == expect_bucket, (i, n)
    # batch occupancy: no (shard, bucket, batch_idx) group exceeds batch_size
    from collections import Counter as _C

    occ = _C((r["shard"], r["bucket"], r["batch_idx"]) for r in rows.values())
    assert max(occ.values()) <= 4
    # within a (shard, bucket), batch indices are dense from 0
    per_sb = {}
    for (s, b, bi), c in occ.items():
        per_sb.setdefault((s, b), []).append((bi, c))
    for (s, b), batches in per_sb.items():
        idxs = sorted(bi for bi, _ in batches)
        assert idxs == list(range(len(idxs))), (s, b, idxs)
        # only the LAST batch of a (shard, bucket) may be partial
        for bi, c in sorted(batches):
            if bi < len(idxs) - 1:
                assert c == 4, (s, b, bi, c)
    rerun = length_bucket_batches(
        df, boundaries=(8, 16, 32), batch_size=4, n_shards=4, salt="t"
    )
    assert sorted(map(tuple, rerun.collect())) == sorted(
        map(tuple, out.collect())
    )
    with _pytest.raises(ValueError, match="strictly increasing"):
        length_bucket_batches(df, boundaries=(16, 8))
    with _pytest.raises(ValueError, match="batch_size"):
        length_bucket_batches(df, boundaries=(8,), batch_size=0)
    with _pytest.raises(ValueError, match="text_col"):
        length_bucket_batches(df, text_col="body")


def test_incremental_encode_carries_unchanged_verbatim(spark):
    """The q119 behavioral pin the oracle cannot see: unchanged docs are
    NEVER re-encoded — their rows come from prev_encoded verbatim, which
    this test proves by poisoning prev_encoded with impossible counts and
    asserting the poison survives; added/changed docs get fresh counts
    and the right status; removed docs are absent; a prev frame from the
    wrong family fails eagerly; and the plan contains exactly ONE
    mapInPandas (the fresh sliver's encode — the carried branch must not
    pay the Python stage)."""
    import pytest as _pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.incremental import (
        incremental_encode,
    )

    old = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd"), (3, "ee ff")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd edited"), (4, "gg hh")],
        "doc_id long, text string",
    )
    vocab = train_wordpiece(new, n_merges=0)
    poisoned_prev = spark.createDataFrame(
        [(1, 777), (2, 888), (3, 999)],
        "doc_id long, n_wp_tokens bigint",
    )
    out = {
        r["doc_id"]: (r["n_wp_tokens"], r["status"])
        for r in incremental_encode(old, new, poisoned_prev, vocab).collect()
    }
    # doc 1 unchanged: the poison carried verbatim -> no re-encode happened
    assert out[1] == (777, "unchanged")
    # doc 2 changed, doc 4 added: fresh single-char counts of the NEW text
    assert out[2] == (len("ccddedited"), "changed")
    assert out[4] == (len("gghh"), "added")
    # doc 3 removed: absent even though prev_encoded has a row for it
    assert 3 not in out and len(out) == 3

    plan = (
        incremental_encode(old, new, poisoned_prev, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan

    wrong_family = spark.createDataFrame(
        [(1, 5)], "doc_id long, n_pieces bigint"
    )
    with _pytest.raises(ValueError, match="SAME tokenizer family"):
        incremental_encode(old, new, wrong_family, vocab)


def test_assemble_conversations_contract(spark):
    """The q120 behavioral pin: exact rendered template, spans that
    SLICE the assistant payloads back out of chat_text verbatim, null
    text rendering as a bare turn marker, an empty (not null) span
    array for assistant-free conversations, n_chars == len(chat_text),
    and eager column validation."""
    import pytest as _pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sft import (
        assemble_conversations,
    )

    turns = spark.createDataFrame(
        [
            (1, 0, "system", "be helpful"),
            (1, 1, "user", "hi there"),
            (1, 2, "assistant", "hello! how can i help?"),
            (1, 3, "user", None),
            (1, 4, "assistant", "still here"),
            (2, 0, "user", "no reply yet"),
        ],
        "conv_id long, turn_idx long, role string, text string",
    )
    out = {
        r["conv_id"]: r
        for r in assemble_conversations(turns).collect()
    }
    c1 = out[1]
    assert c1["chat_text"] == (
        "<|system|>\nbe helpful\n"
        "<|user|>\nhi there\n"
        "<|assistant|>\nhello! how can i help?\n"
        "<|user|>\n\n"
        "<|assistant|>\nstill here\n"
    )
    assert c1["n_turns"] == 5
    assert c1["n_chars"] == len(c1["chat_text"])
    spans = [(s["turn_idx"], s["span_start"], s["span_end"]) for s in c1["loss_spans"]]
    assert [t for t, _, _ in spans] == [2, 4]
    assert c1["chat_text"][spans[0][1] : spans[0][2]] == "hello! how can i help?"
    assert c1["chat_text"][spans[1][1] : spans[1][2]] == "still here"
    c2 = out[2]
    assert list(c2["loss_spans"]) == []
    assert c2["chat_text"] == "<|user|>\nno reply yet\n"
    with _pytest.raises(ValueError, match="column"):
        assemble_conversations(turns.drop("role"))


def test_preference_pairs_contract(spark):
    """The q121 behavioral pin: deterministic two-way-tie resolution
    (two DISTINCT rows, zero margin kept), singleton and all-null
    groups dropped, null-score rows excluded from ranking, rounding at
    6dp, eager column validation."""
    import pytest as _pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sft import (
        preference_pairs,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, 0.5), ("a", 2, 0.9), ("a", 3, 0.1),   # normal group
            ("b", 4, 0.7), ("b", 5, 0.7),                   # two-way tie
            ("c", 6, 0.3),                                  # singleton
            ("d", 7, None), ("d", 8, None),                 # all null
            ("e", 9, None), ("e", 10, 0.2), ("e", 11, 0.8), # null excluded
        ],
        "prompt_id string, doc_id long, score double",
    )
    got = {
        r["prompt_id"]: r for r in preference_pairs(df).collect()
    }
    assert set(got) == {"a", "b", "e"}
    assert (got["a"]["chosen_id"], got["a"]["rejected_id"]) == (2, 3)
    assert got["a"]["margin"] == 0.8
    # tie: chosen = id asc, rejected = id DESC -> two distinct rows
    assert (got["b"]["chosen_id"], got["b"]["rejected_id"]) == (4, 5)
    assert got["b"]["margin"] == 0.0
    # the null-scored doc 9 can be neither side
    assert (got["e"]["chosen_id"], got["e"]["rejected_id"]) == (11, 10)
    with _pytest.raises(ValueError, match="column"):
        preference_pairs(df, score_col="reward")


def test_sft_loader_pinned_by_naive_reference(spark):
    """The q123 pin test: the assemble -> WordPiece train/encode ->
    length-bucket composition at a real merge budget, recomputed end to
    end by a from-scratch reference — hand-rendered chat strings, the
    `_naive_wp_train`/`_naive_wp_match` twin (Fraction scoring, full
    recount), and hashlib-md5 bucket/batch arithmetic. Pins the stage
    hand-offs no per-operator oracle reaches: the tokenizer consuming
    RENDERED conversations through the shared normalization, and the
    loader budgeting on the ENCODER's counts."""
    import hashlib
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        length_bucket_batches,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sft import (
        assemble_conversations,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
        wordpiece_encode,
    )

    docs = [
        (0, "the then there that"),
        (1, "quik quik quail replies here"),
        (2, "then the quik quip"),
        (3, "there there the answer"),
        (4, "  THE   Quik  mixed Case "),
        (5, None),
    ]
    turns = spark.createDataFrame(
        [
            (i % 3, i, "user" if i % 2 == 0 else "assistant", t)
            for i, t in docs
        ],
        "conv_id long, turn_idx long, role string, text string",
    )
    N_MERGES, MIN_PAIR = 5, 2
    BOUNDS, BATCH, SHARDS, SALT = (16, 32, 64), 2, 2, "s"

    # ---- naive reference: hand-render, twin-train, hashlib-bucket ----
    chats = {}
    for conv in sorted({i % 3 for i, _ in docs}):
        parts = []
        for i, t in sorted(
            ((i, t) for i, t in docs if i % 3 == conv),
            key=lambda it: (it[0], "user" if it[0] % 2 == 0 else "assistant"),
        ):
            role = "user" if i % 2 == 0 else "assistant"
            parts.append(f"<|{role}|>\n{t if t is not None else ''}\n")
        chats[conv] = "".join(parts)
    normed = {c: _naive_wp_norm(t) for c, t in chats.items()}
    wc = Counter(w for t in normed.values() for w in t.split(" ") if w)
    pieces, _ = _naive_wp_train(wc, N_MERGES, MIN_PAIR)
    piece_set = set(pieces)
    counts = {
        c: sum(
            len(_naive_wp_match(w, piece_set))
            for w in t.split(" ")
            if w
        )
        for c, t in normed.items()
    }
    rows = []
    for c, n in counts.items():
        hv = int(hashlib.md5(f"{SALT}:{c}".encode()).hexdigest()[:15], 16)
        bucket = next((j for j, b in enumerate(BOUNDS) if n <= b), len(BOUNDS))
        rows.append((c, n, bucket, hv % SHARDS, hv))
    expect = {}
    by_sb: dict = {}
    for c, n, bucket, shard, hv in sorted(rows, key=lambda r: (r[4], r[0])):
        k = (shard, bucket)
        rn = by_sb.get(k, 0)
        by_sb[k] = rn + 1
        expect[c] = (n, bucket, shard, rn // BATCH)

    # ---- engine composition (the q123 chain) ----
    conv = assemble_conversations(turns).select("conv_id", "chat_text")
    vocab = train_wordpiece(
        conv, text_col="chat_text", n_merges=N_MERGES, min_pair_count=MIN_PAIR
    )
    counted = wordpiece_encode(
        conv, vocab, text_col="chat_text", id_col="conv_id", counts_only=True
    )
    out = length_bucket_batches(
        counted,
        id_col="conv_id",
        text_col=None,
        tokens_col="n_wp_tokens",
        boundaries=BOUNDS,
        batch_size=BATCH,
        n_shards=SHARDS,
        salt=SALT,
    )
    got = {
        r["conv_id"]: (r["n_tokens"], r["bucket"], r["shard"], r["batch_idx"])
        for r in out.collect()
    }
    assert got == expect
    # the merge budget actually bit: some conv count is BELOW its
    # zero-merge character count, proving packed counts are the encoder's
    zero_chars = {c: len(t.replace(" ", "")) for c, t in normed.items()}
    assert any(counts[c] < zero_chars[c] for c in counts)


def test_assemble_conversations_null_role(spark):
    """A null role renders as an empty marker (<||>) — the turn's text
    must NOT silently vanish from chat_text (a null-propagating concat
    would drop it while n_turns still counted it), n_chars must equal
    len(chat_text) even for all-null-role conversations, and a null
    role is never a loss role."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sft import (
        assemble_conversations,
    )

    turns = spark.createDataFrame(
        [(1, 0, None, "kept text"), (1, 1, "assistant", "reply")],
        "conv_id long, turn_idx long, role string, text string",
    )
    c = assemble_conversations(turns).collect()[0]
    assert c["chat_text"] == "<||>\nkept text\n<|assistant|>\nreply\n"
    assert c["n_chars"] == len(c["chat_text"])
    spans = [(s["span_start"], s["span_end"]) for s in c["loss_spans"]]
    assert len(spans) == 1
    assert c["chat_text"][spans[0][0] : spans[0][1]] == "reply"


def test_incremental_encode_gap_fallback(spark):
    """An unchanged doc MISSING from prev_encoded must not vanish: it
    falls back to the fresh encode path with status 'unchanged' —
    completeness beats thrift (the q119 review fix)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.incremental import (
        incremental_encode,
    )

    old = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "aa bb"), (2, "cc dd")], "doc_id long, text string"
    )
    vocab = train_wordpiece(new, n_merges=0)
    # prev has doc 1 (poisoned, to prove the carry) but is MISSING doc 2
    prev = spark.createDataFrame(
        [(1, 777)], "doc_id long, n_wp_tokens bigint"
    )
    out = {
        r["doc_id"]: (r["n_wp_tokens"], r["status"])
        for r in incremental_encode(old, new, prev, vocab).collect()
    }
    assert out[1] == (777, "unchanged")          # carried verbatim
    assert out[2] == (len("ccdd"), "unchanged")  # gap re-encoded, not lost
    assert len(out) == 2


def test_corpus_funnel_reconciles_with_prepare_training_corpus(spark):
    """The q125 behavioral pin: the funnel is monotone non-increasing in
    both docs and tokens, the raw row counts every input (nulls as
    0-token docs), and the final (near_dedup) row reconciles EXACTLY
    with `prepare_training_corpus`'s survivor set at the same
    configuration — the funnel must report the chain it claims to."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.corpus_prep import (
        corpus_funnel,
        prepare_training_corpus,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "a completely different document about spark and data"),
            (4, "der hund und die katze und der vogel und das haus"),
            (5, None),
            (6, "! ? ; ."),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["stage"]: (r["stage_order"], r["n_docs"], r["n_tokens"])
        for r in corpus_funnel(docs).collect()
    }
    assert set(rows) == {"raw", "quality_lang", "exact_dedup", "near_dedup"}
    assert rows["raw"][1] == 6
    order = ["raw", "quality_lang", "exact_dedup", "near_dedup"]
    for a, b in zip(order, order[1:]):
        assert rows[a][1] >= rows[b][1], (a, b, rows)
        assert rows[a][2] >= rows[b][2], (a, b, rows)
    # the German doc and the junk doc fall at quality_lang; the exact
    # duplicate falls at exact_dedup
    assert rows["quality_lang"][1] < rows["raw"][1]
    assert rows["exact_dedup"][1] == rows["quality_lang"][1] - 1

    surv = prepare_training_corpus(docs, max_doc_freq=None)
    agg = surv.agg(
        {"n_tokens": "sum", "doc_id": "count"}
    ).collect()[0]
    assert rows["near_dedup"][1] == agg["count(doc_id)"]
    assert rows["near_dedup"][2] == (agg["sum(n_tokens)"] or 0)


def test_hard_negatives_exclusion_rerank(spark):
    """The q126 k=6 argument, exercised at its boundary: when the
    pair's REJECTED doc is the chosen doc's single nearest neighbor, it
    must be excluded and the re-rank must pull the 6th-nearest into a
    contiguous rank-1..5 window — proving the post-exclusion top-5
    equals the global post-exclusion top-5."""
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sft import (
        preference_pairs,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        similarity as s,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
        top_k_per_group,
    )
    from pyspark.sql import functions as F

    # chosen = vec 0 at angle 0; rejected = vec 1 almost parallel (its
    # nearest neighbor); vecs 2..8 at increasing angles
    def v(theta):
        return [math.cos(theta), math.sin(theta)]

    emb = spark.createDataFrame(
        [(i, v(0.05 * i)) for i in range(9)],
        "vec_id long, embedding array<double>",
    )
    pairs = preference_pairs(
        spark.createDataFrame(
            [("g", 0, 1.0), ("g", 1, 0.5)],
            "prompt_id string, doc_id long, score double",
        )
    )
    assert pairs.collect()[0]["chosen_id"] == 0
    chosen_emb = emb.join(
        pairs.select(F.col("chosen_id").alias("vec_id")), "vec_id", "left_semi"
    )
    knn = s.knn_bruteforce(emb, chosen_emb, k=6)
    # rejected (vec 1) IS rank 1 pre-exclusion
    assert knn.where(F.col("rank") == 1).collect()[0]["neighbor_id"] == 1
    joined = knn.join(
        F.broadcast(pairs.select("prompt_id", "chosen_id", "rejected_id")),
        knn["query_id"] == F.col("chosen_id"),
    ).where(F.col("neighbor_id") != F.col("rejected_id"))
    out = top_k_per_group(
        joined.select(
            "prompt_id", "chosen_id",
            F.col("neighbor_id").alias("negative_id"), "cosine",
        ),
        partition_by=["prompt_id", "chosen_id"],
        order_by=[F.desc("cosine"), F.asc("negative_id")],
        k=5,
        keep_rank=True,
        rank_col="rank",
    ).collect()
    got = sorted((r["rank"], r["negative_id"]) for r in out)
    # contiguous ranks 1..5, rejected absent, nearest-by-angle order
    assert got == [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]


def test_kmv_overlap_matrix_pinned_by_naive_reference(spark):
    """kmv_overlap_matrix (q127) reproduced by a from-scratch hashlib
    twin: per-group k-min sketches, per-pair theta, filtered counts and
    estimates — covering the estimation regime (groups larger than k),
    the exact regime (a group smaller than k contributes θ=2^60), a
    fully disjoint pair (jaccard 0.0), duplicate keys (set semantics)
    and null key/group rows (dropped)."""
    import hashlib
    import itertools
    import math

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        kmv_overlap_matrix,
    )

    TWO60 = 1 << 60
    K = 8
    rows = (
        [("g0", f"k{i}") for i in range(40)]
        + [("g1", f"k{i}") for i in range(25, 55)]  # overlaps g0
        + [("g2", f"k{i}") for i in (0, 1, 2)]  # tiny: exact side
        + [("g3", f"x{i}") for i in range(100, 112)]  # disjoint
        + [("g0", "k0"), (None, "k5"), ("g0", None)]  # dup + null drops
    )
    df = spark.createDataFrame(rows, "g string, key string")
    out = {
        (r["src_a"], r["src_b"]): r
        for r in kmv_overlap_matrix(df, "key", "g", k=K).collect()
    }

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    sets: dict = {}
    for g, kk in rows:
        if g is None or kk is None:
            continue
        sets.setdefault(g, set()).add(h(kk))
    sk = {g: sorted(v)[:K] for g, v in sets.items()}
    expected = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        tha = TWO60 if len(sk[a]) < K else max(sk[a])
        thb = TWO60 if len(sk[b]) < K else max(sk[b])
        theta = min(tha, thb)
        fa = [x for x in sk[a] if x < theta]
        fb = [x for x in sk[b] if x < theta]
        na, nb, ni = len(fa), len(fb), len(set(fa) & set(fb))
        nu = na + nb - ni

        def est(n):
            return round(n * TWO60 / theta, 4)

        jac = round(ni / nu, 4) if nu > 0 else 0.0
        expected[(a, b)] = (est(na), est(nb), est(nu), est(ni), jac)
    assert set(out) == set(expected)
    for pair, (ea, eb, eu, ei, ej) in expected.items():
        r = out[pair]
        got = (
            r["est_distinct_a"],
            r["est_distinct_b"],
            r["est_union"],
            r["est_intersection"],
            r["est_jaccard"],
        )
        assert all(
            math.isclose(g, e, rel_tol=0, abs_tol=1e-9)
            for g, e in zip(got, (ea, eb, eu, ei, ej))
        ), (pair, got, (ea, eb, eu, ei, ej))
    # the tiny group's pairs: exact regime iff BOTH sides fit, so
    # (g2, anything-large) still estimates; the disjoint pair is 0.0
    assert out[("g0", "g3")]["est_jaccard"] == 0.0
    assert out[("g0", "g3")]["est_intersection"] == 0.0


def test_kmv_group_sketches_two_level_equals_flat_take(spark):
    """The mergeability argument the two-level sharded take rests on,
    asserted directly: for every group, the operator's sketch equals
    the flat 'k smallest distinct hashes' — and the physical plan
    really contains BOTH window levels (the shard-bounded one first)."""
    import hashlib

    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        kmv_group_sketches,
    )

    df = spark.range(2000).select(
        (F.col("id") % 7).cast("string").alias("g"),
        F.concat(F.lit("v"), "id").alias("key"),
    )
    K = 16
    got: dict = {}
    for r in kmv_group_sketches(df, "key", "g", K, n_shards=5).collect():
        got.setdefault(r["g"], []).append(r["h"])

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    flat: dict = {}
    for i in range(2000):
        flat.setdefault(str(i % 7), set()).add(h(f"v{i}"))
    for g, hs in flat.items():
        assert sorted(got[g]) == sorted(hs)[:K], g
    plan = (
        kmv_group_sketches(df, "key", "g", K, n_shards=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Window") >= 2, plan


def test_curriculum_stages_pinned_by_naive_reference(spark):
    """curriculum_stages (q128) reproduced by a pure-Python twin: the
    equal-width stage rule (top edge clamped, null scores to the last
    stage, null ids to shard 0 sorting last), md5 shard assignment, and
    per-(stage, shard) positions; plus the degenerate all-equal-scores
    case and the eager contracts."""
    import hashlib
    import math

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        curriculum_stages,
    )

    rows = [(i, float((i * 37) % 101)) for i in range(50)]
    rows += [(50, None), (None, 42.0)]
    df = spark.createDataFrame(rows, "doc_id bigint, score double")
    N_STAGES, N_SHARDS = 4, 3
    out = curriculum_stages(
        df, "doc_id", "score", N_STAGES, salt="cur", n_shards=N_SHARDS
    )
    got = {
        r["doc_id"]: (r["stage"], r["shard"], r["pos"])
        for r in out.collect()
    }

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    scores = [s for _, s in rows if s is not None]
    mn, mx = min(scores), max(scores)
    width = (mx - mn) / N_STAGES

    def stage(s):
        if s is None:
            return N_STAGES - 1
        return min(int(math.floor((s - mn) / width)), N_STAGES - 1)

    def shard(i):
        return 0 if i is None else h(f"cur:shard:{i}") % N_SHARDS

    def sort_key(i):
        return (h(f"cur:{i}"), i) if i is not None else (float("inf"), 0)

    groups: dict = {}
    for i, s in rows:
        groups.setdefault((stage(s), shard(i)), []).append(i)
    expected = {}
    for (st, sh), ids in groups.items():
        for pos, i in enumerate(sorted(ids, key=sort_key), 1):
            expected[i] = (st, sh, pos)
    assert got == expected
    # rerun determinism
    assert got == {
        r["doc_id"]: (r["stage"], r["shard"], r["pos"])
        for r in out.collect()
    }
    # duplicate NULL ids tie on BOTH primary sort keys (all in shard 0,
    # null hash, null id) — the full-row-hash tiebreaker must order them
    # content-deterministically, replicable by the twin
    dup = spark.createDataFrame(
        [(None, 1.0), (None, 9.0), (None, 5.0)],
        "doc_id bigint, score double",
    )
    dup_out = curriculum_stages(dup, "doc_id", "score", 1, salt="cur")
    got_dup = {r["score"]: r["pos"] for r in dup_out.collect()}
    fp_order = sorted([1.0, 9.0, 5.0], key=lambda s: h(f"\x00\x1f{s}"))
    assert got_dup == {s: i + 1 for i, s in enumerate(fp_order)}
    assert got_dup == {r["score"]: r["pos"] for r in dup_out.collect()}
    # all-equal scores (and all-null): one stage
    flat = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, None)], "doc_id bigint, score double"
    )
    st = {
        r["doc_id"]: r["stage"]
        for r in curriculum_stages(flat, "doc_id", "score", 4).collect()
    }
    assert st == {1: 0, 2: 0, 3: 3}
    # NaN scores fold into the null rule (schedule last), never a null
    # stage or a poisoned max()
    nan_df = spark.createDataFrame(
        [(1, 2.0), (2, float("nan")), (3, 8.0)],
        "doc_id bigint, score double",
    )
    nan_st = {
        r["doc_id"]: r["stage"]
        for r in curriculum_stages(nan_df, "doc_id", "score", 4).collect()
    }
    assert nan_st == {1: 0, 2: 3, 3: 3}
    with pytest.raises(ValueError, match="n_stages"):
        curriculum_stages(df, "doc_id", "score", 0)
    with pytest.raises(ValueError, match="score_col"):
        curriculum_stages(df, "doc_id", "nope", 4)


def test_plan_mixture_pinned_and_contracts(spark):
    """plan_mixture (q130) reproduced by hand arithmetic: proportional
    and capped branches, a data stratum missing from the targets (0
    epochs), a target absent from the data (no row), null token counts
    (0 supply), and a null stratum (0 epochs, skipped by
    mixture_weights); plus the eager contracts."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sampling import (
        mixture_weights,
        plan_mixture,
    )

    rows = [
        ("a", 100), ("a", 100),          # avail 200, share 0.3 -> capped
        ("b", 1000), ("b", 1000),        # avail 2000, share 0.1 -> 0.05
        ("c", 50), ("c", None),          # no target -> 0 epochs
        (None, 75),                      # null stratum -> 0 epochs
    ]
    df = spark.createDataFrame(rows, "src string, toks int")
    targets = {"a": 3, "b": 1, "ghost": 6}  # total 10; ghost not in data
    plan = plan_mixture(df, "src", "toks", targets, 1000, max_epochs=1.2)
    got = {
        r["stratum"]: (
            r["tokens_available"],
            r["target_share"],
            r["epochs"],
            r["planned_tokens"],
        )
        for r in plan.collect()
    }
    assert got == {
        "a": (200, 0.3, 1.2, 240),      # min(1.2, 0.3*1000/200=1.5)
        "b": (2000, 0.1, 0.05, 100),
        "c": (50, 0.0, 0.0, 0),
        None: (75, 0.0, 0.0, 0),
    }
    assert mixture_weights(plan) == {"a": 1.2, "b": 0.05, "c": 0.0}
    with pytest.raises(ValueError, match="token_budget"):
        plan_mixture(df, "src", "toks", targets, 0)
    with pytest.raises(ValueError, match="non-empty"):
        plan_mixture(df, "src", "toks", {}, 1000)
    with pytest.raises(ValueError, match=">= 0"):
        plan_mixture(df, "src", "toks", {"a": -1}, 1000)
    with pytest.raises(ValueError, match="max_epochs"):
        plan_mixture(df, "src", "toks", targets, 1000, max_epochs=0)
    with pytest.raises(ValueError, match="strata_col"):
        plan_mixture(df, "nope", "toks", targets, 1000)


def test_tokenizer_audit_trained_pinned_by_naive_reference(spark):
    """tokenizer_audit (q129) at a REAL merge budget, recomputed from
    the shared `_naive_wp_train`/`_naive_wp_match` twin: per-source doc
    counts, token totals (null text = 0 tokens, still counted as a
    doc), raw char totals, and the 4-dp compression ratio — the trained
    path the zero-merge oracle cannot see."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.wordpiece import (
        train_wordpiece,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        tokenizer_audit,
    )

    docs = [
        (1, "the then there that quik quik quail", "web"),
        (2, "then the quik quip that there the", "web"),
        (3, "  THE   Quik  quail THAT ", "wiki"),
        (4, None, "wiki"),  # null text: 0 tokens, 0 chars, counted doc
        (5, "café café naïve", "wiki"),
        # null id: must still count (the count join is null-safe)
        (None, "the quail that quip", "web"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, source string")
    N_MERGES, MIN_PAIR = 6, 2
    vocab = train_wordpiece(
        df.select("doc_id", "text"), n_merges=N_MERGES,
        min_pair_count=MIN_PAIR,
    )
    out = {
        r["source"]: r
        for r in tokenizer_audit(df, vocab, by_col="source").collect()
    }

    wc = Counter(
        w
        for _, t, _ in docs
        if t is not None
        for w in _naive_wp_norm(t).split(" ")
        if w
    )
    pieces, _ = _naive_wp_train(wc, N_MERGES, MIN_PAIR)
    piece_set = set(pieces)
    agg: dict = {}
    for _, t, src in docs:
        n_docs, toks, chars = agg.get(src, (0, 0, 0))
        nt = (
            0
            if t is None
            else sum(
                len(_naive_wp_match(w, piece_set))
                for w in _naive_wp_norm(t).split(" ")
                if w
            )
        )
        agg[src] = (n_docs + 1, toks + nt, chars + (len(t) if t else 0))
    assert set(out) == set(agg)
    for src, (n_docs, toks, chars) in agg.items():
        r = out[src]
        assert (r["n_docs"], r["total_tokens"], r["total_chars"]) == (
            n_docs,
            toks,
            chars,
        ), src
        want = (
            float(
                (Decimal(chars) / Decimal(toks)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            )
            if toks
            else 0.0
        )
        assert abs(r["chars_per_token"] - want) < 1e-9, src
        # a real merge budget must compress below char fallback
        if toks:
            assert r["chars_per_token"] > 1.0, src
    with pytest.raises(ValueError, match="by_col"):
        tokenizer_audit(df, vocab, by_col="nope")


def test_random_projection_pinned_and_arrow_matches_exact(spark):
    """random_projection (q132): the exact fold path pinned by a
    hashlib + sequential-sum twin, and the production Arrow matmul path
    equal to it up to one 6-dp rounding step (summation-order ulps);
    null vectors dropped, contracts eager."""
    import hashlib
    import math

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.similarity import (
        random_projection,
    )

    emb = _emb(spark).limit(40)
    OUT, DIM = 4, 64
    exact = random_projection(emb, OUT, DIM, salt="tw", exact=True)
    got = {
        (r["vec_id"], r["proj_dim"]): r["proj_value"]
        for r in exact.collect()
    }

    def coeff(j, d):
        h = int(hashlib.md5(f"tw:{j}:{d}".encode()).hexdigest()[:15], 16)
        return (h % 2001 - 1000) / 1000.0

    scale = 1.0 / math.sqrt(OUT)
    rows = emb.collect()
    assert len(got) == OUT * len(rows)
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        for j in range(OUT):
            acc = 0.0
            for d in range(DIM):  # sequential fold, same order as engine
                acc = acc + v[d] * coeff(j, d)
            want = round(acc * scale, 6)
            assert abs(got[(r["vec_id"], j)] - want) < 1e-9, (r["vec_id"], j)

    arrow = random_projection(emb, OUT, DIM, salt="tw", exact=False)
    ar = {
        (r["vec_id"], r["proj_dim"]): r["proj_value"]
        for r in arrow.collect()
    }
    assert set(ar) == set(got)
    assert all(abs(ar[k] - got[k]) <= 1.000001e-6 for k in got)

    # null vectors AND wrong-width vectors are dropped by both paths —
    # identically: before the up-front size filter, a short vector was
    # silent NULL proj_values on the exact path and a ragged-batch crash
    # on the Arrow path
    withnull = emb.select("vec_id", "embedding").unionAll(
        spark.createDataFrame(
            [(9999, None), (9998, [1.0, 2.0]), (9997, [0.5] * (DIM + 3))],
            "vec_id bigint, embedding array<double>",
        )
    )
    for is_exact in (True, False):
        bad = (
            random_projection(withnull, 2, DIM, exact=is_exact)
            .where("vec_id >= 9997")
            .collect()
        )
        assert bad == [], (is_exact, bad)
    with pytest.raises(ValueError, match="out_dim"):
        random_projection(emb, 0, DIM)
    with pytest.raises(ValueError, match="need columns"):
        random_projection(emb.select("vec_id"), 2, DIM)


def test_vocab_coverage_curve_pinned_by_naive_reference(spark):
    """vocab_coverage_curve (q133) recomputed from a Counter twin:
    coverage at each size = occurrences of the top-N words under the
    (count desc, word asc) order / total occurrences; sizes past the
    vocabulary cover everything; null/empty text contributes nothing;
    contracts eager."""
    from collections import Counter

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        vocab_coverage_curve,
    )

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat ate"),
        (3, "  THE   Dog "),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sizes = [1, 2, 3, 100]
    out = {
        r["vocab_size"]: (
            r["covered_tokens"],
            r["total_tokens"],
            r["coverage"],
        )
        for r in vocab_coverage_curve(df, sizes).collect()
    }
    words = [
        w
        for _, t in docs
        if t
        for w in " ".join(t.strip().lower().split()).split(" ")
        if w
    ]
    wc = Counter(words)
    ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    total = len(words)
    for s in sizes:
        covered = sum(n for _, n in ranked[:s])
        assert out[s] == (covered, total, round(covered / total, 6)), s
    assert out[100][0] == total and out[100][2] == 1.0
    # monotone non-decreasing in size
    vals = [out[s][0] for s in sorted(out)]
    assert vals == sorted(vals)
    with pytest.raises(ValueError, match="non-empty"):
        vocab_coverage_curve(df, [])
    with pytest.raises(ValueError, match=">= 1"):
        vocab_coverage_curve(df, [0])
    with pytest.raises(ValueError, match="text_col"):
        vocab_coverage_curve(df, [2], text_col="nope")


def test_kmv_group_sketches_distinct_false_equals_distinct_input(spark):
    """The distinct=False fast path (q127's shape: shingle_table output
    is distinct by contract) must produce exactly the distinct=True
    sketch — and skipping the dedup exchange is only legal on genuinely
    distinct input, so the equality is asserted on one."""
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        kmv_group_sketches,
    )

    raw = spark.range(600).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.concat(F.lit("w"), (F.col("id") % 150)).alias("key"),
    )  # duplicates: each (g, key) appears ~4/3 times
    dedup = raw.distinct()
    a = sorted(
        (r["g"], r["h"])
        for r in kmv_group_sketches(raw, "key", "g", 12).collect()
    )
    b = sorted(
        (r["g"], r["h"])
        for r in kmv_group_sketches(
            dedup, "key", "g", 12, distinct=False
        ).collect()
    )
    assert a == b and len(a) == 36


def test_calibrate_scores_pinned_by_naive_reference(spark):
    """calibrate_scores (q134) recomputed by a pure-Python twin: tied
    scores share a percentile (rank semantics), nulls keep their row
    with a NULL percentile and never perturb the scored ranks, a
    single-score group calibrates to 0.0; contracts eager."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        calibrate_scores,
    )

    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 20.0), ("a", 4, 40.0),
        ("a", 5, None),
        ("b", 6, 7.0),                      # single score -> 0.0
        ("c", 7, None), ("c", 8, None),     # all null -> all NULL pct
    ]
    df = spark.createDataFrame(rows, "src string, doc_id long, score double")
    got = {
        r["doc_id"]: r["score_pct"]
        for r in calibrate_scores(df, "src", "score").collect()
    }
    groups: dict = {}
    for src, i, s in rows:
        groups.setdefault(src, []).append((i, s))
    expected = {}
    for src, members in groups.items():
        scored = sorted(
            [(i, s) for i, s in members if s is not None], key=lambda t: t[1]
        )
        n = len(scored)
        for i, s in members:
            if s is None:
                expected[i] = None
            elif n <= 1:
                expected[i] = 0.0
            else:
                rk = 1 + sum(1 for _, v in scored if v < s)  # rank w/ ties
                expected[i] = round((rk - 1) / (n - 1), 6)
    assert got == expected
    # NaN scores fold into the null rule: NULL percentile, excluded from
    # the denominator, never out-ranking real scores
    nan_df = spark.createDataFrame(
        [("x", 1, 1.0), ("x", 2, float("nan")), ("x", 3, 3.0)],
        "src string, doc_id long, score double",
    )
    nan_got = {
        r["doc_id"]: r["score_pct"]
        for r in calibrate_scores(nan_df, "src", "score").collect()
    }
    assert nan_got == {1: 0.0, 2: None, 3: 1.0}
    with pytest.raises(ValueError, match="score_col"):
        calibrate_scores(df, "src", "nope")
    with pytest.raises(ValueError, match="out_col"):
        calibrate_scores(df, "src", "score", out_col="doc_id")


def test_word_distribution_drift_pinned_by_naive_reference(spark):
    """word_distribution_drift (q135) recomputed from Counter + math.log:
    smoothed KL both ways, JS, TVD over the union vocabulary; identical
    corpora drift to exactly zero; the alpha contract is eager."""
    import math
    from collections import Counter

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        word_distribution_drift,
    )

    a_docs = [(1, "the cat sat"), (2, "the dog ran far"), (3, None)]
    b_docs = [(1, "the cat sat"), (2, "a fox ran"), (4, "the the end")]
    a = spark.createDataFrame(a_docs, "doc_id long, text string")
    b = spark.createDataFrame(b_docs, "doc_id long, text string")
    r = word_distribution_drift(a, b, alpha=0.5).collect()[0]

    def counts(docs):
        return Counter(
            w
            for _, t in docs
            if t
            for w in " ".join(t.strip().lower().split()).split(" ")
            if w
        )
    ca, cb = counts(a_docs), counts(b_docs)
    vocab = sorted(set(ca) | set(cb))
    v = len(vocab)
    ta, tb = sum(ca.values()), sum(cb.values())
    pa = {w: (ca.get(w, 0) + 0.5) / (ta + 0.5 * v) for w in vocab}
    pb = {w: (cb.get(w, 0) + 0.5) / (tb + 0.5 * v) for w in vocab}
    kl_ab = sum(pa[w] * math.log(pa[w] / pb[w]) for w in vocab)
    kl_ba = sum(pb[w] * math.log(pb[w] / pa[w]) for w in vocab)
    js = (
        sum(pa[w] * math.log(pa[w] / ((pa[w] + pb[w]) / 2)) for w in vocab)
        + sum(pb[w] * math.log(pb[w] / ((pa[w] + pb[w]) / 2)) for w in vocab)
    ) / 2
    tvd = sum(abs(pa[w] - pb[w]) for w in vocab) / 2
    assert r["vocab_union"] == v
    for got, want in (
        (r["kl_ab"], kl_ab),
        (r["kl_ba"], kl_ba),
        (r["js_divergence"], js),
        (r["tvd"], tvd),
    ):
        assert abs(got - round(want, 6)) < 1e-9, (got, want)
    assert r["kl_ab"] > 0 and r["js_divergence"] > 0 and r["tvd"] > 0

    same = word_distribution_drift(a, a).collect()[0]
    assert (
        same["kl_ab"],
        same["kl_ba"],
        same["js_divergence"],
        same["tvd"],
    ) == (0.0, 0.0, 0.0, 0.0)
    with pytest.raises(ValueError, match="alpha"):
        word_distribution_drift(a, b, alpha=0.0)


def test_memorization_report_pinned_by_naive_reference(spark):
    """memorization_report recomputed by a pure-Python Counter twin over
    a fixture that hits every contract seam: a verbatim 13-gram shared
    across two long docs, a gram REPEATED inside one doc (distinct per
    doc — doc frequency stays 1, must NOT flag), a short-doc exact dup
    pair (whole-text partial gram), a fully unique doc, a null-text doc
    (absent from output), and the min_dup_docs knob."""
    import re as _re
    from collections import Counter

    import pytest

    boiler = "the quick brown fox jumps over the lazy dog near the old mill"
    rows = [
        (1, boiler + " alpha beta gamma delta unique one tail words here"),
        (2, "prefix words go here first " + boiler + " epsilon zeta"),
        # doc 3 repeats ITS OWN opening 13 words verbatim — internal
        # repetition must not count as cross-doc duplication
        (3, "aa bb cc dd ee ff gg hh ii jj kk ll mm " * 2 + "nn oo"),
        (4, "short exact dup"),
        (5, "  Short   EXACT dup "),  # normalizes equal to doc 4
        (6, "totally unique text with not enough overlap anywhere at all"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text, n=13):
        t = _re.sub(r"\s+", " ", text.strip().lower())
        w = t.split(" ")
        if len(w) <= n:
            return {t}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    sets = {i: grams(t) for i, t in rows if t is not None}
    freq = Counter(g for s in sets.values() for g in s)
    expected = {
        i: (
            len(s),
            sum(1 for g in s if freq[g] >= 2),
            round(sum(1 for g in s if freq[g] >= 2) / len(s), 6),
            max(freq[g] for g in s),
        )
        for i, s in sets.items()
    }

    out = dd.memorization_report(df, "doc_id", "text", n=13).collect()
    got = {
        r["doc_id"]: (
            r["n_grams"],
            r["n_dup_grams"],
            r["dup_fraction"],
            r["max_gram_docs"],
        )
        for r in out
    }
    assert got == expected
    # the seams, stated: docs 1/2 flag each other through the boilerplate,
    # doc 3's internal repeat does NOT flag, the short dups flag each other
    assert got[1][1] > 0 and got[2][1] > 0
    assert got[3][1] == 0 and got[3][3] == 1
    assert got[4] == (1, 1, 1.0, 2) and got[5] == (1, 1, 1.0, 2)
    assert got[6][1] == 0
    assert 7 not in got  # null text carries no grams

    # min_dup_docs=3: nothing in this fixture reaches 3 docs
    strict = dd.memorization_report(df, "doc_id", "text", n=13, min_dup_docs=3)
    assert all(r["n_dup_grams"] == 0 for r in strict.collect())
    with pytest.raises(ValueError, match="min_dup_docs"):
        dd.memorization_report(df, "doc_id", "text", min_dup_docs=1)


def test_quantize_embeddings_pinned_by_naive_reference(spark):
    """quantize_embeddings recomputed by a pure-Python twin: scale =
    max|x|/127, q = clamp(round(x/scale), ±127) with round-half-away —
    over a fixture hitting the max component (must code to exactly
    ±127), an exact .5 quotient (half-away tie), the all-zero vector
    (scale 0, zero code), and a null vector (null scale/code)."""
    import pytest

    rows = [
        (1, [127.0, 0.5, -0.5, 63.5]),   # scale 1.0: ties at ±.5, .5 exact
        (2, [-2.0, 1.0, 0.0, 0.25]),     # negative max-|x| component
        (3, [0.0, 0.0, 0.0, 0.0]),       # zero vector
        (4, None),                        # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def twin(v):
        if v is None:
            return None, None
        scale = max(abs(x) for x in v) / 127.0
        if scale == 0.0:
            return 0.0, [0] * len(v)

        def rnd(y):  # round half away from zero
            import math

            return int(math.floor(y + 0.5)) if y >= 0 else -int(
                math.floor(-y + 0.5)
            )

        return scale, [max(min(rnd(x / scale), 127), -127) for x in v]

    out = {r["vec_id"]: r for r in sim.quantize_embeddings(df).collect()}
    for i, v in rows:
        scale, q = twin(v)
        r = out[i]
        if v is None:
            assert r["q_scale"] is None and r["q_vec"] is None
        else:
            assert abs(r["q_scale"] - scale) < 1e-12, (i, r["q_scale"], scale)
            assert r["q_vec"] == q, (i, r["q_vec"], q)
    # the documented extremes: max component codes to exactly ±127
    assert out[1]["q_vec"][0] == 127 and out[2]["q_vec"][0] == -127
    # half-away ties: 0.5 -> 1, -0.5 -> -1
    assert out[1]["q_vec"][1] == 1 and out[1]["q_vec"][2] == -1

    with pytest.raises(ValueError, match="vec_col 'nope'"):
        sim.quantize_embeddings(df, vec_col="nope")
    # output-column collision guard (the repeat_by_weight copy_col rule)
    with pytest.raises(ValueError, match="already exists"):
        sim.quantize_embeddings(
            sim.quantize_embeddings(df).select("vec_id", "embedding", "q_vec")
        )


def test_knn_quantized_agrees_with_float_baseline(spark):
    """int8 quantization on 64-dim embeddings barely moves cosine
    ordering: recall@10 vs the exact float baseline stays >= 0.9 and the
    top-1 neighbor agrees for every query (measured 1.0 / 5-of-5 on the
    sf0.001 fixture — the floor guards regressions, e.g. a clamp or
    scale bug that would scramble the ranking)."""
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 5)
    bf = sim.knn_bruteforce(emb, queries, k=10).collect()
    qz = sim.knn_quantized(emb, queries, k=10).collect()
    bf_set = {(r["query_id"], r["neighbor_id"]) for r in bf}
    qz_set = {(r["query_id"], r["neighbor_id"]) for r in qz}
    assert len(bf_set & qz_set) / len(bf_set) >= 0.9
    top1_bf = {r["query_id"]: r["neighbor_id"] for r in bf if r["rank"] == 1}
    top1_qz = {r["query_id"]: r["neighbor_id"] for r in qz if r["rank"] == 1}
    assert top1_bf == top1_qz


def test_extend_bpe_equals_training_longer(spark):
    """The extension invariant: continuing training from a k-merge base
    on the SAME corpus must reproduce training k+n merges from scratch —
    row for row, including the base rows' pair counts. This is the
    'semantics are exactly training-had-continued' contract that makes
    the extended table a drop-in artifact."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        extend_bpe,
        train_bpe,
    )

    docs = _docs(spark).select("doc_id", "text").limit(40)
    base = train_bpe(docs, n_merges=12)
    extended = extend_bpe(docs, base, n_new_merges=8)
    longer = train_bpe(docs, n_merges=20)
    key = lambda r: r["merge_rank"]
    assert sorted(map(tuple, extended.collect()), key=lambda t: t[0]) == \
        sorted(map(tuple, longer.collect()), key=lambda t: t[0])
    assert extended.count() == 20


def test_extend_bpe_pinned_by_naive_reference(spark):
    """Cross-domain extension recomputed by a from-scratch naive-RECOUNT
    twin (pair counts rebuilt from the whole vocabulary every round, no
    incremental index; base merges replayed in rank order) — the
    continued-pretraining case the operator exists for: a general base,
    a domain corpus, new merges that stop fragmenting domain words."""
    from collections import Counter

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        bpe_encode,
        extend_bpe,
        train_bpe,
    )

    END = "</w>"
    general = [
        (1, "the low low low lower newest"),
        (2, "that widest newest low and lower lowest"),
        (3, "of newest newest low lower to the widest"),
    ]
    domain = [
        (10, "kinase kinase kinase inhibitor inhibitor assay"),
        (11, "kinase inhibitor binding assay assay kinase"),
        (12, "the inhibitor of the kinase assay"),
    ]
    gdf = spark.createDataFrame(general, "doc_id long, text string")
    ddf = spark.createDataFrame(domain, "doc_id long, text string")

    base = train_bpe(gdf, n_merges=6)
    out = sorted(
        map(tuple, extend_bpe(ddf, base, n_new_merges=6).collect())
    )

    # ---- naive twin, sharing no code with the engine ----
    def norm(t):
        return " ".join(t.strip().lower().split())

    def naive_merge(syms, left, right):
        o, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                o.append(left + right)
                i += 2
            else:
                o.append(syms[i])
                i += 1
        return tuple(o)

    def naive_train(texts, n, seed=(), start_rank=0, min_pair=2):
        wc = Counter(w for t in texts for w in norm(t).split(" "))
        vocab = [[tuple(w) + (END,), c] for w, c in sorted(wc.items())]
        for left, right in seed:
            vocab = [[naive_merge(s, left, right), c] for s, c in vocab]
        merges = []
        for rank in range(start_rank, start_rank + n):
            pairs = Counter()  # full recount every round
            for syms, c in vocab:
                for p in zip(syms, syms[1:]):
                    pairs[p] += c
            if not pairs:
                break
            top = max(pairs.values())
            if top < min_pair:
                break
            left, right = min(p for p, c in pairs.items() if c == top)
            merges.append((rank, left, right, left + right, top))
            vocab = [[naive_merge(s, left, right), c] for s, c in vocab]
        return merges

    naive_base = naive_train([t for _, t in general], 6)
    naive_ext = naive_train(
        [t for _, t in domain],
        6,
        seed=[(l, r) for _, l, r, _, _ in naive_base],
        start_rank=len(naive_base),
    )
    assert out == sorted(naive_base + naive_ext)

    # the payoff the operator exists for: domain text fragments LESS
    # under the extended table than under the base alone
    n_base = sum(
        r["n_subword_tokens"]
        for r in bpe_encode(ddf, base, counts_only=True).collect()
    )
    ext_tbl = extend_bpe(ddf, base, n_new_merges=6)
    n_ext = sum(
        r["n_subword_tokens"]
        for r in bpe_encode(ddf, ext_tbl, counts_only=True).collect()
    )
    assert n_ext < n_base

    # contract: n_new_merges <= 0 returns the base verbatim; ranks must
    # be contiguous from 0; text_col checked eagerly on BOTH paths
    same = extend_bpe(ddf, base, n_new_merges=0)
    assert sorted(map(tuple, same.collect())) == sorted(
        map(tuple, base.collect())
    )
    with pytest.raises(ValueError, match="contiguous"):
        extend_bpe(ddf, base.where(F.col("merge_rank") >= 2), n_new_merges=1)
    with pytest.raises(ValueError, match="text_col 'nope'"):
        extend_bpe(ddf, base, text_col="nope", n_new_merges=0)


def test_extended_merge_table_is_artifact_drop_in(spark, tmp_path):
    """The 'drop-in for every consumer' claim, exercised: an
    extend_bpe table saves/loads through the tokenizer artifact
    sink/source and encode_with_artifact produces the same counts as
    encoding with the in-memory extended table."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        bpe_encode,
        extend_bpe,
        train_bpe,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        encode_with_artifact,
        load_tokenizer_artifact,
        save_tokenizer_artifact,
    )

    docs = _docs(spark).select("doc_id", "text").limit(30)
    ext = extend_bpe(docs, train_bpe(docs, n_merges=8), n_new_merges=6)
    path = str(tmp_path / "ext_artifact")
    save_tokenizer_artifact(ext, path)
    loaded = load_tokenizer_artifact(spark, path)
    direct = {
        r["doc_id"]: r["n_subword_tokens"]
        for r in bpe_encode(docs, ext, counts_only=True).collect()
    }
    via_artifact = {
        r["doc_id"]: r["n_subword_tokens"]
        for r in encode_with_artifact(
            docs, loaded, counts_only=True
        ).collect()
    }
    assert direct == via_artifact and len(direct) == 30


def test_packing_budget_sweep_pinned_by_naive_reference(spark):
    """packing_budget_sweep recomputed by a hashlib + pure-Python twin
    over a fixture with a doc LONGER than every budget (truncation on
    all rows), null text (counts 0 — the FFD rule), a null id (own
    shard), and a budget larger than the whole corpus (one padded
    sequence per non-empty shard)."""
    import hashlib

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.packing import (
        packing_budget_sweep,
    )

    rows = [
        (1, "one two three four five six seven eight"),          # 8
        (2, "a b c"),                                            # 3
        (3, " ".join(f"w{i}" for i in range(40))),               # 40 > all
        (4, None),                                               # 0 tokens
        (None, "x y"),                                           # null id
        (6, "p q r s t u"),                                      # 6
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    budgets, n_shards = (4, 16, 1000), 8

    def h(i):
        return int(hashlib.md5(f"pack:{i}".encode()).hexdigest()[:15], 16)

    shard_tot, doc_counts = {}, []
    for i, t in rows:
        nt = len(t.strip().split()) if t else 0
        sh = h(i) % n_shards if i is not None else None
        shard_tot[sh] = shard_tot.get(sh, 0) + nt
        doc_counts.append(nt)
    expected = {}
    for b in budgets:
        nseq = sum(-(-t // b) for t in shard_tot.values())
        tot = sum(doc_counts)
        padded = nseq * b - tot
        expected[b] = (
            nseq,
            tot,
            padded,
            round(padded / (nseq * b), 6) if nseq else 0.0,
            len(rows),
            sum(1 for c in doc_counts if c > b),
            sum(c - b for c in doc_counts if c > b),
        )

    out = packing_budget_sweep(
        df, "doc_id", "text", budgets=budgets, n_shards=n_shards
    ).collect()
    got = {
        r["budget"]: (
            r["n_sequences"],
            r["total_tokens"],
            r["padded_tokens"],
            r["padding_fraction"],
            r["n_docs"],
            r["n_docs_truncated"],
            r["truncated_tokens"],
        )
        for r in out
    }
    assert got == expected
    # the knee-plot shape, stated: padding falls / truncation rises as
    # the budget shrinks
    assert got[4][2] <= got[16][2] <= got[1000][2]
    assert got[4][6] >= got[16][6] >= got[1000][6]

    with pytest.raises(ValueError, match="distinct"):
        packing_budget_sweep(df, budgets=(4, 4))
    with pytest.raises(ValueError, match="ints"):
        packing_budget_sweep(df, budgets=(4.0, 16))
    with pytest.raises(ValueError, match="> 0"):
        packing_budget_sweep(df, budgets=(0,))
    with pytest.raises(ValueError, match="text_col 'nope'"):
        packing_budget_sweep(df, text_col="nope")


def test_probe_cells_rank0_equals_assignment(spark):
    """probe_cells' rank-0 row must equal assign_clusters' assignment
    for every vector (same matmul, same DOT_DP rounding, same
    stable-argmax tie rule) — the build/serve agreement the IVF index
    depends on. Also pins: n_probe above the cluster count probes every
    cell exactly once, and n_probe < 1 is rejected."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.clustering import (
        assign_clusters,
        fit_kmeans,
        probe_cells,
    )

    emb = _emb(spark).limit(200)
    model = fit_kmeans(emb, n_clusters=6, iters=1)
    assigned = {
        r["vec_id"]: (r["cluster"], r["cent_cos"])
        for r in assign_clusters(emb, model).collect()
    }
    probed = probe_cells(emb, model, n_probe=2).collect()
    rank0 = {
        r["vec_id"]: (r["cluster"], r["cent_cos"])
        for r in probed
        if r["probe_rank"] == 0
    }
    assert rank0 == assigned and len(assigned) == 200
    # rank-1 cells differ from rank-0 and score <= rank-0
    by_id = {}
    for r in probed:
        by_id.setdefault(r["vec_id"], {})[r["probe_rank"]] = r
    for i, ranks in by_id.items():
        assert ranks[0]["cluster"] != ranks[1]["cluster"]
        assert ranks[1]["cent_cos"] <= ranks[0]["cent_cos"]

    everything = probe_cells(emb.limit(5), model, n_probe=99).collect()
    for i in {r["vec_id"] for r in everything}:
        cells = [r["cluster"] for r in everything if r["vec_id"] == i]
        assert sorted(cells) == list(range(6))
    with pytest.raises(ValueError, match="n_probe"):
        probe_cells(emb, model, n_probe=0)


def test_ann_serving_capstone_recall_determinism_artifact(spark):
    """The q142 composition pinned two ways: recall@10 vs the exact
    float baseline (>= 0.4 measured 0.6 on the worst-case uniform
    fixture at 3/8 cells probed) and exact rerun determinism (the whole
    chain is a pure function of the data)."""
    import __spark_entry__ as entry_mod

    q142 = entry_mod.queries()["q142_ann_serving_capstone"]
    out1 = sorted(map(tuple, q142(spark, SF_SMOKE).collect()))
    out2 = sorted(map(tuple, q142(spark, SF_SMOKE).collect()))
    assert out1 == out2 and len(out1) == 50
    emb = _emb(spark)
    queries = emb.where(F.col("vec_id") < 5)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_bruteforce(emb, queries, k=10).collect()
    }
    got = {(q, n) for q, n, _, _ in out1}
    assert len(bf & got) / len(bf) >= 0.4


def test_ann_recall_pinned_by_hand_fixture(spark):
    """ann_recall recomputed by hand over a fixture covering: full hit,
    partial hit, zero hit (query missing entirely from the approx side —
    must appear with recall 0.0, not vanish), and an approx-side extra
    neighbor (precision noise must not inflate recall)."""
    import pytest

    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 21), (2, 99)],
        "query_id long, neighbor_id long",
    )
    got = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in sim.ann_recall(approx, exact).collect()
    }
    assert got == {
        1: (3, 3, 1.0),
        2: (2, 1, 0.5),
        3: (1, 0, 0.0),
    }
    # set semantics: duplicated (query, neighbor) rows on either side
    # must not multiply baseline rows or double-count hits
    dup = {
        r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
        for r in sim.ann_recall(
            approx.union(approx), exact.union(exact)
        ).collect()
    }
    assert dup == got
    with pytest.raises(ValueError, match="approx frame lacks"):
        sim.ann_recall(approx.select("query_id"), exact)


def test_tokenizer_ab_report_trained_pair(spark):
    """The A/B report on a TRAINED pair — extend_bpe base vs extended
    over domain text (the report's reason to exist): the extended
    artifact must show fewer tokens (negative delta) on the domain it
    learned, n_docs must match the corpus, and a domain with zero
    artifact-A tokens must carry a NULL delta rather than a division."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        extend_bpe,
        train_bpe,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans.tokenizer import (
        tokenizer_ab_report,
    )

    rows = [
        (1, "dom", "kinase kinase kinase inhibitor inhibitor assay"),
        (2, "dom", "kinase inhibitor binding assay assay kinase"),
        (3, "dom", "the inhibitor of the kinase assay"),
        (4, "empty", None),   # whole domain tokenizes to 0 -> NULL delta
        (5, "empty", ""),
        (6, None, "unsourced text words here"),  # NULL domain must report
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    base = train_bpe(df, n_merges=6)
    ext = extend_bpe(df, base, n_new_merges=6)
    rep = {
        r["source"]: r
        for r in tokenizer_ab_report(df, base, ext).collect()
    }
    assert rep["dom"]["n_docs"] == 3 and rep["empty"]["n_docs"] == 2
    # the NULL-domain group pairs with itself (null-safe join), never drops
    assert rep[None]["n_docs"] == 1 and rep[None]["tokens_a"] > 0
    assert rep["dom"]["tokens_b"] < rep["dom"]["tokens_a"]
    assert rep["dom"]["token_delta_pct"] < 0
    assert rep["empty"]["tokens_a"] == 0
    assert rep["empty"]["token_delta_pct"] is None


def test_embedding_drift_pinned_by_naive_reference(spark):
    """embedding_drift recomputed by pure-Python statistics over a
    fixture hitting every geometry seam: identical groups (cos exactly
    1.0, ratio 1.0), a group rotated 90 degrees (cos 0.0), a group
    absent from the new snapshot (n_new 0, NULL geometry), a group new
    in the refresh (n_old 0, NULL geometry), null vectors (counted,
    excluded from means), and a group whose new mean cancels to zero
    norm (NULL geometry, not a division)."""
    import math

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        embedding_drift,
    )

    old_rows = [
        ("same", [1.0, 0.0]), ("same", [1.0, 2.0]),
        ("rot", [2.0, 0.0]),
        ("gone", [1.0, 1.0]),
        ("nulls", [4.0, 0.0]), ("nulls", None),
        ("cancel", [1.0, 0.0]),
        (None, [3.0, 4.0]),
    ]
    new_rows = [
        ("same", [1.0, 0.0]), ("same", [1.0, 2.0]),
        ("rot", [0.0, 3.0]),
        ("fresh", [5.0, 5.0]),
        ("nulls", [0.0, 2.0]),
        ("cancel", [1.0, 0.0]), ("cancel", [-1.0, 0.0]),
        (None, [6.0, 8.0]),
    ]
    schema = "label string, embedding array<double>"
    out = {
        r["label"]: (
            r["n_old"], r["n_new"], r["centroid_cos"], r["norm_ratio"]
        )
        for r in embedding_drift(
            spark.createDataFrame(old_rows, schema),
            spark.createDataFrame(new_rows, schema),
        ).collect()
    }

    def mean(rows, lbl):
        vs = [v for l, v in rows if l == lbl and v is not None]
        if not vs:
            return None
        return [round(sum(col) / len(vs), 6) for col in zip(*vs)]

    for lbl in ("same", "rot", "gone", "fresh", "nulls", "cancel", None):
        n_old = sum(1 for l, _ in old_rows if l == lbl)
        n_new = sum(1 for l, _ in new_rows if l == lbl)
        ma, mb = mean(old_rows, lbl), mean(new_rows, lbl)
        if ma and mb:
            aa = sum(x * x for x in ma)
            bb = sum(x * x for x in mb)
            ab = sum(x * y for x, y in zip(ma, mb))
            cos = round(ab / math.sqrt(aa * bb), 6) if aa and bb else None
            ratio = round(math.sqrt(bb / aa), 6) if aa else None
        else:
            cos = ratio = None
        assert out[lbl] == (n_old, n_new, cos, ratio), (lbl, out[lbl])
    assert out["same"][2] == 1.0 and out["same"][3] == 1.0
    assert out["rot"][2] == 0.0
    assert out["gone"][1] == 0 and out["gone"][2] is None
    assert out["fresh"][0] == 0 and out["fresh"][2] is None
    assert out["cancel"][2] is None  # zero-norm new mean: no direction
    # the NULL group pairs with itself (null-safe joins): one row with
    # counts from BOTH sides and its computable geometry attached
    assert out[None] == (1, 1, 1.0, 2.0)

    with pytest.raises(ValueError, match="new frame lacks"):
        embedding_drift(
            spark.createDataFrame(old_rows, schema),
            spark.createDataFrame([(1,)], "x long"),
        )


def test_top_duplicated_grams_pinned_and_consistent_with_report(spark):
    """top_duplicated_grams recomputed by the Counter twin over the
    memorization fixture, plus the cross-operator consistency seam: the
    top gram's n_docs must equal q137's max_gram_docs for every doc
    containing it, and every reported gram's doc count must be >= 2."""
    import re as _re
    from collections import Counter

    import pytest

    boiler = "the quick brown fox jumps over the lazy dog near the old mill"
    rows = [
        (1, boiler + " alpha beta gamma delta unique one tail words here"),
        (2, "prefix words go here first " + boiler + " epsilon zeta"),
        (3, "short exact dup"),
        (4, "  Short   EXACT dup "),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text, n=13):
        t = _re.sub(r"\s+", " ", text.strip().lower())
        w = t.split(" ")
        if len(w) <= n:
            return {t}
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    freq = Counter(
        g for _, t in rows if t is not None for g in grams(t)
    )
    expected = sorted(
        ((g, c) for g, c in freq.items() if c >= 2),
        key=lambda x: (-x[1], x[0]),
    )
    out = [
        (r["gram"], r["n_docs"])
        for r in dd.top_duplicated_grams(df, k=50).collect()
    ]
    assert out == expected
    assert all(c >= 2 for _, c in out)
    # cross-operator seam: the boilerplate docs' max_gram_docs equals
    # the shared gram's reported doc count
    rep = {
        r["doc_id"]: r["max_gram_docs"]
        for r in dd.memorization_report(df).collect()
    }
    assert rep[1] == 2 and rep[2] == 2 and rep[3] == 2 and rep[4] == 2

    with pytest.raises(ValueError, match="min_docs"):
        dd.top_duplicated_grams(df, min_docs=1)
    with pytest.raises(ValueError, match="k must"):
        dd.top_duplicated_grams(df, k=0)


def test_winnow_fingerprints_python_twin(spark):
    """Winnowing selection == a from-scratch Python implementation on
    crafted docs, including a FORCED TIE (the same gram twice inside one
    window) to pin the rightmost-min tiebreak, and a doc shorter than
    the window (keeps its single global min)."""
    import hashlib

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        winnow_fingerprints,
    )

    k, w = 2, 3
    docs = {
        # "a b" appears at gram positions 0 and 2 -> identical hashes in
        # one window when it is the window min -> rightmost must win
        1: "a b a b c d e",
        2: "x y",          # 1 word-gram after k=2 split -> shorter than window
        3: "p q r s",
    }

    def grams(text):
        ws = text.split()
        n = max(len(ws) - k, 0) + 1
        return [" ".join(ws[i : i + k]) for i in range(n)]

    def h(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16)

    want = set()
    for d, text in docs.items():
        hs = [h(g) for g in grams(text)]
        n = len(hs)
        for start in range(max(n - w, 0) + 1):
            win = hs[start : start + w]
            m = min(win)
            # rightmost occurrence of the min
            pos = start + max(i for i, x in enumerate(win) if x == m)
            want.add((d, m, pos))

    df = spark.createDataFrame(list(docs.items()), "doc_id int, text string")
    got = {
        (r["doc"], r["fp"], r["pos"])
        for r in winnow_fingerprints(df, "doc_id", "text", k=k, window=w).collect()
    }
    assert got == want


def test_winnow_pairs_guarantee_and_cap(spark):
    """The paper guarantee: two docs sharing a run of >= window + k - 1
    words share >= 1 fingerprint; and max_doc_freq drops a boilerplate
    fingerprint shared by every doc."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_pairs,
    )

    k, w = 3, 4
    run = "the quick brown fox jumps over"  # 6 words = w + k - 1
    rows = [
        (1, f"alpha beta {run} gamma delta epsilon zeta"),
        (2, f"one two three four {run} five six seven"),
        (3, "totally unrelated words in this document here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = winnow_fingerprints(df, "doc_id", "text", k=k, window=w)
    by_doc = {
        d: {r["fp"] for r in fp.where(fp.doc == d).collect()} for d in (1, 2, 3)
    }
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missing"

    pairs = winnow_pairs(
        df, "doc_id", "text", k=k, window=w, min_shared=1
    ).collect()
    assert any(r["doc_a"] == 1 and r["doc_b"] == 2 for r in pairs)

    # boilerplate cap: a fingerprint in all 3 docs is dropped at
    # max_doc_freq=2, so a pair that relied on it alone disappears
    rows_bp = [(i, f"shared boiler plate line {i}") for i in range(1, 4)]
    dfb = spark.createDataFrame(rows_bp, "doc_id int, text string")
    uncapped = winnow_pairs(dfb, "doc_id", "text", k=2, window=2, min_shared=1)
    capped = winnow_pairs(
        dfb, "doc_id", "text", k=2, window=2, min_shared=1, max_doc_freq=2
    )
    assert uncapped.count() > capped.count()


def test_bm25_python_twin(spark):
    """BM25 formula pinned by a from-scratch Python computation on a tiny
    corpus (duplicate docs score exactly equal; doc-asc tiebreak)."""
    import math
    import re
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        bm25_topk,
    )

    corpus = {
        1: "the cat sat on the mat",
        2: "the dog sat on the log",
        3: "the cat sat on the mat",  # exact dup of 1
        4: "quantum flux capacitors require plutonium",
    }
    qs = {(100, "cat mat"), (200, "dog"), (300, "plutonium flux")}
    k1, b = 1.2, 0.75

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    tf = {d: Counter(toks(t)) for d, t in corpus.items()}
    dl = {d: sum(c.values()) for d, c in tf.items()}
    n = len(dl)
    avgdl = sum(dl.values()) / n
    df = Counter(t for c in tf.values() for t in c)

    want = {}
    for qid, qt in qs:
        for d in corpus:
            s = 0.0
            for t in set(toks(qt)):
                if tf[d].get(t):
                    idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
                    f = tf[d][t]
                    s += idf * f * (k1 + 1) / (f + k1 * (1 - b + b * dl[d] / avgdl))
            if s > 0:
                want[(qid, d)] = round(s, 6)

    docs = spark.createDataFrame(list(corpus.items()), "doc_id int, text string")
    queries = spark.createDataFrame(list(qs), "query_id int, qtext string")
    got = bm25_topk(docs, queries, k=10).collect()
    got_scores = {(r["query_id"], r["doc"]): r["score"] for r in got}
    assert got_scores.keys() == want.keys()
    for key, w in want.items():
        assert abs(got_scores[key] - w) <= 2e-6, (key, got_scores[key], w)
    # dup docs tie exactly; doc-asc breaks it
    r100 = sorted(
        (r["rank"], r["doc"]) for r in got if r["query_id"] == 100
    )
    assert r100[0] == (1, 1) and r100[1] == (2, 3)


def test_tfidf_cosine_python_twin(spark):
    """Cosine pinned by a from-scratch Python computation (rounded q50
    weights, capped-space norms), including a stop-term cap that removes
    a term shared by all docs."""
    import math
    import re
    from collections import Counter

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    corpus = {
        1: "zeta common alpha beta alpha",
        2: "zeta common alpha beta gamma",
        3: "zeta common delta epsilon unrelated",
    }

    def toks(t):
        return [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

    tf = {d: Counter(toks(t)) for d, t in corpus.items()}
    n = len(tf)
    df = Counter(t for c in tf.values() for t in c)
    cap = 2  # drops 'zeta' and 'common' (df=3)
    w = {
        d: {
            t: round(f * (math.log((n + 1) / (df[t] + 1)) + 1), 6)
            for t, f in c.items()
            if df[t] <= cap
        }
        for d, c in tf.items()
    }
    nrm = {d: math.sqrt(sum(x * x for x in ws.values())) for d, ws in w.items()}
    want = {}
    for a in corpus:
        for b in corpus:
            if a < b:
                dot = sum(w[a][t] * w[b][t] for t in w[a] if t in w[b])
                if nrm[a] and nrm[b]:
                    c = round(dot / (nrm[a] * nrm[b]), 6)
                    if c >= 0.1:
                        want[(a, b)] = c

    docs = spark.createDataFrame(list(corpus.items()), "doc_id int, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(
            docs, threshold=0.1, max_doc_freq=cap
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) <= 2e-6, (k, got[k], want[k])
    # docs 1 and 2 share alpha+beta -> high; 3 shares nothing after cap
    assert (1, 2) in got and all(3 not in k for k in got)


def test_merge_term_stats_equals_recompute(spark):
    """merge(term_stats(corpus), batch) == term_stats(corpus ∪ batch),
    row for row — plus the empty-batch and bootstrap-from-empty edges."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        merge_term_stats,
        term_stats,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta beta"), (2, "beta gamma"), (3, None)],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [(10, "alpha delta"), (11, "delta delta epsilon")],
        "doc_id int, text string",
    )
    both = corpus.unionByName(batch)

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    assert snap(merge_term_stats(term_stats(corpus), batch)) == snap(
        term_stats(both)
    )
    # empty batch: identity
    empty = spark.createDataFrame([], "doc_id int, text string")
    assert snap(merge_term_stats(term_stats(corpus), empty)) == snap(
        term_stats(corpus)
    )
    # bootstrap from an empty stats table
    assert snap(merge_term_stats(term_stats(empty), batch)) == snap(
        term_stats(batch)
    )


def test_jaccard_prefix_pairs_python_twin(spark):
    """Prefix-filtered pairs == brute-force python Jaccard at the
    threshold, incl. a pair at EXACTLY J == t (>= keeps it), docs whose
    only shared tokens are corpus-common (prefix = rare tokens still
    finds them iff J qualifies), null/empty docs, and the threshold
    contract error."""
    import itertools

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        jaccard_pairs_prefix,
    )

    texts = {
        1: "alpha beta gamma delta epsilon zeta",
        2: "Alpha  beta gamma delta epsilon zeta",  # J(1,2)=1.0 after norm
        3: "alpha beta gamma delta epsilon zeta eta",  # J(1,3)=4/5 exactly
        4: "alpha beta gamma theta iota kappa",  # J(1,4)=1/7
        5: "the the the common words only",
        6: "common words only here",  # J(5,6)=1/5
        7: "",
        8: None,
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")

    def shingles(t):
        # 3-word shingles of the normalized words; a doc of <= 3 words is
        # one shingle
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 3, 0) + 1)}

    for t in (0.8, 0.5, 0.2):
        want = []
        for a, b in itertools.combinations(sorted(texts), 2):
            if texts[a] is None or texts[b] is None:
                continue
            sa, sb = shingles(texts[a]), shingles(texts[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                want.append((a, b, round(j, 6)))
        got = sorted(
            tuple(r) for r in jaccard_pairs_prefix(df, threshold=t).collect()
        )
        assert got == sorted(want), (t, got, want)
        if t == 0.8:
            # J == threshold boundary: the pair at exactly 0.8 survives
            # (the prefix-length and length-filter slacks err inclusive)
            assert (1, 3, 0.8) in got, got
        if t == 0.2:
            assert (5, 6, 0.2) in got, got
    with pytest.raises(ValueError, match="threshold"):
        jaccard_pairs_prefix(df, threshold=0.0)


def test_scratch_dirs_removed_by_exit_hook(spark, tmp_path):
    """q108's artifact dir and the q182-q184 orders snapshots are
    per-process scratch: the exit hook deletes every one of them and
    resets the caches (a later call bootstraps afresh instead of reusing
    a deleted path), and a plain interpreter exit runs it."""
    import os
    import subprocess
    import sys

    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import (
        northstar_queries as nq,
    )

    snap = nq._orders_pointer_snapshot(
        spark, SF_SMOKE, nq._Q183_SNAPSHOTS, "q183_ret_"
    )
    probe = nq._scratch_dir("probe_")
    dirs = list(nq._SCRATCH_DIRS)
    assert os.path.isdir(snap) and os.path.isdir(probe)
    nq._remove_scratch_dirs()
    assert not any(os.path.exists(d) for d in dirs + [snap])
    assert nq._SCRATCH_DIRS == [] and nq._Q183_SNAPSHOTS == {}
    assert nq._Q108_ARTIFACT_DIR is None
    again = nq._orders_pointer_snapshot(
        spark, SF_SMOKE, nq._Q183_SNAPSHOTS, "q183_ret_"
    )
    assert again != snap and os.path.isdir(again)

    out = tmp_path / "made.txt"
    code = (
        "from dbda_big_data_walmart_stores_analysis_prediction_spark.plans "
        "import northstar_queries as nq\n"
        f"open({str(out)!r}, 'w').write(nq._scratch_dir('exit_probe_'))\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, cwd=REPO_ROOT)
    made = out.read_text()
    assert made and not os.path.exists(made), "exit hook must remove it"


def test_q182_snapshot_bootstrap_amortized_to_warmup(spark):
    """The declared bench contract for the pointer-snapshot queries
    (bench.py LONGTAIL comment, r15 verdict item 7): q182/q183/q184
    bootstrap their orders snapshot ONCE per (process, sf_dir) and every
    later invocation — the bench's timed reps after the unmeasured
    warm-up — reuses it, measuring the refresh operation only. Pin the
    reuse: two q182 runs in one process share one snapshot root, the
    second run commits a NEW manifest version onto it (real refresh work
    per rep, not a no-op), and the cache is keyed by sf_dir."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        _committed_manifests,
    )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import (
        northstar_queries as nq,
    )

    nq._Q182_SNAPSHOTS.pop(SF_SMOKE, None)
    nq.q182_pointer_snapshot_refresh(spark, SF_SMOKE).collect()
    assert SF_SMOKE in nq._Q182_SNAPSHOTS, "bootstrap must cache by sf_dir"
    snap = nq._Q182_SNAPSHOTS[SF_SMOKE]
    v1 = max(_committed_manifests(spark, snap))
    nq.q182_pointer_snapshot_refresh(spark, SF_SMOKE).collect()
    assert nq._Q182_SNAPSHOTS[SF_SMOKE] == snap, (
        "second run must reuse the bootstrapped snapshot (the bench's "
        "timed reps measure the refresh, not the bootstrap)"
    )
    v2 = max(_committed_manifests(spark, snap))
    assert v2 > v1, "each rep must COMMIT a fresh refresh (real work)"
