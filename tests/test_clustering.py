"""Pin tests for operators/clustering.py — spherical k-means and the
cluster-based SemDeDup.

`test_kmeans_pinned_by_naive_reference` is a from-scratch twin in the
repo's pinning convention (hashlib init ordering, pure-Python
left-to-right float folds, explicit argmax loops — deliberately none of
the engine's code paths). The oracle-parity gate already covers q111/
q112 against DuckDB at sf0.001/sf0.01; these tests pin the operator
CONTRACTS: tie-breaks, the empty-cluster / zero-mean coalesce rules,
the survivor rule, and the zero-shuffle assignment plan.
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.clustering import (
    DOT_DP,
    KMeansModel,
    _assigned,
    _blockwise_pairs,
    assign_clusters,
    cluster_embeddings,
    fit_kmeans,
    semdedup,
)

K, ITERS, SALT = 8, 2, "kmeans"


def _naive_kmeans(rows, k, iters, salt):
    """From-scratch twin: rows = [(id, vec)], returns (centroids,
    {id: (cluster, cent_cos)}). Left-to-right folds like Spark's
    aggregate(); hashlib md5 init order; round-6 dots / round-9 means."""

    def norm(v):
        s = 0.0
        for x in v:
            s += x * x
        n = math.sqrt(s)
        return [x / n for x in v]

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    pts = [(i, norm([float(x) for x in v])) for i, v in rows if dot(v, v) > 0]
    order = sorted(
        pts, key=lambda p: (hashlib.md5(f"{p[0]}:{salt}".encode()).hexdigest(), p[0])
    )
    cents = [list(p[1]) for p in order[:k]]

    def assign(nv):
        dots = [round(dot(nv, c), 6) for c in cents]
        best = max(dots)
        return dots.index(best), best  # first max = lowest cluster id

    for _ in range(iters):
        members: dict[int, list] = {}
        for _pid, nv in pts:
            cid, _ = assign(nv)
            members.setdefault(cid, []).append(nv)
        nxt = []
        for cid, prev in enumerate(cents):
            mem = members.get(cid)
            if not mem:
                nxt.append(prev)
                continue
            dim = len(prev)
            mean = []
            for p in range(dim):
                s = 0.0
                for nv in mem:
                    s += nv[p]
                mean.append(round(s / len(mem), 9))
            nrm = math.sqrt(sum(x * x for x in mean))
            nxt.append([x / nrm for x in mean] if nrm > 0 else prev)
        cents = nxt
    return cents, {pid: assign(nv) for pid, nv in pts}


def test_kmeans_pinned_by_naive_reference(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    _, expect = _naive_kmeans(rows, K, ITERS, SALT)

    got = {
        r["vec_id"]: (r["cluster"], r["cent_cos"])
        for r in cluster_embeddings(
            emb, n_clusters=K, iters=ITERS, salt=SALT
        ).collect()
    }
    assert set(got) == set(expect)
    for vid, (cid, cos) in expect.items():
        assert got[vid][0] == cid, f"vec {vid}: cluster {got[vid][0]} != {cid}"
        assert math.isclose(got[vid][1], cos, abs_tol=2e-6), vid


def test_identical_init_vectors_leave_duplicate_cluster_empty(spark):
    # Two identical vectors as the ONLY points with k=2: both init
    # centroids coincide, first-max tie-break sends every point to
    # cluster 0, cluster 1 goes empty and must keep its init centroid.
    df = spark.createDataFrame(
        [(1, [3.0, 0.0]), (2, [3.0, 0.0])], "vec_id long, embedding array<float>"
    )
    model = fit_kmeans(df, n_clusters=2, iters=2, salt=SALT)
    assert model.centroids[0] == pytest.approx([1.0, 0.0])
    assert model.centroids[1] == pytest.approx([1.0, 0.0])  # kept, not NaN
    out = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(df, model).collect()
    }
    assert out == {1: 0, 2: 0}


def test_antipodal_members_zero_mean_keeps_previous_centroid(spark):
    # v and -v in one cluster average to the zero vector; renormalizing
    # would divide by zero — the contract keeps the previous centroid.
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    model = fit_kmeans(df, n_clusters=1, iters=3, salt=SALT)
    init = fit_kmeans(df, n_clusters=1, iters=0, salt=SALT)
    assert model.centroids == init.centroids
    out = {
        r["vec_id"]: (r["cluster"], r["cent_cos"])
        for r in assign_clusters(df, model).collect()
    }
    assert out[1] == (0, pytest.approx(1.0)) or out[2] == (0, pytest.approx(1.0))
    assert {c for c, _ in out.values()} == {0}


def test_zero_norm_vectors_are_dropped(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = cluster_embeddings(df, n_clusters=2, iters=1, salt=SALT)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 3]


def test_fit_rejects_negative_iters(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="iters"):
        fit_kmeans(df, n_clusters=1, iters=-1)


def test_assignment_plan_has_no_exchange(spark, sf_dir):
    # Nearest-centroid assignment is a pure scan against literal
    # centroids: no shuffle may appear in the plan.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = KMeansModel(
        centroids=[[1.0] + [0.0] * 63, [0.0, 1.0] + [0.0] * 62],
        salt=SALT,
        iters=0,
    )
    plan = assign_clusters(emb, model)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_semdedup_invariants(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semdedup(
        emb, n_clusters=K, iters=ITERS, threshold=0.45, salt=SALT
    ).collect()
    clusters = cluster_embeddings(
        emb, n_clusters=K, iters=ITERS, salt=SALT
    ).collect()
    cent = {r["vec_id"]: (r["cluster"], r["cent_cos"]) for r in clusters}

    # every clustered id appears exactly once
    assert sorted(r["vec_id"] for r in out) == sorted(cent)
    groups: dict[int, list] = {}
    for r in out:
        groups.setdefault(r["group_id"], []).append(r)
    for gid, members in groups.items():
        # exactly one survivor per group; group id is the min member id
        assert sum(m["keep"] for m in members) == 1
        assert gid == min(m["vec_id"] for m in members)
        # components never straddle clusters (pairs are within-cluster)
        assert len({m["cluster"] for m in members}) == 1
        # the survivor is the member LEAST similar to its centroid
        # (paper rule), ties by id
        expect = min(members, key=lambda m: (cent[m["vec_id"]][1], m["vec_id"]))
        got = next(m for m in members if m["keep"])
        assert got["vec_id"] == expect["vec_id"]


def test_semdedup_merges_cross_pair_components(spark):
    # a~b and b~c above threshold but a~c below: one group of three,
    # keeping only the member least similar to the centroid.
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.8, 0.2, 0.0]),
            (4, [0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = semdedup(df, n_clusters=2, iters=1, threshold=0.9, salt=SALT)
    rows = {r["vec_id"]: r for r in out.collect()}
    assert rows[1]["group_id"] == rows[2]["group_id"] == rows[3]["group_id"] == 1
    assert rows[4]["group_id"] == 4 and rows[4]["keep"]
    assert sum(rows[i]["keep"] for i in (1, 2, 3)) == 1


def test_streaming_assignment_matches_batch(spark, sf_dir, tmp_path):
    # assign_clusters is a stateless projection: replay == batch.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = fit_kmeans(emb, n_clusters=4, iters=1, salt=SALT)
    batch = sorted(map(tuple, assign_clusters(emb, model).collect()))

    src = str(tmp_path / "stream_src")
    emb.write.mode("overwrite").parquet(src)  # readStream needs a DIRECTORY
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = (
        assign_clusters(stream, model)
        .writeStream.format("memory")
        .queryName("kmeans_stream")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    replay = sorted(
        map(tuple, spark.sql("SELECT * FROM kmeans_stream").collect())
    )
    assert replay == batch


ADVERSARIAL_EMBEDDINGS = [
    # ordinary vectors forming two loose bundles
    (1, [1.0, 0.05, 0.0, 0.0], "a"),
    (2, [0.95, 0.1, 0.0, 0.0], "a"),
    (3, [0.0, 0.0, 1.0, 0.02], "b"),
    (4, [0.0, 0.0, 0.98, 0.05], "b"),
    # exact duplicates (must land in one group)
    (5, [0.5, 0.5, 0.0, 0.0], "a"),
    (6, [0.5, 0.5, 0.0, 0.0], None),
    # antipodal pair (cosine -1; never a near-dup pair)
    (7, [0.0, 1.0, 0.0, 0.0], "b"),
    (8, [0.0, -1.0, 0.0, 0.0], "b"),
    # malformed: zero norm, NaN element, Inf element — all dropped
    (9, [0.0, 0.0, 0.0, 0.0], "a"),
    (10, [float("nan"), 1.0, 0.0, 0.0], "a"),
    (11, [float("inf"), 1.0, 0.0, 0.0], "b"),
    # tiny-magnitude vector (normalizes fine, tests float head-room)
    (12, [1e-4, 0.0, 0.0, 1e-5], None),
    # null id with a valid vector — dropped on both engines
    (None, [0.2, 0.9, 0.1, 0.0], "a"),
    # null embedding
    (13, None, "c"),
]


@pytest.mark.parametrize(
    "name",
    ["q111_kmeans_clusters", "q112_semdedup_kmeans", "q159_vector_drift_gate"],
)
def test_oracle_parity_on_adversarial_embeddings(spark, tmp_path, name):
    """Cross-engine parity on malformed embeddings: NaN orders above all
    values in BOTH Spark and DuckDB, so an unguarded norm>0 filter keeps
    NaN vectors and poisons every argmax — the exists-based drop contract
    must hold identically on both sides, along with zero-norm/Inf drops,
    duplicate-vector ties, and antipodal members."""
    from tests.test_oracle_parity import _assert_adversarial_parity

    df = spark.createDataFrame(
        ADVERSARIAL_EMBEDDINGS,
        "vec_id long, embedding array<float>, label string",
    )
    _assert_adversarial_parity(spark, tmp_path, name, "embeddings", df)


def test_all_null_embedding_partition_does_not_crash(spark):
    # a partition whose every row has a NULL embedding previously crashed
    # the per-batch cleaner (IndexError on the empty length histogram)
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, None), (4, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    ).repartition(4)
    out = cluster_embeddings(df, n_clusters=2, iters=1, salt=SALT)
    assert sorted(r["vec_id"] for r in out.collect()) == [1, 4]


def test_mixed_dimension_corpus_fails_loudly_or_filters(spark):
    # mixed 2-dim / 3-dim vectors: the fit refuses (mixed init) instead of
    # silently batch-dependent row dropping...
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="mixes vector dimensions"):
        fit_kmeans(df, n_clusters=2, iters=1, salt=SALT)
    # ...and assignment against a fixed-dimension model drops the
    # wrong-length rows by a per-row rule (never batch composition)
    model = KMeansModel(centroids=[[1.0, 0.0]], salt=SALT, iters=0)
    out = assign_clusters(df, model).collect()
    assert [r["vec_id"] for r in out] == [1]


def test_null_id_rows_are_dropped(spark):
    # an id-less row cannot take part in init ordering, pairs, or groups;
    # previously two null-id rows would collapse into ONE survivor group
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (None, [0.0, 1.0]), (None, [0.7, 0.7])],
        "vec_id long, embedding array<float>",
    )
    out = cluster_embeddings(df, n_clusters=1, iters=1, salt=SALT)
    assert [r["vec_id"] for r in out.collect()] == [1]
    sd = semdedup(df, n_clusters=1, iters=1, threshold=0.9, salt=SALT)
    assert [r["vec_id"] for r in sd.collect()] == [1]


def _pair_dot():
    """Arrow-batched row-wise dot of two array<double> columns: the
    self-join reference's pair scorer."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def f(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.asarray(a.tolist(), dtype=np.float64)
        mb = np.asarray(b.tolist(), dtype=np.float64)
        return pd.Series((ma * mb).sum(axis=1))

    return pandas_udf(f, "double")


def _join_pairs(feats, threshold):
    """Within-cluster pairs ≥ threshold by a cluster-keyed self-join that
    ships both vectors per candidate pair: the reference form."""
    a = feats.select(
        F.col("id").alias("id_a"), F.col("cluster"), F.col("nv").alias("nv_a")
    )
    b = feats.select(
        F.col("id").alias("id_b"), F.col("cluster"), F.col("nv").alias("nv_b")
    )
    dot = _pair_dot()
    return (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(F.round(dot(F.col("nv_a"), F.col("nv_b")), DOT_DP) >= threshold)
        .select("id_a", "id_b")
    )


def test_semdedup_blockwise_equals_join_mode(spark, sf_dir):
    """`semdedup`'s per-cluster matmul pairs equal the self-join
    reference's over the same assigned features."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = fit_kmeans(emb, n_clusters=4, iters=1, salt=SALT)
    feats = _assigned(emb, "vec_id", "embedding", model.centroids, with_nv=True)
    blockwise = sorted(map(tuple, _blockwise_pairs(feats, 0.4).collect()))
    join = sorted(map(tuple, _join_pairs(feats, 0.4).collect()))
    assert blockwise
    assert blockwise == join


def test_fit_kmeans_contract_errors(spark):
    """Review-pass contracts: n_clusters < 1 and an all-malformed corpus
    fail loudly at fit time; a float NaN embedding CELL (a
    pandas-conversion representation of null) is dropped per-row like
    None, not a task-killing TypeError."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.clustering import (
        _clean_matrix,
        fit_kmeans,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="n_clusters"):
        fit_kmeans(df, n_clusters=0)
    bad = spark.createDataFrame(
        [(1, None), (2, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="well-formed"):
        fit_kmeans(bad, n_clusters=2)

    import math

    import pandas as pd

    ok, kept = _clean_matrix(
        pd.DataFrame({"embedding": [[1.0, 0.0], math.nan]}), "embedding", dim=2
    )
    assert list(ok) == [True, False] and len(kept) == 1


def test_streaming_probe_matches_batch(spark, sf_dir, tmp_path):
    # probe_cells is the same stateless projection class as
    # assign_clusters (its docstring sells streaming query frames —
    # the q142 serving path over live traffic): replay == batch.
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.clustering import (
        probe_cells,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = fit_kmeans(emb, n_clusters=4, iters=1, salt=SALT)
    batch = sorted(map(tuple, probe_cells(emb, model, n_probe=2).collect()))

    src = str(tmp_path / "probe_src")
    emb.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = (
        probe_cells(stream, model, n_probe=2)
        .writeStream.format("memory")
        .queryName("probe_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "probe_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    replay = sorted(
        map(tuple, spark.sql("SELECT * FROM probe_stream").collect())
    )
    assert replay == batch
