"""Spherical k-means over embedding columns, and the cluster-based
SemDeDup it enables — deterministic, oracle-portable, Arrow-batched.

North-star surface (the reference's 489 lines have no vector ops; see
SURVEY.md §2 extensions). The repo already ships TWO embedding near-dup
paths — sign-LSH bucketing (q31/q72) and IVF ANN (q47, which trains a
private sample-based quantizer) — but the published SemDeDup recipe
(Abbas et al. 2023) and every cluster-then-curate pipeline
(domain discovery, per-cluster quotas, cluster-balanced eval splits)
need the CLUSTERING itself as a first-class, reproducible operator:
stable cluster ids, an auditable fit, and within-cluster pair
generation whose cost is bounded by cluster sizes instead of LSH band
collisions.

Design — why this is NOT MLlib KMeans:

* **Fixed, small iteration count as part of the contract.** Lloyd
  iterations converge geometrically and curation pipelines run 2-10 of
  them; with ``iters`` fixed the whole fit is a deterministic function
  of (data, salt) — and therefore SQL-expressible as a chained-CTE
  oracle (init → assign → update, repeated). MLlib's kMeans|| init +
  tolerance-based stopping is neither deterministic across partitionings
  nor oracle-replicable.
* **Deterministic init**: the ``n_clusters`` vectors with the smallest
  ``(md5(id || ':' || salt), id)`` — a seeded hash-order pick, the
  repo-wide convention for oracle-portable sampling.
* **Rounding firewalls at every cross-engine float boundary**: centroid
  means round to 9 dp (absorbs summation-order ulps between numpy,
  Spark partial aggregation, and any oracle engine), assignment dots
  round to 6 dp with first-max/lowest-index tie-break. Unit-normalized
  inputs make dot == cosine, so L2-Lloyd on the unit sphere ranks
  identically to cosine (same argument as ``knn_ivf``).

Why the per-row math is an **Arrow-batched numpy** ``mapInPandas`` stage
(the `knn_ivf`/`knn_bruteforce` precedent) and not JVM expressions —
both JVM forms were built and MEASURED first (PERF.md round 11):

* higher-order-function lambdas (``zip_with``+``aggregate`` against
  literal centroid arrays) evaluate on the interpreted expression path —
  ~1,000 lambda invocations per row at k=8, dim=64 made each Lloyd
  iteration a ~5 s job on a 2,000-row fixture;
* the dim-unrolled codegen form (8×64 multiply-adds) blows past
  Janino's method limits at dim 64 — whole-stage codegen falls back and
  the interpreted giant tree is slower still.

The Arrow stage moves each batch once through one matmul; per-row cost
is nanoseconds and the oracle contract is unchanged (dots round to 6 dp
before every comparison — the same numpy-vs-DuckDB agreement q30/q31
have hash-checked since round 3).

Scale shape at 100 TB: per Lloyd iteration ONE full Arrow-batched scan
(assignment against the broadcast ``n_clusters × dim`` centroid matrix
— no shuffle of the data) plus ONE bounded shuffle (``posexplode`` →
``groupBy(cluster, pos).avg``, ≤ n_clusters·dim result rows to the
driver). The corpus itself never shuffles during the fit; assignment is
embarrassingly parallel.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

MEAN_DP = 9  # centroid-mean rounding (cross-engine summation-order firewall)
DOT_DP = 6  # assignment-dot rounding (matches the q30/q31 cosine contract)


@dataclass(frozen=True)
class KMeansModel:
    """Unit-norm centroids (list of dim-length float lists, index = cluster
    id) plus the fit configuration that produced them."""

    centroids: list[list[float]]
    salt: str
    iters: int


def _clean_matrix(pdf, vec_col: str, dim: int | None = None):
    """(ok_mask, normalized survivor rows) for one Arrow batch. Rows with
    a NaN/±Inf element or zero norm are dropped — explicitly, because NaN
    orders above all values in both Spark and DuckDB, so a bare
    ``norm > 0`` filter would KEEP a NaN vector and poison every argmax
    downstream. ``dim`` is the expected vector length (the centroid
    dimension): rows of any OTHER length are malformed and dropped — a
    deterministic per-row rule, never a function of what else landed in
    the batch. With ``dim=None`` (init discovery) every well-formed row
    survives regardless of length. Batches containing nulls or ragged
    lengths take a per-row fallback path; survivors are returned as a
    list of 1-D float64 arrays (uniform length iff ``dim`` was given)."""
    import numpy as np

    vals = pdf[vec_col].tolist()
    try:
        mat = np.asarray(vals, dtype=np.float64)
        if mat.ndim != 2 or (dim is not None and mat.shape[1] != dim):
            raise ValueError
        ok = np.isfinite(mat).all(axis=1)
        nsq = (mat * mat).sum(axis=1)
        ok &= nsq > 0
        kept = mat[ok] / np.sqrt(nsq[ok])[:, None]
        return ok, list(kept)
    except (ValueError, TypeError):
        pass
    # per-row fallback: null cells, ragged lengths, or a uniform batch of
    # the wrong dimension (where every row fails the length rule)
    ok_list, kept = [], []
    for v in vals:
        # missing cells may surface as None OR float NaN depending on the
        # pandas conversion; only sized sequences are candidates at all
        good = (
            hasattr(v, "__len__")
            and len(v) > 0
            and (dim is None or len(v) == dim)
        )
        if good:
            a = np.asarray(v, dtype=np.float64)
            nsq = float((a * a).sum())
            good = bool(np.isfinite(a).all()) and nsq > 0
            if good:
                kept.append(a / np.sqrt(nsq))
        ok_list.append(bool(good))
    return np.asarray(ok_list, dtype=bool), kept


def _id_dtype(df: DataFrame, id_col: str) -> str:
    return df.schema[id_col].dataType.simpleString()


def _normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, nv): unit-normalized vectors, malformed rows dropped — one
    Arrow-batched pass. Null-id rows are dropped up front (JVM-side): an
    id-less row cannot participate in init ordering, pair generation, or
    group labels, and a NULL id would otherwise diverge cross-engine
    (Spark sorts nulls first, DuckDB last) and collapse all null-id rows
    into one survivor group in `semdedup`."""
    schema = f"id {_id_dtype(df, id_col)}, nv array<double>"
    cols = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ok, kept = _clean_matrix(pdf, vec_col)
            if not ok.any():
                continue
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy()[ok],
                    "nv": [v.tolist() for v in kept],
                }
            )

    return cols.mapInPandas(gen, schema)


def _assigned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    with_nv: bool = False,
) -> DataFrame:
    """(id, cluster, cent_cos[, nv]): normalize + nearest-centroid argmax
    in ONE Arrow-batched pass — one matmul per batch against the
    broadcast centroid matrix, dots rounded to DOT_DP before the
    first-max/lowest-id argmax. ``with_nv`` additionally ships the
    normalized vectors (the fit's means stage and semdedup's pair stage
    need them; plain assignment must NOT pay the 64-double-per-row Arrow
    freight — Spark cannot column-prune through mapInPandas)."""
    import numpy as np

    cmat = np.asarray(centroids, dtype=np.float64).T  # (dim, k)
    schema = f"id {_id_dtype(df, id_col)}, cluster int, cent_cos double"
    if with_nv:
        schema += ", nv array<double>"
    cols = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col)
    )
    dim = cmat.shape[0]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ok, kept = _clean_matrix(pdf, vec_col, dim=dim)
            if not ok.any():
                continue
            nv = np.asarray(kept)
            dots = np.round(nv @ cmat, DOT_DP)
            cid = np.argmax(dots, axis=1)  # first max = lowest cluster id
            out = {
                "id": pdf["id"].to_numpy()[ok],
                "cluster": cid.astype("int32"),
                "cent_cos": dots[np.arange(len(cid)), cid],
            }
            if with_nv:
                out["nv"] = [v.tolist() for v in nv]
            yield pd.DataFrame(out)

    return cols.mapInPandas(gen, schema)


def fit_kmeans(
    df: DataFrame,
    n_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmeans",
) -> KMeansModel:
    """Fit spherical k-means; returns the bounded centroid model.

    Per iteration: assignment is one Arrow-batched scan against the
    broadcast centroid matrix (no shuffle of the data), the centroid
    update is one ``posexplode → groupBy(cluster, pos).avg`` shuffle
    whose result (≤ n_clusters·dim rows) collects to the driver. A
    cluster that loses all members — or whose member mean rounds to the
    zero vector — keeps its previous centroid (the coalesce contract the
    SQL oracle replicates)."""
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if n_clusters < 1:
        raise ValueError(f"n_clusters must be >= 1, got {n_clusters}")
    norm = _normalized(df, id_col, vec_col)
    init_rows = (
        norm.orderBy(
            F.md5(F.concat(F.col("id").cast("string"), F.lit(":" + salt))),
            "id",
        )
        .limit(n_clusters)
        .collect()
    )
    centroids = [list(r["nv"]) for r in init_rows]
    if len(centroids) < n_clusters:
        raise ValueError(
            f"fit_kmeans: only {len(centroids)} well-formed embeddings to "
            f"initialize {n_clusters} clusters from (rows of {vec_col!r} "
            "that are null/empty/non-finite/zero-norm don't count) — "
            "lower n_clusters or clean the corpus"
        )
    if len({len(c) for c in centroids}) > 1:
        raise ValueError(
            "fit_kmeans: embedding column mixes vector dimensions "
            f"({sorted({len(c) for c in centroids})}) — clean the corpus "
            "to one dimension (or cluster each dimension separately) "
            "before fitting"
        )
    for _ in range(iters):
        means = (
            _assigned(df, id_col, vec_col, centroids, with_nv=True)
            .select("cluster", F.posexplode("nv"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("col"), MEAN_DP).alias("m"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        nxt = []
        for cid, prev in enumerate(centroids):
            dims = by_cluster.get(cid)
            if dims is None:
                nxt.append(prev)  # empty cluster: keep previous centroid
                continue
            vec = [dims[p] for p in range(len(prev))]
            nrm = sum(x * x for x in vec) ** 0.5
            nxt.append([x / nrm for x in vec] if nrm > 0 else prev)
        centroids = nxt
    return KMeansModel(centroids=centroids, salt=salt, iters=iters)


def assign_clusters(
    df: DataFrame,
    model: KMeansModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster, cent_cos): nearest-centroid assignment — one
    Arrow-batched scan, zero shuffle. Works unchanged on a STREAMING
    ``df`` (a stateless projection: no shuffle, no aggregation, no state
    store — replay == batch is pinned in tests), so a model fitted
    offline routes live traffic to clusters."""
    return _assigned(
        df, id_col, vec_col, model.centroids, with_nv=False
    ).withColumnRenamed("id", id_col)


def probe_cells(
    df: DataFrame,
    model: KMeansModel,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, probe_rank, cluster, cent_cos): each vector's ``n_probe``
    nearest centroids, rank 0 first — the query-side fan-out of IVF
    serving (`assign_clusters` is the ``n_probe=1`` build-side special
    case, and the rank-0 row here equals its assignment, pinned in
    tests). Same Arrow-batched one-matmul pass and the same
    deterministic tie rule (dots rounded to DOT_DP, first-max = lowest
    cluster id via stable argsort); a stateless projection, so it works
    unchanged on streaming query frames. ``n_probe`` above the model's
    cluster count probes every cell."""
    import numpy as np

    if n_probe < 1:
        raise ValueError(f"n_probe must be >= 1, got {n_probe}")
    cmat = np.asarray(model.centroids, dtype=np.float64).T  # (dim, k)
    take = min(n_probe, cmat.shape[1])
    schema = (
        f"id {_id_dtype(df, id_col)}, probe_rank int, cluster int, "
        "cent_cos double"
    )
    cols = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col)
    )
    dim = cmat.shape[0]

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            ok, kept = _clean_matrix(pdf, vec_col, dim=dim)
            if not ok.any():
                continue
            dots = np.round(np.asarray(kept) @ cmat, DOT_DP)
            order = np.argsort(-dots, axis=1, kind="stable")[:, :take]
            ids = pdf["id"].to_numpy()[ok]
            yield pd.DataFrame(
                {
                    "id": np.repeat(ids, take),
                    "probe_rank": np.tile(
                        np.arange(take, dtype="int32"), len(ids)
                    ),
                    "cluster": order.astype("int32").ravel(),
                    "cent_cos": np.take_along_axis(
                        dots, order, axis=1
                    ).ravel(),
                }
            )

    return cols.mapInPandas(gen, schema).withColumnRenamed("id", id_col)


def cluster_embeddings(
    df: DataFrame,
    n_clusters: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmeans",
) -> DataFrame:
    """Fit + assign in one call: (id, cluster, cent_cos) for every
    well-formed input row. ``fit_kmeans``/``assign_clusters`` are the
    split form for fit-once / assign-many."""
    model = fit_kmeans(df, n_clusters, iters, id_col, vec_col, salt)
    return assign_clusters(df, model, id_col, vec_col)


def _blockwise_pairs(
    feats: DataFrame, threshold: float, row_block: int = 2048
) -> DataFrame:
    """Within-cluster pairs ≥ threshold by PER-CLUSTER blockwise matmul
    (``applyInPandas`` over the cluster key) — the LAION-scale SemDeDup
    form. The self-join alternative ships BOTH vectors through Arrow for
    every candidate pair (~1 KB/pair at dim 64: |cluster|² freight);
    this form ships each vector ONCE per cluster and evaluates the same
    round-6 dots as one numpy matmul per row block, emitting only the
    surviving (id_a, id_b) rows. ``row_block`` bounds peak memory at
    row_block × cluster_size dots regardless of cluster size; one
    shuffle on the cluster key, same as the join it replaces."""
    import numpy as np
    import pandas as pd

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.asarray(pdf["nv"].to_numpy()[order].tolist(), dtype=np.float64)
        out_a, out_b = [], []
        for lo in range(0, len(ids), row_block):
            hi = min(lo + row_block, len(ids))
            dots = np.round(mat[lo:hi] @ mat[lo:].T, DOT_DP)
            # keep strictly-upper-triangle hits: column index (within the
            # [lo:] slab) must exceed the row's offset inside the block
            r, c = np.nonzero(dots >= threshold)
            keep = c > r  # ids ascend, so col>row ⇔ id_a < id_b
            out_a.append(ids[lo:][r[keep]])
            out_b.append(ids[lo:][c[keep]])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []})
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    id_t = feats.schema["id"].dataType.simpleString()
    return feats.select("id", "cluster", "nv").groupBy("cluster").applyInPandas(
        gen, f"id_a {id_t}, id_b {id_t}"
    )


def semdedup(
    df: DataFrame,
    n_clusters: int = 8,
    iters: int = 2,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "kmeans",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023), the cluster-bounded form: k-means
    clusters → WITHIN-cluster cosine pairs ≥ ``threshold`` → connected
    components → per duplicate group keep the member LEAST similar to its
    centroid (the paper's keep-low-centroid-similarity rule; ties →
    smallest id).

    Output: (id, cluster, group_id, keep) for every clustered row —
    ``group_id`` = min id of the near-dup component (own id if
    unduplicated), ``keep`` marks survivors. Filter ``keep`` for the
    deduplicated corpus; the full frame is the audit trail.

    Scale shape: candidate generation is keyed on ``cluster`` —
    O(Σ cluster_size²) dot products and never all-pairs, the published
    trick that makes SemDeDup run at LAION scale; cluster granularity
    (``n_clusters`` ~ corpus_size / desired_cluster_size) bounds the
    quadratic term. Those dots are per-cluster numpy matmuls
    (`_blockwise_pairs`: each vector crosses Arrow once per cluster,
    row-blocked for bounded memory); the self-join form, which ships both
    vectors per candidate pair, measured 3.3x slower at the 5x stress
    point on q112 and 3.6x on q113 (PERF.md r11 "blockwise SemDeDup
    pairs") and is kept only as the test reference.
    The component closure reuses the size-gated union-find /
    star-contraction machinery every other dedup family goes through
    (`operators.dedup.connected_components`).

    vs q72 (`embedding_near_dup_pairs` + collapse): the LSH form answers
    "collapse everything above τ" with banding-bounded recall; this form
    is the paper-exact recipe — cluster-bounded candidates, exact
    within-cluster cosines, and the centroid-distance survivor rule
    (q72 keeps min-id) — and additionally emits the cluster structure
    curation pipelines consume.
    """
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        connected_components,
    )

    model = fit_kmeans(df, n_clusters, iters, id_col, vec_col, salt)
    feats = _assigned(
        df, id_col, vec_col, model.centroids, with_nv=True
    ).localCheckpoint(eager=False)
    pairs = _blockwise_pairs(feats, threshold)
    comp = connected_components(pairs, "id_a", "id_b")
    labeled = feats.join(comp, "id", "left").select(
        F.col("id"),
        "cluster",
        "cent_cos",
        F.coalesce(F.col("component"), F.col("id")).alias("group_id"),
    )
    survivor = F.row_number().over(
        Window.partitionBy("group_id").orderBy(F.asc("cent_cos"), F.asc("id"))
    )
    return labeled.select(
        F.col("id").alias(id_col),
        "cluster",
        "group_id",
        (survivor == 1).alias("keep"),
    )
