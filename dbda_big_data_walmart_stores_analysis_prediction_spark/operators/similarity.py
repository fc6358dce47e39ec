"""Similarity search over embedding columns (north-star surface).

Two paths over ``embeddings`` (vec_id, embedding: array<float>, label):

* brute-force cosine top-k — the exact baseline. Query set x corpus via a
  BROADCAST of the (small) query side, cosine computed JVM-side with
  zip_with/aggregate (functions/vectors.py), top-k via per-query window.
  At 100 TB-corpus scale this is one scan of the corpus per query batch —
  the right exact plan.
* sign-LSH bucketed — the approximate scale path: 'r' deterministic
  md5-derived hyperplanes give an r-bit signature; candidates share a
  signature bucket (optionally with multi-probe neighbors), exact cosine
  re-ranks only candidates.

Embedding cosine NEAR-DUP pairs reuse the same primitives with a
self-join instead of a query set.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.vectors import (
    cosine_similarity_col,
)
from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.windows import (
    top_k_per_group,
)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus.
    A vector is never its own neighbor.

    Output: (query_id, neighbor_id, cosine, rank). Deterministic ties:
    (cosine DESC, neighbor_id ASC).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    pairs = q.crossJoin(c).where(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity_col("q_vec", "c_vec"), 6).alias("cosine"),
    # zero-norm vectors have no direction: cosine_similarity_col yields
    # NULL for them (guarded division), DuckDB clamps to an arbitrary
    # -1.0 — exclude the pair on both sides rather than rank an undefined
    # similarity (pre-fix divergence: NULL rows ranked LAST here vs
    # DuckDB's -1.0 rows ranked last-but-present). The isnan clause is
    # belt-and-braces for caller-supplied NaN components.
    ).where(F.col("cosine").isNotNull() & ~F.isnan("cosine"))
    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def _plane_coeff(table: int, plane: int, d: int) -> float:
    """plane[table][plane][d] = (md5int('table:plane:d') mod 2001) - 1000 —
    computed driver-side with hashlib (identical to the SQL/Spark md5-int64
    formula) so the per-row plan carries plain double literals instead of a
    thousands-of-nodes md5 expression tree (which cost ~50s of analysis/
    codegen time when built as Catalyst expressions)."""
    h = int(hashlib.md5(f"{table}:{plane}:{d}".encode()).hexdigest()[:15], 16)
    return float(h % 2001 - 1000)


def _all_table_signatures(
    vec_col: str, n_planes: int, n_tables: int, dim: int
):
    """array<long> of per-table sign signatures via ONE Arrow-batched pandas
    UDF (numpy matmul). The per-plane zip_with/aggregate expressions are
    higher-order functions that run interpreted — 60 of them per row cost
    ~5s at sf0.1; one (batch x dim) @ (dim x tables*planes) matmul is
    milliseconds. Coefficients are the same md5-derived values
    (``_plane_coeff``), so semantics match the expression form up to
    summation order (sign flips need |dot| ~ ulp — negligible, and this
    path backs the approximate, rows-only-checked operators).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.array(
        [
            [_plane_coeff(t, p, d) for t in range(n_tables) for p in range(n_planes)]
            for d in range(dim)
        ]
    )  # (dim, tables*planes)

    def _sigs(v):
        mat = np.asarray(v.tolist(), dtype=np.float64)  # (batch, dim)
        dots = mat @ planes  # (batch, tables*planes)
        bits = (dots > 0).astype(np.int64)
        out = []
        for row in bits:
            out.append(
                [
                    int(sum(row[t * n_planes + p] << p for p in range(n_planes)))
                    for t in range(n_tables)
                ]
            )
        return pd.Series(out)

    sigs = pandas_udf(_sigs, "array<long>")
    return sigs(F.col(vec_col))


def _cosine_arrow():
    """Arrow-batched cosine over candidate PAIRS (two vector columns in,
    double out) — one numpy einsum per batch. The JVM alternative,
    interpreted HOFs (functions/vectors.py), is ~10-30x slower per pair.
    Null-safe: zero-norm vectors yield real NULLs (not NaN — Spark orders
    NaN above every number, which would pass a ``>= threshold`` filter)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    def _cos(va, vb):
        a = np.asarray(va.tolist(), dtype=np.float64)
        b = np.asarray(vb.tolist(), dtype=np.float64)
        dots = np.einsum("ij,ij->i", a, b)
        denom = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(
            np.einsum("ij,ij->i", b, b)
        )
        safe = denom > 0
        out = pd.Series(np.divide(dots, denom, out=np.zeros_like(dots), where=safe))
        out = out.astype("Float64")
        out[~safe] = pd.NA
        return out

    return pandas_udf(_cos, "double")


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 5,
    n_tables: int = 12,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: multi-table sign-LSH bucketing, exact
    cosine re-rank only within shared buckets. A vector is never its own
    neighbor.

    ONE table of r sign bits has terrible recall for moderate-similarity
    neighbors (P[all r planes agree] ~ (1 - θ/π)^r — measured 0.04
    recall@10 on the 64-dim fixture with r=8). The standard fix is L
    independent tables: a pair is a candidate if it collides in ANY table,
    lifting recall to 1-(1-p^r)^L while the shuffle key stays a bucket id.
    Each row fans out L times (explode) — at 100 TB, L and r trade recall
    against shuffle volume; candidates dedupe before scoring so re-rank
    cost is per unique pair.
    """
    sig_arr = _all_table_signatures(vec_col, n_planes, n_tables, dim)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.posexplode(sig_arr).alias("tbl", "sig"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode(sig_arr).alias("tbl", "sig"),
    )
    pairs = (
        q.join(c, ["tbl", "sig"])
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    # candidate pairs collide in several tables — dedupe BEFORE the cosine
    pairs = pairs.dropDuplicates(["query_id", "neighbor_id"])
    cos = _cosine_arrow()
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cos(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
    )
    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    train_sample: int = 8192,
    lloyd_iters: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) partitioning — the
    other standard ANN scale path next to sign-LSH (``knn_lsh``).

    1. Centroids train on a BOUNDED sample (≤ ``train_sample`` rows,
       deterministic hash-order pick) collected to the driver and run
       through seeded numpy Lloyd iterations on unit-normalized vectors
       (spherical k-means: L2 on unit vectors ranks identically to
       cosine). Sample-trained coarse quantizers are the standard IVF
       design (FAISS trains on ~max(10k, 40·n_centroids) points at any
       corpus size); a distributed fit buys nothing but per-iteration
       job overhead, and the collected sample is bounded — 8192 x 64
       doubles = 4 MB regardless of corpus size.
    2. Every corpus vector is assigned to its nearest centroid with ONE
       Arrow-batched argmax against the tiny centroid matrix — each
       vector lands in exactly ONE cell, so candidate pairs never need
       dedup (unlike multi-table LSH).
    3. Each query probes its ``n_probe`` closest centroids (same batched
       matmul), explodes to (query, cell), and joins corpus on the cell
       id.
    4. Exact cosine re-ranks only the probed cells' vectors. A vector is
       never its own neighbor.

    Scale shape: corpus-side work is one bounded sample pass + one
    assignment pass + one shuffle keyed by cell id; query fan-out is
    x n_probe on the (small) query side only. Recall/cost tune via
    n_centroids (cell granularity — ~sqrt(N) at scale) and n_probe;
    recall vs the exact baseline is asserted in tests (approximate by
    design → rows-only driver check).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.vectors import (
        l2_norm_col,
    )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).where(l2_norm_col("c_vec") > 0)

    # deterministic bounded sample: TakeOrdered by (hash, id) — one pass,
    # no full sort, no fraction-vs-count chicken-and-egg
    sample_rows = (
        c.select("neighbor_id", "c_vec")
        .orderBy(F.xxhash64("neighbor_id", F.lit(seed)), "neighbor_id")
        .limit(train_sample)
        .collect()
    )
    mat = np.asarray([r["c_vec"] for r in sample_rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mat = mat / norms
    rng = np.random.default_rng(seed)
    n_cells = min(n_centroids, len(mat))
    centers = mat[rng.choice(len(mat), size=n_cells, replace=False)]
    for _ in range(lloyd_iters):
        assign = np.argmax(mat @ centers.T, axis=1)
        for j in range(n_cells):
            members = mat[assign == j]
            if len(members):
                m = members.mean(axis=0)
                nm = np.linalg.norm(m)
                if nm > 0:
                    centers[j] = m / nm

    def _nearest_cell(v):
        batch = np.asarray(v.tolist(), dtype=np.float64)
        bn = np.linalg.norm(batch, axis=1, keepdims=True)
        bn[bn == 0] = 1.0
        return pd.Series(np.argmax((batch / bn) @ centers.T, axis=1).astype(np.int32))

    nearest_cell = pandas_udf(_nearest_cell, "int")
    assigned = c.select(
        "neighbor_id", "c_vec", nearest_cell(F.col("c_vec")).alias("cell")
    )

    def _probes(v):
        batch = np.asarray(v.tolist(), dtype=np.float64)
        bn = np.linalg.norm(batch, axis=1, keepdims=True)
        bn[bn == 0] = 1.0
        dots = (batch / bn) @ centers.T  # (batch, n_cells)
        top = np.argsort(-dots, axis=1)[:, : min(n_probe, n_cells)].astype(np.int32)
        return pd.Series(list(top))

    probes = pandas_udf(_probes, "array<int>")

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.explode(probes(F.col(vec_col))).alias("cell"),
    )
    pairs = (
        q.join(assigned, "cell")
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    cos = _cosine_arrow()
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cos(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine"),
    )
    return top_k_per_group(
        scored,
        partition_by=["query_id"],
        order_by=[F.desc("cosine"), F.asc("neighbor_id")],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 6,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ threshold).

    Buckets by sign-LSH first (near-identical vectors almost always share
    all sign bits), then scores only pairs within a bucket. The bucket is
    an r-bit sign signature over md5-seeded integer hyperplanes
    (``_plane_coeff``), computed by the Arrow-batched numpy path
    ``_all_table_signatures``."""
    sig = F.element_at(_all_table_signatures(vec_col, n_planes, 1, dim), 1)
    banded = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sig.alias("bucket")
    )
    pairs = (
        banded.toDF("id_a", "v_a", "bucket")
        .join(banded.toDF("id_b", "v_b", "bucket"), "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "v_a", "id_b", "v_b")
    )
    score = F.round(_cosine_arrow()(F.col("v_a"), F.col("v_b")), 6)
    return pairs.select(
        "id_a",
        "id_b",
        score.alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def projection_coeff(salt: str, j: int, d: int) -> float:
    """Deterministic JL coefficient in [-1, 1]: the `_plane_coeff` md5
    construction scaled to unit range — computed driver-side with
    hashlib (identical to the SQL md5-int64 formula) so the plan
    carries plain double literals, and any SQL engine regenerates the
    projection matrix from (salt, j, d) with no stored model."""
    h = int(hashlib.md5(f"{salt}:{j}:{d}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def random_projection(
    df: DataFrame,
    out_dim: int,
    dim: int,
    salt: str = "proj",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
) -> DataFrame:
    """Johnson–Lindenstrauss-style random projection of an embedding
    column to ``out_dim`` dimensions — the cheap-ANN/dedup preprocessing
    step when 64-dim cosine is still too expensive at corpus scale
    (project once, bucket or brute-force in the small space, re-rank
    survivors in the original space). Coefficients are md5-derived
    uniform values in [-1, 1] (`projection_coeff`), so the projection is
    a pure function of (salt, out_dim, dim): rerun-identical, shippable
    as a formula instead of a matrix, reproducible by a SQL oracle.

    Output: one ``(id, proj_dim, proj_value)`` row per kept input vector
    and output dimension, values scaled by 1/√out_dim (the JL norm
    convention) and rounded to 6 dp with IEEE negative zero folded to
    +0.0 (a denormal-magnitude input rounds to -0.0 on one engine and
    +0.0 on the other — numerically equal, representationally not; the
    ``+ 0.0`` pins one representation on both paths and in the oracle).
    Null vectors carry no direction and are dropped; vectors of any
    width other than ``dim`` are malformed and dropped up front (the
    `_clean_matrix` discipline), so BOTH physical paths see only
    ``dim``-wide rows — without the filter the exact path's ``zip_with``
    would null-pad a short vector into silent NULL proj_values while the
    Arrow path raised on the ragged batch.

    Two physical forms, one semantics: ``exact=False`` (default) is ONE
    Arrow-batched numpy matmul — the production path, milliseconds per
    batch; ``exact=True`` builds
    ``out_dim`` sequential ``zip_with``/``aggregate`` folds whose
    summation order matches SQL dot products bit-for-bit — the
    oracle/audit path (interpreted HOFs, ~30x slower; identical up to
    summation order, i.e. differences need a value within ~ulp of a
    rounding boundary)."""
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    if vec_col not in df.columns or id_col not in df.columns:
        raise ValueError(
            f"random_projection: need columns {id_col!r}, {vec_col!r} "
            f"(input has {df.columns})"
        )
    import math

    scale = 1.0 / math.sqrt(out_dim)
    coeffs = [
        [projection_coeff(salt, j, d) for d in range(dim)]
        for j in range(out_dim)
    ]
    src = df.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == F.lit(dim))
    )
    if exact:
        v = F.col(vec_col).cast("array<double>")
        vals = []
        for j in range(out_dim):
            carr = F.array(*[F.lit(c) for c in coeffs[j]])
            dot = F.aggregate(
                F.zip_with(v, carr, lambda x, c: x * c),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            vals.append(F.round(dot * F.lit(scale), 6) + F.lit(0.0))
        arr = F.array(*vals)
    else:
        import numpy as np
        import pandas as pd
        from pyspark.sql.pandas.functions import pandas_udf

        planes = np.array(coeffs, dtype=np.float64).T  # (dim, out_dim)

        def _proj(v):
            mat = np.asarray(v.tolist(), dtype=np.float64)
            out = np.round(mat @ planes * scale, 6) + 0.0
            return pd.Series(list(out))

        arr = pandas_udf(_proj, "array<double>")(F.col(vec_col))
    return src.select(
        F.col(id_col),
        F.posexplode(arr).alias("proj_dim", "proj_value"),
    ).withColumn("proj_dim", F.col("proj_dim").cast("bigint"))


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale_col: str = "q_scale",
    qvec_col: str = "q_vec",
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column:
    ``scale = max(|x_i|) / 127`` and ``q_i = clamp(round(x_i / scale),
    -127, 127)`` — the standard serving/index compression (FAISS SQ8,
    Milvus/pgvector int8): 4x less embedding IO and memory than float32,
    which at 100 TB is the difference between an ANN index that fits in
    cluster RAM and one that doesn't. Dequantization is ``q_i * scale``;
    downstream cosine over dequantized values is within ~1/254 per
    component of the float answer (pinned vs the exact `knn_bruteforce`
    baseline in tests/).

    Pure codegen projection — zero shuffle, zero UDF, no stored codebook:
    the transform is a per-row function, so quantization composes with
    any scan without moving data (plan-audited). All-zero vectors get
    ``scale = 0`` and an all-zero code (the guarded division), null
    vectors pass through with null scale/code; both carry no direction
    and are excluded by every cosine consumer anyway. Arithmetic is
    IEEE-deterministic and round-half-away-from-zero in both engines, so
    the codes are SQL-oracle-replicable exactly.

    Output: input columns + ``scale_col`` (double) + ``qvec_col``
    (array<int>, values in [-127, 127]).
    """
    for need, what in ((id_col, "id_col"), (vec_col, "vec_col")):
        if need not in df.columns:
            raise ValueError(
                f"quantize_embeddings: {what} {need!r} is not a column of "
                f"the input frame (has {df.columns})"
            )
    for out, what in ((scale_col, "scale_col"), (qvec_col, "qvec_col")):
        if out in df.columns:
            raise ValueError(
                f"quantize_embeddings: {what} {out!r} already exists on "
                "the input frame; pass a different name"
            )
    v = F.col(vec_col).cast("array<double>")
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    out = df.select("*", scale.alias(scale_col))
    s = F.col(scale_col)
    q = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.when(s == 0.0, F.lit(0))
        .otherwise(
            F.greatest(
                F.least(F.round(x / s, 0), F.lit(127.0)), F.lit(-127.0)
            )
        )
        .cast("int"),
    )
    return out.select("*", q.alias(qvec_col))


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k over int8-QUANTIZED vectors: both sides run
    through `quantize_embeddings`, are dequantized (``q_i * scale``) and
    ranked with the `knn_bruteforce` plan (broadcast query side x corpus
    scan, JVM fold cosine, per-query window top-k). This is the
    memory-bound serving shape — the corpus scan reads int8 codes + one
    scale instead of float32 — while keeping the search itself exact
    over the quantized representation, so results are a pure
    deterministic function of the input (no training, no codebook) and
    the full arithmetic chain (quantize → dequantize → cosine) is
    SQL-oracle-checkable bit-for-bit at 6 dp.

    Output: ``(query_id, neighbor_id, cosine, rank)`` — same contract and
    tie rule (cosine DESC, neighbor_id ASC) as `knn_bruteforce`; vectors
    that quantize to all-zero codes drop on both sides (no direction),
    exactly as zero-norm vectors do on the float path.
    """
    def _dequant(df: DataFrame) -> DataFrame:
        qz = quantize_embeddings(df, id_col, vec_col)
        dq = F.transform(
            F.col("q_vec"), lambda qi: qi.cast("double") * F.col("q_scale")
        )
        return qz.select(F.col(id_col), dq.alias(vec_col))

    return knn_bruteforce(
        _dequant(corpus),
        _dequant(queries),
        k=k,
        id_col=id_col,
        vec_col=vec_col,
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate kNN result against an exact
    baseline — the evaluation primitive behind every ANN configuration
    decision (how many LSH tables / IVF probes / quantization bits are
    enough), run in-engine instead of in a notebook. Both inputs are
    top-k result frames (`knn_bruteforce` contract: one row per (query,
    neighbor)); output is one row per query appearing in ``exact``:
    ``(query, n_exact, n_hit, recall)`` with recall rounded to 6 dp.
    A query the approximate side missed entirely scores 0.0 rather than
    disappearing (left join from the baseline).

    Scale shape: both inputs are queries x k rows — index-output-sized,
    never corpus-sized — so the left join + per-query aggregate are
    bounded by the evaluation set no matter the corpus behind it.
    """
    for frame, name in ((approx, "approx"), (exact, "exact")):
        for c in (query_col, neighbor_col):
            if c not in frame.columns:
                raise ValueError(
                    f"ann_recall: {name} frame lacks column {c!r} "
                    f"(has {frame.columns})"
                )
    # set semantics on both sides: the contract is one row per (query,
    # neighbor), and a caller handing a frame with repeats (e.g. a pair
    # table instead of a top-k result) must not have the left join
    # multiply baseline rows or double-count hits
    ex = exact.select(query_col, neighbor_col).dropDuplicates()
    ap = (
        approx.select(query_col, neighbor_col)
        .dropDuplicates()
        .withColumn("__hit", F.lit(1))
    )
    hit = F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
    return (
        ex.join(ap, [query_col, neighbor_col], "left")
        .groupBy(query_col)
        .agg(
            F.count("*").cast("bigint").alias("n_exact"),
            hit.cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "recall", F.round(F.col("n_hit") / F.col("n_exact"), 6)
        )
    )
