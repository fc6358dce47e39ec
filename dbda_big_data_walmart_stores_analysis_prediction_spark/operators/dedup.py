"""Deduplication operators (north-star surface, first-class at 100 TB).

Five families, each expressed so the shuffle goes through a KEY a cluster
can partition on — never an all-pairs cross join:

* exact:          hash-groupBy on a normalized content hash
* n-gram Jaccard: shingle inverted-index self-join (pairs share ≥1 shingle)
* MinHash + LSH:  seeded-md5 signatures → banded bucket join
* SimHash:        bitwise majority fingerprint → chunk-banded hamming join
* embedding:      cosine near-dup pairs (see operators/similarity.py)

All hashing is md5-derived int64 (functions/hashing.py) so every step is
reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.hashing import (
    md5_int64,
    md5_int64_sql,
)

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def _norm_text(text_col: str) -> Column:
    from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.text import (
        norm_text_col,
    )

    return norm_text_col(text_col)


def _fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Repartition to default parallelism when the input arrives in fewer
    partitions than the cluster has cores — the small-file regime where a
    600 KB parquet scan is ONE task that would otherwise carry an entire
    explode+md5 shingling stage single-threaded (measured: the whole
    Jaccard family serialized behind a 1-task scan at bench scale).

    Deliberately OPERATOR-level, not catalog-level: only the shingle/token
    hot paths have enough per-row CPU to buy back the exchange — a
    catalog-wide version was measured to slow the Arrow-batched embedding
    operators 1.3-2.8x (few-large-batch efficiency lost) and cheap doc
    queries ~1.5x (an exchange for nothing). At real scale splits >>
    cores, the condition never fires and the plan is untouched.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) docs: (fp_exact, n_docs,
    keep_id = min id). Only groups with n_docs > 1."""
    h = md5_int64(_norm_text(text_col)).alias("fp_exact")
    return (
        df.select(h, F.col(id_col))
        .groupBy("fp_exact")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Keep one row (min id) per normalized content hash — the 100 TB-safe
    exact dedup: one shuffle on the hash.

    Formulated as a window min, not the earlier groupBy + join-back: the
    join form consumed ``df`` TWICE (each side re-executed the full
    upstream lineage — a second corpus scan plus a second pass of any
    scoring regexes feeding it) and cost two exchanges + two sorts under
    the sort-merge join. The window is one scan, one exchange, one sort,
    and halves the plan subtree every consumer pays to analyze/codegen.
    The explicit ``isNotNull`` keeps the join form's null semantics: a
    null fingerprint (null text) never equi-joined, so those rows were
    dropped — the window partition would otherwise group and keep one.

    Skew caveat to the 100 TB claim: the window puts every row sharing a
    fingerprint into ONE task with no partial aggregation, and AQE cannot
    split a skewed window partition the way it splits a skewed join — a
    pathologically duplicated document (whole-page boilerplate at web
    scale) becomes a straggler task. Accepted trade for the measured win
    (one scan instead of two, one exchange instead of two + two sorts);
    a corpus known to carry million-way exact duplicates should pre-salt
    or pre-aggregate on the fingerprint before this operator.
    """
    from pyspark.sql import Window

    h = md5_int64(_norm_text(text_col)).alias("__fp")
    return (
        df.select("*", h)
        .where(F.col("__fp").isNotNull())
        .select(
            "*",
            F.min(id_col).over(Window.partitionBy("__fp")).alias("__keep"),
        )
        .where(F.col(id_col) == F.col("__keep"))
        .drop("__fp", "__keep")
    )


# ---------------------------------------------------------------------------
# shingle inverted index + exact Jaccard
# ---------------------------------------------------------------------------


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """Distinct (id, shingle) pairs — the inverted-index input.

    SHUFFLE-FREE shingling: split once, ``explode(sequence(...))`` the
    start indices, and build each k-gram with ``slice`` + ``concat_ws`` —
    generator + ordinary expressions, all inside one whole-stage-codegen
    span. Neither the lambda-HOF form (``transform(...)``: interpreted,
    measured 3.7x slower) nor the earlier posexplode + lead() window form
    (a per-doc shuffle before any consumer runs — measured 1.5x slower at
    sf0.1 and strictly worse at scale) can say that. Short docs (< k words)
    yield one partial shingle (= the whole text), matching the SQL-oracle
    list comprehension exactly.

    The only shuffle is the set-semantics ``distinct`` on ``(doc, sh)``.
    A ``repartition(doc)``-then-dedup form was measured instead (it would
    let doc-keyed consumers plan with no further exchange): one exchange
    fewer, but it shuffles the RAW exploded rows and loses distinct's
    map-side partial dedup — net 1.15x slower for jaccard and minhash at
    sf0.1. Bytes shuffled beat exchange count.

    ``hashed=True`` emits ``sh`` as the shingle's md5-int64 instead of its
    text (see `_shingle_rows`) — the form every join-on-shingle consumer
    should use.
    """
    return _shingle_rows(df, id_col, text_col, k, hashed).distinct()


def _shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """Raw (doc, sh) rows WITHOUT the set-semantics distinct — the
    shuffle-free codegen span `shingle_table` documents. Consumers that
    group by doc anyway (`shingle_sets`) dedup inside their own aggregate
    and skip the distinct's exchange entirely.

    ``hashed=True`` replaces the shingle TEXT with its md5-int64
    (`md5_int64`, the same 60-bit hash every fingerprint in this module
    uses): distincts, doc-freq caps, inverted-index joins, and checkpoints
    then all carry 8-byte keys instead of ~20-30-byte k-gram strings —
    strictly fewer shuffled/materialized bytes at identical plan shape.
    Set sizes and shared-shingle counts are unchanged unless two of a
    corpus's distinct shingles collide in the 60-bit space (birthday odds
    ~n²/2^61 — ~5e-5 at a billion distinct shingles), the same collision
    acceptance as `exact_dup_groups`' content fingerprints. MinHash
    signatures are BIT-IDENTICAL to the string form: they already key off
    ``md5_int64(shingle)``, which is exactly this column.
    """
    # null text must yield NO shingles (greatest() ignores the null size and
    # would otherwise emit one "" shingle, diverging from the oracle's
    # unnest-of-NULL semantics and pairing null docs with empty ones).
    # Fan out BEFORE the split: the exchange then moves raw text, not the
    # (larger) word arrays, and the split+explode+md5 stage parallelizes.
    base = _fan_out_small_scan(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("__t")
        )
    ).select("doc", F.split(_norm_text("__t"), r"\s+").alias("__w"))
    idx = F.explode(F.sequence(F.lit(0), F.greatest(F.size("__w") - k, F.lit(0))))
    gram = F.concat_ws(" ", F.slice("__w", F.col("__i") + 1, k))
    return base.select("doc", "__w", idx.alias("__i")).select(
        "doc", (md5_int64(gram) if hashed else gram).alias("sh")
    )


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Per-doc shingle sets flattened with their size attached:
    ``(doc, sz, sh)`` where ``sz`` = that doc's distinct-shingle count over
    the (optionally capped) space — `shingle_table` + per-doc sizes in ONE
    shuffle instead of three plan branches.

    This is the stage-fusion primitive for the Jaccard family: a pair join
    over this table carries both sizes through the shuffle (8 bytes/row),
    so the pair aggregate computes ``J = shared/(sz_a+sz_b-shared)``
    directly and the separate sizes aggregate + two post-aggregate joins —
    three serial stages of scheduling floor per query — disappear. Distinct
    semantics are preserved because ``collect_set`` dedups inside the
    aggregate (with map-side partial sets, same shuffle bytes as the
    distinct it replaces). Per-doc set state is bounded by document length,
    not corpus size, so the aggregate is skew-safe wherever docs are.

    Shingles are carried as md5-int64 — see `_shingle_rows` for why every
    join-on-shingle consumer wants this; sizes and shared counts are
    hash-collision-equal to the string form.
    """
    rows = _shingle_rows(df, id_col, text_col, k, hashed=True)
    if max_doc_freq is not None:
        keep = (
            rows.groupBy("sh")
            .agg(F.countDistinct("doc").alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("sh")
        )
        rows = rows.join(keep, "sh")
    return (
        rows.groupBy("doc")
        .agg(F.collect_set("sh").alias("__shs"))
        .select(
            "doc",
            F.size("__shs").cast("bigint").alias("sz"),
            F.explode("__shs").alias("sh"),
        )
    )



def cap_shingle_doc_freq(sh: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Drop stop-shingles: shingles appearing in more than ``max_doc_freq``
    docs are removed from the (doc, shingle) table.

    THE scale guard for shingle inverted-index joins: one viral boilerplate
    shingle in f of N docs creates ~(fN)² candidate pairs inside a single
    bucket — at web scale a quadratic blowup AQE can split into tasks but
    cannot shrink. Capping doc-frequency bounds every shingle's fan-out at
    ``max_doc_freq²`` pairs. Semantics are the FILTERED shingle space:
    set sizes, shared counts, and signatures all use the capped table, so
    Jaccard stays a true Jaccard (of the non-boilerplate shingle sets) and
    an oracle can replicate it exactly. The frequency aggregate shuffles on
    the shingle — the same key the downstream self-join shuffles on.

    ``None`` disables the cap (exact semantics over the full space).
    """
    if max_doc_freq is None:
        return sh
    keep = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") <= max_doc_freq)
        .select("sh")
    )
    # restore (doc, sh) order — a USING join moves the key column first and
    # downstream consumers rename positionally with toDF
    return sh.join(keep, "sh").select("doc", "sh")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Plan: inverted-index self-join on the shingle (shuffle key = shingle,
    never a cross join), count shared shingles per pair, join per-doc
    set sizes, ``J = shared / (|A| + |B| - shared)``, filter ≥ threshold.
    ``max_doc_freq`` drops stop-shingles before the self-join
    (``cap_shingle_doc_freq``) — set it for any at-scale run; the join
    fan-out is otherwise unbounded in the worst shingle's doc-frequency.
    """
    # Stage-fused via `shingle_sets`: one (doc)-keyed aggregate replaces
    # the old distinct + separate sizes branch, both self-join sides carry
    # their sz through the shuffle (8 bytes/row), and the pair aggregate
    # computes the Jaccard directly. The LAZY localCheckpoint still makes
    # the a/b sides share one RDD identity so the scan -> explode ->
    # collect_set pipeline runs once, with the same blocks-as-shuffled
    # economics as before (no columnar-cache build). This supersedes the
    # round-3 measured choice of post-aggregate broadcast sizes joins:
    # that shape beat a WINDOW size-carry (which ADDED a doc-shuffle after
    # the distinct), while this one REPLACES the distinct with the
    # doc-keyed aggregate — two fewer serial stages and strictly fewer
    # shuffled bytes (the sizes branch is gone). Measured at sf0.1:
    # self-join variant ~5% faster (checkpoint materialization still
    # serializes one job); the bipartite variant (cross_jaccard_pairs),
    # which needs no checkpoint at all, gained 43% (1.64 s -> 0.93 s).
    sh = shingle_sets(df, id_col, text_col, k, max_doc_freq).localCheckpoint(
        eager=False
    )
    a = sh.alias("a")
    # SHUFFLE-HASH the self-join, not sort-merge: the join key is an
    # 8-byte hash with near-uniform distribution, rows are 24 bytes, and
    # `max_doc_freq` bounds per-key fan-out — so a build partition is
    # bounded by (table bytes / shuffle partitions), which AQE/partition
    # sizing keeps in memory at any scale, while SMJ pays two full sorts
    # of the shingle table for nothing (measured 0.89 s vs 1.21 s at
    # sf0.1). Skew-prone uncapped runs fall back: the hint is advisory
    # only for the planner's side-selection, and a capped run is the
    # documented at-scale mode anyway.
    b = sh.hint("shuffle_hash").alias("b")
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(
            F.count("*").alias("shared"),
            F.first(F.col("a.sz")).alias("sz_a"),
            F.first(F.col("b.sz")).alias("sz_b"),
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared")
                / (F.col("sz_a") + F.col("sz_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _perm_const(i: int) -> int:
    """60-bit XOR-permutation constant, md5-derived driver-side (hashlib)
    with the same formula as ``md5_int64`` so the oracle reproduces it:
    ``('0x' || substring(md5('perm:' || i), 1, 15))::BIGINT``."""
    import hashlib

    return int(hashlib.md5(f"perm:{i}".encode()).hexdigest()[:15], 16)


def _minhash_aggs(n_hashes: int, h_sql: str | None = None) -> list[Column]:
    """``sig_i = min over shingles of (md5int(shingle) XOR c_i)``.

    ONE md5 per shingle, then ``n_hashes`` 1-cycle XOR mixes — the md5 was
    ~70% of signature CPU when evaluated per-permutation (16 md5s/shingle
    measured 1.96s vs 0.61s at sf0.1); the identical md5 subtree across all
    mins collapses to one evaluation via codegen subexpression elimination.
    XOR with a constant is a bijection of the 60-bit space, so each
    constant gives a valid (if less independent than rehashing) min-wise
    permutation; LSH recall is re-verified in tests. The classic
    ``(a*h+b) mod p`` family is unusable here: bigint overflow THROWS
    under ANSI mode (Spark 4 default). Built as one ``F.expr`` per
    aggregate — see ``md5_int64_sql`` on Py4J build cost.

    ``h_sql`` overrides the per-shingle hash expression: pass ``"sh"``
    when the input already carries md5-int64 shingles
    (``shingle_table(hashed=True)``) — the md5 is then not recomputed and
    signatures are bit-identical to the string-input form.
    """
    h_sql = h_sql or md5_int64_sql("sh")
    return [
        F.expr(f"min({h_sql} ^ {_perm_const(i)}L) AS sig_{i}")
        for i in range(n_hashes)
    ]


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_hashes: int = 16,
    bands: int = 4,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Banded LSH: hash each band of ``n_hashes/bands`` signature values,
    bucket-join docs sharing any (band, band_hash).

    Shuffle key = (band, band_hash) — collision groups are tiny for honest
    data, and a skewed bucket (a shingle-degenerate crowd) is exactly what
    AQE skew-join splitting handles.

    ``carry_cols`` ride along the banding and come out as ``<col>_a`` /
    ``<col>_b`` on each pair — letting callers attach per-doc stats (e.g.
    shingle-set size) computed in the SAME aggregate as the signatures,
    instead of re-deriving the doc table later for a join (at 100 TB each
    avoided re-derivation is a full scan + explode + shuffle).
    """
    carry = list(carry_cols or [])
    rows_per_band = n_hashes // bands
    band_structs = []
    for b in range(bands):
        sig_names = ", ".join(
            f"CAST(sig_{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        bh = md5_int64_sql(f"concat_ws(',', {sig_names})")
        band_structs.append(f"named_struct('band', {b}, 'bh', {bh})")
    banded = signatures.select(
        F.col("doc"),
        *carry,
        F.expr(f"explode(array({', '.join(band_structs)}))").alias("b"),
    ).select(
        "doc", *carry, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )
    a = banded.alias("a")
    # shuffle-hash: (band, bh) keys are md5-uniform; SMJ's sorts are waste
    b = banded.hint("shuffle_hash").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures → banded candidates → verify with
    exact Jaccard (computed only on candidates — the LSH recall/precision
    story at scale: candidates are a vanishing fraction of all pairs).

    Shingle-set sizes are aggregated in the SAME groupBy as the signatures
    and carried through the banding (``carry_cols``), so the Jaccard
    denominator needs no extra sizes table — the shingle explode runs 3
    times total (signatures + the two candidate-verification joins), the
    minimum for a cache-free plan.
    """
    # lazily checkpointed for the same reason as jaccard_pairs (see NOTE
    # there): signatures + the two candidate-verification joins all read
    # one materialization of the shingle table instead of re-deriving it.
    # Hashed shingles: the checkpoint and both verify joins carry 8-byte
    # keys, and the signature aggregate consumes the hash directly.
    sh = cap_shingle_doc_freq(
        shingle_table(df, id_col, text_col, k, hashed=True), max_doc_freq
    ).localCheckpoint(eager=False)
    # Checkpoint the signature table before the banded SELF-join: its two
    # sides are separate physical subtrees, so without this the whole
    # scan -> shingle explode -> distinct -> 16-min aggregate executes
    # twice (and with the doc-freq cap, each of those re-runs the cap's
    # aggregate+join as well). (doc, 16 sigs, sz) is ~136 bytes/doc — a
    # vanishing fraction of the corpus at any scale. Same pattern as
    # ``simhash_near_pairs`` but LAZY (eager=False): the checkpoint is one
    # RDD identity shared by both join sides, so the first action computes
    # it once either way, composing callers pay no plan-construction job,
    # and the local wall-clock cost of losing scan/join pipelining is
    # smaller (measured 1.45s vs 2.07s eager at sf0.1; the cache-free
    # double-execution plan is 1.13s locally only because idle cores hide
    # the duplicated work — at cluster scale it costs 2x the scans).
    sigs = (
        sh.groupBy("doc")
        .agg(*_minhash_aggs(n_hashes, h_sql="sh"), F.count("*").alias("sz"))
        .localCheckpoint(eager=False)
    )
    cands = lsh_candidate_pairs(sigs, n_hashes, bands, carry_cols=["sz"])
    # shuffle-hash the verify joins — same bounded-build argument as
    # `jaccard_pairs`: 8-byte keys, capped fan-out, SMJ's sorts are waste
    shared = (
        cands.join(sh.toDF("doc_a", "sh").hint("shuffle_hash"), "doc_a")
        .join(sh.toDF("doc_b", "sh").hint("shuffle_hash"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared") / (F.col("sz_a") + F.col("sz_b") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# near-dup clustering (pairs -> components -> keep set)
# ---------------------------------------------------------------------------


def connected_components_star(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 60,
) -> DataFrame:
    """Connected components by alternating large-star/small-star contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    2014): per round, every node re-links its strictly-larger neighbors to
    the minimum of its neighborhood (large-star), then every node re-links
    its smaller neighbors — and itself — to their minimum (small-star).
    The edge set converges to stars centered at each component's minimum
    id in O(log) rounds REGARDLESS OF DIAMETER — a path-graph-shaped chain
    of near-dup merges, a skew-merged boilerplate cluster at web scale.
    Returns (id, component): every node labelled with the min reachable id.

    Per round: two groupBy-min aggregates and two key joins, all on
    (node, node) pairs — O(edges) shuffle bytes, no neighborhood
    materialized anywhere (the aggregate carries ONE min, never a
    neighbor list, so a web-scale hub node costs nothing). Edge count is
    non-increasing after the first round (each undirected edge is emitted
    by exactly one endpoint's group). Fixpoint detection compares a
    (count, hash-sum) signature of the canonical edge set — one tiny job
    per round, same collision acceptance as the engine's fingerprints.

    `connected_components` calls this for graphs above its driver
    union-find gate.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # every node that appears in any edge gets a label (self-loop-only and
    # isolated-pair nodes included)
    nodes = (
        edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    def _sig(frame: DataFrame) -> tuple:
        return tuple(
            frame.agg(
                F.count("*"), F.sum(F.hash("u", "v").cast("long"))
            ).first()
        )

    # seed from the INPUT edge set: a graph that is already a star fixpoint
    # (or empty) reproduces itself in round 1 and must break immediately —
    # an un-seeded comparison needed one extra confirming round and raised
    # a false "did not converge" at max_iter=1 on converged inputs
    sig_prev = _sig(e)
    for _ in range(max_iter):
        # large-star over BOTH orientations: each node u relinks its
        # strictly-larger neighbors to m = min(neighborhood ∪ {u}); an
        # undirected edge is emitted by its smaller endpoint's group only
        nb = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("__e")
        ).select("__e.u", "__e.v")
        mins = (
            nb.groupBy("u")
            .agg(F.min("v").alias("__mn"))
            .select("u", F.least("u", "__mn").alias("m"))
        )
        large = (
            nb.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the (big → small)-oriented output: relink the
        # smaller neighbors and u itself to the group minimum
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            large.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = _sig(e)
        if sig == sig_prev:
            break
        sig_prev = sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds — not expected for any graph "
            "(round count is logarithmic in component size); raise "
            "max_iter."
        )
    # at the fixpoint, e is the star set {(member, center)}; centers and
    # singletons label themselves
    lab = e.toDF("id", "component")
    return nodes.join(lab, "id", "left").select(
        "id", F.coalesce("component", "id").alias("component")
    )


# Edge count at or under which `connected_components` closes the graph with
# a driver-side union-find; larger graphs go to `connected_components_star`.
_DRIVER_EDGE_BOUND = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Connected components: every vertex is labelled with the smallest id
    reachable from it. Returns (id, component).

    SIZE-GATED (same decision class as Spark's broadcast join threshold):
    the symmetrized edge list is materialized and counted once; a graph of
    at most ``_DRIVER_EDGE_BOUND`` edges is closed with a driver-side
    union-find, a larger one with `connected_components_star`, whose round
    count is logarithmic in component size regardless of diameter — so
    every input terminates with correct labels and nothing is ever
    returned half-converged. Labels are identical either way.

    Driver memory at the 1M bound is ~300-500 MB peak, NOT the raw 16
    bytes/edge: the full edge set lands as ONE Arrow table whose two
    columns are then boxed to Python lists (~60-100 bytes per int with
    list/dict overhead), coexisting with the up-to-2M-entry parent dict,
    and the result ships back through one Arrow batch. That is
    broadcast-threshold territory, well under a driver budget but not
    free. (A per-partition ``toLocalIterator`` stream was tried for a
    lower peak and reverted: it schedules one serial job per partition,
    tripling wall-clock.) Dedup graphs are edge-sparse by construction
    (capped candidate generation), so in practice the union-find handles
    everything up to corpora whose PAIR count reaches millions.
    """
    # Materialize the symmetrized edge list ONCE. `edges` is usually the
    # far end of a whole candidate-generation pipeline (shingle -> minhash
    # -> banded self-join); without this checkpoint that entire plan
    # re-executes inside the count and again inside the closing pass.
    # The checkpointed table is two ints per edge — O(pairs), a sliver of
    # the corpus at any scale.
    # Symmetrize with one explode, NOT a self-union: the union's two
    # branches are two separate physical subtrees, so the whole upstream
    # pair pipeline would execute twice inside this one materialization.
    # array_distinct collapses a self-loop's two identical (v, v) structs
    # to one row, so the gate's `<= 2 * bound` comparison counts every
    # edge at most twice (self-loops once) instead of over-counting them.
    bidir = (
        edges.select(
            F.explode(
                F.array_distinct(
                    F.array(
                        F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                        F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                    )
                )
            ).alias("__e")
        )
        .select("__e.a", "__e.b")
        .localCheckpoint(eager=True)
    )
    if bidir.count() > 2 * _DRIVER_EDGE_BOUND:
        return connected_components_star(bidir, "a", "b")
    # Driver union-find over the materialized edge blocks. Union-by-min
    # keeps every root the minimum id of its component, so find(v) IS the
    # min reachable id. Edges land as ONE Arrow table (single job,
    # primitive columns — no Row-object materialization), and the result
    # returns through one Arrow batch.
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    tbl = bidir.where(F.col("a") <= F.col("b")).toArrow()
    for a, b in zip(
        tbl.column("a").to_pylist(), tbl.column("b").to_pylist()
    ):
        for v in (a, b):
            if v not in parent:
                parent[v] = v
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    t = bidir.schema["a"].dataType.simpleString()
    import pandas as pd

    pdf = pd.DataFrame(
        {"id": list(parent), "component": [find(v) for v in parent]}
    )
    return edges.sparkSession.createDataFrame(pdf, f"id {t}, component {t}")


def dedup_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """Collapse near-duplicate clusters to one survivor each: docs in a
    component keep only the min-id member; docs in no pair survive as-is.
    ``pairs`` is any near-dup pair output (MinHash-LSH, SimHash, embedding
    cosine) — composition point of the whole dedup family.
    """
    comp = connected_components(pairs, pair_a, pair_b)
    losers = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_near_by(
    df: DataFrame,
    pairs: DataFrame,
    prefer_col: str,
    id_col: str = "doc_id",
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
) -> DataFrame:
    """``dedup_near`` with an explicit survivor policy: each near-dup
    cluster keeps its best row by ``prefer_col`` (highest value,
    ascending-id tiebreak) instead of the min id.

    The policy that matters for training corpora: near-dup clusters often
    pair a full article with its truncated or boilerplate-wrapped copies —
    min-id keeps whichever crawled first; preferring length or a quality
    score keeps the most complete one. Deterministic (total order via the
    id tiebreak), so it stays oracle-replicable.

    Plan adds one row_number window partitioned by component over only the
    CLUSTERED docs (docs in no pair bypass via anti-join, never shuffle
    through the window) — cluster sizes are small by construction, so the
    window sort is bounded.
    """
    # Reserved-name aliases (the `__rn` convention): joining the raw
    # (id, component) frame and then .drop("id") would drop EVERY column
    # named "id" — wrong whenever id_col == "id" or df already carries an
    # "id"/"component" column of its own.
    comp = connected_components(pairs, pair_a, pair_b).select(
        F.col("id").alias("__cc_id"), F.col("component").alias("__component")
    )
    from pyspark.sql.window import Window

    order = [F.col(prefer_col).desc(), F.col(id_col).asc()]
    members = df.join(comp, df[id_col] == F.col("__cc_id"), "inner")
    best = (
        members.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("__component").orderBy(*order)),
        )
        .where(F.col("__rn") == 1)
        .select(*df.columns)
    )
    loners = df.join(
        comp.select(F.col("__cc_id").alias(id_col)), id_col, "left_anti"
    )
    return loners.unionByName(best)


def dedup_incremental(
    corpus: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    bloom_prefilter: bool = False,
    bloom_m_bits: int = 1 << 20,
    bloom_k: int = 7,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus WITHOUT re-deduping the
    corpus — the daily-ingest shape of a training-data pipeline: the corpus
    is the accepted state, each new crawl batch lands against it, and only
    the batch's survivors ``(id, fp_exact)`` come back (append them and go).

    Stages, both exact-semantics and oracle-replicable:

    1. exact — a new doc is dropped if its normalized-text md5 matches ANY
       corpus doc (left-anti on the fingerprint), and within the batch one
       doc per fingerprint survives (min id; computed with a partition
       window so a null-text group also keeps exactly one survivor —
       a groupBy+equi-join would silently lose null keys).
    2. near — word-k-gram Jaccard ≥ ``threshold`` against EITHER side:
       a surviving new doc is dropped if it near-matches any corpus doc,
       or any smaller-id batch survivor (the deterministic
       keep-the-earliest rule; smaller-id survivors count even if they are
       themselves dropped by a corpus match — the rule stays a pure pair
       predicate, which is what a SQL oracle can replicate; run
       ``dedup_near`` over the union instead when full transitive
       clustering is wanted).

    Scale shape: candidate generation is the shingle inverted-index join
    with the NEW side as the probe — the pair space is bounded by the
    batch's shingles, never corpus x corpus. The corpus shingle table is
    the only corpus-wide derivation. ``max_doc_freq`` caps boilerplate
    fan-out across the union space (`cap_shingle_doc_freq`).

    Ids must be unique within each side; a corpus id may numerically
    collide with a batch id (sides are tagged, never mixed by id).

    The BATCH side of the candidate join (and the final matched-ids
    anti-join) is the broadcast build side: the corpus shingle stream
    never shuffles or sorts on the shingle at all — the
    q68-decontamination shape, right whenever one batch's shingle table
    fits executor memory (a daily crawl delivery against a 100 TB corpus;
    any streaming micro-batch). A batch too large to broadcast is not
    this operator's contract. Measured at sf0.1: 2.26 s vs 3.00 s
    same-session against a shuffled batch side (the two shingle-side
    sort stages and one exchange disappear).
    """
    from pyspark.sql.window import Window

    fp = md5_int64(_norm_text(text_col))
    nfp = new.select(F.col(id_col), F.col(text_col), fp.alias("__fp"))
    keep = F.min(id_col).over(Window.partitionBy("__fp"))
    batch_surv = nfp.withColumn("__keep", keep).where(
        F.col(id_col) == F.col("__keep")
    )
    if bloom_prefilter:
        # Sketch-accelerated exact stage (sketches.py): probe the
        # corpus-fingerprint Bloom bitset first — a MISS is a definitive
        # non-member and bypasses the corpus entirely; only the hit slice
        # (true dups + the deterministic ~0.8% false positives) pays the
        # exact anti-join. Output is IDENTICAL to the plain anti-join
        # (q91 hash-checks it against q60's oracle); the win is that the
        # standing corpus state at probe time is a ≤ceil(m/62)-row
        # broadcast instead of an O(corpus) shuffle-side.
        from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
            bloom_bitset,
            bloom_probe,
        )

        corpus_fps = corpus.select(fp.alias("__fp"))
        bits = bloom_bitset(corpus_fps, "__fp", m_bits=bloom_m_bits, k=bloom_k)
        probed = batch_surv.join(
            bloom_probe(
                batch_surv.select(id_col, "__fp"),
                bits,
                "__fp",
                id_col,
                m_bits=bloom_m_bits,
                k=bloom_k,
            ),
            id_col,
        ).localCheckpoint(eager=False)  # feeds both the miss and hit slices
        misses = probed.where(~F.col("bloom_hit"))
        confirmed = probed.where(F.col("bloom_hit")).join(
            corpus_fps.hint("shuffle_hash"), "__fp", "left_anti"
        )
        surv = (
            misses.unionByName(confirmed)
            .select(id_col, text_col, "__fp")
            .localCheckpoint(eager=False)
        )
    else:
        surv = (
            batch_surv
            # shuffle-hash the exact-stage anti-join: __fp is md5-uniform,
            # the corpus side is 8 bytes/row, and SMJ would sort both
            # streams; the per-partition build is bounded by
            # corpus-fps/partitions
            .join(
                corpus.select(fp.alias("__fp")).hint("shuffle_hash"),
                "__fp",
                "left_anti",
            )
            .select(id_col, text_col, "__fp")
            # consumed by the batch shingle table AND the final anti-join
            .localCheckpoint(eager=False)
        )
    # raw (non-distinct) shingle rows: the fused size-attach aggregate
    # below dedups per (doc, is_new) anyway, so the two per-side distinct
    # exchanges the old shingle_table union paid are pure waste here
    sh_n = _shingle_rows(surv, id_col, text_col, k, hashed=True)
    sh_c = _shingle_rows(corpus, id_col, text_col, k, hashed=True)
    sh_all = sh_c.withColumn("is_new", F.lit(False)).unionByName(
        sh_n.withColumn("is_new", F.lit(True))
    )
    if max_doc_freq is not None:
        # doc-frequency over DISTINCT (doc, side) holders — raw rows carry
        # within-doc multiplicity that must not inflate the cap
        keep_sh = (
            sh_all.groupBy("sh")
            .agg(F.countDistinct("doc", "is_new").alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("sh")
        )
        sh_all = sh_all.join(keep_sh, "sh").select("doc", "sh", "is_new")
    # Stage fusion: attach each doc's shingle-set size to every row in ONE
    # (doc, is_new)-keyed aggregate — grouped per side, never bare doc, so
    # a corpus id numerically colliding with a batch id cannot merge the
    # two docs' counts — then the candidate join carries both sizes through
    # the shuffle and the pair aggregate computes the Jaccard directly. The
    # separate sizes aggregate + two post-aggregate joins this replaces
    # were three serial stages of pure scheduling floor.
    attached = (
        sh_all.groupBy("doc", "is_new")
        .agg(F.collect_set("sh").alias("__shs"))
        .select(
            "doc",
            "is_new",
            F.size("__shs").cast("bigint").alias("sz"),
            F.explode("__shs").alias("sh"),
        )
        # one materialization feeds both sides of the candidate self-join
        .localCheckpoint(eager=False)
    )
    # the batch side is the broadcast build side (the daily-ingest
    # contract: it is small); the corpus shingle stream is never shuffled
    n = F.broadcast(attached.where(F.col("is_new"))).alias("n")
    o = attached.alias("o")
    matched = (
        n.join(
            o,
            (F.col("n.sh") == F.col("o.sh"))
            & (~F.col("o.is_new") | (F.col("o.doc") < F.col("n.doc"))),
        )
        .groupBy(
            F.col("n.doc").alias("doc_n"),
            F.col("o.doc").alias("doc_o"),
            F.col("o.is_new").alias("o_new"),
        )
        .agg(
            F.count("*").alias("shared"),
            F.first(F.col("n.sz")).alias("sz_n"),
            F.first(F.col("o.sz")).alias("sz_o"),
        )
        .where(
            F.round(
                F.col("shared") / (F.col("sz_n") + F.col("sz_o") - F.col("shared")),
                6,
            )
            >= threshold
        )
        .select(F.col("doc_n").alias(id_col))
        .distinct()
    )
    return surv.join(F.broadcast(matched), id_col, "left_anti").select(
        F.col(id_col), F.col("__fp").alias("fp_exact")
    )


def cross_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Bipartite near-match pairs between two document tables:
    ``(doc_left, doc_right, jaccard)`` for every cross pair with word-k-gram
    Jaccard ≥ ``threshold``. Never compares within a side.

    THE contamination check for training data: ``left`` = a benchmark /
    eval set, ``right`` = the training corpus; every returned pair is a
    benchmark item leaked (near-)verbatim into training. Same machinery
    covers cross-source overlap audits (crawl A vs crawl B).

    Plan (stage-fused via `shingle_sets`): each side is one
    shingle+size aggregate, the bipartite join on the shingle carries both
    sizes through the shuffle, and the pair aggregate computes the Jaccard
    directly — no separate sizes branch, no post-aggregate joins, and no
    checkpoints (each side is consumed exactly once). With both sides
    capped at ``max_doc_freq`` the worst shingle's fan-out is bounded by
    cap² — identical scale posture to ``jaccard_pairs``, with the pair
    space further bounded by |left shingles| x collision rate, not
    corpus².
    """
    # the eval/left side is the smaller one by contract — make it the
    # shuffle-hash build side so the corpus stream is never sorted
    l = (
        shingle_sets(left, id_col, text_col, k, max_doc_freq)
        .toDF("doc_left", "sz_l", "sh")
        .hint("shuffle_hash")
    )
    r = shingle_sets(right, id_col, text_col, k, max_doc_freq).toDF(
        "doc_right", "sz_r", "sh"
    )
    return (
        l.join(r, "sh")
        .groupBy("doc_left", "doc_right")
        .agg(
            F.count("*").alias("shared"),
            F.first("sz_l").alias("sz_l"),
            F.first("sz_r").alias("sz_r"),
        )
        .select(
            "doc_left",
            "doc_right",
            F.round(
                F.col("shared") / (F.col("sz_l") + F.col("sz_r") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 1000,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal — the within-document
    member of the dedup family: drop every line whose normalized form
    appears in more than ``max_doc_freq`` documents (site headers, nav
    bars, cookie banners, copyright footers), reassemble the survivors in
    original order. Returns ``(id, clean_text, n_lines, n_kept)``;
    null-text docs are dropped (no lines to judge).

    Line identity is the md5-int64 of the whitespace-collapsed lowercased
    line, counted per DISTINCT doc — a line repeated inside one document
    is that document's own structure, not corpus boilerplate.

    Scale shape: explode is shuffle-free; the per-line doc frequency is a
    WINDOW over the 8-byte line hash (``max(dense_rank over (k, id))`` ==
    ``countDistinct(id) per k``), so the exploded rows shuffle ONCE on the
    line key; the reassembly groupBy shuffles each line once more, keyed
    by doc. The earlier groupBy+join-back form (the pre-r15 `dedup_exact`
    pattern) consumed the explode lineage TWICE — each join side re-ran
    the scan + split + md5 — and paid a third exchange for the
    countDistinct's internal two-phase aggregate. Nothing is quadratic —
    boilerplate frequency only concentrates rows of one key into one
    window partition; like `dedup_exact`'s window, a pathological
    single-line crowd becomes one fat task (AQE cannot split a window
    partition) — the trade accepted for halving the scans.
    """
    from pyspark.sql import Window

    lines = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__i", "__line"),
    )
    key = md5_int64(
        F.regexp_replace(F.lower(F.trim(F.col("__line"))), r"\s+", " ")
    )
    keyed = lines.withColumn("__k", key)
    # countDistinct(id) per line key, window form: dense_rank over
    # (partition __k order by id) counts distinct ids along the sort, so
    # its partition max IS the distinct count — minus 1 if a NULL id is
    # present (ranked first by asc_nulls_first), because the old
    # countDistinct ignored nulls and the gate must keep doing so.
    w_k = Window.partitionBy("__k")
    ranked = keyed.select(
        id_col,
        "__i",
        "__line",
        "__k",
        F.dense_rank()
        .over(Window.partitionBy("__k").orderBy(F.col(id_col).asc_nulls_first()))
        .alias("__dr"),
    )
    dfx = F.max("__dr").over(w_k) - F.max(
        F.when(F.col(id_col).isNull(), 1).otherwise(0)
    ).over(w_k)
    tagged = ranked.select(
        id_col,
        "__i",
        "__line",
        (dfx <= max_doc_freq).alias("__keep"),
    )
    agg = tagged.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("__i", "__line", "__keep"))).alias(
            "__rows"
        )
    )
    kept = F.filter("__rows", lambda s: s["__keep"])
    return agg.select(
        F.col(id_col),
        F.concat_ws(
            "\n", F.transform(kept, lambda s: s["__line"])
        ).alias("clean_text"),
        F.size("__rows").cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
    )


def ngram_overlap_pairs(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram benchmark decontamination: ``(doc_train, doc_eval,
    n_shared)`` for every train/eval pair sharing ≥1 exact word-n-gram
    (default n=13 — the GPT-3/PaLM eval-hygiene rule). Complements the
    Jaccard audit (`cross_jaccard_pairs`): that catches near-verbatim
    whole-document leaks; this flags ANY train doc containing a verbatim
    13-word span of an eval item, however large the surrounding doc.

    Plan is built for a small eval side against a 100 TB train side: the
    RAW (pre-distinct) train shingle stream is semi-joined against the
    BROADCAST eval shingle set — a map-side filter, so the train table
    never shuffles on the shingle; only the (tiny) matching fraction
    reaches the set-semantics distinct and everything after it. (The
    round-10 medians run caught the earlier order — ``shingle_table``'s
    built-in distinct BEFORE the semi-join — shuffling the entire corpus
    shingle stream that the broadcast filter was built to avoid; a
    per-row key filter commutes with distinct, so the reorder is
    semantics-free and the q68 oracle pins it.) The doc-freq cap is
    applied to the survivors, which is exactly equivalent to capping the
    full train table (the semi-join keeps every train row of a matching
    shingle, so per-shingle frequencies are unchanged) at a sliver of
    the aggregate cost. Docs shorter than ``n`` words follow
    `shingle_table`'s partial-shingle rule (one whole-text gram), so two
    identical short docs still match.
    """
    # eval shingles feed the semi-join set AND the pair join — materialize
    # once; a benchmark set is broadcast-sized by definition
    sh_e = shingle_table(eval_df, id_col, text_col, n, hashed=True).localCheckpoint(
        eager=False
    )
    # hashed shingles: the broadcast set ships 8-byte ints (a 13-gram is
    # ~80 bytes of text — 10x smaller build side), and the semi/pair joins
    # compare longs
    sh_t = (
        _shingle_rows(train, id_col, text_col, n, hashed=True)
        .join(F.broadcast(sh_e.select("sh").distinct()), "sh", "left_semi")
        .select("doc", "sh")
        .distinct()
    )
    if max_doc_freq is not None:
        # the cap consumes its input twice (doc-freq keep set + tag-back
        # join) — checkpoint the matching SLIVER so the corpus-scale gram
        # build + semi-join lineage executes once, not once per consumer
        # (the jaccard_pairs multi-consumer convention)
        sh_t = cap_shingle_doc_freq(
            sh_t.localCheckpoint(eager=False), max_doc_freq
        )
    return (
        sh_t.toDF("doc_train", "sh")
        .join(F.broadcast(sh_e.toDF("doc_eval", "sh")), "sh")
        .groupBy("doc_train", "doc_eval")
        .agg(F.count("*").alias("n_shared"))
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    k: int = 13,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Maximal shared verbatim token runs between document pairs — the
    ExactSubstr family (RefinedWeb/BigCode: drop or flag any ≥50-token
    span appearing verbatim in more than one document). Completes the
    dedup ladder: q69/`dedup_lines` catches repeated LINES, q68/
    `ngram_overlap_pairs` catches ANY shared 13-gram, this one finds the
    LONG verbatim spans with their exact positions and lengths. Returns
    ``(doc_a, doc_b, start_a, start_b, n_tokens)`` — one row per maximal
    run of ≥ ``min_tokens`` whitespace tokens (0-based token offsets,
    ``doc_a < doc_b``).

    Plan — no suffix array, no cross join; three bounded stages:

    1. positional k-grams: ``(doc, pos, hash(gram))`` via the same
       shuffle-free split + explode(sequence) + slice codegen span as
       `_shingle_rows`, with the gram carried as its md5-int64 (8-byte
       join keys; collision acceptance as everywhere else). Docs shorter
       than ``k`` tokens yield nothing — they cannot contain a
       ``min_tokens ≥ k`` run.
    2. inverted-index self-join on the gram hash (shuffle-hash, capped by
       ``max_doc_freq`` against viral boilerplate grams) → aligned
       position pairs ``(pa, pb)``.
    3. gaps-and-islands run-length: two matches extend the same run iff
       they sit on the same DIAGONAL ``pa - pb`` at consecutive ``pa`` —
       one window (``pa - row_number`` island id) + one aggregate per
       (pair, diagonal, island); a run of ``g`` consecutive k-grams is a
       verbatim span of ``g + k - 1`` tokens.

    A shared span of length L ≥ k produces exactly L-k+1 consecutive
    aligned grams, so maximal islands ARE the maximal shared runs; with
    ``k ≤ min_tokens`` no qualifying span is missed. Degenerate
    repetitive docs ("spam spam spam…") match on O(L²) diagonals —
    bound them upstream with the repetition gate (`operators/text.py`)
    and ``max_doc_freq``, the same posture as every shingle join here.

    Window state is one (pair, diagonal) group — bounded by the longer
    doc's token count, never corpus-sized, so the run-length stage is
    skew-safe wherever docs are.
    """
    if k > min_tokens:
        # spans of length min_tokens..k-1 contain no k-gram and would be
        # silently missed — reject the parameterization instead
        raise ValueError(
            f"k={k} must be <= min_tokens={min_tokens}: a shared span "
            "shorter than k produces no k-gram match"
        )
    grams = _positional_grams(df, id_col, text_col, k)
    if max_doc_freq is not None:
        keep = (
            grams.groupBy("gh")
            .agg(F.countDistinct("doc").alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("gh")
        )
        grams = grams.join(keep, "gh").select("doc", "pos", "gh")
    # one materialization feeds both self-join sides (jaccard_pairs NOTE)
    grams = grams.localCheckpoint(eager=False)
    a = grams.alias("a")
    b = grams.hint("shuffle_hash").alias("b")
    m = a.join(
        b, (F.col("a.gh") == F.col("b.gh")) & (F.col("a.doc") < F.col("b.doc"))
    ).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    return _island_runs(m, "doc_a", "doc_b", "start_a", "start_b", k, min_tokens)


def _positional_grams(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """``(doc, pos, gh)`` positional k-gram hashes: the same shuffle-free
    split + explode(sequence) + slice codegen span as `_shingle_rows`,
    keeping the 0-based start position and hashing the gram to md5-int64.
    Docs shorter than ``k`` tokens yield nothing."""
    base = (
        _fan_out_small_scan(
            df.where(F.col(text_col).isNotNull()).select(
                F.col(id_col).alias("doc"), F.col(text_col).alias("__t")
            )
        )
        .select("doc", F.split(_norm_text("__t"), r"\s+").alias("__w"))
        # sequence(0, size-k) DESCENDS for size < k (Spark generates
        # backwards sequences) — the filter is correctness, not just a prune
        .where(F.size("__w") >= k)
    )
    idx = F.explode(F.sequence(F.lit(0), F.size("__w") - k))
    return base.select("doc", "__w", idx.alias("pos")).select(
        "doc",
        "pos",
        md5_int64(F.concat_ws(" ", F.slice("__w", F.col("pos") + 1, k))).alias("gh"),
    )


def _island_runs(
    matches: DataFrame,
    left_col: str,
    right_col: str,
    start_left: str,
    start_right: str,
    k: int,
    min_tokens: int,
) -> DataFrame:
    """Diagonal gaps-and-islands over aligned gram positions ``(pa, pb)``:
    consecutive matches on one diagonal collapse to a maximal run of
    ``count + k - 1`` tokens; runs below ``min_tokens`` drop."""
    from pyspark.sql.window import Window

    m = matches.withColumn("diag", F.col("pa") - F.col("pb"))
    w = Window.partitionBy(left_col, right_col, "diag").orderBy("pa")
    return (
        m.withColumn("island", F.col("pa") - F.row_number().over(w))
        .groupBy(left_col, right_col, "diag", "island")
        .agg(
            F.min("pa").alias(start_left),
            F.min("pb").alias(start_right),
            (F.count("*") + F.lit(k - 1)).alias("n_tokens"),
        )
        .where(F.col("n_tokens") >= min_tokens)
        .select(left_col, right_col, start_left, start_right, "n_tokens")
    )


def cross_exact_substring_spans(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 50,
    k: int = 13,
) -> DataFrame:
    """Bipartite ExactSubstr decontamination — the form RefinedWeb/BigCode
    actually run against benchmarks: every maximal verbatim run of ≥
    ``min_tokens`` tokens shared between a TRAIN document and an EVAL
    item, located exactly: ``(doc_train, doc_eval, start_train,
    start_eval, n_tokens)``. Sharpens q68's `ngram_overlap_pairs` (which
    flags any single shared 13-gram) into span extents — the evidence a
    decontamination pass needs to cut the leaked span instead of dropping
    the whole train doc.

    Plan is the q68 shape fused with q75's island arithmetic: the train
    gram stream probes the BROADCAST eval gram table (a benchmark set is
    broadcast-sized by definition) — the 100 TB train side never
    shuffles, never sorts, and is consumed exactly once (no checkpoint);
    the only shuffle is the run-length window keyed by (pair, diagonal),
    whose input is just the matching gram positions. Same ``k ≤
    min_tokens`` completeness rule as `exact_substring_spans`.
    """
    if k > min_tokens:
        raise ValueError(
            f"k={k} must be <= min_tokens={min_tokens}: a shared span "
            "shorter than k produces no k-gram match"
        )
    gt = _positional_grams(train, id_col, text_col, k)
    ge = _positional_grams(eval_df, id_col, text_col, k).toDF(
        "doc_eval", "pe", "gh"
    )
    m = gt.toDF("doc_train", "pos", "gh").join(F.broadcast(ge), "gh").select(
        "doc_train",
        "doc_eval",
        F.col("pos").alias("pa"),
        F.col("pe").alias("pb"),
    )
    return _island_runs(
        m, "doc_train", "doc_eval", "start_train", "start_eval", k, min_tokens
    )


def remove_token_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_doc: str = "doc_train",
    span_start: str = "start_train",
    span_len: str = "n_tokens",
) -> DataFrame:
    """Cut token ranges out of documents — the ACTION half of ExactSubstr
    decontamination: feed `cross_exact_substring_spans` (or
    `exact_substring_spans`) output in and get the corpus back with the
    leaked spans excised instead of whole documents dropped (the
    RefinedWeb remedy: a 50-token leak should not cost a 5,000-token
    doc). Returns ``(id, clean_text, n_tokens, n_tokens_removed)`` for
    EVERY input doc — docs with no spans pass through with
    ``n_tokens_removed = 0``; null-text docs emit ``clean_text = NULL``.

    Span offsets were computed over the NORMALIZED token stream
    (`_norm_text` + split), but lowercasing and whitespace collapse do not
    move token boundaries — so the cut operates on the CASE-PRESERVING
    ``split(trim(text))`` tokens at the same offsets, and untouched docs
    pass through with their original text byte-for-byte (newline
    structure inside a REBUILT doc does collapse to single spaces — the
    price of token-level surgery, paid only where a cut happened).
    Overlapping spans cut their union (each token is removed once).

    Plan: a left-semi join restricts the token-level work to the
    (typically tiny) contaminated fraction of the corpus — everyone else
    is a pass-through projection whose only cost is the token-count
    expression. Contaminated docs: positional token explode
    (shuffle-free) → equi-join on the doc id against the spans (fan-out =
    tokens x spans_per_doc, bounded) → a (doc, pos) aggregate marks
    covered tokens → ordered reassembly in one doc-keyed aggregate. All
    codegen; the only shuffles are the semi/span joins on the doc id and
    the doc/pos keyed aggregates, all over the contaminated slice only.
    """
    # spans is usually the far end of a whole detection pipeline (the
    # positional-gram join); it feeds BOTH the semi-join and the cut join,
    # so materialize the tiny (doc, start, end) projection once
    sp = spans.select(
        F.col(span_doc).alias("doc"),
        F.col(span_start).alias("__s"),
        (F.col(span_start) + F.col(span_len) - 1).alias("__e"),
    ).localCheckpoint(eager=False)
    tagged = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t"))
    # no _fan_out_small_scan here: `hit` is a semi-join output, already
    # spread across the shuffle partitions — the fan-out helper would see
    # post-shuffle partitions < cores and add a pointless exchange
    hit = tagged.join(sp.select("doc").distinct(), "doc", "left_semi")
    toks = hit.select(
        "doc", F.posexplode(F.split(F.trim("__t"), r"\s+"))
    ).toDF("doc", "pos", "w")
    covered = (
        toks.join(sp.hint("shuffle_hash"), "doc", "left")
        .groupBy("doc", "pos")
        .agg(
            F.first("w").alias("w"),
            F.max(
                (F.col("pos") >= F.col("__s")) & (F.col("pos") <= F.col("__e"))
            ).alias("__cut"),
        )
    )
    rebuilt = covered.groupBy("doc").agg(
        F.count("*").alias("__nt"),
        F.sum(F.col("__cut").cast("bigint")).alias("__nrm"),
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w", "__cut"))
                    ),
                    lambda s: ~s["__cut"],
                ),
                lambda s: s["w"],
            ),
        ).alias("__clean"),
    )
    # empty/whitespace-only text splits to one phantom "" token — count 0
    raw_n = F.when(
        F.col("__t").isNull() | (F.trim("__t") == ""), F.lit(0)
    ).otherwise(F.size(F.split(F.trim("__t"), r"\s+")))
    return (
        tagged.join(rebuilt, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("__clean", "__t").alias("clean_text"),
            F.coalesce("__nt", raw_n.cast("bigint")).alias("n_tokens"),
            F.coalesce("__nrm", F.lit(0)).alias("n_tokens_removed"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # md5_int64 yields 60 usable bits


def simhash(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash over distinct whitespace tokens.

    ``bit_b(sig) = 1 iff sum over tokens of (2*bit_b(md5int(token)) - 1) > 0``
    — equivalently ``2 * sum(bit_b) > n_tokens``, which is how it's computed:
    ONE hash aggregate with 60 codegen'd ``sum((h >> b) & 1)`` expressions
    plus a count, no (token x bit) explode. The earlier explode formulation
    shuffled tokens x 60 rows through a (doc, bit) aggregate — 60x the
    shuffle volume for identical output (measured ~2x wall-clock at sf0.1,
    worse at scale). No UDF, fully oracle-expressible.

    The wide blocks (60 sums, 60-term signature reconstruction) are built
    as SQL strings parsed by a single ``F.expr`` each: built node-by-node
    from Python they cost ~0.9 s of Py4J round-trips PER PLAN BUILD
    (measured; the JVM analyzes the identical tree in 0.09 s).
    """
    # explode(array_distinct(...)) is already (doc, tok)-unique — a
    # .distinct() here would be a redundant full shuffle of the token table
    toks = _fan_out_small_scan(
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t"))
    ).select(
        "doc",
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col("__t"))), r"\s+"))
        ).alias("tok"),
    )
    h = toks.select("doc", md5_int64(F.col("tok")).alias("h"))
    bit_sums = [
        F.expr(f"sum(shiftright(h, {b}) & 1) AS s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = h.groupBy("doc").agg(*bit_sums, F.count("*").alias("n"))
    sig_sql = " + ".join(
        f"shiftleft(CAST(s{b} * 2 > n AS BIGINT), {b})"
        for b in range(SIMHASH_BITS)
    )
    return per_doc.select("doc", F.expr(sig_sql).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation bands the 60-bit fingerprint into ``n_chunks``
    equal chunks and bucket-joins on (chunk_idx, chunk_value);
    verification is ``bit_count(xor) <= max_hamming``.

    Pigeonhole completeness needs ``n_chunks >= max_hamming + 1`` (≤ h
    flipped bits can touch at most h chunks), so ``n_chunks`` defaults to
    exactly that. Passing a smaller ``n_chunks`` trades recall for bucket
    selectivity: each chunk then spans ``60 // n_chunks`` bits, and wider
    chunks mean exponentially fewer bucket collisions — the right trade
    only when missing distance-(n_chunks..max_hamming) pairs is
    acceptable. Mind the fan-out: chunks of ``b`` bits split the corpus
    into ~2^b buckets per chunk index, so a large ``max_hamming`` (many
    narrow chunks) degrades toward a quadratic bucket join at scale.
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    # Materialize the signature table BEFORE the self-join: the two join
    # sides cannot share a physical subtree (one becomes the broadcast
    # build side), so without this the full scan → token explode → md5 →
    # 60-sum aggregate executes TWICE (verified: FileScan x2,
    # HashAggregate x4 in the executed plan). The checkpointed table is
    # (doc, simhash) — 16 bytes/doc, a vanishing fraction of the corpus at
    # any scale — and re-materializes per call, so benches time the real
    # cold path. LAZY (eager=False), matching ``minhash_lsh_pairs``: the
    # checkpoint is one RDD identity shared by both join sides, so the
    # first action computes the signature stage exactly once either way,
    # while composing callers pay no plan-construction job and the scan
    # keeps pipelining into the first action (measured 0.89 s vs 0.98 s
    # eager at sf0.1 — the earlier eager choice predated the round-5 lazy
    # migration of the minhash family). Checkpoint blocks are reclaimed by
    # Spark's ContextCleaner once the returned plan is garbage-collected;
    # on executor loss the job reruns from source (acceptable: one cheap
    # pass).
    sig = simhash(df, id_col, text_col).localCheckpoint(eager=False)
    chunk_bits = SIMHASH_BITS // n_chunks
    mask = (1 << chunk_bits) - 1
    structs = ", ".join(
        f"named_struct('ci', {i}, "
        f"'cv', shiftright(simhash, {i * chunk_bits}) & {mask}L)"
        for i in range(n_chunks)
    )
    chunks = sig.select(
        "doc", "simhash", F.expr(f"explode(array({structs}))").alias("c")
    ).select("doc", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a = chunks.alias("a")
    # shuffle-hash, not sort-merge: (ci, cv) keys are near-uniform chunk
    # values, rows 32 bytes — same bounded-build argument as jaccard_pairs
    b = chunks.hint("shuffle_hash").alias("b")
    # Emit each colliding pair EXACTLY ONCE with the min-colliding-chunk
    # condition: both fingerprints ride the join row, so "which chunks
    # collide" is a pure function of xor — keep only the row whose chunk
    # index is the pair's FIRST colliding chunk. That replaces the old
    # post-filter distinct() (a full extra shuffle of the pair table)
    # with a codegen'd per-row predicate inside the existing bucket join.
    first_collide = "coalesce(" + ", ".join(
        f"CASE WHEN (shiftright(a.simhash ^ b.simhash, {i * chunk_bits})"
        f" & {mask}L) = 0 THEN {i} END"
        for i in range(n_chunks)
    ) + ")"
    cond = F.expr(
        "a.ci = b.ci AND a.cv = b.cv AND a.doc < b.doc "
        f"AND bit_count(a.simhash ^ b.simhash) <= {max_hamming} "
        f"AND a.ci = {first_collide}"
    )
    return a.join(b, cond).select(
        F.col("a.doc").alias("doc_a"),
        F.col("b.doc").alias("doc_b"),
        F.expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").alias("hamming"),
    )


def memorization_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    min_dup_docs: int = 2,
) -> DataFrame:
    """Per-document memorization-risk audit over CORPUS-INTERNAL n-gram
    repetition: for every document, the fraction of its distinct word
    n-grams that also appear in at least ``min_dup_docs`` documents
    (itself included). The signal behind train-data dedup for
    memorization (Lee et al. "Deduplicating Training Data Makes Language
    Models Better"; Carlini et al. extraction attacks): sequences
    repeated verbatim across documents are the ones models memorize and
    regurgitate, and ``n=13`` is the same window the eval-decontamination
    rule (`ngram_overlap_pairs`) uses — this is that audit turned inward
    on the corpus instead of against an eval suite.

    Output, one row per document WITH at least one n-gram (null-text and
    empty docs carry no grams and are absent, matching the shingle
    family's contract): ``(id, n_grams, n_dup_grams, dup_fraction,
    max_gram_docs)`` where ``dup_fraction = n_dup_grams / n_grams``
    rounded to 6 dp and ``max_gram_docs`` is the document frequency of
    the doc's most-shared gram — 1 means fully unique, a large value
    means the doc contains boilerplate shared corpus-wide. Docs shorter
    than ``n`` words contribute their whole text as one partial gram
    (`shingle_table`'s rule), so short exact dups still flag each other.

    Scale shape — three exchanges of the 8-byte hashed gram stream and
    nothing else: (1) `shingle_table`'s set-semantics distinct (map-side
    partial dedup), (2) a gram-keyed window for per-gram document
    frequency (count over PARTITION BY sh — no join back, no
    collect_list fan-out: a boilerplate gram shared by a million docs
    stays one fat-but-flat partition that AQE splits), (3) the per-doc
    aggregate. No cross join, no UDF, no driver state; memory per task
    is one aggregation buffer row per (doc) / (sh) group.
    """
    if min_dup_docs < 2:
        raise ValueError(
            f"min_dup_docs must be >= 2 (1 would flag every gram), got "
            f"{min_dup_docs}"
        )
    from pyspark.sql.window import Window

    sh = shingle_table(df, id_col, text_col, k=n, hashed=True)
    # (doc, sh) is distinct, so count(*) over sh == the gram's document
    # frequency — no countDistinct state needed.
    freq = sh.select(
        "doc", F.count("*").over(Window.partitionBy("sh")).alias("__df")
    )
    dup = (F.col("__df") >= min_dup_docs).cast("bigint")
    return (
        freq.groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(dup).alias("n_dup_grams"),
            F.max("__df").alias("max_gram_docs"),
        )
        .select(
            id_col,
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias(
                "dup_fraction"
            ),
            "max_gram_docs",
        )
    )


def top_duplicated_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    k: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """The corpus-level complement of `memorization_report`: the top-k
    most widespread word n-grams WITH THEIR TEXT — "what IS the
    boilerplate" (the C4-paper-style table engineers read before
    writing a cleaning rule; `memorization_report` scores docs, this
    names the strings doing it). Output ``(gram, n_docs)``, ordered by
    (n_docs DESC, gram ASC) — fully deterministic, so the report
    hash-checks.

    Deliberately UNHASHED grams (the one gram consumer where the text
    is the product, not a join key): the doc-frequency aggregate
    shuffles gram strings instead of 8-byte hashes, but only grams
    reaching ``min_docs`` survive to the heap take, and Spark plans the
    orderBy+limit as TakeOrderedAndProject (per-partition heaps — the
    full sorted gram table never materializes). Scale shape: the
    shingle distinct + one hash aggregate + the k-row heap take.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(
            f"min_docs must be >= 2 (1 would rank every unique gram), "
            f"got {min_docs}"
        )
    sh = shingle_table(df, id_col, text_col, k=n, hashed=False)
    return (
        sh.groupBy(F.col("sh").alias("gram"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("gram"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints: per doc, hash every word k-gram
    (``md5_int64`` — the module's shared 60-bit fingerprint hash), slide a
    ``window``-gram window, and select each window's minimum hash
    (rightmost position on ties, per the paper); the distinct selections
    are the doc's fingerprint set. Output ``(doc, fp, pos)``.

    The paper's guarantee carries over: any word run of at least
    ``window + k - 1`` words shared by two documents yields at least one
    shared fingerprint, while only ~2/(window+1) of gram hashes are kept
    — the local, position-aware fingerprint the MinHash family (a global
    set sketch) cannot provide. Docs shorter than ``window`` grams keep
    their single global minimum (one fingerprint), so no non-empty doc
    fingerprints to nothing.

    100 TB shape: one projection chain (normalize → split → gram explode
    → hash, all codegen) feeds ONE doc-keyed window — per-doc state, no
    global sort, skew bounded by document length — then a distinct on
    8-byte fingerprints. The rightmost-min tiebreak is a struct-min
    ``(h, -pos)``, not a second window pass.
    """
    from pyspark.sql.window import Window

    base = _fan_out_small_scan(
        df.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("__t")
        )
    ).select("doc", F.split(_norm_text("__t"), r"\s+").alias("__w"))
    idx = F.explode(F.sequence(F.lit(0), F.greatest(F.size("__w") - k, F.lit(0))))
    gram = F.concat_ws(" ", F.slice("__w", F.col("__i") + 1, k))
    grams = base.select(
        "doc",
        (F.greatest(F.size("__w") - k, F.lit(0)) + 1).alias("__n"),
        idx.alias("__i"),
        F.col("__w"),
    ).select(
        "doc", "__n", F.col("__i").alias("pos"), md5_int64(gram).alias("h")
    )
    w = (
        Window.partitionBy("doc")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    sel = F.min(F.struct(F.col("h"), (-F.col("pos")).alias("np"))).over(w)
    return (
        grams.select("doc", "__n", "pos", sel.alias("__sel"))
        # only full windows select (tail windows are suffixes of an
        # earlier full window); a doc with fewer grams than the window
        # keeps its single truncated window at pos 0
        .where(F.col("pos") <= F.greatest(F.col("__n") - window, F.lit(0)))
        .select(
            "doc",
            F.col("__sel.h").alias("fp"),
            (-F.col("__sel.np")).alias("pos"),
        )
        .distinct()
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Candidate near-dup/plagiarism pairs by shared winnowing
    fingerprints: inverted-index self-join on the fingerprint (shuffle
    key = 8-byte fp, never a cross join), count distinct shared
    fingerprints per pair, keep pairs with ≥ ``min_shared``. Output
    ``(doc_a, doc_b, n_shared)``.

    ``max_doc_freq`` drops boilerplate fingerprints (those appearing in
    more than that many docs) before the self-join — the same fan-out
    cap discipline as ``jaccard_pairs``; set it for any at-scale run.
    Winnowing keeps ~2/(window+1) of the gram table, so the join input
    is ~3x smaller than the same-k Jaccard index before the cap.
    """
    # checkpoint before the cap: the doc-freq aggregate AND the semi-join
    # input both consume the fingerprint table — without the boundary the
    # gram + window selection chain re-derives per consumer
    fp = (
        winnow_fingerprints(df, id_col, text_col, k, window)
        .select("doc", "fp")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if max_doc_freq is not None:
        keep = (
            fp.groupBy("fp")
            .agg(F.countDistinct("doc").alias("__df"))
            .where(F.col("__df") <= max_doc_freq)
            .select("fp")
        )
        fp = fp.join(keep, "fp", "left_semi")
    fp = fp.localCheckpoint(eager=False)
    a = fp.alias("a")
    b = fp.hint("shuffle_hash").alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT set-Jaccard pairs at a threshold via PREFIX FILTERING (the
    PPJoin family, Xiao et al. 2008) — the third member of the
    pair-generation triangle: `jaccard_pairs` indexes the FULL token
    space (its `max_doc_freq` cap trades exactness for bounded fan-out),
    `minhash_lsh_pairs` is probabilistic; this one is exact AND pruned.

    Prefix theorem: order every doc's distinct tokens by global rarity
    (doc-freq asc, token asc — one total order for the whole corpus);
    two sets with Jaccard ≥ t MUST share a token within each one's
    first ``|d| − ceil(t·|d|) + 1`` tokens, so indexing only those
    prefixes finds every qualifying pair, and candidates bind on RARE
    tokens by construction (the common-token fan-out the full index
    pays lives in the suffixes). Verification is exact: the candidate
    pair's token arrays travel to one `array_intersect` projection —
    candidate-sized, never corpus-sized.

    Sets are hashed 3-word shingles — the family's near-dup
    representation: shingle rarity is what makes the prefix SELECTIVE;
    plain words on natural language co-occur so broadly that word-level
    prefixes barely prune (measured 25 s vs ~2 s on the same corpus).
    ``ceil`` carries a −1e-9 slack so a
    floating-point ``t·n`` landing one ulp ABOVE an exact integer
    cannot shorten the prefix below the theorem's length (errs toward
    a longer prefix — more candidates, never a missed pair). Null-text
    docs have no shingles and pair with nothing. Output: ``(doc_a, doc_b,
    jaccard)`` (a < b, rounded 6 dp), every pair with J ≥ threshold.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"jaccard_pairs_prefix: threshold must be in (0, 1], got {threshold}"
        )
    toks = (
        _shingle_rows(df, id_col, text_col, k=3, hashed=True)
        .select("doc", F.col("sh").alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)  # consumers: doc-freq + arrays
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("__df"))
    arrs = (
        toks.join(freq, "tok")
        .groupBy("doc")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("__df"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ).alias("toks"),
            F.count("*").alias("n"),
        )
        .localCheckpoint(eager=False)  # consumers: prefix + both verify sides
    )
    plen = (
        F.col("n")
        - F.ceil(F.lit(float(threshold)) * F.col("n") - F.lit(1e-9))
        + 1
    ).cast("int")
    prefix = arrs.select(
        "doc", "n", F.explode(F.slice(F.col("toks"), 1, plen)).alias("tok")
    )
    # PPJoin length filter: J ≥ t forces min(|a|,|b|) ≥ t·max(|a|,|b|)
    # (|a∩b| ≤ min, |a∪b| ≥ max), so band the candidate join on sizes
    # BEFORE the distinct + exact verify — same −1e-9 slack discipline as
    # the prefix length (errs toward keeping a candidate, never drops a
    # qualifying pair)
    t = F.lit(float(threshold))
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (F.col("b.n") >= F.col("a.n") * t - F.lit(1e-9))
            & (F.col("a.n") >= F.col("b.n") * t - F.lit(1e-9)),
        )
        .select(F.col("a.doc").alias("da"), F.col("b.doc").alias("db"))
        .distinct()
    )
    va = arrs.select(
        F.col("doc").alias("da"), F.col("toks").alias("__ta"), F.col("n").alias("__na")
    )
    vb = arrs.select(
        F.col("doc").alias("db"), F.col("toks").alias("__tb"), F.col("n").alias("__nb")
    )
    inter = F.size(F.array_intersect(F.col("__ta"), F.col("__tb")))
    jac = inter / (F.col("__na") + F.col("__nb") - inter)
    return (
        cand.join(va, "da")
        .join(vb, "db")
        .where(jac >= F.lit(float(threshold)))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )
