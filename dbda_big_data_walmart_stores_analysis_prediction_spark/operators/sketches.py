"""Bloom-filter membership sketch — the 100 TB daily-ingest prefilter.

The incremental-dedup operator (``dedup.dedup_incremental``) answers
"is this batch doc a duplicate of the corpus" with an anti-join against
the corpus fingerprint table: exact, but the corpus side is O(corpus)
rows shipped through a shuffle every run. At web scale the standing
corpus state you actually want to keep hot is a SKETCH: a Bloom bitset
over the corpus fingerprints is ~1.2 MB for 1M docs at 1% false-positive
rate (m ≈ 9.6 bits/key, k = 7), broadcastable to every executor, and the
batch probe becomes one explode + broadcast join + aggregate — the
corpus is touched ZERO times at probe time (RETRO-style decontamination
and CCNet-style incremental ingest both run exactly this shape).

Both halves are deterministic md5 constructions (`md5_int64` over salted
keys), so Bloom membership — INCLUDING its false positives — is a pure
function of (corpus, m, k) that a SQL oracle replicates bit-for-bit:
a key "hits" iff all k of its bit positions are set by some corpus key.
A Bloom hit therefore means "maybe duplicate, confirm exactly"; a miss
is definitive. The intended composition is
``bloom_probe → hit-slice-only exact confirm`` — only the (tiny)
hit slice ever pays the real anti-join.

Plan shapes, sized for 100 TB:

* ``bloom_bitset``: one explode (k rows/key) + one map-side-combinable
  ``bit_or`` aggregate keyed by the word index → at most ``ceil(m/62)``
  rows regardless of corpus size. Words pack 62 bits, not 64: the
  oracle engine raises on ``1::BIGINT << 63`` (signed overflow) and
  bit 62 would put the sign bit in play, so the portable packing stops
  at shift 61 — 3% more words, bit-identical semantics in both engines. Build once, store as
  the corpus's standing sketch; rebuilds are append-only unions
  (``bit_or`` of two bitsets is the bitset of the union).
* ``bloom_probe``: explode the batch's k positions, broadcast-join the
  bitset on word index, one all-bits-present aggregate per key. No
  Python, no UDF — the whole probe is codegen + one broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.hashing import (
    md5_int64,
)


def _positions(key: Column, m_bits: int, k: int) -> Column:
    """Array of the key's k Bloom bit positions: independent hash functions
    via salt prefixes (``bloom{i}:key``), each reduced mod m. Deterministic
    and SQL-replicable — the salted-md5 convention every oracle-facing
    hash in this engine uses."""
    return F.array(
        *[
            F.pmod(
                md5_int64(F.concat(F.lit(f"bloom{i}:"), key.cast("string"))),
                F.lit(m_bits),
            )
            for i in range(k)
        ]
    )


def bloom_bitset(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """Build the Bloom bitset of ``df[key_col]`` as ``(word_idx, word)``
    rows — the set bits packed into 62-bit words (see the module note on the
    oracle-portable packing), at most ``ceil(m/62)`` rows total. Null keys are skipped (a null has no fingerprint; probing
    null returns no row, consistent with the anti-join it accelerates).

    Sizing rule of thumb: false-positive rate ≈ 0.6185^(m/n); m/n = 10
    bits per key with k = 7 gives ~0.8%. The default 2^20 bits (16 KB of
    words) covers ~100k keys at 1%; scale m with the corpus — even
    10^10 keys at 1% is ~12 GB of bitset, which stays a broadcast-range
    artifact after the word-level aggregate prunes unset words."""
    pos = F.explode(
        _positions(F.col(key_col), m_bits, k)
    ).alias("__pos")
    return (
        df.where(F.col(key_col).isNotNull())
        .select(pos)
        .select(
            (F.col("__pos") / 62).cast("bigint").alias("word_idx"),
            # F.shiftleft only takes a LITERAL shift amount; the SQL form
            # accepts a column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 62 AS INT))").alias(
                "__bit"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    bitset: DataFrame,
    key_col: str,
    id_col: str,
    m_bits: int = 1 << 20,
    k: int = 7,
) -> DataFrame:
    """Probe every row's ``key_col`` against a ``bloom_bitset`` built with
    the SAME (m_bits, k): returns ``(id, bloom_hit)`` where ``bloom_hit``
    is TRUE iff all k bit positions are set — "maybe in the corpus". A
    FALSE is a definitive miss; route only the TRUE slice to an exact
    confirm. Null keys yield ``bloom_hit`` FALSE (nothing to match).
    Duplicate ids are safe: the all-bits test compares set positions
    against the id's OWN exploded row count (k per occurrence), not the
    literal k, so a true member keeps its no-false-negative guarantee
    even when the probe frame repeats an id.

    The bitset is broadcast (bounded by ``ceil(m/62)`` rows); the probe
    side is one explode + broadcast LEFT join + one count aggregate —
    map-side only, the probed frame never shuffles on anything but its
    own aggregate key, and the corpus is not touched at all."""
    pos = df.select(
        F.col(id_col),
        F.explode(_positions(F.col(key_col), m_bits, k)).alias("__pos"),
    ).select(
        id_col,
        (F.col("__pos") / 62).cast("bigint").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 62 AS INT))").alias(
            "__bit"
        ),
    )
    # A null key still yields k exploded rows (the POSITIONS array is
    # non-null with null elements), each a broadcast-join miss → __set 0
    # → bloom_hit FALSE — so every input id reaches the aggregate and no
    # restore join is needed (the first version re-joined df on id "for
    # null keys": a corpus-sized shuffle paying for rows the explode
    # already carries).
    return (
        pos.join(F.broadcast(bitset), "word_idx", "left")
        .select(
            id_col,
            (
                F.coalesce(
                    F.col("word").bitwiseAND(F.col("__bit")) != 0, F.lit(False)
                )
            ).cast("int").alias("__set"),
        )
        .groupBy(id_col)
        # == count(*), not == k: a duplicated id contributes k rows PER
        # occurrence, and sum(__set) == k would call a true member a
        # "definitive miss" — breaking the one guarantee a Bloom filter
        # makes. For unique ids count(*) IS k, so the plans are identical.
        .agg((F.sum("__set") == F.count("*")).alias("bloom_hit"))
    )


def count_min_table(
    df: DataFrame,
    key_col: str,
    w: int = 1024,
    d: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Count-Min sketch of ``df[key_col]`` occurrences as ``(row, col,
    cnt)`` — the bounded-memory frequency table: ``d*w`` cells regardless
    of key cardinality, which is the point at 100 TB where the
    distinct-word table itself stops fitting anywhere (boilerplate
    n-gram tracking, streaming heavy-hitter state). Each occurrence
    lands in row i at ``md5("cms{i}:" + key) % w``; the build is one
    explode (d rows/input row) + one map-side-combinable sum.
    Deterministic md5 hashing, so estimates — including their one-sided
    overcounts — replicate bit-for-bit in the SQL oracle.

    ``weight_col`` feeds PRE-AGGREGATED counts: cells from a
    ``(key, n)`` frequency table are bit-identical to cells from the raw
    occurrence stream (the cell sum distributes over the groupBy), but
    the d-way explode then fans out DISTINCT keys instead of every
    occurrence — at corpus scale that is d fewer corpus-sized passes
    for one extra hash aggregate the caller usually has anyway
    (measured on q92: the occurrence-level build's 4x explode was the
    whole gap to the oracle).

    Two CMS tables over disjoint batches merge by cellwise sum (the
    append-only rebuild property, like `bloom_bitset`'s bit_or)."""
    rows = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("__row")
    weight = (
        F.col("__wt") if weight_col is not None else F.lit(1).cast("bigint")
    )
    cols = [F.col(key_col).alias("__k")] + (
        [F.col(weight_col).cast("bigint").alias("__wt")]
        if weight_col is not None
        else []
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(*cols, rows)
        .select(
            F.col("__row").alias("row"),
            F.pmod(
                md5_int64(
                    F.concat(
                        F.lit("cms"),
                        F.col("__row").cast("string"),
                        F.lit(":"),
                        F.col("__k").cast("string"),
                    )
                ),
                F.lit(w),
            ).alias("col"),
            weight.alias("__w"),
        )
        .groupBy("row", "col")
        .agg(F.sum("__w").alias("cnt"))
    )


def count_min_lookup(
    df: DataFrame,
    cms: DataFrame,
    key_col: str,
    w: int = 1024,
    d: int = 4,
    est_col: str = "cms_estimate",
) -> DataFrame:
    """Point-estimate each row's ``key_col`` frequency against a
    ``count_min_table`` built with the SAME (w, d): appends ``est_col`` =
    min over the key's d cells (the classic CMS upper bound — never under
    the true count, over only on hash collisions). The cms table is
    broadcast (≤ d*w rows by construction); the probe is one explode +
    broadcast join + a min aggregate — the same zero-corpus-touch posture
    as `bloom_probe`. Null keys estimate 0."""
    rows = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("__row")
    probes = df.select(F.col(key_col).alias("__k")).distinct().select(
        "__k", rows
    ).select(
        "__k",
        F.col("__row").alias("row"),
        F.pmod(
            md5_int64(
                F.concat(
                    F.lit("cms"),
                    F.col("__row").cast("string"),
                    F.lit(":"),
                    F.col("__k").cast("string"),
                )
            ),
            F.lit(w),
        ).alias("col"),
    )
    est = (
        probes.join(F.broadcast(cms), ["row", "col"], "left")
        .groupBy("__k")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias(est_col))
    )
    return df.join(
        est, df[key_col] == est["__k"], "left"
    ).select(
        *[df[c] for c in df.columns],
        F.coalesce(est[est_col], F.lit(0)).alias(est_col),
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    p: int = 12,
) -> DataFrame:
    """HyperLogLog distinct-count estimate (Flajolet et al. 2007) as ONE
    deterministic, oracle-portable plan — unlike
    ``approx_count_distinct`` (whose HLL++ registers are engine-internal
    and only testable to a tolerance), every piece here is the engine's
    salted-md5 convention, so a SQL oracle reproduces the ESTIMATE
    bit-for-bit, sketch noise and all:

    * bucket = ``md5_int64(key) % 2^p``; the remaining 60-p bits are the
      rank domain, with rank derived from ``length(bin(w))`` — a STRING
      length, because ``floor(log2(w))`` is a libm call that can differ
      by 1 ulp at exact powers of two across engines.
    * the register sum Σ 2^(-rank) is kept EXACT by scaling to integers
      (Σ 2^(maxrank-rank), < 2^60 at p=12): float addition of dyadic
      terms spanning 2^0..2^-49 needs a 61-bit mantissa, so summing in
      doubles would make the result depend on partition order. One
      int64 sum is order-free; floats appear only in the final
      division/log, which are single correctly-rounded IEEE ops.
    * small-range branch (V empty registers > 0 and raw ≤ 2.5m) uses
      linear counting m·ln(m/V); the 2^32 large-range correction is
      deliberately omitted (the hash space is 2^60). ``ln`` is the one
      op where libm could differ in the last ulp — the estimate is
      rounded to 4dp, so a mismatch needs a value within 1 ulp of a
      .00005 boundary (fixture-fixed, never observed).

    Returns one row ``(hll_estimate double)``. Build shape: one scan →
    hash projection → (bucket, max rank) aggregate (≤ 2^p rows, map-side
    combinable) → one scalar aggregate. The register table is the
    mergeable state: max per bucket across batches = the union's sketch
    (`hll_registers` exposes it; `hll_estimate` reads it back — the
    split the streaming fold uses).
    Standard error ≈ 1.04/√m (~1.6% at p=12)."""
    return hll_estimate(hll_registers(df, key_col, p), p)


def hll_registers(df: DataFrame, key_col: str, p: int = 12) -> DataFrame:
    """The HLL (bucket, max-rank) register table — `hll_distinct`'s
    mergeable state: registers of two batches merge by per-bucket MAX,
    and max-merge of disjoint batches == the union's registers. ≤ 2^p
    rows, map-side combinable. The zero-group case of
    `hll_registers_by` — ONE copy of the oracle-critical register
    numerics keeps the q93/q164 hash checks from ever diverging."""
    return hll_registers_by(df, [], key_col, p)


def _hll_estimate_col(used: Column, S: Column, p: int) -> Column:
    """The HLL estimate as a column over (used registers, scaled register
    sum) — shared verbatim by the global and per-group readers so both
    stay bit-identical to the q93 oracle numerics."""
    m = 1 << p
    maxrank = 61 - p
    alpha = 0.7213 / (1 + 1.079 / m)
    two_pow = float(1 << maxrank)
    raw = F.lit(alpha * m * m) / (S / F.lit(two_pow) + (F.lit(m) - used))
    return F.round(
        F.when(
            (F.lit(m) - used > 0) & (raw <= F.lit(2.5 * m)),
            F.lit(float(m)) * F.log(F.lit(float(m)) / (F.lit(m) - used)),
        ).otherwise(raw),
        4,
    )


def hll_estimate(regs: DataFrame, p: int = 12) -> DataFrame:
    """The estimate read off a `hll_registers` table (one row,
    ``hll_estimate double``) — see `hll_distinct` for the numerics."""
    maxrank = 61 - p
    agg = regs.agg(
        F.count("*").alias("used"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({maxrank} - r AS INT))"
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("S"),
    )
    return agg.select(
        _hll_estimate_col(F.col("used"), F.col("S"), p).alias("hll_estimate")
    )


def hll_registers_by(
    df: DataFrame,
    group_cols: list[str] | str,
    key_col: str,
    p: int = 12,
) -> DataFrame:
    """`hll_registers` keyed: the per-group (bucket, max-rank) table —
    ≤ groups × 2^p rows, map-side combinable, and mergeable across
    batches by per-(group, bucket) MAX (the streaming fold's state)."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    m = 1 << p
    maxrank = 61 - p
    h = md5_int64(F.col(key_col).cast("string"))
    return (
        df.where(F.col(key_col).isNotNull())
        .select(*groups, h.alias("__h"))
        .select(
            *groups,
            F.pmod(F.col("__h"), F.lit(m)).alias("bucket"),
            F.expr(f"__h div {m}").alias("__w"),
        )
        .select(
            *groups,
            "bucket",
            F.when(F.col("__w") == 0, F.lit(maxrank))
            .otherwise(F.lit(maxrank) - F.length(F.bin("__w")))
            .alias("r"),
        )
        .groupBy(*groups, "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_distinct_by(
    df: DataFrame,
    group_cols: list[str] | str,
    key_col: str,
    p: int = 12,
) -> DataFrame:
    """PER-GROUP HyperLogLog distinct estimate — `hll_distinct` keyed:
    one row ``(*group_cols, hll_estimate)`` per group, same
    oracle-portable numerics (the estimate itself hash-checks, q93's
    argument). The 100 TB shape for "distinct users per segment":
    exact ``count(DISTINCT)`` per group shuffles every (group, key)
    pair; this shuffles at most ``groups × 2^p`` register rows, all
    map-side combinable, and the per-group state is mergeable across
    batches by the same bucket-max rule the streaming fold uses.

    Groups whose keys are all null vanish (no registers — the same
    rule as the global form's null filter); callers wanting them report
    an explicit 0 via a left join."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    m = 1 << p
    maxrank = 61 - p
    regs = hll_registers_by(df, groups, key_col, p)
    agg = regs.groupBy(*groups).agg(
        F.count("*").alias("__used"),
        F.coalesce(
            F.sum(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST({maxrank} - r AS INT))"
                )
            ),
            F.lit(0).cast("bigint"),
        ).alias("__S"),
    )
    return agg.select(
        *groups,
        _hll_estimate_col(F.col("__used"), F.col("__S"), p).alias(
            "hll_estimate"
        ),
    )


_TWO_60 = 1 << 60  # the md5_int64 hash-space size (q82's Gumbel constant)


def kmv_mins(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """A side's KMV sketch: the k smallest DISTINCT ``md5_int64`` hashes
    of ``key_col`` as one ``h`` column — a distinct hash aggregate under
    a TakeOrderedAndProject (per-partition heaps; the corpus hash space
    is never fully sorted), materialized once for `theta_overlap`'s
    multiple consumers."""
    return (
        df.where(F.col(key_col).isNotNull())
        .select(md5_int64(F.col(key_col).cast("string")).alias("h"))
        .groupBy("h")
        .agg(F.lit(1).alias("__one"))
        .select("h")
        .orderBy("h")
        .limit(k)
        .localCheckpoint(eager=False)
    )


def theta_overlap(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    k: int = 1024,
) -> DataFrame:
    """KMV/theta-sketch set-operation estimates between two key sets
    (Dasgupta et al., "Theta-Sketch Framework", 2016): one row
    ``(est_distinct_a, est_distinct_b, est_union, est_intersection)``,
    each rounded to 4dp. THE cross-source overlap audit at sketch cost:
    comparing two crawls' distinct-content overlap exactly needs a
    corpus×corpus distinct join; here each side is reduced to its k
    smallest distinct md5 hashes (one TakeOrderedAndProject over a hash
    aggregate — bounded driver-free state, mergeable by re-taking the k
    smallest of a union), and every estimate is arithmetic over ≤k-row
    frames.

    Estimator: θ = min of the two sides' k-th smallest hash (a side with
    fewer than k distinct keys contributes θ = 2^60, i.e. "exact");
    entries < θ are uniform samples of density θ/2^60, so
    ``|sample| · 2^60 / θ`` estimates each cardinality — and
    degenerates to the EXACT count when both sides fit their sketches
    (θ = 2^60). Like every sketch in this module the construction is
    salted-md5-deterministic, so a SQL oracle replicates the estimates
    bit-for-bit, sampling error included. Relative error ~1/√k (≈3% at
    k=1024) for union/cardinalities; intersection error grows as the
    overlap shrinks (standard theta behavior).

    Keys are hashed from their string cast; null keys are ignored (no
    fingerprint). Ties are impossible (distinct hashes), so the k-th
    smallest is unique and both engines pick identical sketch contents."""

    sa, sb = kmv_mins(a, key_col, k), kmv_mins(b, key_col, k)

    def theta_of(s: DataFrame) -> DataFrame:
        return s.agg(
            F.when(F.count("*") < k, F.lit(_TWO_60))
            .otherwise(F.max("h"))
            .alias("th")
        )

    theta = (
        theta_of(sa)
        .crossJoin(theta_of(sb).withColumnRenamed("th", "th_b"))
        .select(F.least("th", "th_b").alias("theta"))
    )
    fa = sa.crossJoin(F.broadcast(theta)).where(F.col("h") < F.col("theta"))
    fb = sb.crossJoin(F.broadcast(theta)).where(F.col("h") < F.col("theta"))
    # all three counts from ONE full-outer join + ONE aggregate (three
    # separate count aggregates + their 1-row crossJoins were ~4 extra
    # stages of pure floor on ≤k-row frames)
    counts = (
        fa.select("h", F.lit(1).alias("__ina"))
        .join(fb.select("h", F.lit(1).alias("__inb")), "h", "full_outer")
        .agg(
            F.count("__ina").alias("na"),
            F.count("__inb").alias("nb"),
            F.count(
                F.when(
                    F.col("__ina").isNotNull() & F.col("__inb").isNotNull(), 1
                )
            ).alias("ni"),
        )
    )

    def est(n_col: str) -> F.Column:
        return F.round(
            F.col(n_col).cast("double") * F.lit(float(_TWO_60)) / F.col("theta"),
            4,
        )

    return (
        theta.crossJoin(F.broadcast(counts))
        .select(
            est("na").alias("est_distinct_a"),
            est("nb").alias("est_distinct_b"),
            F.round(
                (F.col("na") + F.col("nb") - F.col("ni")).cast("double")
                * F.lit(float(_TWO_60))
                / F.col("theta"),
                4,
            ).alias("est_union"),
            est("ni").alias("est_intersection"),
        )
    )


def kmv_group_sketches(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    pre_hashed: bool = False,
    n_shards: int = 64,
    distinct: bool = True,
) -> DataFrame:
    """Per-GROUP KMV sketches in one pass: the k smallest distinct
    ``md5_int64`` hashes of ``key_col`` within each ``group_col`` value,
    as ``(g, h)`` rows (≤ groups·k total). The grouped twin of
    `kmv_mins` — one corpus scan yields a bounded sketch table for EVERY
    source/crawl/snapshot at once, instead of one `kmv_mins` job per
    group.

    Exact-k-min is mergeable (the k smallest of a union are among the
    union of each part's k smallest), so the take runs TWO-LEVEL: a
    shard-local ``row_number`` bounds every sort partition to one
    (group, shard) slice of the hash stream, then a second window
    re-takes the k smallest of the ≤ n_shards·k survivors per group.
    No single task ever sorts a whole group's distinct-hash stream —
    the property a flat per-group window cannot offer when one crawl
    dominates the corpus. Result is IDENTICAL to the flat take, which
    is what a SQL oracle runs.

    ``pre_hashed=True`` declares ``key_col`` already carries
    ``md5_int64`` values (e.g. `shingle_table(..., hashed=True)`
    output) and skips the re-hash. ``distinct=False`` declares the
    input already carries SET semantics on (group, key) — e.g.
    `shingle_table`'s output, which is distinct by contract — and
    skips the dedup exchange (a redundant corpus-scale shuffle
    otherwise; duplicate rows under ``distinct=False`` would double-
    count inside the take and are the CALLER's contract violation).
    Null keys and null groups carry no information and are dropped."""
    from pyspark.sql import Window

    h = (
        F.col(key_col)
        if pre_hashed
        else md5_int64(F.col(key_col).cast("string"))
    )
    hashed = df.where(
        F.col(key_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("g"), h.alias("h"))
    if distinct:
        hashed = hashed.distinct()
    lvl1 = Window.partitionBy("g", F.pmod("h", F.lit(n_shards))).orderBy("h")
    lvl2 = Window.partitionBy("g").orderBy("h")
    return (
        hashed.withColumn("__rn", F.row_number().over(lvl1))
        .where(F.col("__rn") <= k)
        .withColumn("__rn", F.row_number().over(lvl2))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_overlap_matrix(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 128,
    pre_hashed: bool = False,
    n_shards: int = 64,
    distinct: bool = True,
) -> DataFrame:
    """Pairwise cross-source content overlap from ONE corpus scan: for
    every unordered pair of ``group_col`` values, the `theta_overlap`
    estimates (distinct cardinalities, union, intersection) plus the
    estimated Jaccard — the S×S contamination/provenance audit a
    multi-crawl ingest runs before choosing mixture weights. Exact
    pairwise answers need S² distinct joins over the corpus; here the
    corpus is touched ONCE (`kmv_group_sketches`), and everything
    after is arithmetic over ≤ S·k sketch rows — S² never multiplies
    against data size.

    Per pair (a, b): θ = min of the two sides' k-th smallest hash (a
    side with fewer than k distinct keys contributes θ = 2^60, i.e.
    exact); sketch entries below θ are uniform density-θ/2^60 samples,
    so ``n · 2^60 / θ`` estimates each cardinality and degenerates to
    the exact count when both sides fit their sketches. Jaccard is the
    pure ratio ``ni / (na + nb − ni)`` (θ cancels), 0.0 for two empty
    sides. Deterministic md5 construction end to end — a SQL oracle
    reproduces every estimate bit-for-bit, sampling error included.

    Output: ``(src_a, src_b, est_distinct_a, est_distinct_b,
    est_union, est_intersection, est_jaccard)``, one row per pair with
    ``src_a < src_b``, estimates rounded to 4 dp."""
    sk = kmv_group_sketches(
        df,
        key_col,
        group_col,
        k,
        pre_hashed=pre_hashed,
        n_shards=n_shards,
        distinct=distinct,
    ).localCheckpoint(eager=False)
    th = sk.groupBy("g").agg(
        F.when(F.count("*") < k, F.lit(_TWO_60))
        .otherwise(F.max("h"))
        .alias("th")
    )
    pairs = (
        th.select(F.col("g").alias("src_a"), F.col("th").alias("__tha"))
        .join(
            th.select(F.col("g").alias("src_b"), F.col("th").alias("__thb")),
            F.col("src_a") < F.col("src_b"),
        )
        .select(
            "src_a", "src_b", F.least("__tha", "__thb").alias("theta")
        )
        .localCheckpoint(eager=False)
    )

    def side_count(side: str) -> DataFrame:
        return (
            sk.join(
                F.broadcast(pairs),
                (F.col("g") == F.col(side))
                & (F.col("h") < F.col("theta")),
            )
            .groupBy("src_a", "src_b")
            .agg(F.count("*").alias(f"__n{side[-1]}"))
        )

    inter = (
        sk.select(F.col("g").alias("__ga"), "h")
        .join(
            sk.select(F.col("g").alias("__gb"), F.col("h").alias("__hb")),
            (F.col("h") == F.col("__hb")) & (F.col("__ga") < F.col("__gb")),
        )
        .join(
            F.broadcast(pairs),
            (F.col("__ga") == F.col("src_a"))
            & (F.col("__gb") == F.col("src_b"))
            & (F.col("h") < F.col("theta")),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("__ni"))
    )
    keys = ["src_a", "src_b"]
    na = F.coalesce("__na", F.lit(0)).cast("bigint")
    nb = F.coalesce("__nb", F.lit(0)).cast("bigint")
    ni = F.coalesce("__ni", F.lit(0)).cast("bigint")
    nu = na + nb - ni

    def est(n) -> Column:
        return F.round(
            n.cast("double") * F.lit(float(_TWO_60)) / F.col("theta"), 4
        )

    return (
        pairs.join(side_count("src_a"), keys, "left")
        .join(side_count("src_b"), keys, "left")
        .join(inter, keys, "left")
        .select(
            "src_a",
            "src_b",
            est(na).alias("est_distinct_a"),
            est(nb).alias("est_distinct_b"),
            est(nu).alias("est_union"),
            est(ni).alias("est_intersection"),
            F.when(nu > 0, F.round(ni.cast("double") / nu.cast("double"), 4))
            .otherwise(F.lit(0.0))
            .alias("est_jaccard"),
        )
    )
