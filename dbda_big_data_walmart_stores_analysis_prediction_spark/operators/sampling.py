"""Deterministic sampling operators.

The engine's probabilistic samplers (seeded Bernoulli ``df.sample``,
``randomSplit`` — SURVEY §2 M1/M2) are RNG-specific by nature, so the
driver can only rows-check them. This module holds the DETERMINISTIC
counterparts: hash-ordered selection, reproducible bit-for-bit across
engines and runs, which is what a training-data pipeline wants when a
corpus mix must be auditable ("the same 50% of English docs every rerun,
no matter the cluster size or task order").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.hashing import (
    md5_int64,
)


def _mix_hash(id_col: str, salt: str):
    return md5_int64(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string")))


# Above this many strata, `repeat_by_weight` resolves weights through a
# broadcast-joined literal frame instead of an N-deep when-chain (which
# whole-stage codegen would compile into every task).
_WIDE_STRATA_THRESHOLD = 100


def temperature_mix(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    alpha: float = 0.5,
    total_frac: float = 0.6,
    salt: str = "mix",
) -> DataFrame:
    """Temperature-flattened corpus mixing (the GPT-3 data-balancing rule):
    stratum ``s`` gets a quota ∝ ``n_s^alpha`` of a target corpus of
    ``ceil(total_frac * N)`` docs, capped at the stratum's own size —
    ``alpha < 1`` upweights small sources relative to their raw share, 1
    reduces to proportional sampling, 0 to equal shares. Selection within a
    stratum is the same hash-ordered deterministic rule as
    `stratified_sample`, so the kept set is a pure function of the data.

    Unlike `stratified_sample` the shares are DATA-DEPENDENT: quotas come
    from the stratum counts, not a caller dict, so the whole policy stays
    in-plan (no collect). Quota arithmetic rounds the real-valued quota to
    6 dp before the ceil, putting both engines' float noise far inside the
    rounding step so the oracle stays bit-reproducible.

    Plan: one tiny counts aggregate + its grand-total (both broadcast
    back), then one shuffle on the stratum shared by the rank window —
    same scale shape as `stratified_sample`, plus two broadcast joins of
    stratum-count-sized frames.

    NULL-stratum rows are excluded from BOTH the quota computation and the
    output (an unlabeled doc has no source to temperature-weight). Without
    the up-front filter the null stratum would get its own count/quota and
    inflate the grand total ``__N`` — raising every other stratum's quota —
    while the equi-join on ``strata_col`` silently drops the null rows
    anyway, so the realized total would undershoot ``ceil(total_frac*N)``.
    Pre-bucket nulls into a sentinel source if they should participate.
    """
    df = df.where(F.col(strata_col).isNotNull())
    counts = df.groupBy(strata_col).agg(F.count("*").alias("__n"))
    tots = counts.agg(
        F.sum(F.pow("__n", F.lit(float(alpha)))).alias("__z"),
        F.sum("__n").alias("__N"),
    )
    # alias-qualify: tots is derived FROM counts, so an unqualified __n is
    # ambiguous across the self-derived cross join's two children
    quotas = counts.alias("c").crossJoin(F.broadcast(tots).alias("t")).select(
        F.col(f"c.{strata_col}").alias(strata_col),
        F.least(
            F.col("c.__n").cast("double"),
            F.ceil(
                F.round(
                    F.ceil(F.col("t.__N") * F.lit(float(total_frac)))
                    * F.pow(F.col("c.__n"), F.lit(float(alpha)))
                    / F.col("t.__z"),
                    6,
                )
            ).cast("double"),
        ).alias("__q"),
    )
    by_stratum = Window.partitionBy(strata_col)
    return (
        df.join(F.broadcast(quotas), strata_col)
        .withColumn("__h", _mix_hash(id_col, salt))
        .withColumn("__rn", F.row_number().over(by_stratum.orderBy("__h", id_col)))
        .where(F.col("__rn") <= F.col("__q"))
        .drop("__h", "__rn", "__q")
        .select(*df.columns)
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    id_col: str,
    default_fraction: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Keep a deterministic ``fractions[stratum]`` share of each stratum.

    Rows are ranked inside their stratum by ``md5(salt:id)`` — a
    pseudo-random but reproducible order — and the first
    ``ceil(fraction * stratum_size)`` survive (so any stratum with a
    positive fraction keeps at least one row). Strata missing from
    ``fractions`` fall back to ``default_fraction``; 0.0 drops them.

    This is the corpus-mixing primitive ("50% en, 25% de, 10% of the
    rest"): unlike ``sampleBy`` the kept set is a pure function of the
    data, so reruns, retries, and differently-partitioned clusters all
    produce the identical corpus, and a SQL oracle can replicate it
    row-for-row.

    Plan: one shuffle on the stratum; both window functions (rank and
    stratum count) reuse the same partitioning. The in-stratum sort is the
    cost at scale — for strata of billions of rows where an approximate
    share is acceptable, ``df.sampleBy`` is the cheaper shuffle-free
    alternative; this operator's niche is exactness + reproducibility.
    """
    h = _mix_hash(id_col, salt)
    frac = F.lit(float(default_fraction))
    for value, share in sorted(fractions.items()):
        frac = F.when(F.col(strata_col) == F.lit(value), F.lit(float(share))).otherwise(
            frac
        )
    by_stratum = Window.partitionBy(strata_col)
    return (
        df.withColumn("__h", h)
        .withColumn("__rn", F.row_number().over(by_stratum.orderBy("__h", id_col)))
        .withColumn("__cnt", F.count("*").over(by_stratum))
        .where(F.col("__rn") <= F.ceil(F.col("__cnt") * frac))
        .drop("__h", "__rn", "__cnt")
    )


def hash_sample_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n: int,
    salt: str = "sample",
    rank_col: str = "sample_rank",
) -> DataFrame:
    """Keep a deterministic FIXED-SIZE sample of ``n`` rows per group:
    rows rank inside their group by ``md5(salt:id)`` (pseudo-random,
    reproducible) and the first n survive, with the rank exposed as
    ``rank_col``. The eval-set carving primitive ("3 held-out docs per
    language/source"): unlike seeded Bernoulli sampling the result is a
    pure function of (data, salt) — exact sizes, identical across
    reruns/cluster shapes, and row-for-row SQL-oracle-replicable.
    Complements `stratified_sample` (deterministic FRACTION per
    stratum).

    Plan: one shuffle on the group key, and the row_number-≤-n filter
    compiles to WindowGroupLimit (per-partition top-n pruning BEFORE the
    sort — the q09 top-k-per-group machinery), so a billion-row group
    costs a bounded heap per task, not a full in-group sort."""
    h = _mix_hash(id_col, salt)
    # asc_nulls_last, not bare asc: a null id hashes to a null __h, and
    # Spark's default ASC is NULLS FIRST while the SQL oracle's ORDER BY
    # defaults NULLS LAST — the exact cross-engine rank-divergence class
    # the round-6 adversarial battery caught on windows. Null-id rows
    # rank after every real row in both engines.
    w = Window.partitionBy(group_col).orderBy(
        F.col("__h").asc_nulls_last(), F.col(id_col).asc_nulls_last()
    )
    return (
        df.withColumn("__h", h)
        .withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= n)
        .drop("__h")
    )


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much more likely it is under a hashed-n-gram unigram model of
    the TARGET distribution than under the same model of the raw corpus.

    Features are word unigrams + bigrams (with multiplicity — bag of
    n-grams, not a set) over the shared content normalization
    (`norm_text_col`), hashed into ``n_buckets`` buckets with the
    oracle-portable md5-int64 so an external SQL engine reproduces every
    bucket id bit-for-bit. Both distributions use add-one smoothing over
    the bucket vocabulary, so

        log w(x) = sum_g [ln(ct_b(g)+1) - ln(cr_b(g)+1)]
                   + |x| * [ln(Nr + B) - ln(Nt + B)]

    where ct/cr are target/raw bucket counts, Nt/Nr the total gram counts
    and B the bucket count. Higher means "more target-like". The absolute
    sign is NOT meaningful under add-one smoothing (sparse buckets drag
    every doc slightly negative), so the selection bit is RELATIVE:
    ``keep`` = the doc's per-gram average log ratio exceeds the corpus
    mean of that quantity — one scalar aggregate broadcast back, no sort,
    no quantile. DSIR proper resamples ∝ w; pair with
    `stratified_sample`/`temperature_mix` for a quota'd selection.

    Output: one row per raw doc — (``id_col``, ``n_grams``,
    ``log_importance`` rounded to 4 dp, ``avg_logratio`` = rounded
    per-gram ratio, ``keep``). Docs with no grams (null/empty text)
    survive with n_grams=0, weight 0.0, keep=false: scoring is a
    projection over the corpus, never a silent filter.

    Plan shape at 100 TB: the raw corpus is scanned and exploded ONCE —
    the gram stream pre-aggregates map-side to (doc, bucket, multiplicity)
    and that bounded frame (≤ docs × min(2·tokens−1, B) rows) is
    lazy-checkpointed to feed both the bucket stats (a tiny second
    aggregate down to ≤ ``n_buckets`` rows) and the multiplicity-weighted
    scoring sum. The stats tables BROADCAST to the scoring join, so the
    only full-data shuffle is the (doc, bucket) combine keyed on the doc
    id. The target frame is typically a curated sliver (Wikipedia-sized
    vs web-sized raw), scanned once for its stats, never joined
    row-to-row.
    """
    from dbda_big_data_walmart_stores_analysis_prediction_spark.functions.text import (
        norm_words_col,
    )

    def gram_buckets(df: DataFrame) -> DataFrame:
        # Index-explode with the token array bound as a column (the
        # `_shingle_rows` idiom): the Generate node between the two
        # projections stops CollapseProject from re-inlining the split
        # into every gram — a lambda-over-transform build re-evaluated
        # the regex split per OUTPUT gram, O(tokens²) per doc (measured
        # 6.7 s vs 0.3 s for this stage at sf0.1). Indices 1..n are the
        # unigrams, n+1..2n-1 the bigrams.
        from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
            _fan_out_small_scan,
        )

        base = _fan_out_small_scan(
            df.where(F.col(text_col).isNotNull()).select(
                F.col(id_col).alias("doc"), F.col(text_col).alias("__t")
            )
        ).select(
            # norm_words_col filters boundary empties (tabs/newlines
            # survive F.trim) that would forge phantom " x" bigrams; docs
            # left with NO tokens must not reach the sequence builder
            # (sequence(1, -1) DESCENDS in Spark)
            "doc",
            norm_words_col("__t").alias("__w"),
        ).where(F.size("__w") >= 1)
        n = F.size("__w")
        idx = F.explode(F.sequence(F.lit(1), F.lit(2) * n - 1))
        gram = F.when(
            F.col("__i") <= F.size("__w"),
            F.element_at("__w", F.col("__i")),
        ).otherwise(
            F.concat_ws(" ", F.slice("__w", F.col("__i") - F.size("__w"), 2))
        )
        return (
            base.select("doc", "__w", idx.alias("__i"))
            .select("doc", gram.alias("g"))
            .where(F.col("g") != "")
            .select("doc", (md5_int64("g") % F.lit(n_buckets)).alias("b"))
        )

    raw_grams = gram_buckets(raw)
    tgt_grams = gram_buckets(target)
    # Lazy checkpoints (the dedup-module idiom): each stats frame is
    # ≤n_buckets rows but has TWO consumers (its total + the scoring
    # join), and `scored` has two (the corpus mean + the output).
    # Without the cut, Spark re-executes the full explode+md5 lineage per
    # consumer.
    # SINGLE PASS over the raw corpus: pre-aggregate the gram stream to
    # (doc, bucket, multiplicity) once — map-side combinable, bounded by
    # docs x min(2·tokens-1, n_buckets) rows — and derive BOTH the bucket
    # stats (tiny second aggregate) and the scoring sum (weighted by the
    # multiplicity) from it. Without this cut the raw explode+md5 lineage
    # executed twice: once under the stats aggregate and once under the
    # scoring join — two full corpus scans where one suffices (the r6
    # verdict's q80 finding).
    raw_doc_buckets = (
        raw_grams.groupBy("doc", "b")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=False)
    )
    raw_stats = (
        raw_doc_buckets.groupBy("b")
        .agg(F.sum("n").alias("cr"))
        .localCheckpoint(eager=False)
    )
    tgt_stats = (
        tgt_grams.groupBy("b")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint(eager=False)
    )
    # scalar totals, broadcast like temperature_mix's __N
    # coalesce: sum over an EMPTY stats frame is null, and a null total
    # would null out every weight (an all-empty target must still score)
    totals = (
        raw_stats.agg(F.coalesce(F.sum("cr"), F.lit(0)).alias("nr"))
        .crossJoin(tgt_stats.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt")))
    )

    scored = (
        raw_doc_buckets.join(F.broadcast(raw_stats), "b")
        .join(F.broadcast(tgt_stats), "b", "left")
        .groupBy("doc")
        .agg(
            F.sum("n").alias("n_grams"),
            F.sum(
                F.col("n")
                * (
                    F.log(F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1))
                    - F.log(F.col("cr") + F.lit(1))
                )
            ).alias("__s"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "doc",
            "n_grams",
            F.round(
                F.col("__s")
                + F.col("n_grams")
                * (
                    F.log(F.col("nr") + F.lit(float(n_buckets)))
                    - F.log(F.col("nt") + F.lit(float(n_buckets)))
                ),
                4,
            ).alias("log_importance"),
        )
        .select(
            "*",
            F.round(F.col("log_importance") / F.col("n_grams"), 4).alias(
                "avg_logratio"
            ),
        )
    )
    # per-doc frame (4 narrow columns), consumed twice — cheap to hold
    scored = scored.localCheckpoint(eager=False)
    # derived entirely from already-rounded values so an external oracle
    # lands on the identical mean (up to its own 6-dp rounding)
    mean_ratio = scored.agg(
        F.round(F.avg("avg_logratio"), 6).alias("__mean_ratio")
    )
    # Zero-gram docs are EXACTLY the null/whitespace-text docs (a non-empty
    # normalized text always yields >=1 gram), so restoring them is a
    # filtered scan + union — NOT a corpus-to-corpus left join back onto
    # `raw`, which would shuffle both sides on the id for no information.
    scored_out = (
        scored.withColumnRenamed("doc", id_col)
        .crossJoin(F.broadcast(mean_ratio))
        .select(
            id_col,
            "n_grams",
            "log_importance",
            "avg_logratio",
            (F.col("avg_logratio") > F.col("__mean_ratio")).alias("keep"),
        )
    )
    zero_out = (
        # regex, not trim(): a doc of pure tabs/newlines has zero grams
        # too and must land here, not vanish from the output
        raw.where(
            F.col(text_col).isNull() | F.col(text_col).rlike(r"^\s*$")
        ).select(
            F.col(id_col),
            F.lit(0).cast("bigint").alias("n_grams"),
            F.lit(0.0).alias("log_importance"),
            F.lit(0.0).alias("avg_logratio"),
            F.lit(False).alias("keep"),
        )
    )
    return scored_out.unionByName(zero_out)


def gumbel_top_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "gumbel",
) -> DataFrame:
    """Deterministic Gumbel-top-k: draw ``k`` rows WITHOUT replacement with
    probability ∝ ``exp(weight_col)`` — the exact resampling step DSIR
    runs over its log importance weights (Vieira 2014: adding standard
    Gumbel noise to log-weights and taking the top-k is distributionally
    identical to weighted sampling without replacement).

    The Gumbel draw is derandomized the same way every sampler in this
    module is: ``u = (md5(salt:id) + 0.5) / 2^60`` is a reproducible
    uniform in (0,1), ``g = -ln(-ln(u))`` its Gumbel transform — so the
    selected set is a pure function of (data, salt, k) and an external
    SQL engine replicates it row-for-row. ``gumbel_score`` is rounded to
    4 dp and ties broken by id so both engines agree at the rank-k
    boundary bit-for-bit.

    Plan: one projection + global top-k — Spark plans ``orderBy().limit()``
    as TakeOrderedAndProject (per-partition heap of k, then a k-sized
    merge on the driver side of the exchange), NOT a full sort: no
    shuffle of the data, O(k) memory per partition. The scale knob is k
    itself — for corpus-sized selections prefer a threshold on the score
    (one scalar aggregate) over a giant top-k.
    """
    u = (
        _mix_hash(id_col, salt).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    score = F.round(F.col(weight_col) - F.log(-F.log(u)), 4)
    return (
        df.select("*", score.alias("gumbel_score"))
        .orderBy(F.col("gumbel_score").desc(), F.col(id_col))
        .limit(k)
    )


def repeat_by_weight(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    id_col: str,
    default_weight: float = 0.0,
    salt: str = "epoch",
    copy_col: str = "copy_id",
) -> DataFrame:
    """Deterministic fractional UPSAMPLING: emit each row of stratum ``s``
    ``weights[s]`` times in expectation — ``floor(w)`` guaranteed copies
    plus one more when ``md5(salt:id) % 1e6`` falls under the fractional
    part. The multi-epoch mixture step of a pretraining data recipe
    ("Wikipedia 3.4 epochs, web 0.8 epochs"): `stratified_sample` can only
    keep a ≤1.0 share, this realizes epoch counts above 1.0, and the
    sampled extra copy makes the REALIZED token share converge to the
    recipe's real-valued weight instead of a floor/ceil bias. Each copy is
    tagged ``copy_col`` (0-based) so downstream packing salts can separate
    copies into different sequences.

    Every choice is a pure function of (data, weights, salt): the
    extra-copy draw is the same salted-md5 Bernoulli as the mixing family,
    so reruns and SQL oracles reproduce the corpus row-for-row. Weights
    are resolved driver-side to integer literals (base copies and a
    millionths threshold, i.e. weights are honored to 6 dp) — no float
    arithmetic reaches the plan, which keeps the oracle bit-exact by
    construction. Strata missing from ``weights`` (and null strata) get
    ``default_weight``; weight 0 drops the stratum. Null-id rows never
    draw the extra copy (null hash compares false in both engines).

    Scale shape: zero shuffle — a when-chain projection plus one
    ``explode(sequence)`` generator, scan-parallel at any corpus size
    (pinned by tests/test_plan_audit.py). Above
    ``_WIDE_STRATA_THRESHOLD`` strata the when-chain would bloat the
    plan (codegen compiles the full N-deep conditional into every task),
    so the weights resolve through a BROADCAST-joined literal frame
    instead — still shuffle-free for the corpus side, identical
    semantics (left join + coalesce-to-default ≡ the chain's fallthrough,
    null strata included), pinned by the 500-stratum unit test.
    """

    # eager column contract (the pack_sequences convention): fail here
    # with the contract spelled out, not downstream
    for need, what in ((strata_col, "strata_col"), (id_col, "id_col")):
        if need not in df.columns:
            raise ValueError(
                f"repeat_by_weight: {what} {need!r} is not a column of the "
                f"input frame (has {df.columns})"
            )
    if copy_col in df.columns:
        raise ValueError(
            f"repeat_by_weight: copy_col {copy_col!r} already exists on the "
            "input frame; pass a different copy_col"
        )

    def _split(w: float) -> tuple[int, int]:
        if w < 0:
            raise ValueError(f"weights must be >= 0, got {w}")
        millionths = round(float(w) * 1_000_000)
        return millionths // 1_000_000, millionths % 1_000_000

    base_default, thr_default = _split(default_weight)
    out_cols = list(df.columns)
    if len(weights) > _WIDE_STRATA_THRESHOLD:
        # Broadcast-joined literal weights frame: a thousand-stratum
        # recipe must not compile a thousand-deep conditional into every
        # task. Left join + coalesce-to-default is exactly the chain's
        # fallthrough (a null stratum matches nothing and coalesces to
        # the default, as the chain's null comparison does).
        # the literal frame's stratum column must carry the DATA's type:
        # a hard-coded string schema would make int-keyed weight dicts
        # (e.g. cluster ids) work on the when-chain path but crash the
        # moment they cross the threshold
        from pyspark.sql.types import IntegerType, StructField, StructType

        wdf = df.sparkSession.createDataFrame(
            [(k,) + _split(w) for k, w in sorted(weights.items())],
            StructType(
                [
                    StructField(
                        "__rbw_stratum", df.schema[strata_col].dataType
                    ),
                    StructField("__rbw_base", IntegerType()),
                    StructField("__rbw_thr", IntegerType()),
                ]
            ),
        )
        df = df.join(
            F.broadcast(wdf),
            F.col(strata_col) == F.col("__rbw_stratum"),
            "left",
        )
        base = F.coalesce(F.col("__rbw_base"), F.lit(base_default))
        thr = F.coalesce(F.col("__rbw_thr"), F.lit(thr_default))
    else:
        base = F.lit(base_default)
        thr = F.lit(thr_default)
        for value, w in sorted(weights.items()):
            b, t = _split(w)
            is_v = F.col(strata_col) == F.lit(value)
            base = F.when(is_v, F.lit(b)).otherwise(base)
            thr = F.when(is_v, F.lit(t)).otherwise(thr)
    extra = F.coalesce(
        (_mix_hash(id_col, salt) % 1_000_000 < thr).cast("int"), F.lit(0)
    )
    n_copies = (base + extra).alias("__nc")
    # sequence(0, -1) DESCENDS in Spark — gate the empty case so weight-0
    # rows drop via explode-of-null instead of emitting a phantom copy.
    # (explode must sit top-level in the select; the bigint cast follows.)
    copies = F.explode(
        F.when(n_copies > 0, F.sequence(F.lit(0), n_copies - 1))
    )
    return df.select(*out_cols, copies.alias(copy_col)).withColumn(
        copy_col, F.col(copy_col).cast("bigint")
    )


def select_within_budget(
    df: DataFrame,
    group_col: str,
    score_col: str,
    tokens_col: str,
    id_col: str,
    budget: int,
    rank_col: str = "sel_rank",
    cum_col: str = "cum_tokens",
    flag_col: str = "selected",
) -> DataFrame:
    """Greedy data selection under a per-group token budget: within each
    ``group_col`` stratum, rank rows best-score-first and mark a row
    selected while the RUNNING token total (including the row itself)
    stays within ``budget``. The "spend this many tokens per domain, on
    the best data first" step of a data-constrained training recipe —
    quality filtering gives a verdict per doc, this turns verdicts into a
    corpus of a chosen size. Emits every input row (audit-friendly) with
    ``rank_col`` (1-based greedy order), ``cum_col`` (running tokens) and
    ``flag_col``; callers keep ``WHERE selected`` for the corpus.

    Deterministic and oracle-portable: ordering is (score DESC NULLS
    LAST, id ASC NULLS LAST, tokens DESC NULLS LAST) with an explicit
    ROWS frame, so reruns and the SQL twin agree row-for-row; rows whose
    running sum already passed the budget stay unselected even if a later
    smaller doc would still fit (greedy-prefix, not knapsack — the
    contract is "best docs first until the budget closes", which keeps
    the selection a pure window function). Null token counts consume 0
    budget — they are coalesced to 0 INSIDE the running sum, so a
    null-token row is selected iff the running total at its position
    fits, regardless of whether it heads its group or sits mid-stream
    (without the coalesce a group-leading null would poison the whole
    prefix into NULL cum / unselected while a mid-group null sailed
    through — two outcomes for the same null).

    Scale shape: ONE exchange (hash partition on ``group_col``) + the
    in-partition window sort — no global sort, no join, no UDF; a skewed
    domain is one fat partition handled by AQE, and the selection scales
    with the number of domains exactly like any grouped aggregate.
    """
    for need, what in (
        (group_col, "group_col"),
        (score_col, "score_col"),
        (tokens_col, "tokens_col"),
        (id_col, "id_col"),
    ):
        if need not in df.columns:
            raise ValueError(
                f"select_within_budget: {what} {need!r} is not a column of "
                f"the input frame (has {df.columns})"
            )
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    order = [
        F.desc_nulls_last(score_col),
        F.asc_nulls_last(id_col),
        F.desc_nulls_last(tokens_col),
    ]
    w = Window.partitionBy(group_col).orderBy(*order)
    cum = F.sum(F.coalesce(F.col(tokens_col), F.lit(0))).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.select(
        "*",
        F.row_number().over(w).cast("bigint").alias(rank_col),
        cum.cast("bigint").alias(cum_col),
    ).withColumn(flag_col, F.col(cum_col) <= F.lit(int(budget)))


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    train_pct: int = 96,
    val_pct: int = 2,
    salt: str = "split",
) -> DataFrame:
    """Train/val/test assignment that can never leak near-duplicates
    across splits: hash the doc's DEDUP CLUSTER representative, not the
    doc id, so every member of a near-dup cluster lands in the same
    split. Splitting by raw doc hash silently places a train doc's
    near-copy in the eval set — the contamination the dedup family
    exists to detect, reintroduced by the splitter; anchoring the draw
    at the cluster level closes that hole by construction.

    ``pairs`` is any near-dup pair frame (MinHash-LSH, SimHash, exact);
    the cluster representative is the component min-id from
    `operators.dedup.connected_components`, and unclustered docs are
    their own representative. The split draw is the engine's salted-md5
    Bernoulli on the representative (``md5(salt:rep) % 100`` against
    ``train_pct`` / ``train_pct + val_pct``), so the assignment is a pure
    function of (corpus, pairs, salt) — rerun-identical, SQL-replicable,
    and stable under repartitioning. Null-id docs have a null
    representative and fall to 'test' in both engines (CASE semantics on
    a null bucket).

    Returns ``(id, cluster_rep, split_bucket, split)`` for every input
    doc. Scale shape: the corpus never shuffles — components are computed
    on the pair graph only (clustered docs, a small fraction of the
    corpus), then attached with one left equi-join that AQE turns into a
    broadcast for real dedup graphs; the split itself is a codegen
    projection.
    """
    if id_col not in docs.columns:
        raise ValueError(
            f"leakage_safe_split: id_col {id_col!r} is not a column of the "
            f"docs frame (has {docs.columns})"
        )
    if not (0 < train_pct and 0 <= val_pct and train_pct + val_pct <= 100):
        raise ValueError(
            f"invalid split percentages train={train_pct} val={val_pct}"
        )
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.dedup import (
        connected_components,
    )

    comp = connected_components(pairs, src=src, dst=dst).select(
        F.col("id").alias("__cc_id"), F.col("component").alias("__component")
    )
    joined = docs.join(comp, docs[id_col] == F.col("__cc_id"), "left")
    rep = F.coalesce(F.col("__component"), F.col(id_col))
    bucket = (
        md5_int64(F.concat(F.lit(f"{salt}:"), rep.cast("string"))) % 100
    )
    return (
        joined.select(
            F.col(id_col),
            rep.alias("cluster_rep"),
            bucket.cast("bigint").alias("split_bucket"),
        )
        .withColumn(
            "split",
            F.when(F.col("split_bucket") < train_pct, "train")
            .when(F.col("split_bucket") < train_pct + val_pct, "val")
            .otherwise("test"),
        )
    )


def curriculum_stages(
    df: DataFrame,
    id_col: str,
    score_col: str,
    n_stages: int,
    salt: str = "curriculum",
    n_shards: int = 32,
    stage_col: str = "stage",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Curriculum schedule: assign every row a training STAGE by
    equal-width binning of ``score_col`` (stage 0 = lowest scores — pass
    a difficulty signal like document length and the schedule trains
    easy-to-hard), then a reproducible md5-shuffled position within each
    (stage, shard). The ordering step between data selection and the
    loader: curriculum learning wants a coarse difficulty ramp with the
    docs INSIDE each stage decorrelated, not a corpus-wide difficulty
    sort (which would feed the model near-identical neighbors
    back-to-back).

    Equal-width stages (the q16 histogram rule: ``floor((s − min) /
    width)``, top edge clamped into the last stage) are chosen over
    quantile stages deliberately: the bounds come from ONE tiny
    min/max aggregate broadcast back into a codegen projection — no
    global sort, no per-stage ntile window over the whole corpus, which
    is what rank-balanced staging costs at 100 TB. Null scores schedule
    LAST (stage ``n_stages − 1``): unknown difficulty is treated as
    hard, never silently dropped. If every score is identical (or all
    null) the data is one stage.

    Positions are ``row_number`` over (stage, shard) ordered by
    ``md5(salt:id)`` — the window partitions by (stage, SHARD), not
    stage alone, so a handful of stages can never become a handful of
    executor-crushing sort tasks (the `length_bucket_batches`
    discipline). Null ids hash to null, sort last, and take shard 0.
    Deterministic end to end: rows that tie on BOTH sort keys (duplicate
    ids — null ids in particular, which all land in shard 0) fall
    through to a hash of the full row rendering, so positions are
    content-deterministic; rows identical in EVERY column stay tied, but
    then any row_number assignment yields the same output multiset.
    Unique ids never reach the third key, so the SQL oracle's two-key
    ORDER BY replicates unchanged."""
    for need, what in ((id_col, "id_col"), (score_col, "score_col")):
        if need not in df.columns:
            raise ValueError(
                f"curriculum_stages: {what} {need!r} is not a column of "
                f"the input frame (has {df.columns})"
            )
    if n_stages < 1:
        raise ValueError(f"n_stages must be >= 1, got {n_stages}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    s = F.col(score_col).cast("double")
    # NaN firewall (the exact-quantile operators' rule): engines
    # disagree on NaN ordering/aggregation, and a NaN score would poison
    # max() and the floor() into nulls — fold NaN into the null rule
    # ("unknown difficulty schedules last") instead
    s = F.when(~F.isnan(s), s)
    bounds = df.agg(
        F.min(s).alias("__cur_mn"), F.max(s).alias("__cur_mx")
    )
    width = (F.col("__cur_mx") - F.col("__cur_mn")) / F.lit(float(n_stages))
    stage = (
        F.when(s.isNull(), F.lit(n_stages - 1))
        .when(F.col("__cur_mx") == F.col("__cur_mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((s - F.col("__cur_mn")) / width),
                F.lit(n_stages - 1),
            )
        )
        .cast("bigint")
    )
    shard = F.coalesce(
        F.pmod(_mix_hash(id_col, f"{salt}:shard"), F.lit(n_shards)),
        F.lit(0),
    ).cast("bigint")
    staged = (
        df.crossJoin(F.broadcast(bounds))
        .select(*df.columns, stage.alias(stage_col), shard.alias(shard_col))
    )
    # concat_ws SKIPS nulls (it does not emit an empty slot), so each
    # column gets an explicit null sentinel before joining — otherwise
    # (null, "x") and ("x", null) would render identically
    row_fp = md5_int64(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in df.columns
            ],
        )
    )
    w = Window.partitionBy(stage_col, shard_col).orderBy(
        F.asc_nulls_last(_mix_hash(id_col, salt)),
        F.asc_nulls_last(id_col),
        F.asc(row_fp),
    )
    return staged.select(
        "*", F.row_number().over(w).cast("bigint").alias(pos_col)
    )


def plan_mixture(
    df: DataFrame,
    strata_col: str,
    tokens_col: str,
    targets: dict,
    token_budget: int,
    max_epochs: float = 10.0,
) -> DataFrame:
    """Mixture PLANNER: turn a target domain recipe ("web 50%, wiki 25%,
    code 25%") plus a total token budget into the per-stratum epoch
    weights `repeat_by_weight` realizes. For each stratum present in the
    data: ``epochs = min(max_epochs, share · budget / tokens_available)``
    — the stratum's budgeted token mass divided by what one pass over it
    supplies, capped so a tiny treasured domain cannot be upsampled past
    the repetition cliff. This is the arithmetic seam between "recipe as
    proportions" (how mixtures are specified) and "recipe as epoch
    weights" (how the expansion operator consumes them).

    ``targets`` maps stratum → target WEIGHT (any non-negative numbers;
    shares are weight / total). The total resolves driver-side to one
    literal so both engines divide by the identical constant; strata
    missing from ``targets`` (and null strata) plan 0 epochs, and
    ``epochs`` is rounded to 6 dp — exactly the precision
    `repeat_by_weight` honors, so the plan IS the contract the expander
    executes. Null token counts supply 0.

    Output per data stratum: ``(stratum, tokens_available, target_share,
    epochs, planned_tokens)`` with ``planned_tokens = round(epochs ·
    available)``. One grouped aggregate + a broadcast literal join —
    scan-bounded at any corpus size.
    """
    for need, what in ((strata_col, "strata_col"), (tokens_col, "tokens_col")):
        if need not in df.columns:
            raise ValueError(
                f"plan_mixture: {what} {need!r} is not a column of the "
                f"input frame (has {df.columns})"
            )
    if token_budget <= 0:
        raise ValueError(f"token_budget must be > 0, got {token_budget}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    if not targets:
        raise ValueError("targets must be a non-empty stratum -> weight map")
    for k, v in targets.items():
        if v < 0:
            raise ValueError(f"target weight for {k!r} must be >= 0, got {v}")
    total = float(sum(v for _, v in sorted(targets.items())))
    if total <= 0:
        raise ValueError("target weights must sum to > 0")
    from pyspark.sql.types import DoubleType, StructField, StructType

    tdf = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in sorted(targets.items())],
        StructType(
            [
                StructField("__pm_stratum", df.schema[strata_col].dataType),
                StructField("__pm_weight", DoubleType()),
            ]
        ),
    )
    avail = df.groupBy(F.col(strata_col).alias("stratum")).agg(
        F.sum(F.coalesce(F.col(tokens_col), F.lit(0)))
        .cast("bigint")
        .alias("tokens_available")
    )
    share = F.coalesce(F.col("__pm_weight"), F.lit(0.0)) / F.lit(total)
    epochs = F.round(
        F.when(
            F.col("tokens_available") > 0,
            F.least(
                share * F.lit(float(token_budget))
                / F.col("tokens_available").cast("double"),
                F.lit(float(max_epochs)),
            ),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        avail.join(
            F.broadcast(tdf),
            F.col("stratum") == F.col("__pm_stratum"),
            "left",
        )
        .select(
            "stratum",
            "tokens_available",
            F.round(share, 6).alias("target_share"),
            epochs.alias("epochs"),
            F.round(epochs * F.col("tokens_available").cast("double"))
            .cast("bigint")
            .alias("planned_tokens"),
        )
    )


def mixture_weights(plan: DataFrame) -> dict:
    """Collect a `plan_mixture` frame into the stratum → epochs dict
    `repeat_by_weight` consumes. Driver-side by design — a mixture plan
    has one row per DOMAIN (dozens to thousands, never corpus-sized; the
    same bounded-cardinality contract as `repeat_by_weight`'s weights).
    Null strata are skipped: the expander's weight lookup can never
    match a null key, and the planner already assigns them 0 epochs."""
    return {
        r["stratum"]: float(r["epochs"])
        for r in plan.select("stratum", "epochs").collect()
        if r["stratum"] is not None
    }
