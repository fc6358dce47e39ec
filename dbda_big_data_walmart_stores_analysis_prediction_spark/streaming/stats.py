"""Continuous retrieval-index statistics: the BM25 (df, N, total_tokens)
table maintained live as document batches stream in.

`operators/text.py::merge_term_stats` makes each refresh batch-sized; the
streaming problem is exactly-once application under replays. Per-operator
streaming state can't hold an unbounded vocabulary anyway, so the state
IS the stats parquet — committed as monotone versions ``v{n}`` (a parquet
dir with its ``_SUCCESS`` marker). There is deliberately only ONE commit
point per batch — the version dir's ``_SUCCESS`` — no side table of
ingested ids whose commit could tear away from the stats commit.

Idempotence is keyed on CONTENT, not on Structured Streaming's
``batch_id``: every committed version ``v{n}`` carries a manifest of the
source files ever folded, and a micro-batch folds only the files the
manifest has not seen. ``batch_id`` alone is not an identity — it
restarts at 0 under a new or lost checkpoint, and a replay that ALSO
contains new files would be skipped wholesale by a version-number guard
while the fresh checkpoint marks those files consumed, silently dropping
the new data forever. With the manifest, a pure replay is a no-op, a
mixed replay folds exactly the unseen files, and the ``batch_id`` never
decides what data is applied.

The manifest is stored as DELTAS with periodic compaction so per-batch
manifest IO is batch-sized, not history-sized (a cumulative rewrite per
commit is O(total files ever) per batch — the one cost that GROWS with
pipeline age): version ``v{n}`` commits either a delta ``d{n}`` (parquet,
one ``src`` row per file folded by THAT batch) or, every
``keep_versions`` commits, a compacted base ``m{n}`` (the full cumulative
set); the applied-file set for version ``v`` is the newest committed base
``m{b}`` with ``b ≤ v`` unioned with every committed delta ``d{k}`` for
``b < k ≤ v``. Legacy state (whose per-version ``m{n}`` was always
cumulative) reads unchanged: its ``m{n}`` IS a base with no deltas after
it. The manifest artifact is written BEFORE the version it describes, so
a crash between the two leaves only a harmless orphan ``d{n}``/``m{n}``
(ignored by readers — it exceeds the latest committed version — and
overwritten by the deterministic retry); a committed version always
finds its manifest in place. Base/delta dirs are pruned only once a
newer committed base supersedes them — version-dir pruning
(``keep_versions``) never truncates the applied-file record.

Sources with no file lineage (rate/memory/socket — ``input_file_name()``
is empty) have no content identity to reconcile, so they keep the
version-number guard for the one case it is sound (re-delivery of the
last batch under the SAME checkpoint) and FAIL LOUDLY on a batch-id
regression instead of silently dropping a fresh-checkpoint batch.

Contract: the input stream delivers each doc id at most once across
batches (the corpus ingest's survivor stream guarantees this); ids
duplicated WITHIN a batch are collapsed here.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


STATS_SCHEMA = "term string, dfreq bigint, n_docs bigint, total_tokens bigint"


def stats_versions(stats_dir: str) -> list[int]:
    """Committed stats versions (``v{n}`` dirs with a _SUCCESS marker),
    ascending."""
    if not os.path.isdir(stats_dir):
        return []
    out = []
    for d in os.listdir(stats_dir):
        m = re.fullmatch(r"v(\d+)", d)
        if m and os.path.exists(os.path.join(stats_dir, d, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def load_term_stats(spark, stats_dir: str) -> DataFrame:
    """The latest committed stats table (empty frame if none)."""
    vs = stats_versions(stats_dir)
    if not vs:
        return spark.createDataFrame([], STATS_SCHEMA)
    return spark.read.parquet(os.path.join(stats_dir, f"v{vs[-1]}"))


def _manifest_parts(state_dir: str, version: int) -> tuple[int | None, list[int]]:
    """Committed manifest artifacts covering ``v{version}``: the newest
    base ``m{b}`` with ``b <= version`` (None if no base) and the sorted
    committed deltas ``d{k}`` with ``b < k <= version``. Artifacts
    numbered above ``version`` are crash orphans of an uncommitted
    version — ignored."""
    base = None
    deltas = []
    if os.path.isdir(state_dir):
        for d in os.listdir(state_dir):
            m = re.fullmatch(r"([md])(\d+)", d)
            if not m or int(m.group(2)) > version:
                continue
            if not os.path.exists(os.path.join(state_dir, d, "_SUCCESS")):
                continue
            n = int(m.group(2))
            if m.group(1) == "m":
                base = n if base is None else max(base, n)
            else:
                deltas.append(n)
    return base, sorted(k for k in deltas if base is None or k > base)


def _applied_manifest(spark, state_dir: str, version: int) -> DataFrame | None:
    """The applied-file set as of ``v{version}``: newest committed base
    unioned with the committed deltas after it (None for legacy state
    written before manifests — no base, no deltas)."""
    base, deltas = _manifest_parts(state_dir, version)
    parts = []
    if base is not None:
        parts.append(os.path.join(state_dir, f"m{base}"))
    parts.extend(os.path.join(state_dir, f"d{k}") for k in deltas)
    if not parts:
        return None
    return spark.read.parquet(*parts).distinct()


def versioned_fold_ingest(
    stream: DataFrame,
    state_dir: str,
    fold,
    state_schema: str,
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
    on_commit=None,
):
    """The generic versioned-commit fold (see module docstring for the
    exactly-once mechanism): per micro-batch, fold exactly the source
    files the standing manifest has not seen into the latest committed
    state and commit the result as the next version. ``fold`` receives
    the latest committed state (an empty ``state_schema`` frame on
    bootstrap) and the unseen slice of the micro-batch; it must be
    ADDITIVE-merge semantics — fold(fold(s, a), b) == fold(s, a ∪ b) for
    disjoint batches — which is what makes file-granular application
    exact (a source file is atomically inside one micro-batch).

    ``on_commit(standing, fresh, next_v)``, when given, runs once per
    committed batch BEFORE the state version write — the hook sees the
    PRE-batch state and the batch's unseen slice, so a derived output
    (e.g. alerts against the standing baseline) is exactly-once as long
    as the hook writes to a ``next_v``-deterministic path with
    overwrite: a crash between hook and version write replays the same
    batch with the same ``next_v`` (the version counter only advances
    at the state commit) and the retry overwrites, never duplicates.
    Running the hook AFTER the state write would instead lose its
    output forever on that crash (the replay would see a pure replay
    and skip).

    Returns the ``StreamingQuery``.
    """
    spark = stream.sparkSession

    def _commit(standing, fresh, applied, src, next_v: int) -> None:
        # manifest FIRST: an orphan d{n}/m{n} without its v{n} is ignored
        # by readers and overwritten by the deterministic retry; a
        # committed v{n} (its _SUCCESS is the single commit point) always
        # finds its manifest already in place
        if src is not None:
            vs = stats_versions(state_dir)
            # clear crash orphans ABOVE the latest committed version
            # FIRST: an orphan base m{k} (k > vs[-1], its v{k} never
            # committed — e.g. a compaction turn that crashed before its
            # version write, with batch ids ahead of the version counter)
            # would otherwise sit dormant until the version sequence
            # catches up to k and then SHADOW the true applied-file
            # record as a stale base, re-folding everything applied since
            # it was written. Artifacts <= vs[-1] are live record parts
            # (deltas outlive their pruned versions) and are never
            # touched here.
            latest_committed = vs[-1] if vs else -1
            for d in os.listdir(state_dir) if os.path.isdir(state_dir) else []:
                m = re.fullmatch(r"[md](\d+)", d)
                if m and int(m.group(1)) > latest_committed:
                    shutil.rmtree(os.path.join(state_dir, d), ignore_errors=True)
            _, deltas = _manifest_parts(state_dir, vs[-1]) if vs else (None, [])
            if len(deltas) + 1 >= keep_versions:
                # compaction turn: fold the standing set + this batch's
                # files into a fresh cumulative base (history-sized, but
                # amortized over keep_versions batch-sized delta writes)
                applied.unionByName(src).distinct().write.mode(
                    "overwrite"
                ).parquet(os.path.join(state_dir, f"m{next_v}"))
            else:
                # delta turn: this batch's new files only — batch-sized
                src.write.mode("overwrite").parquet(
                    os.path.join(state_dir, f"d{next_v}")
                )
        if on_commit is not None:
            # BEFORE the version write (see the docstring's crash
            # argument) — the hook judges the batch against the
            # PRE-batch standing state. The batch slice materializes
            # once (it may be a filtered join on a mixed replay); the
            # hook and the fold would otherwise each rescan the source
            # files. `standing` is a plain parquet read — re-reading it
            # is cheaper than materializing a checkpoint copy.
            fresh = fresh.localCheckpoint(eager=True)
            on_commit(standing, fresh, next_v)
        fold(standing, fresh).write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v{next_v}")
        )
        stale = stats_versions(state_dir)[:-keep_versions]
        for v in stale:
            shutil.rmtree(os.path.join(state_dir, f"v{v}"), ignore_errors=True)
        # manifest artifacts prune on BASE supersession, never on version
        # retention — the applied-file record must survive forever
        latest = stats_versions(state_dir)[-1]
        base, _ = _manifest_parts(state_dir, latest)
        if base is not None:
            for d in os.listdir(state_dir):
                m = re.fullmatch(r"([md])(\d+)", d)
                if not m:
                    continue
                n = int(m.group(2))
                if (m.group(1) == "m" and n < base) or (
                    m.group(1) == "d" and n <= base
                ):
                    shutil.rmtree(
                        os.path.join(state_dir, d), ignore_errors=True
                    )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        # a zero-row batch is a no-op by additivity — committing it
        # would write a MANIFEST-LESS version (the empty batch has no
        # lineage), truncating the cumulative applied-file record so a
        # later fresh-checkpoint replay re-folds old files; and under a
        # fresh checkpoint it would trip the no-lineage regression error
        if batch.limit(1).count() == 0:
            return
        vs = stats_versions(state_dir)
        # one materialization of the batch's file set (file-count-sized,
        # never data-sized); "" = a row from a non-file source
        src = (
            batch.select(F.input_file_name().alias("src"))
            .where(F.col("src") != "")
            .distinct()
            .localCheckpoint(eager=True)
        )
        has_lineage = src.limit(1).count() > 0

        if not has_lineage:
            # no content identity (rate/memory source or empty batch):
            # the version guard is sound only for same-checkpoint
            # re-delivery of the last batch — a REGRESSION means a fresh
            # checkpoint whose batch contents we cannot reconcile
            if vs and vs[-1] > batch_id:
                raise RuntimeError(
                    "versioned_fold_ingest: committed version "
                    f"v{vs[-1]} in {state_dir} exceeds streaming batch "
                    f"{batch_id} and the batch has no file lineage to "
                    "reconcile — a fresh checkpoint over a non-file "
                    "source cannot be applied exactly-once. Restore the "
                    "original checkpoint or clear the state directory."
                )
            if vs and vs[-1] == batch_id:
                return  # re-delivered last batch under the same checkpoint
            standing = (
                spark.read.parquet(os.path.join(state_dir, f"v{vs[-1]}"))
                if vs
                else spark.createDataFrame([], state_schema)
            )
            _commit(standing, batch, None, None, batch_id)
            return

        applied = _applied_manifest(spark, state_dir, vs[-1]) if vs else None
        if vs and applied is None:
            # legacy state (pre-manifest layout): no content identity
            # exists. A version STRICTLY above batch_id means a fresh or
            # rolled-back checkpoint whose batch may MIX already-folded
            # and new files — silently skipping would mark the new files
            # consumed and drop them forever (the exact hole manifests
            # close), so fail loudly like the no-lineage regression path.
            # EQUALITY is the same checkpoint crash-replaying its last
            # batch (the offset log fixed that batch's file set, so it
            # cannot carry new files) — raising there would brick every
            # legacy crash recovery behind advice it already satisfies;
            # skip it like the old guard did. Residual corner: legacy
            # v0 + a DIFFERENT checkpoint's batch 0 is indistinguishable
            # from that replay — migrate legacy states by folding one
            # batch (manifests begin there) before relying on
            # fresh-checkpoint replays.
            if vs[-1] > batch_id:
                raise RuntimeError(
                    "versioned_fold_ingest: committed version "
                    f"v{vs[-1]} in {state_dir} predates the manifest "
                    f"layout and exceeds streaming batch {batch_id} — "
                    "pre-manifest state cannot reconcile which of a "
                    "fresh checkpoint's files are already folded. "
                    "Restore the checkpoint that wrote this state, or "
                    "rebuild the state directory from the source files."
                )
            if vs[-1] == batch_id:
                return  # same-checkpoint re-delivery of the last batch
            # same-checkpoint continuation (batch_id advanced past the
            # committed version): manifests begin with this batch's files
            applied = src.limit(0)
        if applied is None:
            applied = src.limit(0)

        new_files = src.join(applied, "src", "left_anti").localCheckpoint(
            eager=True
        )
        if new_files.limit(1).count() == 0:
            return  # pure replay — every file already folded
        if vs:
            standing = spark.read.parquet(os.path.join(state_dir, f"v{vs[-1]}"))
            # mixed replay: keep only rows from unseen files
            fresh = (
                batch.withColumn("__vfold_src", F.input_file_name())
                .join(
                    F.broadcast(new_files.withColumnRenamed("src", "__vfold_src")),
                    "__vfold_src",
                    "left_semi",
                )
                .drop("__vfold_src")
            )
        else:
            standing = spark.createDataFrame([], state_schema)
            fresh = batch
        next_v = batch_id if (not vs or batch_id > vs[-1]) else vs[-1] + 1
        _commit(standing, fresh, applied, new_files, next_v)

    writer = stream.writeStream.foreachBatch(_apply)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.trigger(availableNow=True).start()


def streaming_term_stats_ingest(
    stream: DataFrame,
    stats_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
):
    """Fold each micro-batch into the standing BM25 stats (see module
    docstring). Cost per batch: one batch-sized tokenize + one
    |vocab|-row full-outer merge + one bounded-table write — never a
    corpus scan. Returns the ``StreamingQuery``."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.text import (
        merge_term_stats,
    )

    def fold(standing: DataFrame, batch: DataFrame) -> DataFrame:
        fresh = batch.select(id_col, text_col).dropDuplicates([id_col])
        return merge_term_stats(standing, fresh, id_col, text_col)

    return versioned_fold_ingest(
        stream, stats_dir, fold, STATS_SCHEMA, checkpoint_dir, keep_versions
    )


def streaming_cms_ingest(
    stream: DataFrame,
    sketch_dir: str,
    key_col: str,
    w: int = 1024,
    d: int = 4,
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
):
    """Live Count-Min frequency state: each micro-batch's
    `count_min_table` merges into the standing sketch by CELLWISE SUM
    (the documented CMS rebuild property) under the manifest-keyed
    versioned commit — bounded d*w state no matter how many keys stream
    past, the heavy-hitter memory a 100 TB event stream can actually
    afford. Unlike the doc-keyed folds, duplicate EVENTS are the signal
    here, so nothing is deduped; exactly-once application of each source
    FILE is the manifest guard's job. Read with
    `operators.sketches.count_min_lookup` against the latest version."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        count_min_table,
    )

    def fold(standing: DataFrame, batch: DataFrame) -> DataFrame:
        fresh = count_min_table(batch, key_col, w=w, d=d)
        return (
            standing.unionByName(fresh)
            .groupBy("row", "col")
            .agg(F.sum("cnt").alias("cnt"))
        )

    return versioned_fold_ingest(
        stream,
        sketch_dir,
        fold,
        "row int, col bigint, cnt bigint",
        checkpoint_dir,
        keep_versions,
    )


def streaming_hll_ingest(
    stream: DataFrame,
    sketch_dir: str,
    key_col: str,
    p: int = 12,
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
):
    """Live distinct-count state: each micro-batch's `hll_registers`
    merges into the standing registers by per-bucket MAX (max-merge of
    disjoint batches == the union's sketch) under the manifest-keyed
    versioned commit — 2^p rows of state for an unbounded key stream.
    Read the estimate with `operators.sketches.hll_estimate` on the
    latest version."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        hll_registers,
    )

    def fold(standing: DataFrame, batch: DataFrame) -> DataFrame:
        return (
            standing.unionByName(hll_registers(batch, key_col, p))
            .groupBy("bucket")
            .agg(F.max("r").alias("r"))
        )

    return versioned_fold_ingest(
        stream,
        sketch_dir,
        fold,
        "bucket bigint, r int",
        checkpoint_dir,
        keep_versions,
    )


def streaming_quantile_ingest(
    stream: DataFrame,
    state_dir: str,
    value_col: str,
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
):
    """Live quantile/moments state for an unbounded value stream: each
    micro-batch's `quantile_cells` table (the log-bucket engine's cell
    histogram — count/sum/sum²/min/max per magnitude cell) merges
    CELLWISE into the standing state under the manifest-keyed versioned
    commit. Cellwise merge of disjoint batches == the one-shot cells
    over the union (the bucket code is a pure function of the value),
    so the fold is exact, and state stays ≤ ~2k rows no matter how many
    values stream past. Read bounded-error quantiles with
    `operators.analytics.cells_quantile_estimate` (each answer carries
    its own cell-span guarantee) and exact count/mean/stddev/min/max
    from the folded moments."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        quantile_cells,
    )

    def fold(standing: DataFrame, batch: DataFrame) -> DataFrame:
        fresh = quantile_cells(batch, value_col)
        return (
            standing.unionByName(fresh)
            .groupBy("b")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").alias("s"),
                F.sum("s2").alias("s2"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
        )

    return versioned_fold_ingest(
        stream,
        state_dir,
        fold,
        "b bigint, n bigint, s double, s2 double, mn double, mx double",
        checkpoint_dir,
        keep_versions,
    )


def streaming_hll_by_ingest(
    stream: DataFrame,
    sketch_dir: str,
    group_cols: list[str] | str,
    key_col: str,
    p: int = 12,
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
):
    """`streaming_hll_ingest` keyed: live per-group distinct state
    (groups × 2^p register rows) maintained by per-(group, bucket) MAX
    under the manifest-keyed versioned commit — the "distinct users per
    segment, continuously" number. Read estimates off the latest version
    with `operators.sketches.hll_distinct_by`'s estimate shape (the
    registers ARE `hll_distinct_by`'s intermediate; see the test's
    fold == batch pin)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.sketches import (
        hll_registers_by,
    )

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)

    def fold(standing: DataFrame, batch: DataFrame) -> DataFrame:
        return (
            standing.unionByName(hll_registers_by(batch, groups, key_col, p))
            .groupBy(*groups, "bucket")
            .agg(F.max("r").alias("r"))
        )

    # group columns keep the STREAM's actual types — a hardcoded string
    # schema would widen int group keys to '1', '2', ... through the
    # bootstrap union, persisting state that no longer joins back
    # against the source's keys
    group_schema = ", ".join(
        f"{g} {stream.schema[g].dataType.simpleString()}" for g in groups
    )
    return versioned_fold_ingest(
        stream,
        sketch_dir,
        fold,
        f"{group_schema}, bucket bigint, r int",
        checkpoint_dir,
        keep_versions,
    )


def streaming_quantile_by_ingest(
    stream: DataFrame,
    state_dir: str,
    group_cols: list[str] | str,
    value_col: str,
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
    on_commit=None,
):
    """``streaming_quantile_ingest`` KEYED: live per-group quantile/
    moments state (groups × ≤~2k cell rows) maintained by per-(group,
    cell) merge under the manifest-keyed versioned commit — "p99
    latency per segment, continuously" at unbounded group cardinality.
    The cellwise merge of disjoint batches equals the one-shot
    ``quantile_cells_by`` over the union (the bucket code is a pure
    value function), so the fold is exact; read per-group bounded-error
    estimates DISTRIBUTED (no driver state) with
    ``operators.analytics.cells_quantile_estimate_by`` on the latest
    version."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        _check_cell_group_names,
        quantile_cells_by,
    )

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    # fail fast at setup — inside foreachBatch the same error would only
    # surface wrapped in a StreamingQueryException after the checkpoint
    # dir exists and the first batch's offsets are written
    _check_cell_group_names(groups, "streaming_quantile_by_ingest")

    def fold(standing: DataFrame, batch: DataFrame) -> DataFrame:
        fresh = quantile_cells_by(batch, groups, value_col)
        return (
            standing.unionByName(fresh)
            .groupBy(*groups, "b")
            .agg(
                F.sum("n").alias("n"),
                F.sum("s").alias("s"),
                F.sum("s2").alias("s2"),
                F.min("mn").alias("mn"),
                F.max("mx").alias("mx"),
            )
        )

    # group columns keep the STREAM's actual types (the q-hll_by lesson:
    # a hardcoded string schema widens int keys through the bootstrap
    # union into state that no longer joins back)
    group_schema = ", ".join(
        f"{g} {stream.schema[g].dataType.simpleString()}" for g in groups
    )
    return versioned_fold_ingest(
        stream,
        state_dir,
        fold,
        f"{group_schema}, b bigint, n bigint, s double, s2 double, "
        "mn double, mx double",
        checkpoint_dir,
        keep_versions,
        on_commit=on_commit,
    )


def streaming_fence_monitor_ingest(
    stream: DataFrame,
    state_dir: str,
    alerts_dir: str,
    group_cols: list[str] | str,
    value_col: str,
    prob: float = 0.99,
    breach_num: int = 1,
    breach_den: int = 100,
    checkpoint_dir: str | None = None,
    keep_versions: int = 3,
):
    """The live monitor the drift family exists for — "alert when this
    batch's values breach the STANDING per-group fence", continuously:
    each micro-batch is first classified against the PRE-batch folded
    quantile state (``operators/analytics.py::quantile_fence_alerts``
    over the latest committed cells — a batch never judges itself),
    its per-group alert rows land in ``alerts_dir/b{v}`` tagged
    ``batch_version``, and THEN the batch folds into the state under
    the same manifest-keyed exactly-once commit as
    ``streaming_quantile_by_ingest``. Alert output is exactly-once by
    construction: the version counter only advances at the state
    commit, so a crash-replay recomputes the SAME ``b{v}`` and the
    overwrite replaces rather than duplicates (the ``on_commit`` hook
    contract). The first batch reports ``no_baseline`` for every group
    — the honest cold start — and a BOOTSTRAP commit (no committed
    state yet) first clears any existing ``b*`` dirs: a fresh state
    lifetime starts a fresh history, since version numbering restarts
    and a previous incarnation's alert dirs would otherwise interleave
    into the new record (archive ``alerts_dir`` before clearing
    ``state_dir`` if the old history matters). Read the history with
    ``load_fence_alerts``."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.analytics import (
        _check_fence_alert_args,
        quantile_fence_alerts,
    )

    # fail fast at SETUP (the streaming_quantile_by_ingest discipline):
    # inside foreachBatch these errors would surface wrapped in a
    # StreamingQueryException after the checkpoint dir already exists
    groups = _check_fence_alert_args(
        group_cols, breach_num, breach_den, "streaming_fence_monitor_ingest"
    )

    def on_commit(standing: DataFrame, batch: DataFrame, next_v: int) -> None:
        if not stats_versions(state_dir) and os.path.isdir(alerts_dir):
            for d in os.listdir(alerts_dir):
                if re.fullmatch(r"b(\d+)", d):
                    shutil.rmtree(
                        os.path.join(alerts_dir, d), ignore_errors=True
                    )
        quantile_fence_alerts(
            standing, batch, groups, value_col, prob, breach_num, breach_den
        ).withColumn("batch_version", F.lit(next_v)).write.mode(
            "overwrite"
        ).parquet(os.path.join(alerts_dir, f"b{next_v}"))

    # the state fold IS streaming_quantile_by_ingest's — one
    # implementation; the monitor only adds the pre-fold hook
    return streaming_quantile_by_ingest(
        stream,
        state_dir,
        groups,
        value_col,
        checkpoint_dir,
        keep_versions,
        on_commit=on_commit,
    )


def load_fence_alerts(spark, state_dir: str, alerts_dir: str) -> DataFrame:
    """The committed alert history: every ``alerts_dir/b{v}`` whose
    version is at or below the state's latest committed version. Alert
    dirs ABOVE it are a crashed batch's orphans (its state never
    committed, so its alerts never "happened") — they'll be overwritten
    by the replay; alert dirs for PRUNED state versions stay readable
    (alerts are the monitor's output history, not state, and are never
    vacuumed — within one state lifetime; a state rebuild restarts the
    history, see ``streaming_fence_monitor_ingest``'s bootstrap
    rule)."""
    vs = stats_versions(state_dir)
    if not vs:
        raise ValueError(
            f"load_fence_alerts: no committed state under {state_dir} — "
            "the monitor has not committed a batch yet"
        )
    dirs = []
    if os.path.isdir(alerts_dir):
        for d in os.listdir(alerts_dir):
            m = re.fullmatch(r"b(\d+)", d)
            if m and int(m.group(1)) <= vs[-1]:
                dirs.append(os.path.join(alerts_dir, d))
    if not dirs:
        raise ValueError(
            f"load_fence_alerts: no committed alert batches under "
            f"{alerts_dir}"
        )
    return spark.read.parquet(*sorted(dirs))
