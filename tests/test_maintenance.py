"""Row-level semantics for snapshot maintenance operators
(operators/maintenance.py); q52's oracle covers the aggregate view."""

from __future__ import annotations

from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
    _committed_manifests,
    merge_upsert,
)


def snapshot_manifests(spark, snap: str) -> list[int]:
    """Committed manifest versions under a snapshot root, ascending."""
    return sorted(_committed_manifests(spark, snap.rstrip("/")))


def _frames(spark):
    current = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)],
        "k int, name string, v double",
    )
    return current, updates


def test_merge_upsert_semantics(spark):
    current, updates = _frames(spark)
    got = {r["k"]: (r["name"], r["v"]) for r in merge_upsert(current, updates, "k").collect()}
    assert got == {
        1: ("a", 10.0),   # untouched survivor
        2: ("b2", 99.0),  # update wins on collision
        3: ("c", 30.0),   # untouched survivor
        4: ("d", 40.0),   # new key inserted
    }


def test_snapshot_diff_semantics(spark):
    """All four statuses on one fixture, plus the null contracts: null
    content on both sides is 'unchanged' (null-safe fingerprints), a
    null appearing or disappearing is 'changed', and with multiple
    content columns the null takes a POSITIONAL sentinel — (null,'a')
    vs ('a',null) must be 'changed', not a concat_ws collision."""
    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone"), (5, None), (6, "x")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh"), (5, None), (6, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "added",
        5: "unchanged",
        6: "changed",
    }

    old2 = spark.createDataFrame(
        [(1, None, "a")], "doc_id long, title string, body string"
    )
    new2 = spark.createDataFrame(
        [(1, "a", None)], "doc_id long, title string, body string"
    )
    got2 = {r["doc_id"]: r["status"] for r in snapshot_diff(old2, new2).collect()}
    assert got2 == {1: "changed"}

    with pytest.raises(ValueError, match="missing columns"):
        snapshot_diff(old, new.select("doc_id"), "doc_id", "text")
    with pytest.raises(ValueError, match="no shared non-key"):
        snapshot_diff(old.select("doc_id"), new.select("doc_id"))


def test_snapshot_diff_fingerprint_injection_proof(spark):
    """Per-column fixed-width digests make the fingerprint injective in
    the cell tuple: a delimiter-looking character INSIDE a value must
    not collide across column boundaries, and a value that looks like a
    null sentinel must differ from an actual null."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a\x1fb", "c"), (2, None, "x"), (3, "same", "same")],
        "doc_id long, title string, body string",
    )
    new = spark.createDataFrame(
        [(1, "a", "b\x1fc"), (2, "\x00null", "x"), (3, "same", "same")],
        "doc_id long, title string, body string",
    )
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {1: "changed", 2: "changed", 3: "unchanged"}


def test_merge_upsert_partitioned_prunes_and_preserves(spark, tmp_path):
    """The 100 TB refresh shape: only touched partitions are read and
    rewritten. Pins (1) pruned result == full-rewrite merge_upsert,
    (2) untouched LEGACY partitions' files survive BYTE-identical IN
    PLACE (zero-copy adoption), (3) the pointer read partition-prunes
    (static isin reaches the FileScan as a PartitionFilter), (4) the
    contract errors (missing partition col, null partition, too-wide
    batch, partition-type drift)."""
    import glob
    import hashlib

    import pytest
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        merge_upsert,
        merge_upsert_partitioned,
        read_snapshot,
    )

    snap = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(i, f"p{i % 3}", f"body-{i}") for i in range(30)],
        "doc_id long, part string, body string",
    )
    base.repartition(2).write.partitionBy("part").parquet(snap)

    def file_digests(part):
        return {
            f: hashlib.md5(open(f, "rb").read()).hexdigest()
            for f in sorted(glob.glob(f"{snap}/part={part}/*.parquet"))
        }

    untouched_before = {p: file_digests(p) for p in ("p1", "p2")}

    updates = spark.createDataFrame(
        [(0, "p0", "EDITED"), (99, "p0", "NEW")],
        "doc_id long, part string, body string",
    )
    cols = ["doc_id", "part", "body"]
    want = sorted(
        tuple(r)
        for r in merge_upsert(
            spark.read.parquet(snap), updates, "doc_id"
        ).select(*cols).collect()
    )

    touched = merge_upsert_partitioned(spark, snap, updates, "doc_id", "part")
    assert touched == ["p0"]
    assert snapshot_manifests(spark, snap) == [1]
    got = sorted(
        tuple(r) for r in read_snapshot(spark, snap).select(*cols).collect()
    )
    assert got == want
    # untouched legacy partitions: same files, same bytes, same place
    assert {p: file_digests(p) for p in ("p1", "p2")} == untouched_before
    # a plain reader still lists ONLY legacy dirs — stale, never torn
    legacy_view = {
        r["part"] for r in spark.read.parquet(snap).select("part").collect()
    }
    assert legacy_view == {"p0", "p1", "p2"}

    # the pointer read partition-prunes: the isin filter reaches EVERY
    # FileScan (legacy base AND slice base) as a PartitionFilter — one
    # pruned scan per base, not just any one (the q182 scale argument
    # rests on the touched-only read holding across all bases)
    import re

    pruned = read_snapshot(spark, snap).where(F.col("part").isin(["p0"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"FileScan", plan))
    n_pruned = len(re.findall(r"PartitionFilters: \[[^\]]*part", plan))
    assert n_scans == 2 and n_pruned == 2, (n_scans, n_pruned, plan)

    with pytest.raises(ValueError, match="missing the partition column"):
        merge_upsert_partitioned(
            spark, snap, updates.drop("part"), "doc_id", "part"
        )
    with pytest.raises(ValueError, match="NULL or empty-string partition"):
        merge_upsert_partitioned(
            spark,
            snap,
            spark.createDataFrame(
                [(1, None, "x")], "doc_id long, part string, body string"
            ),
            "doc_id",
            "part",
        )
    with pytest.raises(ValueError, match="more than max_touched"):
        merge_upsert_partitioned(
            spark, snap, updates, "doc_id", "part", max_touched_partitions=0
        )
    with pytest.raises(ValueError, match="cast the updates first"):
        merge_upsert_partitioned(
            spark,
            snap,
            updates.withColumn("part", F.lit(7)),
            "doc_id",
            "part",
        )
    # idempotent second apply: new version, same content, legacy intact
    merge_upsert_partitioned(spark, snap, updates, "doc_id", "part")
    assert snapshot_manifests(spark, snap) == [1, 2]
    assert sorted(
        tuple(r) for r in read_snapshot(spark, snap).select(*cols).collect()
    ) == want
    assert {p: file_digests(p) for p in ("p1", "p2")} == untouched_before


def test_merge_upsert_partitioned_crash_orderings(spark, tmp_path):
    """The pointer commit's crash argument, exercised at each ordering
    point: an uncommitted slice (crash after the slice write) and a torn
    manifest (crash mid-flip) are both invisible to readers and cleared
    by the next run's orphan pass; a committed manifest is immutable, so
    a reader pinned at version n sees version n's content even after
    later commits (wholly old or wholly new — never torn)."""
    import os

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        merge_upsert_partitioned,
        read_snapshot,
    )

    snap = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(i, f"p{i % 2}", f"body-{i}") for i in range(20)],
        "doc_id long, part string, body string",
    )
    base.repartition(2).write.partitionBy("part").parquet(snap)
    cols = ["doc_id", "part", "body"]

    def content(version=None):
        return sorted(
            tuple(r)
            for r in read_snapshot(spark, snap, version).select(*cols).collect()
        )

    u1 = spark.createDataFrame(
        [(0, "p0", "EDITED-1")], "doc_id long, part string, body string"
    )
    merge_upsert_partitioned(spark, snap, u1, "doc_id", "part")
    v1_content = content()
    assert ("EDITED-1" in {t[2] for t in v1_content})

    # crash ordering A: slice written, manifest never flipped — an
    # orphan s2 full of would-be data is referenced by nothing
    u2 = spark.createDataFrame(
        [(2, "p0", "LOST-CRASH")], "doc_id long, part string, body string"
    )
    u2.write.partitionBy("part").parquet(f"{snap}/_slices/s2")
    assert snapshot_manifests(spark, snap) == [1]
    assert content() == v1_content  # reader never sees the orphan

    # crash ordering B: torn manifest (truncated JSON) — parse guard
    # treats it as uncommitted
    os.makedirs(f"{snap}/_manifests", exist_ok=True)
    with open(f"{snap}/_manifests/m2.json", "w") as f:
        f.write('{"version": 2, "entries": {"part=p0": "s2"')
    assert snapshot_manifests(spark, snap) == [1]
    assert content() == v1_content

    # the next run clears BOTH orphans and commits cleanly on top
    u3 = spark.createDataFrame(
        [(2, "p0", "EDITED-2")], "doc_id long, part string, body string"
    )
    merge_upsert_partitioned(spark, snap, u3, "doc_id", "part")
    assert snapshot_manifests(spark, snap) == [1, 2]
    got = content()
    bodies = {t[2] for t in got}
    assert "EDITED-2" in bodies and "LOST-CRASH" not in bodies
    assert "EDITED-1" in bodies  # v1's edit carried forward

    # committed manifests are immutable: a reader pinned at v1 still
    # sees exactly v1's content (time travel == the wholly-old half of
    # the crash guarantee)
    assert content(version=1) == v1_content


def test_merge_upsert_partitioned_uri_scheme_and_bootstrap(spark, tmp_path):
    """The commit is create-only (no data renames), so scheme'd paths
    work — the exact case the staging-swap predecessor rejected. Runs
    the whole flow through file:// URIs, plus the empty-root bootstrap
    and int-looking STRING partition values ('0010' must round-trip,
    not collapse to int 10 under directory-name inference)."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        merge_upsert_partitioned,
        read_snapshot,
    )

    snap = "file://" + str(tmp_path / "snap")
    u1 = spark.createDataFrame(
        [(1, "0010", "a"), (2, "7", "b")],
        "doc_id long, part string, body string",
    )
    # bootstrap: no snapshot dir at all — first commit creates v1
    assert merge_upsert_partitioned(spark, snap, u1, "doc_id", "part") == [
        "0010",
        "7",
    ]
    assert snapshot_manifests(spark, snap) == [1]
    u2 = spark.createDataFrame(
        [(1, "0010", "a2"), (3, "0010", "c")],
        "doc_id long, part string, body string",
    )
    merge_upsert_partitioned(spark, snap, u2, "doc_id", "part")
    got = sorted(
        tuple(r)
        for r in read_snapshot(spark, snap)
        .select("doc_id", "part", "body")
        .collect()
    )
    assert got == [(1, "0010", "a2"), (2, "7", "b"), (3, "0010", "c")]


def test_merge_upsert_partitioned_adoption_guards(spark, tmp_path):
    """Review-pass regressions, all silent-data-loss paths turned loud:
    (1) a populated root with no matching partition dirs (wrong
    partition_col / unpartitioned layout) must NOT bootstrap — the
    manifest would hide every existing row; (2) empty-string partition
    values write as __HIVE_DEFAULT_PARTITION__ and come back NULL,
    escaping the next refresh's pruning; (3) adopting legacy dirs at a
    type that doesn't reproduce their names ('0010' at int) would mint
    duplicate partitions."""
    import pytest
    from pyspark.sql import functions as F

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        merge_upsert_partitioned,
    )

    updates = spark.createDataFrame(
        [(1, "p0", "x")], "doc_id long, part string, body string"
    )

    # (1) wrong partition column over a populated snapshot
    snap1 = str(tmp_path / "wrongcol")
    spark.createDataFrame(
        [(1, "2024", "a")], "doc_id long, year string, body string"
    ).write.partitionBy("year").parquet(snap1)
    with pytest.raises(ValueError, match="no 'part=' partition"):
        merge_upsert_partitioned(spark, snap1, updates, "doc_id", "part")
    # ... and an unpartitioned flat layout
    snap2 = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "p0", "a")], "doc_id long, part string, body string"
    ).write.parquet(snap2)
    with pytest.raises(ValueError, match="no 'part=' partition"):
        merge_upsert_partitioned(spark, snap2, updates, "doc_id", "part")

    # (2) empty-string partition value
    snap3 = str(tmp_path / "empty")
    with pytest.raises(ValueError, match="empty-string partition"):
        merge_upsert_partitioned(
            spark,
            snap3,
            spark.createDataFrame(
                [(1, "", "x")], "doc_id long, part string, body string"
            ),
            "doc_id",
            "part",
        )

    # (3) int-typed updates over int-looking string legacy dirs
    snap4 = str(tmp_path / "types")
    spark.createDataFrame(
        [(1, "0010", "a"), (2, "7", "b")],
        "doc_id long, part string, body string",
    ).write.partitionBy("part").parquet(snap4)
    with pytest.raises(ValueError, match="do not round-trip"):
        merge_upsert_partitioned(
            spark,
            snap4,
            updates.withColumn("part", F.lit(10)),
            "doc_id",
            "part",
        )

    # (4) DATA-column type drift: int snapshot + long updates —
    # unionByName silently widens the merged slice to long, and the
    # one-schema reader (typed off an existing base) could then never
    # open the committed slice; must abort before any write. Adoption
    # also warns that plain readers freeze at the legacy content.
    snap5 = str(tmp_path / "drift")
    spark.createDataFrame(
        [(1, "p0", "a")], "doc_id int, part string, body string"
    ).write.partitionBy("part").parquet(snap5)
    with pytest.raises(ValueError, match="change column type"):
        with pytest.warns(UserWarning, match="frozen legacy"):
            merge_upsert_partitioned(
                spark, snap5, updates, "doc_id", "part"
            )


def test_vacuum_snapshot_deletes_manifests_before_slices(spark, tmp_path):
    """Crash-window regression: vacuum must delete superseded MANIFESTS
    before their slices — the reverse order's mid-crash left a
    committed-looking manifest whose data was gone (time travel died
    with an opaque path error instead of 'not a committed manifest')."""
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators import (
        maintenance as mnt,
    )

    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [(i, f"p{i % 2}", "x") for i in range(8)],
        "doc_id long, part string, body string",
    ).write.partitionBy("part").parquet(snap)
    for n in range(1, 4):
        u = spark.createDataFrame(
            [(0, "p0", f"E{n}")], "doc_id long, part string, body string"
        )
        mnt.merge_upsert_partitioned(spark, snap, u, "doc_id", "part")

    deletions = []
    real = mnt._fs_delete

    def recording(spark_, path):
        deletions.append(path)
        real(spark_, path)

    try:
        mnt._fs_delete = recording
        mnt.vacuum_snapshot(spark, snap, keep_manifests=1)
    finally:
        mnt._fs_delete = real
    kinds = ["m" if "/_manifests/" in p else "s" for p in deletions]
    assert "m" in kinds and "s" in kinds
    assert kinds == sorted(kinds)  # every manifest before any slice


def test_drop_partitions_retention(spark, tmp_path):
    """Retention drop semantics on the pointer layout: the dropped
    partition vanishes from read_snapshot but its files stay on disk
    (time travel to the pre-drop version still shows it; vacuum
    reclaims sliced data, never legacy dirs); re-running the same drop
    is a no-op (missing_ok); escaped partition values (spaces, colons)
    map to the writer's own dir names; legacy adoption needs an
    explicit partition_type and missing_ok=False raises on absent
    values; dropping everything raises instead of committing an
    unreadable snapshot."""
    import os

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        drop_partitions,
        merge_upsert_partitioned,
        read_snapshot,
        vacuum_snapshot,
    )

    snap = str(tmp_path / "snap")
    vals = ["2024-01", "2024 02:x", "2024-03"]  # one escape-needing value
    base = spark.createDataFrame(
        [(i, vals[i % 3], f"body-{i}") for i in range(12)],
        "doc_id long, month string, body string",
    )
    base.write.partitionBy("month").parquet(snap)

    # legacy drop requires the explicit type
    with pytest.raises(ValueError, match="pass partition_type"):
        drop_partitions(spark, snap, ["2024-01"], "month")
    # adopt + upsert first so the dropped partition lives in a SLICE too
    u = spark.createDataFrame(
        [(0, "2024-01", "EDIT")], "doc_id long, month string, body string"
    )
    merge_upsert_partitioned(spark, snap, u, "doc_id", "month")
    pre_drop = snapshot_manifests(spark, snap)[-1]

    dropped = drop_partitions(spark, snap, ["2024-01", "ghost"], "month")
    assert dropped == ["2024-01"]
    left = {r["month"] for r in read_snapshot(spark, snap).collect()}
    assert left == {"2024 02:x", "2024-03"}
    # time travel: the pre-drop version still carries it, files intact
    assert "2024-01" in {
        r["month"] for r in read_snapshot(spark, snap, pre_drop).collect()
    }
    assert os.path.isdir(f"{snap}/month=2024-01")

    # idempotent re-run: nothing dropped, no new manifest committed
    before = snapshot_manifests(spark, snap)
    assert drop_partitions(spark, snap, ["2024-01"], "month") == []
    assert snapshot_manifests(spark, snap) == before
    with pytest.raises(ValueError, match="missing_ok=False"):
        drop_partitions(
            spark, snap, ["2024-01"], "month", missing_ok=False
        )

    # escaped value drops by VALUE, through the writer's own escaping
    assert drop_partitions(spark, snap, ["2024 02:x"], "month") == [
        "2024 02:x"
    ]
    assert {r["month"] for r in read_snapshot(spark, snap).collect()} == {
        "2024-03"
    }

    # dropping the last partition must not commit an empty manifest
    with pytest.raises(ValueError, match="every partition"):
        drop_partitions(spark, snap, ["2024-03"], "month")

    # vacuum reclaims the dropped partition's superseded slice but
    # leaves every legacy dir in place
    vacuum_snapshot(spark, snap, keep_manifests=1)
    assert os.path.isdir(f"{snap}/month=2024-01")
    assert sorted(os.listdir(f"{snap}/_slices")) == []
    assert {r["month"] for r in read_snapshot(spark, snap).collect()} == {
        "2024-03"
    }


def test_vacuum_snapshot_reclaims_superseded_slices(spark, tmp_path):
    """Vacuum keeps the newest manifests and every slice they reference,
    deletes the rest; content at the latest version is untouched, legacy
    partition dirs are never deleted, and time travel to a vacuumed
    manifest now fails loudly."""
    import os

    import pytest

    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.maintenance import (
        merge_upsert_partitioned,
        read_snapshot,
        vacuum_snapshot,
    )

    snap = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(i, f"p{i % 2}", f"body-{i}") for i in range(10)],
        "doc_id long, part string, body string",
    )
    base.write.partitionBy("part").parquet(snap)
    for n in range(1, 4):
        u = spark.createDataFrame(
            [(0, "p0", f"EDIT-{n}")], "doc_id long, part string, body string"
        )
        merge_upsert_partitioned(spark, snap, u, "doc_id", "part")
    assert snapshot_manifests(spark, snap) == [1, 2, 3]
    want = sorted(
        tuple(r)
        for r in read_snapshot(spark, snap)
        .select("doc_id", "part", "body")
        .collect()
    )

    stats = vacuum_snapshot(spark, snap, keep_manifests=1)
    # manifests m1/m2 dropped; slices s1/s2 superseded by s3 for p0
    assert stats == {"manifests_deleted": 2, "slices_deleted": 2}
    assert snapshot_manifests(spark, snap) == [3]
    assert sorted(
        tuple(r)
        for r in read_snapshot(spark, snap)
        .select("doc_id", "part", "body")
        .collect()
    ) == want
    assert os.path.isdir(f"{snap}/part=p1")  # legacy dirs never deleted
    assert sorted(os.listdir(f"{snap}/_slices")) == ["s3"]
    with pytest.raises(ValueError, match="not a committed manifest"):
        read_snapshot(spark, snap, version=1)
