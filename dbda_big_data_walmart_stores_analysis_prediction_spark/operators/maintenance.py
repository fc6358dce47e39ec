"""Dataset maintenance operators — the snapshot/refresh surface a
training-data pipeline needs around the analytics core (north-star; the
reference's only maintenance is full-overwrite parquet writes,
``Scripts/etl.py:123``).

Plain-files lakes (no Delta/Iceberg in this environment) can't do
transactional row-level MERGE; the scalable pattern is snapshot merge:
read current, combine with updates, write a new snapshot directory and
swap pointers. These operators build the combined frame; `sources/io`
writes it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    current: DataFrame, updates: DataFrame, keys: list[str] | str
) -> DataFrame:
    """Upsert semantics: rows from ``updates`` win on key collision,
    unmatched ``current`` rows survive, new keys insert.

    Plan: one LEFT ANTI join of current against update keys (shuffle or
    broadcast by update size — Catalyst decides; typical refresh batches
    are small vs the snapshot, so this is usually a broadcast anti join
    that never shuffles the big side) + a union. Schemas must match by
    name (``unionByName``).
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    survivors = current.join(
        updates.select(*key_list).distinct(), key_list, "left_anti"
    )
    return updates.unionByName(survivors)


# ---------------------------------------------------------------------------
# Versioned-pointer partitioned snapshots
# ---------------------------------------------------------------------------
#
# Layout under a snapshot root (internal names underscore-prefixed, so a
# plain ``spark.read.parquet(root)`` still lists ONLY the legacy partition
# directories — stale after the first pointer commit, never torn):
#
#   root/<part>=X/...               legacy partitions (adopted zero-copy)
#   root/_slices/s{n}/<part>=X/...  slice n: the partitions commit n rewrote
#   root/_manifests/m{n}.json       pointer manifest: dir name -> location
#
# Commit protocol — data is only ever CREATED (a fresh slice
# directory), never renamed or deleted in place, and the single commit
# point is the manifest flip. A crash at ANY point leaves the snapshot
# readable at the previous manifest: an uncommitted slice is referenced
# by nothing (the next commit clears artifacts numbered above the latest
# committed manifest), and a torn manifest file fails the reader's parse
# guard and is skipped. No rename of data ever happens, so the
# protocol is safe on object stores, where rename is copy+delete. The
# staging-swap predecessor additionally needed a repair pass that moved
# staged data back into the live snapshot — the r14 _SUCCESS-gating hole
# lived there; this design has no repair pass to gate, because
# uncommitted data is never visible and never moved.
#
# Single writer assumed (the plain-files-lake norm); readers are
# unlimited and lock-free — a reader holds one manifest for its whole
# scan, and commits never mutate the slices that manifest references.


def _fs_and_path(spark, path: str):
    """Hadoop FileSystem + Path for any supported scheme (file://, hdfs://,
    s3a://, a bare local path) — public Hadoop API via the session JVM."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def _fs_child_dirs(spark, path: str) -> list[str]:
    """Names of child DIRECTORIES of ``path`` ([] if absent)."""
    fs, p, _ = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory()
    ]


def _fs_child_files(spark, path: str) -> list[str]:
    """Names of child FILES of ``path`` ([] if absent)."""
    fs, p, _ = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName()
        for st in fs.listStatus(p)
        if not st.isDirectory()
    ]


def _fs_delete(spark, path: str) -> None:
    fs, p, _ = _fs_and_path(spark, path)
    fs.delete(p, True)


def _fs_read_small(spark, path: str) -> bytes | None:
    """Whole small file as bytes (None if absent) — manifest-sized reads
    only, never data. Absence is detected from the open() itself (one
    RPC), not a prior exists() round trip; other IO errors propagate."""
    from py4j.protocol import Py4JJavaError

    fs, p, jvm = _fs_and_path(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        if "FileNotFoundException" in e.java_exception.getClass().getName():
            return None
        raise
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _fs_write_small(spark, dir_path: str, name: str, data: bytes) -> None:
    """Write a small file via create-temp-then-rename: atomic on local/
    HDFS; on object stores the PUT itself is atomic and the reader-side
    parse guard covers the (tiny-file) copy window."""
    fs, d, jvm = _fs_and_path(spark, dir_path)
    fs.mkdirs(d)
    tmp = jvm.org.apache.hadoop.fs.Path(d, f".tmp-{name}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    final = jvm.org.apache.hadoop.fs.Path(d, name)
    fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(
            f"failed to commit {name} under {dir_path} (rename returned "
            "false)"
        )


def _read_snapshot_manifest(spark, root: str, version: int) -> dict | None:
    """Parse manifest ``m{version}.json`` — None when absent, torn, or
    shape-invalid (the reader-side commit guard: an unparseable manifest
    is an uncommitted one)."""
    import json

    raw = _fs_read_small(spark, f"{root}/_manifests/m{version}.json")
    if raw is None:
        return None
    try:
        man = json.loads(raw.decode("utf-8"))
    except (UnicodeDecodeError, ValueError):
        return None
    if (
        isinstance(man, dict)
        and man.get("version") == version
        and isinstance(man.get("entries"), dict)
        and isinstance(man.get("partition_col"), str)
        and isinstance(man.get("partition_type"), str)
    ):
        return man
    return None


def _committed_manifests(spark, root: str) -> dict[int, dict]:
    """ONE listing + parse pass over ``_manifests/`` → every committed
    manifest by version (each is a few KB; the parse doubles as the
    torn-write guard). Every snapshot operation goes through this once —
    on an object store each extra pass is a round trip per retained
    version."""
    import re

    out = {}
    for nm in _fs_child_files(spark, f"{root}/_manifests"):
        m = re.fullmatch(r"m(\d+)\.json", nm)
        if m:
            man = _read_snapshot_manifest(spark, root, int(m.group(1)))
            if man:
                out[int(m.group(1))] = man
    return out


def _read_pointer_layout(
    spark, root: str, man: dict
) -> DataFrame:
    """Union of the manifest's partition directories, one read per base
    directory (``basePath`` keeps the partition column). Every read gets
    the SAME explicit schema with the partition column at the manifest's
    recorded type: per-group directory-name inference could disagree
    across groups, and int-looking string values ('0010') would corrupt
    under infer-then-cast."""
    pcol = man["partition_col"]
    entries = man["entries"]
    if not entries:
        raise ValueError(
            f"read_snapshot: manifest v{man['version']} under {root} "
            "references no partitions"
        )
    groups: dict[str, list[str]] = {}
    for dirname, loc in entries.items():
        base = root if loc == "legacy" else f"{root}/_slices/{loc}"
        groups.setdefault(base, []).append(f"{base}/{dirname}")
    bases = sorted(groups)
    # schema-only sample from ONE partition directory (one listing, one
    # footer — passing every dir here built and discarded a full file
    # index of the largest base per read): the explicit target schema
    # below needs the data columns' types from somewhere; slices share
    # one schema by the commit-time drift guard
    sample = (
        spark.read.option("basePath", bases[0])
        .parquet(sorted(groups[bases[0]])[0])
    )
    ptype = (
        spark.createDataFrame([], f"`{pcol}` {man['partition_type']}")
        .schema[0]
        .dataType
    )
    from pyspark.sql.types import StructField, StructType

    target = StructType(
        [
            StructField(f.name, ptype if f.name == pcol else f.dataType, f.nullable)
            for f in sample.schema.fields
        ]
    )
    parts = [
        spark.read.schema(target)
        .option("basePath", base)
        .parquet(*sorted(groups[base]))
        for base in bases
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_snapshot(spark, snapshot_dir: str, version: int | None = None) -> DataFrame:
    """Read a partitioned snapshot at its latest committed manifest (or a
    pinned ``version`` — time travel across retained manifests). A root
    with no committed manifest is a legacy plain parquet directory and
    reads as one. Partition-value filters on the result prune to
    PartitionFilters exactly as on a plain directory — the manifest only
    redirects WHERE each partition's files live, never how they're read."""
    root = snapshot_dir.rstrip("/")
    mans = _committed_manifests(spark, root)
    if version is None:
        if not mans:
            return spark.read.parquet(root)
        version = max(mans)
    elif version not in mans:
        raise ValueError(
            f"read_snapshot: version {version} is not a committed manifest "
            f"of {root} (committed: {sorted(mans)})"
        )
    return _read_pointer_layout(spark, root, mans[version])


def _clear_crash_orphans(spark, root: str, latest: int) -> None:
    """Clear artifacts ABOVE the latest committed manifest FIRST: an
    uncommitted slice or torn/tmp manifest from a crashed run is
    invisible to every reader, and removing it keeps slice numbering
    aligned with manifest numbering."""
    import re

    for nm in _fs_child_dirs(spark, f"{root}/_slices"):
        m = re.fullmatch(r"s(\d+)", nm)
        if m and int(m.group(1)) > latest:
            _fs_delete(spark, f"{root}/_slices/{nm}")
    for nm in _fs_child_files(spark, f"{root}/_manifests"):
        m = re.fullmatch(r"m(\d+)\.json", nm)
        if (m and int(m.group(1)) > latest) or nm.startswith(".tmp-"):
            _fs_delete(spark, f"{root}/_manifests/{nm}")


def _commit_manifest(
    spark, root: str, version: int, pcol: str, ptype: str, entries: dict
) -> None:
    """The single commit point: flip manifest ``m{version}.json``."""
    import json

    _fs_write_small(
        spark,
        f"{root}/_manifests",
        f"m{version}.json",
        json.dumps(
            {
                "version": version,
                "partition_col": pcol,
                "partition_type": ptype,
                "entries": entries,
            },
            sort_keys=True,
        ).encode("utf-8"),
    )


def _adopt_legacy_entries(
    spark, root: str, pcol: str, ptype: str, op: str, remedy: str
) -> dict:
    """Zero-copy legacy adoption: the plain directory's ``{pcol}=`` dirs
    become 'legacy' manifest entries (they never move), after the
    round-trip type guard — every legacy dir's raw value must reproduce
    itself through the recorded partition type (``cast(raw AS type) AS
    string == raw``, Spark cast semantics — the same cast the partition
    reader and the path writer use; one tiny driver-built job over the
    manifest-sized dir list). Otherwise the slice writer would mint a
    DIFFERENT dirname for the same logical value ('0010' at int type
    rewrites as part=10) and both would live in the manifest as
    separate partitions, resurrecting stale rows on every read.
    Manifest-backed commits don't need the guard: their dirs were
    written AT the recorded type."""
    entries = {
        nm: "legacy"
        for nm in _fs_child_dirs(spark, root)
        if nm.startswith(f"{pcol}=")
    }
    if not entries:
        return entries
    jvm = spark._jvm
    unesc = (
        jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName
    )
    raws = [(d, unesc(d.split("=", 1)[1])) for d in sorted(entries)]
    df = spark.createDataFrame(raws, "d string, raw string")
    bad = (
        df.where(
            ~F.col("raw")
            .cast(ptype)
            .cast("string")
            .eqNullSafe(F.col("raw"))
        )
        .limit(3)
        .collect()
    )
    if bad:
        raise ValueError(
            f"{op}: legacy partition dir(s) {[r['d'] for r in bad]} do "
            f"not round-trip at partition type {ptype} — adopting at "
            "this type would remap their values to NEW directory names "
            f"and duplicate the partitions. {remedy}"
        )
    return entries


def merge_upsert_partitioned(
    spark,
    snapshot_dir: str,
    updates: DataFrame,
    keys: list[str] | str,
    partition_col: str,
    max_touched_partitions: int = 4096,
) -> list:
    """``merge_upsert`` with partition-pruned IO — the 100 TB refresh
    shape: only the partitions the update batch touches are read and
    rewritten; every other partition's files are never opened and survive
    byte-identical IN PLACE. A full-snapshot rewrite per refresh (the
    plain ``merge_upsert`` + overwrite path, still the right default for
    small snapshots) is corpus-sized work for a batch-sized change.

    Contract: ``partition_col`` must be STABLE per key — a key never moves
    between partitions (the date/source-partitioned lake norm); a refresh
    that relocates keys needs the full-rewrite path. ``updates`` must
    carry ``partition_col`` (at the type the snapshot's manifests record)
    and the full snapshot schema. Single writer; read the result with
    ``read_snapshot`` (plain ``spark.read.parquet(root)`` keeps working
    but sees only the pre-pointer legacy partitions).

    Commit (see the module-section comment for the full crash-ordering
    argument): the merged touched slice is written to a FRESH directory
    ``_slices/s{n}`` — partition pruning on the current read comes from a
    static ``isin`` (PartitionFilters in the plan) — and the commit point
    is one small-file flip, manifest ``m{n}.json`` mapping every partition
    directory to the slice (or legacy root) that owns it. Nothing is
    renamed or deleted under a committed manifest, so any-point crashes
    leave the snapshot wholly at the previous version and the protocol
    holds on object stores. A plain parquet directory is adopted
    zero-copy on first refresh: its partition dirs become ``legacy``
    manifest entries. Returns the sorted touched partition values.
    Superseded slices accumulate for time travel until
    ``vacuum_snapshot``.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    if partition_col not in updates.columns:
        raise ValueError(
            f"merge_upsert_partitioned: updates are missing the partition "
            f"column '{partition_col}' (has {updates.columns})"
        )
    touched_rows = (
        updates.select(partition_col).distinct().limit(
            max_touched_partitions + 1
        ).collect()
    )
    if len(touched_rows) > max_touched_partitions:
        raise ValueError(
            "merge_upsert_partitioned: update batch touches more than "
            f"max_touched_partitions={max_touched_partitions} partitions — "
            "at that width a full rewrite is cheaper; use merge_upsert"
        )
    touched = [r[0] for r in touched_rows]
    if not touched:
        return []
    if any(v is None or v == "" for v in touched):
        raise ValueError(
            "merge_upsert_partitioned: updates carry a NULL or "
            f"empty-string partition value in '{partition_col}' — the "
            "partitioned writer maps BOTH to __HIVE_DEFAULT_PARTITION__ "
            "(an empty string comes back as NULL and its partition's "
            "rows escape the next refresh's isin pruning); route such "
            "rows through the full-rewrite path"
        )

    root = snapshot_dir.rstrip("/")
    utype = updates.schema[partition_col].dataType.simpleString()
    mans = _committed_manifests(spark, root)
    vs = sorted(mans)
    latest = vs[-1] if vs else 0
    _clear_crash_orphans(spark, root, latest)

    if vs:
        man = mans[latest]
        if man["partition_col"] != partition_col:
            raise ValueError(
                f"merge_upsert_partitioned: snapshot {root} is partitioned "
                f"by '{man['partition_col']}', not '{partition_col}'"
            )
        if man["partition_type"] != utype:
            raise ValueError(
                f"merge_upsert_partitioned: updates' '{partition_col}' is "
                f"{utype} but the snapshot's manifests record "
                f"{man['partition_type']} — cast the updates first"
            )
        entries = dict(man["entries"])
        current = _read_pointer_layout(spark, root, man)
    else:
        entries = _adopt_legacy_entries(
            spark,
            root,
            partition_col,
            utype,
            "merge_upsert_partitioned",
            "Pass updates with the partition column typed as the "
            "original writer produced it (often string).",
        )
        if entries:
            # the one silent behavior change of adoption: plain
            # spark.read.parquet(root) readers keep working but are
            # frozen at the pre-pointer content — say so loudly once
            import warnings

            warnings.warn(
                f"merge_upsert_partitioned: adopting {root} into the "
                "versioned-pointer layout — from this commit on, plain "
                "spark.read.parquet readers see only the frozen legacy "
                "partitions; read the live snapshot with read_snapshot()",
                stacklevel=2,
            )
            current = _read_pointer_layout(
                spark,
                root,
                {
                    "version": 0,
                    "partition_col": partition_col,
                    "partition_type": utype,
                    "entries": entries,
                },
            )
        else:
            # bootstrap is legal ONLY on a truly empty/absent root: a
            # populated snapshot with no '{partition_col}=' dirs means
            # the wrong partition column or an unpartitioned layout,
            # and committing over it would HIDE all existing data from
            # read_snapshot (hidden _-prefixed names — _slices,
            # _manifests, _SUCCESS — don't count: crash orphans and
            # markers, invisible to data readers)
            visible = [
                nm
                for nm in (
                    _fs_child_dirs(spark, root) + _fs_child_files(spark, root)
                )
                if not nm.startswith(("_", "."))
            ]
            if visible:
                raise ValueError(
                    f"merge_upsert_partitioned: {root} contains data "
                    f"({visible[:3]}...) but no '{partition_col}=' "
                    "partition directories — wrong partition_col or an "
                    "unpartitioned layout; committing would hide the "
                    "existing data. Use the full-rewrite merge_upsert "
                    "path or the correct partition column."
                )
            current = updates.limit(0)  # bootstrap: empty snapshot

    cur_touched = current.where(F.col(partition_col).isin(touched))
    merged = merge_upsert(cur_touched, updates.select(*current.columns), key_list)
    # data-column type drift guard, BEFORE any write: unionByName would
    # happily coerce (int updates over long snapshot columns and vice
    # versa), committing a slice whose types disagree with the standing
    # files — the reader applies ONE schema across bases, so the
    # "successful" commit would be permanently unreadable
    drift = [
        (f.name, str(cf.dataType), str(f.dataType))
        for cf, f in zip(current.schema.fields, merged.schema.fields)
        if cf.dataType != f.dataType
    ]
    if drift:
        raise ValueError(
            "merge_upsert_partitioned: updates change column type(s) "
            f"{drift} vs the standing snapshot — cast the updates to the "
            "snapshot schema first (every slice must read under one "
            "schema)"
        )
    next_n = latest + 1
    slice_dir = f"{root}/_slices/s{next_n}"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(slice_dir)
    # reuse the writer's own directory names (never re-derive partition
    # path escaping); every touched value carried >= 1 merged row (its
    # update rows at minimum), so the counts must agree — checked BEFORE
    # the flip, while the commit can still be abandoned for free
    new_dirs = [
        nm
        for nm in _fs_child_dirs(spark, slice_dir)
        if nm.startswith(f"{partition_col}=")
    ]
    if len(new_dirs) != len(touched):
        raise RuntimeError(
            f"merge_upsert_partitioned: slice s{next_n} materialized "
            f"{len(new_dirs)} partition dirs for {len(touched)} touched "
            "values — aborting before the manifest flip"
        )
    for nm in new_dirs:
        entries[nm] = f"s{next_n}"
    _commit_manifest(spark, root, next_n, partition_col, utype, entries)
    return sorted(touched)


def drop_partitions(
    spark,
    snapshot_dir: str,
    values: list,
    partition_col: str,
    partition_type: str | None = None,
    missing_ok: bool = True,
) -> list:
    """Retention drop — the weekly "expire old date partitions" operation:
    commit a manifest WITHOUT the given partition values' entries. Pure
    metadata: no data file is touched (dropped slices reclaim via
    ``vacuum_snapshot``; legacy dirs are never deleted), the commit is
    the same one-small-file flip as ``merge_upsert_partitioned``, and a
    crash at any point leaves the snapshot wholly at the previous
    version. A legacy plain directory is adopted zero-copy on first
    drop — pass ``partition_type`` (the column's DDL type, usually the
    original writer's) since there's no updates frame to read it from;
    manifest-backed snapshots take it from the manifest. With
    ``missing_ok`` (default) absent values are skipped — scheduled
    retention re-runs are idempotent, and a drop that removes nothing
    commits nothing. Returns the sorted partition values actually
    dropped."""
    values = [values] if isinstance(values, str) else list(values)
    if not values:
        return []
    if any(v is None or v == "" for v in values):
        raise ValueError(
            "drop_partitions: NULL / empty-string partition values are "
            "never committed by merge_upsert_partitioned and cannot be "
            "dropped by value"
        )
    root = snapshot_dir.rstrip("/")
    mans = _committed_manifests(spark, root)
    vs = sorted(mans)
    latest = vs[-1] if vs else 0
    if vs:
        man = mans[latest]
        if man["partition_col"] != partition_col:
            raise ValueError(
                f"drop_partitions: snapshot {root} is partitioned by "
                f"'{man['partition_col']}', not '{partition_col}'"
            )
        ptype = man["partition_type"]
        if partition_type is not None and partition_type != ptype:
            raise ValueError(
                f"drop_partitions: partition_type={partition_type!r} "
                f"contradicts the snapshot's recorded type {ptype!r} — "
                "drop values at the manifest's type (or omit the "
                "argument; manifest-backed snapshots don't need it)"
            )
        entries = dict(man["entries"])
    else:
        if partition_type is None:
            raise ValueError(
                "drop_partitions: a legacy plain directory has no "
                "manifest to read the partition type from — pass "
                "partition_type (the column's DDL type, e.g. 'string')"
            )
        ptype = partition_type
        entries = _adopt_legacy_entries(
            spark,
            root,
            partition_col,
            ptype,
            "drop_partitions",
            "Pass the partition_type the original writer produced "
            "(often 'string').",
        )
        if not entries:
            raise ValueError(
                f"drop_partitions: {root} has no '{partition_col}=' "
                "partition directories to adopt"
            )
    # value -> dirname through the SAME cast+escape the writer uses
    jvm = spark._jvm
    esc = (
        jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName
    )
    vdf = spark.createDataFrame([(v,) for v in values], f"v {ptype}")
    strs = [
        r["s"] for r in vdf.select(F.col("v").cast("string").alias("s")).collect()
    ]
    wanted = {f"{partition_col}={esc(s)}": v for s, v in zip(strs, values)}
    missing = [v for d, v in wanted.items() if d not in entries]
    if missing and not missing_ok:
        raise ValueError(
            f"drop_partitions: partition value(s) {missing} are not in "
            f"the snapshot (missing_ok=False)"
        )
    dropped = sorted(
        (v for d, v in wanted.items() if d in entries),
        key=lambda v: str(v),
    )
    if not dropped:
        return []
    _clear_crash_orphans(spark, root, latest)
    for d in wanted:
        entries.pop(d, None)
    if not entries:
        raise ValueError(
            "drop_partitions: dropping every partition would commit an "
            "unreadable empty snapshot — delete or rebuild the directory "
            "instead"
        )
    _commit_manifest(spark, root, latest + 1, partition_col, ptype, entries)
    return dropped


def vacuum_snapshot(
    spark, snapshot_dir: str, keep_manifests: int = 2
) -> dict:
    """Reclaim superseded slices: keep the newest ``keep_manifests``
    manifests, delete older manifest files and every slice no kept
    manifest references. Legacy partition directories are NEVER deleted
    (plain-directory readers may still list them). Run from the single
    writer only — never concurrently with a commit (slices numbered above
    the latest committed manifest are an in-flight commit's and are left
    alone) — and not while readers older than the kept manifests are
    mid-scan. Returns ``{"manifests_deleted": n, "slices_deleted": n}``."""
    import re

    if keep_manifests < 1:
        raise ValueError("vacuum_snapshot: keep_manifests must be >= 1")
    root = snapshot_dir.rstrip("/")
    mans = _committed_manifests(spark, root)
    vs = sorted(mans)
    stats = {"manifests_deleted": 0, "slices_deleted": 0}
    if not vs:
        return stats
    keep = set(vs[-keep_manifests:])
    live = set()
    for v in keep:
        live |= {
            loc for loc in mans[v]["entries"].values() if loc != "legacy"
        }
    # manifests FIRST, slices second: a crash between the two loops then
    # leaves only unreferenced slices (wasted space a future vacuum
    # reclaims) — the reverse order left a committed-LOOKING manifest
    # whose slice data was gone, turning time travel into an opaque
    # path-does-not-exist read error
    for v in vs:
        if v not in keep:
            _fs_delete(spark, f"{root}/_manifests/m{v}.json")
            stats["manifests_deleted"] += 1
    for nm in _fs_child_dirs(spark, f"{root}/_slices"):
        m = re.fullmatch(r"s(\d+)", nm)
        if m and nm not in live and int(m.group(1)) <= vs[-1]:
            _fs_delete(spark, f"{root}/_slices/{nm}")
            stats["slices_deleted"] += 1
    return stats


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str] | str = "doc_id",
    content_cols: list[str] | str | None = None,
) -> DataFrame:
    """Content diff between two corpus snapshots — the audit step an
    incremental pipeline runs after every refresh (what did this crawl
    delivery actually change?) and the input to incremental downstream
    work (re-embed / re-tokenize only ``changed`` + ``added``).

    Returns one row per key present in EITHER snapshot:
    ``(*keys, status)`` with ``status`` in ``added`` (key only in
    ``new``), ``removed`` (only in ``old``), ``changed`` (both, content
    fingerprint differs), ``unchanged``. Content identity is a hash of
    PER-COLUMN fixed-width digests — EXACT bytes after the string cast
    (deliberately not the dedup family's normalized hash: a
    whitespace-only edit IS a change to a snapshot auditor) and
    injective in the cell tuple (no delimiter-in-value or null-sentinel
    collisions across column boundaries). ``content_cols`` defaults to
    every non-key column shared by both frames; all-null contents
    compare null-safely (null == null is ``unchanged``, the ``<=>``
    rule).

    Scale shape: ONE co-partitioned shuffle — both sides hash-partition
    on the key for the full outer join, and the fingerprints are
    computed map-side before the exchange so the join carries
    ``(key, 16-byte hash)``, never the document bodies.
    """
    key_list = [keys] if isinstance(keys, str) else list(keys)
    if content_cols is None:
        shared = [
            c for c in old.columns if c in set(new.columns) and c not in key_list
        ]
        if not shared:
            raise ValueError(
                "snapshot_diff: no shared non-key columns to fingerprint "
                f"(old has {old.columns}, new has {new.columns}); pass "
                "content_cols explicitly"
            )
        content_cols = shared
    elif isinstance(content_cols, str):
        content_cols = [content_cols]
    for side, frame in (("old", old), ("new", new)):
        missing = [c for c in [*key_list, *content_cols] if c not in frame.columns]
        if missing:
            raise ValueError(
                f"snapshot_diff: {side} snapshot is missing columns "
                f"{missing} (has {frame.columns})"
            )

    def fingered(df: DataFrame, tag: str) -> DataFrame:
        # Hash PER COLUMN, then hash the fixed-width digests: a raw
        # concat is ambiguous at the boundaries — a delimiter character
        # INSIDE a value would collide ('a\\x1fb','c') with ('a','b\\x1fc'),
        # and any null sentinel string could collide with a real value
        # equal to it. Fixed-width cells ('v'+32-hex digest, 'n' for
        # null) make the combined string injective in the cell tuple.
        # An all-null content row fingerprints as null and pairs
        # null-safely.
        cells = [
            F.when(
                F.col(c).isNotNull(),
                F.concat(F.lit("v"), F.md5(F.col(c).cast("string"))),
            ).otherwise(F.lit("n"))
            for c in content_cols
        ]
        has_any = (
            F.greatest(*[F.col(c).isNotNull() for c in content_cols])
            if len(content_cols) > 1
            else F.col(content_cols[0]).isNotNull()
        )
        return df.select(
            *key_list,
            F.when(has_any, F.md5(F.concat(*cells))).alias(f"__h_{tag}"),
            F.lit(True).alias(f"__in_{tag}"),
        )

    o = fingered(old, "old")
    n = fingered(new, "new")
    joined = o.join(n, key_list, "full_outer")
    status = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old").eqNullSafe(F.col("__h_new")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(*key_list, status.alias("status"))


def word_distribution_drift(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    vocab_cap: int = 100_000,
    alpha: float = 0.5,
) -> DataFrame:
    """Corpus drift monitor: compare two snapshots' word distributions —
    the re-train/re-mix trigger a living corpus runs per refresh ("did
    this month's crawl change the language enough to care"). Emits ONE
    row: symmetric KL divergences, Jensen–Shannon divergence, and total
    variation distance between additive-smoothed unigram distributions
    over the union of both sides' `word_counts` heads (cap
    ``vocab_cap``, smoothing ``alpha`` — 0.5 = Jeffreys — so a word
    absent from one side contributes finitely).

    Everything is arithmetic over the joined ≤ 2·cap-row vocabulary
    frame: two `word_counts` heaps (the corpus-scale work, map-side
    combinable), one full-outer join on the word, two 1-row total
    aggregates broadcast back, and a final 1-row aggregate. Values are
    rounded to 6 dp; summation-order float drift lives ~1e-12 below
    that (terms are O(p·log p) over a bounded vocabulary), the same
    firewall every sketch estimate here uses.

    Output: ``(vocab_union, kl_ab, kl_ba, js_divergence, tvd)``; two
    empty corpora are identical by definition (all zeros)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from dbda_big_data_walmart_stores_analysis_prediction_spark.operators.bpe import (
        word_counts,
    )

    wa = word_counts(a, text_col, vocab_cap).withColumnRenamed("n", "na")
    wb = word_counts(b, text_col, vocab_cap).withColumnRenamed("n", "nb")
    j = (
        wa.join(wb, "word", "full_outer")
        .select(
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
        .localCheckpoint(eager=False)
    )
    totals = j.agg(
        F.sum("na").cast("double").alias("ta"),
        F.sum("nb").cast("double").alias("tb"),
        F.count("*").cast("double").alias("v"),
    )
    al = F.lit(float(alpha))
    pa = (F.col("na") + al) / (F.col("ta") + al * F.col("v"))
    pb = (F.col("nb") + al) / (F.col("tb") + al * F.col("v"))
    m = (pa + pb) / F.lit(2.0)
    return (
        j.crossJoin(F.broadcast(totals))
        .agg(
            F.count("*").cast("bigint").alias("vocab_union"),
            # coalesce: two empty corpora join to zero rows, and the
            # drift of nothing against nothing is zero, not NULL
            F.round(
                F.coalesce(F.sum(pa * F.log(pa / pb)), F.lit(0.0)), 6
            ).alias("kl_ab"),
            F.round(
                F.coalesce(F.sum(pb * F.log(pb / pa)), F.lit(0.0)), 6
            ).alias("kl_ba"),
            F.round(
                F.coalesce(
                    (
                        F.sum(pa * F.log(pa / m))
                        + F.sum(pb * F.log(pb / m))
                    )
                    / F.lit(2.0),
                    F.lit(0.0),
                ),
                6,
            ).alias("js_divergence"),
            F.round(
                F.coalesce(F.sum(F.abs(pa - pb)) / F.lit(2.0), F.lit(0.0)),
                6,
            ).alias("tvd"),
        )
    )


def embedding_drift(
    old: DataFrame,
    new: DataFrame,
    by_col: str = "label",
    vec_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """Per-group embedding-distribution drift between two snapshots —
    `word_distribution_drift`'s sibling for the vector axis, and the
    re-embed / re-fit trigger behind the serving index (the index is
    grown under a FROZEN cell model; this is the monitor that says when
    that stops being sound): for each
    ``by_col`` group, the cosine between the snapshots' mean vectors and
    the ratio of their norms. A direction swing (cos well below 1) means
    the group's content moved; a norm collapse (ratio toward 0) means it
    diffused.

    Output per group present in EITHER snapshot: ``(by, n_old, n_new,
    centroid_cos, norm_ratio)`` — counts are 0 (not null) for the absent
    side, and the two geometry columns are NULL when either side lacks a
    usable mean (absent group, all-null vectors, or a zero-norm mean:
    no direction to compare). Mean components round to ``dp`` before the
    cosine (the q111 avg-agreement precedent), so the report
    hash-checks cross-engine.

    Scale shape: one ``posexplode → groupBy(by, dim)`` average per
    snapshot (the q111 means stage — the only corpus-scale work, a hash
    aggregate with map-side combine), then joins and folds over
    ≤ groups × dim rows. No UDF, no window, no driver data path.
    """
    for df, name in ((old, "old"), (new, "new")):
        for c in (by_col, vec_col):
            if c not in df.columns:
                raise ValueError(
                    f"embedding_drift: {name} frame lacks column {c!r} "
                    f"(has {df.columns})"
                )

    def means(df, tag):
        return (
            df.where(F.col(vec_col).isNotNull())
            .select(F.col(by_col).alias("by"), F.posexplode(vec_col))
            .groupBy("by", "pos")
            .agg(F.round(F.avg("col"), dp).alias(f"m_{tag}"))
        )

    def counts(df, alias):
        return df.groupBy(F.col(by_col).alias("by")).agg(
            F.count("*").cast("bigint").alias(alias)
        )

    # every by-keyed join below is null-SAFE (the q144 tokenizer_ab_report
    # precedent): a NULL group present in both snapshots must pair with
    # itself — plain equi-joins would split it into (n_old, 0)/(0, n_new)
    # count rows and strand its computable geometry
    geom = (
        means(old, "a")
        .join(
            means(new, "b")
            .withColumnRenamed("by", "__by_b")
            .withColumnRenamed("pos", "__pos_b"),
            F.col("by").eqNullSafe(F.col("__by_b"))
            & (F.col("pos") == F.col("__pos_b")),
        )
        .groupBy("by")
        .agg(
            F.sum(F.col("m_a") * F.col("m_b")).alias("__ab"),
            F.sum(F.col("m_a") * F.col("m_a")).alias("__aa"),
            F.sum(F.col("m_b") * F.col("m_b")).alias("__bb"),
        )
        .select(
            "by",
            F.when(
                (F.col("__aa") > 0) & (F.col("__bb") > 0),
                F.round(
                    F.col("__ab")
                    / (F.sqrt(F.col("__aa")) * F.sqrt(F.col("__bb"))),
                    6,
                ),
            ).alias("centroid_cos"),
            F.when(
                F.col("__aa") > 0,
                F.round(F.sqrt(F.col("__bb")) / F.sqrt(F.col("__aa")), 6),
            ).alias("norm_ratio"),
        )
    )
    return (
        counts(old, "n_old")
        .join(
            counts(new, "n_new").withColumnRenamed("by", "__by_n"),
            F.col("by").eqNullSafe(F.col("__by_n")),
            "full_outer",
        )
        .select(
            F.coalesce("by", "__by_n").alias("by"), "n_old", "n_new"
        )
        .join(
            geom.withColumnRenamed("by", "__by_g"),
            F.col("by").eqNullSafe(F.col("__by_g")),
            "left",
        )
        .select(
            F.col("by").alias(by_col),
            F.coalesce("n_old", F.lit(0)).alias("n_old"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
            "centroid_cos",
            "norm_ratio",
        )
    )
