"""Median-protocol A/B harness (PERF.md round-7 protocol): for each named
query, run the Spark plan 5x in-session in each of ``--sessions`` fresh
subprocess sessions, plus the DuckDB oracle 5x in-process, and report
med/min/max across sessions.

Usage:
    python scripts/ab_medians.py q60_incremental_dedup q65_contamination_report
    python scripts/ab_medians.py --sessions 3 --reps 5 q87_pretrain_capstone
    python scripts/ab_medians.py --multifile 8 q15_describe_lineitem
    python scripts/ab_medians.py --parent /path/to/parent-checkout q171_mad_highcard
    python scripts/ab_medians.py one <name> <reps> <checkout>   (internal)

``--parent PATH`` compares two checkouts: PATH (the parent commit, e.g.
made with ``git archive``) against this script's own checkout (the
change). Every session runs each query once per side, each side in its
own subprocess importing its own checkout's code, and sessions alternate
which side runs first, so machine drift lands on both sides instead of
reading as a win for whichever ran last (two runs minutes apart read
q181 as 2.45 -> 4.74 s on unchanged code). It prints per-side
``spark_med``, the per-session ``[parent, change]`` median pairs and
how many sessions the change won.

``--multifile N`` re-writes every sf table as N parquet files under
``.bench_scale/<sf>_Nf/`` (built once, reused) and runs BOTH sides
against that copy. The driver's sf0.1 fixtures are each ONE parquet row
group, so every Spark scan is a single task — three rounds of
adjudication (r8–r10) traced apparent regressions to that floor. This
flag is the controlled experiment: same rows, same plans, N-way scan
parallelism, driver bench untouched.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def ensure_multifile(n_files: int) -> str:
    """Materialize (once) an N-file copy of every SF_DIR table and return
    its directory. Each ``<table>.parquet`` becomes a DIRECTORY of N
    part-files — Spark reads it unchanged; the DuckDB oracle needs the
    ``/*.parquet`` glob (handled in :func:`oracle_times`)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dest = os.path.join(
        repo, ".bench_scale", f"{os.path.basename(SF_DIR)}_{n_files}f"
    )
    marker = os.path.join(dest, ".complete")
    src_sig = " ".join(
        f"{t}:{int(os.path.getmtime(f'{SF_DIR}/{t}.parquet'))}"
        for t in TABLES
        if os.path.exists(f"{SF_DIR}/{t}.parquet")
    )
    # Full-marker EQUALITY, not endswith: a suffix match validated a
    # stale copy whenever a source table was deleted (its old signature
    # ended with the shrunken new one — trivially so for the empty sig).
    expected_marker = f"source={SF_DIR} n_files={n_files} {src_sig}"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == expected_marker:
                return dest
    # Any other state — stale marker, OR a marker-less partial dir from a
    # crashed rebuild — rebuilds from scratch so tables REMOVED from the
    # source (or half-written ones) never linger in dest.
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    from dbda_big_data_walmart_stores_analysis_prediction_spark.session import get_spark

    spark = get_spark(app_name="ab_medians_multifile", shuffle_partitions=32)
    os.makedirs(dest, exist_ok=True)
    for t in TABLES:
        src = f"{SF_DIR}/{t}.parquet"
        if not os.path.exists(src):
            continue
        spark.read.parquet(src).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(f"{dest}/{t}.parquet")
    spark.stop()
    with open(marker, "w") as f:
        f.write(expected_marker)
    return dest


def one(name: str, reps: int, checkout: str) -> None:
    sys.path.insert(0, checkout)
    import __spark_entry__ as entry

    from dbda_big_data_walmart_stores_analysis_prediction_spark.session import get_spark

    spark = get_spark()
    fn = entry.queries()[name]
    times = []
    for _ in range(reps):
        t0 = time.monotonic()
        fn(spark, SF_DIR).count()
        times.append(time.monotonic() - t0)
    print(json.dumps(times))
    spark.stop()


def oracle_times(name: str, reps: int) -> list[float]:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql().get(name)
    if sql is None:
        return []
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.isdir(p):
            p = f"{p}/*.parquet"  # Spark-written multi-file table
        elif not os.path.exists(p):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    times = []
    for _ in range(reps):
        t0 = time.monotonic()
        con.execute(sql).fetchall()
        times.append(time.monotonic() - t0)
    con.close()
    return times


def schedule(
    names: list[str], sessions: int, sides: list[str]
) -> list[tuple[int, str, str]]:
    """``(session, query, side)`` in run order. Time-major round-robin (the
    round-8 interleaving protocol): session k of EVERY query runs before
    session k+1 of any, so drift lands on all queries equally. Within a
    session each query runs once per side, and odd sessions reverse the
    side order so neither side always runs first."""
    return [
        (k, name, side)
        for k in range(sessions)
        for name in names
        for side in (sides if k % 2 == 0 else sides[::-1])
    ]


def _summary(per_session_medians: list[float], all_times: list[float]) -> dict:
    return {
        "spark_med": round(statistics.median(per_session_medians), 3),
        "spark_session_medians": [round(t, 3) for t in per_session_medians],
        "spark_min": round(min(all_times), 3),
        "spark_max": round(max(all_times), 3),
    }


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "one":
        one(args[1], int(args[2]), args[3])
        return
    sessions = 3
    reps = 5
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checkouts = {"change": repo}
    if "--sessions" in args:
        i = args.index("--sessions")
        sessions = int(args[i + 1])
        del args[i : i + 2]
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    if "--parent" in args:
        i = args.index("--parent")
        checkouts = {"parent": os.path.abspath(args[i + 1]), "change": repo}
        del args[i : i + 2]
    if "--multifile" in args:
        i = args.index("--multifile")
        n_files = int(args[i + 1])
        del args[i : i + 2]
        global SF_DIR
        SF_DIR = ensure_multifile(n_files)
        # Subprocess sessions (and their oracle views) follow via env.
        os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR
    # (query, side) -> (per-session medians, every rep's time)
    runs: dict[tuple[str, str], tuple[list[float], list[float]]] = {
        (name, side): ([], []) for name in args for side in checkouts
    }
    for _, name, side in schedule(args, sessions, list(checkouts)):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "one", name, str(reps), checkouts[side]],
            cwd=checkouts[side],
            capture_output=True,
            text=True,
            check=True,
        )
        times = json.loads(out.stdout.strip().splitlines()[-1])
        runs[name, side][0].append(statistics.median(times))
        runs[name, side][1].extend(times)
    for name in args:
        od = oracle_times(name, reps)
        record = {"query": name}
        if len(checkouts) == 1:
            record |= _summary(*runs[name, "change"])
        else:
            parent, change = runs[name, "parent"][0], runs[name, "change"][0]
            record |= {side: _summary(*runs[name, side]) for side in checkouts}
            record["pairs"] = [[round(p, 3), round(c, 3)] for p, c in zip(parent, change)]
            record["change_wins"] = sum(c < p for p, c in zip(parent, change))
        record["oracle_med"] = round(statistics.median(od), 3) if od else None
        record["sf_dir"] = SF_DIR
        print(json.dumps(record), flush=True)


if __name__ == "__main__":
    main()
