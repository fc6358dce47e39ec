#!/usr/bin/env python3
"""Benchmark runner for the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in one Spark driver process: a single closed-loop client on
``local[nproc]`` with the session from the engine's own ``get_spark()``
defaults. The seed makes the inputs (and the op order); the engine only
sees the generated files. A run is:

1. generate the inputs under ``.perfbench_work/`` (not timed);
2. set up: import the engine, start the JVM through ``get_spark()`` and
   declare the inputs (``setup_s``);
3. run whole passes over the workload's ops until ``--seconds`` have
   elapsed, at least one; ``spark.catalog.clearCache()`` runs between ops
   and an op that raises is counted as failed without ending the pass;
4. read the peak resident memory of the driver JVM and Python, stop the
   JVM and wait for it;
5. check every op's output with DuckDB (not timed).

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the same run is traced (job groups, event log, Catalyst
phase tracker, wrappers around the engine's operators and plans) and the
last line carries the per-layer metrics. Every metric, including the ones
a workload does not put in the result line, is printed before it as
``metric <workload> <name> <value> <unit>``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "dbda_big_data_walmart_stores_analysis_prediction_spark"
sys.path.insert(0, HERE)

import checks  # noqa: E402
import docs_gen  # noqa: E402
import walmart_gen  # noqa: E402
from percentiles import median_or_none, tail_percentile  # noqa: E402

MB = 1024.0 * 1024.0


@dataclass
class Op:
    name: str
    fn: object  # (spark, tracer | None) -> output kept for the checks


@dataclass
class OpResult:
    name: str
    seconds: float
    output: object = None
    error: str | None = None


@dataclass
class Inputs:
    data_dir: str
    out_dir: str
    rows: int
    mb: float
    paths: dict = field(default_factory=dict)


def _span(tracer, name, layer):
    return tracer.span(name, layer) if tracer else contextlib.nullcontext()


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / MB


# --- workloads ------------------------------------------------------------


class WalmartPipeline:
    """The reference's etl -> eda -> model DAG through the engine's CLI,
    in-process, on generated Walmart-shaped CSVs."""

    name = "walmart_pipeline"
    stages = ("etl", "eda", "model")

    def __init__(self, spec: dict) -> None:
        self.spec = spec

    def generate(self, run_dir: str, seed: int) -> Inputs:
        data = os.path.join(run_dir, "in")
        counts = walmart_gen.generate(data, seed, self.spec["scale"])
        return Inputs(data, os.path.join(run_dir, "out"), sum(counts.values()), _dir_mb(data))

    def declare(self, spark, inputs: Inputs) -> None:
        from dbda_big_data_walmart_stores_analysis_prediction_spark.sources import (
            WALMART_FEATURES_SCHEMA,
            WALMART_STORES_SCHEMA,
            WALMART_TEST_SCHEMA,
            WALMART_TRAIN_SCHEMA,
            read_csv,
        )

        for table, schema in (
            ("train", WALMART_TRAIN_SCHEMA),
            ("test", WALMART_TEST_SCHEMA),
            ("stores", WALMART_STORES_SCHEMA),
            ("features", WALMART_FEATURES_SCHEMA),
        ):
            read_csv(spark, f"{inputs.data_dir}/{table}.csv", schema)

    def ops(self, inputs: Inputs, seed: int, pass_no: int) -> list[Op]:
        from dbda_big_data_walmart_stores_analysis_prediction_spark import cli

        d, out = inputs.data_dir, f"{inputs.out_dir}/pass{pass_no}"
        argv = {
            "etl": ["etl", "--train", f"{d}/train.csv", "--test", f"{d}/test.csv",
                    "--stores", f"{d}/stores.csv", "--features", f"{d}/features.csv",
                    "--out", out],
            "eda": ["eda", "--data", f"{out}/merged_train",
                    "--facet-cols", "Month,IsHoliday,Type"],
            "model": ["model", "--train", f"{out}/merged_train",
                      "--test", f"{out}/merged_test", "--out", out],
        }

        def stage(args):
            def run(spark, tracer):
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    cli.main(args)
                return {"stdout": buf.getvalue(), "out": out}

            return run

        return [Op(s, stage(argv[s])) for s in self.stages]

    def check(self, inputs: Inputs, results: list[OpResult]) -> dict[str, list[str]]:
        fails: dict[str, list[str]] = {}
        by_pass: list[list[OpResult]] = [
            results[i : i + len(self.stages)] for i in range(0, len(results), len(self.stages))
        ]
        for i, pass_results in enumerate(by_pass):
            if any(r.error for r in pass_results):
                continue
            found = checks.check_walmart(
                inputs.data_dir,
                pass_results[0].output["out"],
                {r.name: r.output["stdout"] for r in pass_results},
                self.spec["r2_floor"],
            )
            fails.update({f"p{i}:{stage}": msgs for stage, msgs in found.items() if msgs})
        return fails

    def files_written(self, inputs: Inputs) -> int:
        return sum(
            f.startswith("part-")
            for _, _, fs in os.walk(inputs.out_dir)
            for f in fs
        )


class CorpusText:
    """Oracled registry queries over a generated ``documents`` table: text
    features, exact dedup, MinHash-LSH pairs, n-gram decontamination."""

    name = "corpus_text"

    def __init__(self, spec: dict) -> None:
        self.spec = spec

    def generate(self, run_dir: str, seed: int) -> Inputs:
        data = os.path.join(run_dir, "in")
        path = os.path.join(data, "documents.parquet")
        rows = docs_gen.generate(path, seed, self.spec["n_docs"])
        return Inputs(data, os.path.join(run_dir, "out"), rows, _dir_mb(data),
                      {"documents": path})

    def declare(self, spark, inputs: Inputs) -> None:
        from dbda_big_data_walmart_stores_analysis_prediction_spark.sources.catalog import (
            load_star_table,
        )

        load_star_table(spark, inputs.data_dir, "documents")

    def _names(self) -> list[str]:
        from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import QUERIES

        prefixes = set(self.spec["queries"])
        return [n for n in QUERIES if n.split("_", 1)[0] in prefixes]

    def ops(self, inputs: Inputs, seed: int, pass_no: int) -> list[Op]:
        from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import QUERIES

        names = self._names()
        random.Random(seed * 1000 + pass_no).shuffle(names)

        def query(name):
            def run(spark, tracer):
                with _span(tracer, f"build:{name}", "build"):
                    df = QUERIES[name](spark, inputs.data_dir)
                with _span(tracer, "collect", "action"):
                    rows = df.collect()
                if tracer:
                    tracer.keep_frames(df)
                return df.columns, rows

            return run

        return [Op(n, query(n)) for n in names]

    def check(self, inputs: Inputs, results: list[OpResult]) -> dict[str, list[str]]:
        from dbda_big_data_walmart_stores_analysis_prediction_spark.plans import ORACLE_SQL

        fails: dict[str, list[str]] = {}
        for i, r in enumerate(results):
            if r.error:
                continue
            cols, rows = r.output
            msg = checks.check_registry_op(r.name, ORACLE_SQL[r.name], inputs.paths, cols, rows)
            if msg:
                fails[f"op{i}:{r.name}"] = [msg]
        return fails

    def files_written(self, inputs: Inputs) -> int:
        return 0


WORKLOADS = {w.name: w for w in (WalmartPipeline, CorpusText)}


# --- the run --------------------------------------------------------------


def _confine_env(run_dir: str) -> None:
    """Keep Spark's scratch space and the JVM's temp files in the run dir."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _tree_cpu_s(root: int) -> float:
    """User + system CPU time, all threads, of ``root`` and every process
    below it, with the time of children they have already reaped. Rooted
    at the driver Python this covers the JVM and the Python workers it
    forks for UDFs (``pyspark.daemon`` and its workers)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat_fields(int(entry))[1])
            except OSError:  # the process ended meanwhile
                continue
            children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    ticks = 0
    for pid in tree:
        try:
            fields = _stat_fields(pid)
        except OSError:
            continue
        ticks += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return ticks / os.sysconf("SC_CLK_TCK")


def _live_heap_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the session
    keeps once the ops are done."""
    memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    memory.gc()
    return memory.getHeapMemoryUsage().getUsed() / MB


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _catalyst_s(spark, frames) -> dict[str, float]:
    out = {f"catalyst.{p}_s": 0.0 for p in ("analysis", "optimization", "planning")}
    seen = set()
    system = spark._jvm.java.lang.System
    for df in frames:
        qe = df._jdf.queryExecution()
        key = system.identityHashCode(qe)
        if key in seen:
            continue
        seen.add(key)
        phases = qe.tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            opt = phases.get(p)
            if opt.isDefined():
                out[f"catalyst.{p}_s"] += opt.get().durationMs() / 1e3
    return out


def _retained(spark) -> dict[str, float]:
    sc = spark.sparkContext._jsc.sc()
    infos = sc.getRDDStorageInfo()
    return {
        "materialize.retained_rdds": float(sc.getPersistentRDDs().size()),
        "materialize.retained_mb": sum(i.memSize() + i.diskSize() for i in infos) / MB,
    }


def run_pass(spark, ops: list[Op], tracer, pass_no: int, op_extras: dict) -> list[OpResult]:
    """One pass over ``ops``; an op that raises is recorded and the pass
    goes on."""
    sc = spark.sparkContext
    results = []
    for op in ops:
        op_id = f"p{pass_no}:{op.name}"
        if tracer:
            tracer.op = op_id
            tracer.frames = []
            sc.setJobGroup(op_id, op.name)
        output, error = None, None
        t0 = time.perf_counter()
        try:
            with _span(tracer, op.name, "op"):
                output = op.fn(spark, tracer)
        except Exception:  # the pass must go on; the op counts as failed
            error = traceback.format_exc(limit=4)
            print(f"op {op_id} raised:\n{error}", file=sys.stderr)
        seconds = time.perf_counter() - t0
        if tracer:
            sc.setLocalProperty("spark.jobGroup.id", None)
            extras = _catalyst_s(spark, tracer.frames)
        spark.catalog.clearCache()
        if tracer:
            extras.update(_retained(spark))
            op_extras[op_id] = extras
            tracer.op = None
            tracer.frames = []
        results.append(OpResult(op.name, seconds, output, error))
    return results


def _emit(workload: str, metrics: dict[str, tuple[float | None, str]]) -> None:
    for name, (value, unit) in metrics.items():
        shown = "n/a" if value is None else repr(value)
        print(f"metric {workload} {name} {shown} {unit}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workload = WORKLOADS[args.workload](spec["workloads"][args.workload])
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return _run(args, workload, run_dir, bench, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, workload, run_dir: str, bench: dict, spec: dict) -> int:
    _confine_env(run_dir)
    inputs = workload.generate(run_dir, args.seed)
    traced = bool(args.trace)
    event_dir = os.path.join(run_dir, "events")

    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from dbda_big_data_walmart_stores_analysis_prediction_spark import get_spark

    extra = None
    if traced:
        os.makedirs(event_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(extra_conf=extra)
    try:
        workload.declare(spark, inputs)
        setup_s = time.perf_counter() - t0
        tracer = None
        if traced:
            import tracing as tr

            tracer = tr.Tracer()
            n_wrapped = tr.install_wrappers(tracer, PKG)
            print(f"info {workload.name} wrapped {n_wrapped} engine functions")
        cores = spark.sparkContext.defaultParallelism
        pids = [spark._jvm.java.lang.ProcessHandle.current().pid(), os.getpid()]
        cpu_marks = [_tree_cpu_s(os.getpid())]
        passes: list[list[OpResult]] = []
        op_extras: dict = {}
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < args.seconds:
            n = len(passes)
            ops = workload.ops(inputs, args.seed, n)
            with _span(tracer, f"pass{n}", "pass"):
                passes.append(run_pass(spark, ops, tracer, n, op_extras))
            cpu_marks.append(_tree_cpu_s(os.getpid()))
        peak_rss_mb = sum(_vm_hwm_mb(pid) for pid in pids)
        live_heap_mb = _live_heap_mb(spark)
    finally:
        _stop_jvm(spark)
    pass_walls = [sum(r.seconds for r in ps) for ps in passes]

    results = [r for ps in passes for r in ps]
    raised = sum(r.error is not None for r in results)
    fails = workload.check(inputs, results)
    for key, msgs in fails.items():
        for m in msgs:
            print(f"check failed [{key}] {m}", file=sys.stderr)
    failed = raised + len(fails)
    attempted = len(results)

    name = workload.name
    cold = pass_walls[0]
    warm = pass_walls[1:]
    op_times = [r.seconds for ps in passes[1:] for r in ps] or [r.seconds for r in passes[0]]
    tail = tail_percentile(op_times)
    e2e: dict[str, tuple] = {
        "setup_s": (setup_s, "s"),
        "cold_pass_s": (cold, "s"),
        "cold_pass_cpu_s": (cpu_marks[1] - cpu_marks[0], "s"),
        "run_s": (median_or_none(warm), "s"),
        "rows_per_s": (inputs.rows / cold, "rows/s"),
        "op_p50_s": (statistics.median(op_times), "s"),
        "op_tail_s": (tail[0] if tail else None, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "live_heap_mb": (live_heap_mb, "MB"),
        "error_rate": (failed / attempted, "ratio"),
    }
    if isinstance(workload, WalmartPipeline):
        e2e.update({f"{r.name}_s": (r.seconds, "s") for r in passes[0]})
    _emit(name, e2e)
    print(f"info {name} passes={len(passes)} ops={attempted} raised={raised} "
          f"check_failures={len(fails)} input_rows={inputs.rows} input_mb={inputs.mb:.3f}"
          + (f" op_tail=p{tail[1]} with {tail[2]} samples" if tail else
             f" op_tail=n/a ({len(op_times)} samples, needs >10)"))
    for r in passes[0]:
        print(f"op {name} pass0 {r.name} {r.seconds!r} s")

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if traced:
        layers = _layer_report(tracer, event_dir, op_extras, cores, setup_s, cold)
        layers["sources.files_written"] = float(workload.files_written(inputs))
        _emit(name, {k: (v, units.get(k, _unit_of(k))) for k, v in sorted(layers.items())})
        base = spec["baseline"][name]["cold_pass_s"]["median"]
        print(f"info {name} tracing_overhead_s={cold - base!r} "
              f"(traced cold pass minus the baseline untraced cold_pass_s {base})")
        trace_dir = os.path.join(WORK, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(
            os.path.join(trace_dir, f"{name}-s{args.seed}.json"),
            {"layers": layers, "ops": [[r.name, r.seconds] for r in results]},
        )
        wanted = [m["name"] for m in bench["per_layer"]]
        metrics = {k: layers.get(k, 0.0) for k in wanted}
    else:
        metrics = {m["name"]: e2e[m["name"]][0] for m in bench["end_to_end"]}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def _layer_report(tracer, event_dir, op_extras, cores, setup_s, cold) -> dict[str, float]:
    import tracing as tr

    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    with open(logs[0]) as f:
        folded = tr.fold_event_log(f)
    first_pass = [s for s in tracer.spans if (s["op"] or "").startswith("p0:")]
    extras = {k: v for k, v in op_extras.items() if k.startswith("p0:")}
    layers = tr.layer_metrics(first_pass, folded, extras, cores)
    layers["operators.self_s"] = sum(
        v for k, v in layers.items() if k.startswith("operators.") and k.endswith("_s")
    )
    layers["session.start_s"] = setup_s
    layers["trace.pass_s"] = cold
    return layers


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
