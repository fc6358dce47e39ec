"""Tracing for the benchmark's traced runs, all from outside the program.

* ``Tracer`` keeps spans (name, layer, start, end, parent, op) in memory
  and writes them out once, when the run ends.
* ``install_wrappers`` puts timing wrappers around the public functions of
  the engine's ``operators/*`` and ``plans/*`` modules and around
  ``sources.io.write_parquet``, rebinding every module-level name that
  refers to them, so calls made by the plans go through the wrappers.
* ``fold_event_log`` folds a Spark event log (JSON lines, stdlib ``json``)
  into per-job-group counters: jobs with their intervals, stages, tasks,
  executor run/CPU/GC time, shuffle, spill, failed task attempts and the
  Python-worker stage accumulables.
* ``layer_metrics`` turns the spans of one pass plus the folded log into
  the per-layer numbers (self times per layer, summed over the pass).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import pkgutil
import sys
import time
from collections import defaultdict

PY_ACCUMULABLES = {
    "time to run Python workers": "python.worker_s",
    "time to start Python workers": "python.boot_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}
MB = 1024.0 * 1024.0


class Tracer:
    """Span recorder. One thread; the innermost open span is the parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.frames: list = []
        self.op: str | None = None
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def keep_frames(self, result) -> None:
        """Remember DataFrames a wrapped call returned, for the Catalyst
        phase read at the end of the op."""
        items = result if isinstance(result, (tuple, list)) else (result,)
        for item in items:
            if hasattr(item, "_jdf"):
                self.frames.append(item)

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(f"{fn.__module__.rsplit('.', 1)[-1]}.{fn.__name__}", layer):
                result = fn(*args, **kwargs)
            self.keep_frames(result)
            return result

        return wrapper

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f)


def _layer_of(module_name: str, pkg: str) -> str | None:
    rel = module_name[len(pkg) + 1:]
    if rel.startswith("operators."):
        return "operators." + rel.split(".", 1)[1]
    if rel.startswith("plans."):
        return "plans"
    return None


def install_wrappers(tracer: Tracer, pkg: str) -> int:
    """Wrap the public functions of ``<pkg>.operators.*``, ``<pkg>.plans.*``
    and ``<pkg>.sources.io.write_parquet``; return how many were wrapped."""
    for sub in ("operators", "plans"):
        base = importlib.import_module(f"{pkg}.{sub}")
        for info in pkgutil.iter_modules(base.__path__):
            importlib.import_module(f"{pkg}.{sub}.{info.name}")
    io_mod = importlib.import_module(f"{pkg}.sources.io")
    wrapped: dict[int, object] = {
        id(io_mod.write_parquet): tracer.wrap(io_mod.write_parquet, "sources.write")
    }
    for name, mod in list(sys.modules.items()):
        layer = _layer_of(name, pkg) if name.startswith(pkg + ".") else None
        if layer is None or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if (
                inspect.isfunction(obj)
                and not attr.startswith("_")
                and obj.__module__ == name
                and id(obj) not in wrapped
            ):
                wrapped[id(obj)] = tracer.wrap(obj, layer)
    # rebind every module-level reference, including `from x import f` copies
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == pkg or name.startswith(pkg + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
    return len(wrapped)


# --- event log ------------------------------------------------------------


def _group_counters() -> dict:
    return {
        "jobs": [],
        "stages": 0,
        "tasks": 0,
        "failed_tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "read_mb": 0.0,
        "write_mb": 0.0,
        **{k: 0.0 for k in PY_ACCUMULABLES.values()},
    }


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def fold_event_log(lines) -> dict[str, dict]:
    """Fold event-log JSON lines into counters keyed by job group (jobs
    outside any group fold under ``""``). ``jobs`` holds
    ``(job_id, submit_ms, end_ms, succeeded)`` per job."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    groups: dict[str, dict] = defaultdict(_group_counters)

    def group_of_stage(stage_id) -> dict:
        job = jobs.get(stage_job.get(stage_id, -1))
        return groups[job["group"] if job else ""]

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "",
                "start": ev.get("Submission Time"),
                "end": None,
                "ok": None,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job["end"] = ev.get("Completion Time")
                job["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = group_of_stage(info["Stage ID"])
            g["stages"] += 1
            for acc in info.get("Accumulables", []):
                key = PY_ACCUMULABLES.get(acc.get("Name"))
                if key is None:
                    continue
                value = _num(acc.get("Value"))
                # sizes are bytes; the worker timings are milliseconds
                g[key] += value / MB if key.endswith("_mb") else value / 1e3
        elif kind == "SparkListenerTaskEnd":
            g = group_of_stage(ev.get("Stage ID"))
            g["tasks"] += 1
            info = ev.get("Task Info") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or info.get("Killed") or reason != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["executor_run_s"] += _num(m.get("Executor Run Time")) / 1e3
            g["executor_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            g["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_write_mb"] += _num(sw.get("Shuffle Bytes Written")) / MB
            g["shuffle_read_mb"] += (
                _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
            ) / MB
            g["spill_mb"] += (
                _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
            ) / MB
            g["read_mb"] += _num((m.get("Input Metrics") or {}).get("Bytes Read")) / MB
            g["write_mb"] += _num((m.get("Output Metrics") or {}).get("Bytes Written")) / MB
    for job_id, job in jobs.items():
        groups[job["group"]]["jobs"].append((job_id, job["start"], job["end"], job["ok"]))
    return dict(groups)


# --- per-layer numbers ----------------------------------------------------


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its child spans cover."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_s(children.get(s["id"], []))
        for s in spans
    }


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def _outermost(spans: list[dict], layer_pred) -> list[dict]:
    by_id = {s["id"]: s for s in spans}

    def has_matching_ancestor(s):
        p = by_id.get(s["parent"])
        while p is not None:
            if layer_pred(p["layer"]):
                return True
            p = by_id.get(p["parent"])
        return False

    return [s for s in spans if layer_pred(s["layer"]) and not has_matching_ancestor(s)]


def layer_metrics(
    spans: list[dict],
    folded: dict[str, dict],
    op_extras: dict[str, dict],
    cores: int,
) -> dict[str, float]:
    """Per-layer metrics of one pass: every op span of ``spans`` (layer
    ``op``) with the event-log counters of its job group and the extras read
    during the op (Catalyst phases, retained blocks, files written)."""
    out: dict[str, float] = defaultdict(float)
    selfs = self_times(spans)
    for op in (s for s in spans if s["layer"] == "op"):
        mine = [s for s in spans if s["op"] == op["op"]]
        g = folded.get(op["op"], _group_counters())
        job_iv = [
            (start / 1e3, end / 1e3)
            for _, start, end, _ in g["jobs"]
            if start is not None and end is not None
        ]
        busy = _union_s(job_iv)
        wall = op["end"] - op["start"]
        out["plans.driver_gap_s"] += max(0.0, wall - busy)
        out["exec.jobs"] += len(g["jobs"])
        for key in ("stages", "tasks", "failed_tasks", "executor_run_s",
                    "executor_cpu_s", "gc_s", "shuffle_write_mb",
                    "shuffle_read_mb", "spill_mb"):
            out[f"exec.{key}"] += g[key]
        out["_busy_core_s"] += busy * cores
        out["sources.read_mb"] += g["read_mb"]
        out["sources.write_mb"] += g["write_mb"]
        for key in PY_ACCUMULABLES.values():
            out[key] += g[key]
        for s in mine:
            layer = s["layer"]
            if layer.startswith("operators."):
                out[f"{layer}_s"] += selfs[s["id"]]
            elif layer == "sources.write":
                out["sources.write_s"] += s["end"] - s["start"]
                out["plans.action_s"] += s["end"] - s["start"]
            elif layer == "action":
                out["plans.action_s"] += s["end"] - s["start"]
        # plan construction: outermost plan/build spans minus the actions
        # (parquet writes, collects) nested inside them
        for s in _outermost(mine, lambda layer: layer in ("plans", "build")):
            nested_actions = [
                (c["start"], c["end"])
                for c in mine
                if c["layer"] in ("sources.write", "action")
                and s["start"] <= c["start"] and c["end"] <= s["end"]
            ]
            out["plans.build_s"] += (s["end"] - s["start"]) - _union_s(nested_actions)
            if s["name"].endswith("fit_predict"):
                out["ml.fit_predict_s"] += s["end"] - s["start"]
        # jobs: attribute each to the innermost span open at its submission
        for _, start, _, _ in g["jobs"]:
            if start is None:
                continue
            inner = _innermost(mine, start / 1e3)
            chain = []
            while inner is not None:
                chain.append(inner)
                inner = next((p for p in mine if p["id"] == inner["parent"]), None)
            layers = [c["layer"] for c in chain]
            if chain and chain[0]["layer"].startswith("operators."):
                out[f"{chain[0]['layer']}_jobs"] += 1
            in_action = any(x in ("sources.write", "action") for x in layers)
            if any(x in ("plans", "build") for x in layers) and not in_action:
                out["plans.build_jobs"] += 1
            if any(c["name"].endswith("fit_predict") for c in chain):
                out["ml.fit_predict_jobs"] += 1
        extras = op_extras.get(op["op"], {})
        for key, value in extras.items():
            out[key] += value
    busy_core_s = out.pop("_busy_core_s", 0.0)
    out["exec.slot_idle_ratio"] = (
        1.0 - out["exec.executor_run_s"] / busy_core_s if busy_core_s > 0 else 0.0
    )
    return dict(out)
