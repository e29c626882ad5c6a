"""Measurement from outside the program: spans around calls into its
public functions, peak resident memory of the process tree, and a
stdlib-only reader for Spark's uncompressed JSON event log.

Jobs are attributed to operations by job group (``op-<n>``) and to
program modules by the Python call site that submitted them. PySpark
records that call site itself for the actions it wraps (``collect``,
``count``...). Writes and checkpoints go straight to the JVM, so the
traced run also wraps py4j's method dispatch and keeps the Spark
``callSite.short`` property pointed at the innermost frame of the
program package.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict


def _field_kb(pid: int, file: str, field: str) -> int:
    """A ``kB`` field of ``/proc/<pid>/<file>``; 0 where the kernel
    does not provide the file or the field."""
    try:
        with open(f"/proc/{pid}/{file}") as f:
            return next((int(line.split()[1]) for line in f if line.startswith(field)), 0)
    except (OSError, ValueError):
        return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM and the Python workers), sampled every ``period`` seconds.
    Each process counts its proportional set size, so the pages a
    forked helper still shares with the JVM are counted once."""

    def __init__(self, period: float = 0.1):
        self.period, self.peak_kb, self.peak_parts = period, 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @staticmethod
    def _tree_parts(root: int) -> dict[str, int]:
        children = defaultdict(list)
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                    children[ppid].append(int(d))
                except (OSError, ValueError, IndexError):
                    pass
        parts, todo = {}, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
                parts[f"{pid}:{name}"] = _field_kb(pid, "smaps_rollup", "Pss:") or _field_kb(pid, "status", "VmRSS:")
            except OSError:
                pass
        return parts

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = self._tree_parts(me)
            total = sum(parts.values())
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self._stop.wait(self.period)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class Spans:
    """In-memory spans: (name, op, start, end), epoch seconds."""

    def __init__(self):
        self.items: list[dict] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.time()
        try:
            yield
        finally:
            self.items.append({"name": name, "op": self.op, "start": t0, "end": time.time()})


class CallSiteHook:
    """Point Spark's ``callSite.short`` at the innermost frame of the
    program package before each py4j call, so every job records the
    module that submitted it."""

    def __init__(self, sc, pkg_dir: str):
        from py4j import java_gateway

        self._member = java_gateway.JavaMember
        self._orig = java_gateway.JavaMember.__call__
        self._jsc, self._pkg = sc._jsc, pkg_dir + os.sep
        self.on, self._site, self._busy = False, None, False
        hook = self

        def call(member, *args):
            if hook.on and not hook._busy:
                hook._sync(member.name)
            return hook._orig(member, *args)

        self._member.__call__ = call

    def _sync(self, method: str) -> None:
        if method in ("setCallSite", "setLocalProperty"):
            self._site = None  # PySpark is setting its own call site
            return
        site, f = None, sys._getframe(2)
        while f is not None:
            if f.f_code.co_filename.startswith(self._pkg):
                site = f"{f.f_code.co_name} at {f.f_code.co_filename}:{f.f_lineno}"
                break
            f = f.f_back
        if site != self._site:
            self._busy = True
            try:
                self._jsc.setLocalProperty("callSite.short", site)
            finally:
                self._busy = False
            self._site = site


_PKG_RE = re.compile(r"stock_data_project_spark/([\w/]+)\.py")


def module_of(call_site: str | None) -> str:
    """``sources.writers`` for a call site inside the program package,
    ``bench`` for one in the benchmark's own code."""
    m = _PKG_RE.search(call_site or "")
    return m.group(1).replace("/", ".") if m else "bench"


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single, uncompressed) log under ``log_dir``."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"], m.get("metricType", "sum"))
    for c in info.get("children", ()):
        _walk_plan(c, out)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _scale(kind: str) -> float:
    return {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1.0)


def per_op_metrics(events: list[dict]) -> dict[str, dict]:
    """Per job group: Spark job/task counts, task time split, GC,
    shuffle, spill, input bytes, Python-worker SQL metrics, scan
    metrics, job wall per submitting module, and the final (AQE)
    physical plan of each SQL execution."""
    accs: dict[int, tuple[str, str, str]] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ops: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    sql_vals: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for e in events:
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart"):
            _walk_plan(e.get("sparkPlanInfo", {}), accs)
            if e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
            plans[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo", {}), accs)
            plans[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            jobs[e["Job ID"]] = {
                "group": group,
                "start": e["Submission Time"] / 1e3,
                "module": module_of(props.get("callSite.short")),
            }
            for s in e.get("Stage IDs", ()):
                stage_job[s] = e["Job ID"]
            if group and props.get("spark.sql.execution.id") is not None:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif ev == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]), {})
            group = job.get("group")
            if group is None:
                continue
            o, tm = ops[group], e.get("Task Metrics") or {}
            o["spark.tasks"] += 1
            o["spark.task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            o["spark.task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            o["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            o["spark.shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            o["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
            o["spark.input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                if a.get("Metadata") == "sql":
                    node, name, kind = accs.get(a["ID"], ("", a.get("Name", ""), "sum"))
                    sql_vals[group][(node, name, kind)] += float(a.get("Update") or 0)
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            group = exec_group.get(e["executionId"])
            for acc_id, val in e.get("accumUpdates", ()):
                if group and acc_id in accs:
                    sql_vals[group][accs[acc_id]] += float(val)
    for j in jobs.values():
        if j["group"] and "end" in j:
            o = ops[j["group"]]
            o["spark.jobs"] += 1
            o.setdefault("_jobs", []).append((j["start"], j["end"], j["module"]))
    for group, vals in sql_vals.items():
        o = ops[group]
        for (node, name, kind), v in vals.items():
            v *= _scale(kind)
            if name == "time to start Python workers":
                o["python.worker_start_s"] += v
            elif name == "time to initialize Python workers":
                o["python.worker_init_s"] += v
            elif name == "time to run Python workers":
                o["python.worker_run_s"] += v
            elif name == "data sent to Python workers":
                o["python.bytes_to_worker"] += v
            elif name == "data returned from Python workers":
                o["python.bytes_from_worker"] += v
            elif node.startswith("Scan") and name == "number of files read":
                o["scan.files_read"] += v
            elif node.startswith("Scan") and name == "number of output rows":
                o["scan.rows"] += v
    for exec_id, group in exec_group.items():
        if exec_id in plans:
            ops[group].setdefault("_plans", []).append(plans[exec_id])
    return ops


def job_layers(op: dict, start: float, end: float, build_spans: list[tuple[float, float]]) -> dict:
    """Wall-time splits of one op from its jobs: the op wall no job
    covers, the union of job intervals per submitting module, and the
    number of jobs submitted inside the plan-building spans."""
    jobs = [(max(a, start), min(b, end), m) for a, b, m in op.get("_jobs", ()) if b > start and a < end]
    mods = defaultdict(list)
    for a, b, m in jobs:
        mods[m].append((a, b))
    return {
        "outside_jobs_s": max(0.0, (end - start) - _union([(a, b) for a, b, _ in jobs])),
        "modules": {m: _union(iv) for m, iv in mods.items()},
        "build_jobs": sum(any(s <= a < e for s, e in build_spans) for a, _, _ in op.get("_jobs", ())),
    }
