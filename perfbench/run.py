"""Benchmark entry point.

    python3 perfbench/run.py --workload <star_etl|dashboard|corpus> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One closed-loop client in this process
drives the program at ``local[nproc]``: set-up (session start, the
dashboard's star build), warm-up until every operation kind has run
twice, then whole rounds until ``--seconds`` of operation time is
measured (and at least the workload's minimum number of rounds).
Every timed operation's output is checked outside the timer; a
failed check counts the operation as failed and the run goes on.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(see README.md).
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
PKG_DIR = os.path.join(ROOT, "stock_data_project_spark")
HEAP = "1g"

SPAN_METRICS = {
    "queries": "plans.build_s",
    "action": "action_s",
    "run_daily_pipeline": "ingest.pipeline_s",
    "build_training_corpus": "corpus.build_s",
}


def load_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _module_metric(module: str, names) -> str:
    """Fold a submitting module into its ``jobs_s.*`` metric: the
    module itself if listed, else its package, else ``other``."""
    for key in (f"jobs_s.{module}", f"jobs_s.{module.split('.')[0]}"):
        if key in names:
            return key
    return "jobs_s.other"


class Ctx:
    def __init__(self, seed: int, trace: bool):
        from tracing import Spans

        self.seed, self.trace, self.work = seed, trace, WORK
        self.spans = Spans()
        self.spark = self.hook = None
        self.records: list[dict] = []


def start_session(ctx: Ctx) -> None:
    from stock_data_project_spark.session import get_spark

    cpus = str(len(os.sched_getaffinity(0)))
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_LOCAL_DIRS=local,
        # every JVM (the launcher too) keeps its temp files in the checkout
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        # a pinned, pre-touched heap: G1's heap growth otherwise moves
        # the resident set by a gigabyte between identical runs
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if ctx.trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        ctx.log_dir = log_dir
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    with ctx.spans.span("get_spark"):
        ctx.spark = get_spark("perfbench", extra_conf=conf)
    ctx.sc = ctx.spark.sparkContext
    if ctx.trace:
        from tracing import CallSiteHook

        ctx.hook = CallSiteHook(ctx.sc, PKG_DIR)


def stop_session(ctx: Ctx) -> None:
    """Stop Spark, then end the JVM this process launched and wait for
    it (its exit also ends the Python worker daemon)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    ctx.spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run_op(ctx: Ctx, op, label: str, traced: bool):
    ctx.sc.setJobGroup(label, op.kind)
    ctx.spans.op = label
    if ctx.hook:
        ctx.hook.on = traced
    t0 = time.time()
    result = op.run()
    t1 = time.time()
    if ctx.hook:
        ctx.hook.on = False
    ctx.spans.op = None
    ctx.sc.setJobGroup("bench", "untimed")
    return result, t0, t1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(PKG_DIR):
        print(f"program package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import selftest
    import tracing as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    end_to_end, per_layer = load_units()
    ctx = Ctx(args.seed, bool(args.trace))
    for leftover in ("tmp", "run", "spark-local"):  # from an earlier run
        shutil.rmtree(os.path.join(WORK, leftover), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    with tr.RssSampler() as rss:
        with ctx.spans.span("inputs"):
            broken = selftest.run()
        if broken:
            print(f"output checks fail their self-tests: {broken}", file=sys.stderr)
            return 3
        wl = workloads.WORKLOADS[args.workload](ctx)
        start_session(ctx)
        wl.setup()

        # warm-up: whole rounds until every op kind has run twice
        seen: dict[str, int] = {}
        warm: list[float] = []
        i = 0
        while not seen or min(seen.values()) < 2:
            for j, op in enumerate(wl.round(i)):
                _, t0, t1 = run_op(ctx, op, f"warm-{i}-{j}", False)
                warm.append(t1 - t0)
                seen[op.kind] = seen.get(op.kind, 0) + 1
            i += 1
        gc.collect()

        inputs_s = sum(s["end"] - s["start"] for s in ctx.spans.items if s["name"] == "inputs")
        t_first = time.time()
        setup_s = t_first - T_PROCESS - inputs_s

        # timed: whole rounds until --seconds of op time is measured
        measured, rounds, attempted, failed, n = 0.0, 0, 0, 0, 0
        min_rounds = wl.min_rounds * (2 if ctx.trace else 1)
        while measured < args.seconds or rounds < min_rounds:
            traced = ctx.trace and rounds % 2 == 0
            for op in wl.round(i):
                label = f"op-{n}"
                n += 1
                attempted += 1
                rec = {"label": label, "kind": op.kind, "traced": traced, "info": op.info}
                try:
                    result, t0, t1 = run_op(ctx, op, label, traced)
                    rec.update(start=t0, end=t1, wall=t1 - t0)
                    measured += t1 - t0
                    if "written" in op.info:
                        rec["layout"] = workloads.parquet_layout(op.info["written"])
                    op.check(result)
                    rec["ok"] = True
                except Exception as e:  # a failed op counts and the run goes on
                    failed += 1
                    rec["ok"] = False
                    rec["error"] = "".join(traceback.format_exception_only(type(e), e)).strip()[:2000]
                    print(f"FAILED {label} ({op.kind}): {rec['error']}", file=sys.stderr)
                    result = None
                if "cleanup" in op.info:
                    shutil.rmtree(op.info["cleanup"], ignore_errors=True)
                if hasattr(result, "columns"):
                    rec["rows_returned"] = len(result)
                ctx.records.append(rec)
                del result
            rounds += 1
            i += 1
            gc.collect()
        peak_mb = rss.peak_mb

    times = [r["wall"] for r in ctx.records if "wall" in r] or [0.0]
    if ctx.trace:
        stop_session(ctx)
        metrics, guard_failures = layer_metrics(ctx, args.workload, per_layer)
        failed += guard_failures
        units = per_layer
    else:
        layouts = [r["layout"] for r in ctx.records if r.get("layout")] or [getattr(wl, "star_layout", None)]
        files, nbytes, _ = layouts[len(layouts) // 2]
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
            "op_p50_s": statistics.median(times),
            "files_written": files,
            "mb_written": nbytes / 1e6,
        }
        units = end_to_end
        extra = {"warmup_s": warm, "rss_parts": rss.peak_parts, "spans": span_totals(ctx.spans.items)}
        print(json.dumps(dict(detail(ctx.records), **extra), sort_keys=True))
        stop_session(ctx)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": round(float(metrics.get(k, 0.0)), 6), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))
    return 0


def span_totals(spans: list[dict]) -> dict:
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    return out


def detail(records: list[dict]) -> dict:
    """Per op kind: sample count, median and (when at least ten samples
    lie beyond it) the tail percentile."""
    by_kind: dict[str, list[float]] = {}
    for r in records:
        if "wall" in r:
            by_kind.setdefault(r["kind"], []).append(r["wall"])
    out = {}
    for kind, xs in by_kind.items():
        xs = sorted(xs)
        d = {"n": len(xs), "p50_s": statistics.median(xs)}
        for p in (99, 95, 90, 75):
            if len(xs) * (100 - p) / 100 >= 10:
                d[f"p{p}_s"] = xs[int(len(xs) * p / 100)]
                break
        out[kind] = d
    return {"detail": out}


def layer_metrics(ctx: Ctx, workload: str, names) -> tuple[dict, int]:
    """Per-layer metrics: medians over the traced timed ops, plus the
    tracing overhead from the interleaved untraced rounds. Writes the
    spans, per-op metrics and final plans to the trace file."""
    import tracing as tr

    events = tr.read_event_log(ctx.log_dir)
    per_group = tr.per_op_metrics(events)
    spans = ctx.spans.items
    per_op: list[dict] = []
    guard_failures = 0
    for rec in ctx.records:
        if not rec.get("traced") or "wall" not in rec:
            continue
        g = per_group.get(rec["label"], {})
        m = {k: v for k, v in g.items() if not k.startswith("_")}
        own = [s for s in spans if s["op"] == rec["label"]]
        for name, metric in SPAN_METRICS.items():
            if any(s["name"] == name for s in own):
                m[metric] = sum(s["end"] - s["start"] for s in own if s["name"] == name)
        builds = [(s["start"], s["end"]) for s in own if s["name"] == "queries"]
        jl = tr.job_layers(g, rec["start"], rec["end"], builds)
        m["outside_jobs_s"] = jl["outside_jobs_s"]
        if builds:
            m["plans.eager_jobs"] = jl["build_jobs"]
        for mod, secs in jl["modules"].items():
            key = _module_metric(mod, names)
            m[key] = m.get(key, 0.0) + secs
        if m.get("spark.task_run_s"):
            m["spark.cpu_share"] = m["spark.task_cpu_s"] / m["spark.task_run_s"]
        if rec.get("layout") and rec["layout"][0]:
            m["writers.rows_per_file"] = rec["layout"][2] / rec["layout"][0]
        if rec.get("rows_returned") and "scan.rows" in m:
            m["scan.rows_per_row_returned"] = m["scan.rows"] / rec["rows_returned"]
        m["trace.op_s"] = rec["wall"]
        # fresh-input guard: the op read bytes, from its own input path
        if workload in ("corpus", "star_etl"):
            path = rec["info"]["input"]
            read_own = any(path in p for p in g.get("_plans", ()))
            if not m.get("spark.input_bytes") or not read_own:
                guard_failures += 1
                print(f"GUARD {rec['label']}: input_bytes={m.get('spark.input_bytes')} "
                      f"plan names own input: {read_own}", file=sys.stderr)
        per_op.append({"label": rec["label"], "kind": rec["kind"], "info": rec["info"], "metrics": m,
                       "modules_s": jl["modules"], "plans": g.get("_plans", [])})
    if workload == "corpus":
        paths = [r["info"]["input"] for r in ctx.records]
        if len(set(paths)) != len(paths):
            guard_failures += 1
            print("GUARD: two corpus passes shared a snapshot path", file=sys.stderr)
    metrics: dict[str, float] = {}
    for key in names:
        vals = [o["metrics"][key] for o in per_op if key in o["metrics"]]
        metrics[key] = statistics.median(vals) if vals else 0.0
    metrics["session.start_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "get_spark")
    traced = [r["wall"] for r in ctx.records if r.get("traced") and "wall" in r]
    untraced = [r["wall"] for r in ctx.records if not r.get("traced") and "wall" in r]
    if traced and untraced:
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    with open(os.path.join(WORK, f"trace-{workload}-{ctx.seed}.json"), "w") as f:
        json.dump({"spans": spans, "ops": per_op, "metrics": metrics}, f, indent=1, default=str)
    return metrics, guard_failures


if __name__ == "__main__":
    sys.exit(main())
