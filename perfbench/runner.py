"""One benchmark run: set-up, the closed loop, the output check, and for a
traced run the per-layer breakdown and its span report."""

from __future__ import annotations

import json
import math
import os
import statistics
import time

from perfbench.kernel import profile_kernel
from perfbench.procstat import HostNoise, cpu_delta, process_tree, worker_peak_rss_mb
from perfbench.trace import Tracer
from perfbench.workloads import Ctx, layer_call, per_pass

HERE = os.path.dirname(os.path.abspath(__file__))

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "spark.input_mb": "MB",
    "plans.exchanges": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "driver.build_s": "s",
    "driver.build_jobs": "count",
    "spark.jobs": "count",
    "spark.jobs_per_unit": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "CPU-s",
    "spark.jvm_gc_s": "s",
    "spark.task_skew": "ratio",
    "pipeline.arrow_us_per_doc": "us",
    "extractor.extract_us_per_doc": "us",
    "extractor.gate_us_per_doc": "us",
    "extractor.tokenize_us_per_doc": "us",
    "extractor.layout_us_per_doc": "us",
    "extractor.select_us_per_doc": "us",
    "extractor.blocks_per_doc": "count",
    "extractor.kept_frac": "ratio",
    "extractor.empty_docs": "count",
    "extractor.truncated_docs": "count",
    "proc.driver_cpu_s": "CPU-s",
    "proc.jvm_cpu_s": "CPU-s",
    "proc.worker_cpu_s": "CPU-s",
    "host.steal_frac": "ratio",
    "host.cpu_quota": "cpus",
    "trace.overhead_s": "s",
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "CPU-s",
    "unit_s_p50": "s",
    "unit_s_p75": "s",
    "worker_peak_rss_mb": "MB",
}
# spans whose calls only build plans (plus any jobs they launch eagerly)
_BUILD_SPANS = ("sources.read_pages", "pipeline.run_extraction", "queries.build")


def percentile(values: list[float], p: int) -> float:
    """The Harrell-Davis estimate of the p-th percentile: every order
    statistic weighted by the Beta(q(n+1), (1-q)(n+1)) mass over its
    slice [i/n, (i+1)/n], with q = p/100 (integrated by the midpoint rule).

    A query_tail pass has one latency per query, and its 75th percentile
    falls where cheap queries give way to heavy ones. There the plain
    order statistic jumped by the gap between two queries from run to run
    (IQR/median 0.30 over ten seeds on a 4-core host); this weighted mean
    read 0.20 on the same runs."""
    x = sorted(values)
    n = len(x)
    if n == 1:
        return x[0]
    q, k = p / 100, 64
    a, b = q * (n + 1), (1 - q) * (n + 1)
    logs = [
        [(a - 1) * math.log(t) + (b - 1) * math.log1p(-t)
         for t in ((i + (j + 0.5) / k) / n for j in range(k))]
        for i in range(n)
    ]
    top = max(max(row) for row in logs)
    w = [sum(math.exp(v - top) for v in row) for row in logs]
    return sum(wi * xi for wi, xi in zip(w, x)) / sum(w)


def _closed_loop(wl, ctx: Ctx, deadline: float, first: int = 0) -> list:
    """Steps back to back until the deadline, and at least one full pass."""
    steps, i = [], first
    while i - first < wl.steps_per_pass() or time.perf_counter() < deadline:
        steps.append(wl.step(ctx, i))
        i += 1
    return steps


def _reference(name: str) -> dict:
    path = os.path.join(HERE, "reference", f"{name}.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _metrics(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}


def run_workload(wl, sess, args, work: str) -> dict:
    ctx = Ctx(None, work, args.seed, sess.cores)
    # input generation (gen_s in the record) comes first, so the set-up
    # below is a cold one: a new JVM, as a user's first get_spark launches
    inp = wl.prepare(ctx, sess)
    start_s = sess.start()
    ctx.spark = sess.spark
    t0 = time.perf_counter()
    wl.warmup(ctx)
    warmup_s = time.perf_counter() - t0
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": sess.cores,
        "inputs": inp,
        "setup": {"start_s": start_s, "warmup_s": warmup_s},
    }
    reference = _reference(wl.name)

    # untimed ramp steps let first-execution costs (first parquet write,
    # lazy imports in the workers, JIT) settle; their output is still checked
    ramp = wl.ramp_steps(ctx)
    if args.trace == 0:
        noise = HostNoise()
        steps = _closed_loop(wl, ctx, time.perf_counter() + args.seconds, len(ramp))
        rss = worker_peak_rss_mb(process_tree())
        record["host"] = noise.finish()
        check = wl.check(ctx, ramp + steps, reference)
        lat = [x for s in steps for x in s.latencies]
        values = {
            "setup_s": start_s + warmup_s,
            "wall_s": per_pass(steps, "wall"),
            "cpu_s": per_pass(steps, "cpu"),
            "unit_s_p50": percentile(lat, 50),
            "unit_s_p75": percentile(lat, 75),
            "worker_peak_rss_mb": rss,
        }
        record["metrics"] = _metrics(values, END_TO_END_UNITS)
        record["unit_samples"] = len(lat)
    else:
        steps, check, values, report = _traced(wl, ctx, args, reference, ramp)
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warmup_s
        record["metrics"] = _metrics(values, PER_LAYER_UNITS)
        record["host"] = report["host"]
        trace_dir = os.path.join(work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{wl.name}-s{args.seed}-{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}.json")
        ctx.tracer.dump(path, {"workload": wl.name, "seed": args.seed, **report})
        record["trace_report"] = os.path.relpath(path, os.path.dirname(HERE))
        record["layers"] = report["layers"]
        record["reconciliation"] = report.get("reconciliation")
        record["workload_detail"] = report["workload_detail"]

    record["steps"] = [
        {"wall": s.wall, "cpu": s.cpu, "key": s.key, "latencies": s.latencies,
         "digest": s.digest, "ramp": is_ramp}
        for is_ramp, group in ((True, ramp), (False, steps))
        for s in group
    ]
    record["check"] = check
    record["attempted"] = int(check["attempted"])
    record["failed"] = int(check["failed"])
    record["correct"] = record["failed"] == 0 and record["attempted"] > 0
    return record


def _merge(stats: list[dict]) -> dict:
    """Sum stage diffs; the skew is that of the busiest window."""
    out = {k: sum(d[k] for d in stats) for k in stats[0] if k != "task_skew"}
    out["task_skew"] = max(stats, key=lambda d: d["executor_run_s"])["task_skew"]
    return out


def _traced(wl, ctx: Ctx, args, reference: dict, ramp: list):
    """Untraced steps for half the window, then one traced pass with spans
    and stage diffs, then the per-layer probes. The overhead baseline is
    the untraced steps' pass wall (one-step passes) or, for a multi-step
    pass, an untraced run of each step just before its traced run, after
    the first pass has paid every step's first-execution cost."""
    spp = wl.steps_per_pass()
    untraced = _closed_loop(wl, ctx, time.perf_counter() + args.seconds / 2, len(ramp))
    ctx.tracer = Tracer(False)
    first = len(ramp) + len(untraced)
    base = untraced if spp == 1 else []
    traced, windows = [], []
    cpu = {"driver": 0.0, "jvm": 0.0, "worker": 0.0, "other": 0.0}
    noise = HostNoise()
    for i in range(first, first + spp):
        if spp > 1:
            base.append(wl.step(ctx, i))
        ctx.tracer.enabled = True
        tree0 = process_tree()
        with layer_call(ctx, "bench.step") as step:
            traced.append(wl.step(ctx, i))
        for role, v in cpu_delta(tree0, process_tree()).items():
            cpu[role] += v
        ctx.tracer.enabled = False
        windows.append(step["spark"])
    host = noise.finish()
    stats = _merge(windows)
    base_wall, traced_wall = per_pass(base, "wall"), per_pass(traced, "wall")
    in_pass = [s for s in ctx.tracer.spans if s["name"] != "bench.step"]

    ctx.tracer.enabled = True
    with layer_call(ctx, "sources.scan") as scan:
        wl.scan(ctx)
    scan_s = next(s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == "sources.scan")
    sample = wl.sample_pages(ctx)
    with ctx.tracer.span("extractor.profile"):
        kern = profile_kernel(sample)
    steps = untraced + (base if spp > 1 else []) + traced
    check = wl.check(ctx, ramp + steps, reference)

    build = [s for s in in_pass if s["name"].split(":")[0] in _BUILD_SPANS]
    build_s = sum(s["end"] - s["start"] for s in build)
    build_jobs = sum(s["attrs"]["spark"]["jobs"] for s in build)
    detail = _workload_detail(wl, in_pass, stats)
    values = {
        "sources.scan_s": scan_s,
        "spark.input_mb": stats["input_mb"],
        "plans.exchanges": stats["exchanges"],
        "spark.shuffle_write_mb": stats["shuffle_write_mb"],
        "spark.shuffle_read_mb": stats["shuffle_read_mb"],
        "driver.build_s": build_s,
        "driver.build_jobs": build_jobs,
        "spark.jobs": stats["jobs"],
        "spark.jobs_per_unit": detail["jobs_per_unit"],
        "spark.stages": stats["stages"],
        "spark.tasks": stats["tasks"],
        "spark.executor_run_s": stats["executor_run_s"],
        "spark.executor_cpu_s": stats["executor_cpu_s"],
        "spark.jvm_gc_s": stats["jvm_gc_s"],
        "spark.task_skew": stats["task_skew"],
        "pipeline.arrow_us_per_doc": kern["arrow_us_per_doc"],
        "proc.driver_cpu_s": cpu["driver"],
        "proc.jvm_cpu_s": cpu["jvm"],
        "proc.worker_cpu_s": cpu["worker"],
        "host.steal_frac": host["steal_frac"],
        "host.cpu_quota": host["cpu_quota"],
        "trace.overhead_s": traced_wall - base_wall,
    }
    for k in ("extract", "gate", "tokenize", "layout", "select"):
        values[f"extractor.{k}_us_per_doc"] = kern[f"{k}_us_per_doc"]
    for k in ("blocks_per_doc", "kept_frac", "empty_docs", "truncated_docs"):
        values[f"extractor.{k}"] = kern[k]

    report = {
        "host": host,
        "untraced_pass_s": base_wall,
        "traced_pass_s": traced_wall,
        "tracing_overhead_s": traced_wall - base_wall,
        "layers": ctx.tracer.layer_rollup(),
        "pass_stage_totals": stats,
        "pass_cpu_by_role": cpu,
        "kernel_profile": kern,
        "workload_detail": detail,
        "scan": scan.get("spark"),
    }
    if wl.name == "html_crawl":
        report["reconciliation"] = _reconcile(
            wl.inp["docs"], ctx.cores, kern, scan_s, build_s, base_wall, traced_wall
        )
    return steps, check, values, report


def _workload_detail(wl, spans: list[dict], stats: dict) -> dict:
    """Per-workload figures the shared per-layer metrics summarize."""
    out: dict = {}
    if wl.name == "query_tail":
        builds = [s for s in spans if s["name"].startswith("queries.build:")]
        acts = [s for s in spans if s["name"].startswith("spark.collect:")]
        b = [s["end"] - s["start"] for s in builds]
        out["build_s_p50"] = statistics.median(b)
        out["build_s_total"] = sum(b)
        out["build_jobs"] = sum(s["attrs"]["spark"]["jobs"] for s in builds)
        out["action_s_total"] = sum(s["end"] - s["start"] for s in acts)
        out["jobs_per_unit"] = stats["jobs"] / len(builds)
        out["per_query"] = {
            s["name"].split(":", 1)[1]: {
                "build_s": s["end"] - s["start"],
                "build_jobs": s["attrs"]["spark"]["jobs"],
                "action_s": a["end"] - a["start"],
                "action_jobs": a["attrs"]["spark"]["jobs"],
                "exchanges": s["attrs"]["spark"]["exchanges"] + a["attrs"]["spark"]["exchanges"],
            }
            for s, a in zip(builds, acts)
        }
    else:
        out["jobs_per_unit"] = stats["jobs"]
    return out


def _reconcile(docs: int, cores: int, kern: dict, scan_s: float, build_s: float,
               base_wall: float, traced_wall: float) -> dict:
    """Where one html_crawl pass's wall clock goes: the in-process kernel
    cost spread over the cores, the Arrow boundary likewise, the scan on
    its own and the driver's plan build, against the measured wall."""
    kernel_s = kern["extract_us_per_doc"] * docs / 1e6 / cores
    arrow_s = kern["arrow_us_per_doc"] * docs / 1e6 / cores
    rows = {
        "kernel_s (extract_us_per_doc x docs / cores)": kernel_s,
        "arrow_s (arrow_us_per_doc x docs / cores)": arrow_s,
        "scan_s (noop scan of url, html)": scan_s,
        "build_s (run_extraction call)": build_s,
    }
    explained = sum(rows.values())
    return {
        "docs": docs,
        "cores": cores,
        "shares": rows,
        "explained_s": explained,
        "wall_untraced_s": base_wall,
        "wall_traced_s": traced_wall,
        "unexplained_s": base_wall - explained,
        "unexplained_frac": (base_wall - explained) / base_wall,
    }

