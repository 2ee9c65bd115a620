#!/usr/bin/env python3
"""The repo benchmark: extraction throughput of the Spark job, end to end
and by layer.  See perfbench/README.md.

    python3 perfbench/run.py --workload crawl_small --seed 1 --seconds 8 --trace 0

One run: generate the workload's pages from the seed, set up
(session, input table, warm-up) several times, check the output once
against the in-process kernel, then run jobs in a closed loop, one at a
time, for `--seconds` (at least `MIN_JOBS`).  Every job's digest must
match the checked reference.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
alternates untraced and traced jobs and reports the per-layer metrics,
with the tracing overhead.  The last stdout line is the JSON result;
the lines before it stamp the host and name every metric with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the checkout: the program's package

# these import the program: without it, the run fails before any output
import inputs  # noqa: E402
import sparkmetrics as sm  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from host import CpuAccount, Host, RssSampler, jvm_pid, shutdown  # noqa: E402

# every job, span and failure of the last run of each workload and seed
RESULTS = os.path.join(os.path.dirname(HERE), ".bench_results")
SETUPS = 3
MIN_JOBS = 2


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None,
                   help="override the workload's page count (smoke tests)")
    return p.parse_args(argv)


def _median(values):
    return statistics.median(values) if values else 0.0


def setup_phase(wl, ctx, host) -> dict:
    """SETUPS times: session start, input materialization, warm-up."""
    parts = []
    for _ in range(SETUPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = host.session()
        t1 = time.perf_counter()
        inputs.materialize(ctx.spark, ctx.rows, ctx.pages)
        inputs.materialize(ctx.spark, ctx.rows[:wl.warm_rows], ctx.warm)
        t2 = time.perf_counter()
        wl.warm_up(ctx)
        t3 = time.perf_counter()
        parts.append((t1 - t0, t2 - t1, t3 - t2))
    return {
        "setup_s": _median([sum(p) for p in parts]),
        "setup.session_s": _median([p[0] for p in parts]),
        "setup.materialize_s": _median([p[1] for p in parts]),
        "setup.warmup_s": _median([p[2] for p in parts]),
    }


def run_job(wl, ctx, check, i: int, traced: bool) -> dict:
    """One closed-loop job; traced jobs also return their layer numbers."""
    spark = ctx.spark
    group = f"perfbench-job-{i}"
    first = 0
    if traced:
        sm.wait_listeners(spark)
        first = sm.execution_count(spark)
    spans = tracing.Tracer(clock=time.time)
    spark.sparkContext.setJobGroup(group, group)
    with RssSampler(jvm_pid(spark)) as rss, spans:
        if traced:
            tracing.catalog_spans(spans)
        t0 = time.time()
        state = wl.job(ctx, i)
        t1 = time.time()
    spark.sparkContext.setJobGroup("perfbench-verify", "perfbench-verify")
    wall = t1 - t0
    ok, out_bytes = wl.verify(ctx, state, check)
    job = {
        "wall_s": wall, "ok": ok, "traced": traced, "rss_mb": rss.peak,
        "out_bytes_per_doc": out_bytes, "docs": len(ctx.rows) if ok else 0,
    }
    if traced:
        sm.wait_listeners(spark)
        state["exec_first"], state["exec_last"] = first, sm.execution_count(spark)
        layer = wl.harvest(ctx, state, spans)
        stats = sm.job_stats(spark, group)
        intervals = stats.pop("intervals") + [
            (s[1], s[2]) for s in spans.spans if s[0].startswith("catalog.")
        ]
        clipped = [(max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1]
        layer.update(stats)
        layer["unattributed_s"] = wall - tracing.union_length(clipped)
        job["layer"] = layer
        job["spans"] = [s[:3] for s in spans.spans]
    return job


def job_loop(wl, ctx, check, seconds: float, trace: bool) -> list[dict]:
    """The closed loop: one job at a time; traced runs alternate."""
    jobs = []
    min_jobs = 2 * MIN_JOBS if trace else MIN_JOBS
    start = time.perf_counter()
    while len(jobs) < min_jobs or time.perf_counter() - start < seconds:
        i = len(jobs)
        jobs.append(run_job(wl, ctx, check, i, traced=trace and i % 2 == 1))
    return jobs


def layer_metrics(jobs, setup, kernel, check) -> dict:
    traced = [j for j in jobs if j["traced"]]
    plain = [j for j in jobs if not j["traced"]]
    out = {k: v for k, v in setup.items() if k.startswith("setup.")}
    for key in traced[0]["layer"]:
        out[key] = _median([j["layer"][key] for j in traced])
    out.update(kernel)
    out["operators.extract_op.boundary_s"] = (
        out["operators.extract_op.python_total_s"] - kernel["kernel.total_s"]
    )
    out["trace.overhead_frac"] = (
        _median([j["wall_s"] for j in traced]) / _median([j["wall_s"] for j in plain]) - 1
    )
    out["check.error_rate"] = check.error_rate
    return out


def end_to_end(jobs, setup) -> dict:
    return {
        # a failed job adds its time but no docs
        "docs_per_s": sum(j["docs"] for j in jobs) / sum(j["wall_s"] for j in jobs),
        "setup_s": setup["setup_s"],
        "worker_rss_mb": _median([j["rss_mb"] for j in jobs]),
        "out_bytes_per_doc": _median([j["out_bytes_per_doc"] for j in jobs]),
    }


def main(argv=None) -> int:
    args = _args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wl = workloads.WORKLOADS[args.workload](args.pages)
    host = Host(args.workload, args.seed)
    host.prepare()
    phases, last = {}, [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name], last[0] = now - last[0], now

    rows = wl.make_rows(args.seed)
    ctx = workloads.Ctx(host, rows)
    lap("generate_s")
    try:
        setup = setup_phase(wl, ctx, host)
        lap("setups_s")
        check = workloads.Check(rows, args.seed, wl.sample)
        wl.check(ctx, check)
        lap("check_s")
        with CpuAccount() as cpu:
            jobs = job_loop(wl, ctx, check, args.seconds, bool(args.trace))
        lap("loop_s")
        kernel = tracing.kernel_replay(rows) if args.trace else {}
        lap("replay_s")
    finally:
        if ctx.spark is not None:
            shutdown(ctx.spark)
        host.cleanup()
    lap("shutdown_s")

    if args.trace:
        values, wanted = layer_metrics(jobs, setup, kernel, check), spec["per_layer"]
    else:
        values, wanted = end_to_end(jobs, setup), spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    failed = sum(1 for j in jobs if not j["ok"])
    correct = failed == 0 and not check.failures
    stamp = dict(host.stamp(), jobs=len(jobs), trace=args.trace, cpu=cpu.result, phases=phases)
    os.makedirs(RESULTS, exist_ok=True)
    report = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(report, "w") as fh:
        json.dump({"stamp": stamp, "setup": setup, "failures": check.failures,
                   "jobs": jobs, "metrics": metrics}, fh, indent=1)
    print("perfbench " + json.dumps(stamp))
    print(f"  error_rate = {check.error_rate:.6f} fraction")
    for failure in check.failures:
        print(f"  FAILED: {failure}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": correct, "attempted": len(jobs), "failed": failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
