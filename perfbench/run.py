"""Benchmark of the transcript pipeline: two batch workloads, each a closed
loop of one client (the next job starts when the previous one ends).

    python3 perfbench/run.py --workload {flagship,curation} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; the lines before
it (prefixed ``#``) give the host resources, the input size, each job's
time, the sample count, ``ops_failed_ratio`` and, with ``--trace 1``, the
span each per-layer metric came from.

Protocol of one run:

1. set-up: start the session (``session.get_spark`` with host-derived
   ``SPARK_GRAFT_CPUS``/``SPARK_DRIVER_MEMORY``), build the seeded input
   ``BUILDS`` times (generate, write parquet, scan and count), then
   the workload's ``warmup_jobs`` warm-up jobs. ``setup_s`` = session start + median
   input build + warm-up.
2. reference: computed once, outside every timed region (DuckDB over the
   same parquet).
3. timed loop for ``--seconds`` and at least ``MIN_JOBS`` jobs: each job is
   timed from outside around the public calls; its output is checked
   against the reference after the clock stops. A job fails if it raises
   or its output differs. A job's time is its wall time net of stolen
   time: less the share of the vCPU time it was runnable for that the
   hypervisor gave to other guests of this shared host (``steal`` in
   /proc/stat). That share comes in bursts of tens of seconds that slowed
   whole runs by up to 60%, so that raw wall times measure the
   neighbours; both figures are printed for every job.
4. ``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
   untraced and traced jobs in the loop (traced: own job group, status
   tracker counts, executed-plan metrics, spans), then runs the per-layer
   prefix probes (flagship's also run the stateful parse path and check it
   against the pure-Python oracle) and the same job at 1% input, and
   reports the per-layer metrics; a layer the workload does not call
   reads 0. Spans are written to ``.perfbench_out/`` when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_JOBS = 3
BUILDS = 3          # input builds per run; setup_s takes their median
FIXED_SCALE = 0.01  # input share of the fixed-cost job
FIXED_REPS = 2

PER_LAYER = {
    "scan.s": "s", "scan.rows": "count",
    "classify.s": "s", "classify.hit_ratio": "ratio",
    "enrich.s": "s",
    "aggregate.s": "s", "aggregate.peak_memory_bytes": "bytes",
    "exchange.shuffle_bytes": "bytes",
    "route.s": "s", "route.files": "count", "route.bytes_per_row": "bytes/row",
    "parse_stateful.s": "s", "parse_stateful.groups": "count",
    "parse_stateful.rows_out": "count", "assemble_window.s": "s",
    "dedup.s": "s", "components.s": "s",
    "materialize.snapshots": "count", "materialize.bytes": "bytes",
    "session.spark_jobs": "count", "session.tasks": "count",
    "session.fixed_job_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def _snapshots(tmpdir: str) -> list[str]:
    return [os.path.join(tmpdir, d) for d in os.listdir(tmpdir)
            if d.startswith("blp-mat-")]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["flagship", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # self-test only: shrink the input, and corrupt the reference so that
    # every job's check must fail
    ap.add_argument("--scale", type=float, default=1.0, help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-reference", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import host

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    res = host.configure(work)
    try:
        return _run(args, res, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only when no concurrent run still uses it


def _run(args, res, work: str) -> int:
    from perfbench import host
    from perfbench.trace import Tracer
    # importing the workloads imports the program: a checkout without the
    # package fails here, before any session starts
    from perfbench.workloads import WORKLOADS

    from buildlogparser_spark.session import get_spark

    _say(f"host: {res.describe()}")
    tracer = Tracer(bool(args.trace))
    rss = host.RssSampler()
    spark = None
    try:
        with tracer.span("run"):
            with tracer.span("setup"):
                t = time.perf_counter()
                with tracer.span("session_start"):
                    spark = get_spark("perfbench", cores=res.spark_cpus)
                session_s = time.perf_counter() - t
                w = WORKLOADS[args.workload](spark, res, work, args.scale, tracer)
                builds = []
                for b in range(BUILDS):
                    path = w.fresh_dir(f"input{b}")
                    with tracer.span("build_input"):
                        t = time.perf_counter()
                        inp = w.build(args.seed, path)
                        builds.append(time.perf_counter() - t)
                    if b:  # only the last build is used
                        shutil.rmtree(os.path.join(work, f"input{b - 1}"))
                t = time.perf_counter()
                for _ in range(w.warmup_jobs):
                    with tracer.span("warmup"):
                        w.job(inp)
                warmup_s = time.perf_counter() - t
                setup_s = session_s + statistics.median(builds) + warmup_s
            _say(f"input: {args.workload} seed={args.seed} {w.input_desc}")
            _say(f"setup: session_start_s={session_s:.3f} "
                 f"input_build_s={[round(b, 3) for b in builds]} "
                 f"warmup_s={warmup_s:.3f} setup_s={setup_s:.3f}")

            with tracer.span("reference"):
                t = time.perf_counter()
                ref = w.reference()
            _say(f"reference: {time.perf_counter() - t:.3f}s {ref}")
            if args.corrupt_reference:
                key = next(iter(ref))
                ref[key] = ("corrupted", ref[key])

            loop = _closed_loop(args, w, inp, ref, tracer, rss, res)
            ok = loop["untraced"]
            metrics = {}
            if ok and (loop["traced"] or not args.trace):
                job_p50 = statistics.median(ok)
                _say(f"job_s: n={len(ok)} p50={job_p50:.4f} min={min(ok):.4f} "
                     f"max={max(ok):.4f} (net of stolen time; no tail "
                     f"percentile: fewer than 10 samples beyond any)")
                if args.trace:
                    metrics = _per_layer(args, w, inp, loop, tracer, job_p50)
                else:
                    metrics = {
                        # at the median job, like job_s.p50
                        "rows_per_s": (w.rows / job_p50, "1/s"),
                        "job_s.p50": (job_p50, "s"),
                        "setup_s": (setup_s, "s"),
                        "peak_rss_mb": (rss.peak / 1e6, "MB"),
                    }
            else:
                _say("no job succeeded; metrics are not reported")
    finally:
        rss.close()
        if spark is not None:
            host.stop_spark(spark)
        if args.trace and tracer.spans:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            spans = os.path.join(out, f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans)
            _say(f"spans: {spans}")
    attempted, failed = loop["attempted"], loop["failed"]
    _say(f"jobs: attempted={attempted} failed={failed} "
         f"ops_failed_ratio={failed / attempted:.4f}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def _closed_loop(args, w, inp, ref, tracer, rss, res) -> dict:
    """Run jobs back to back for ``args.seconds`` (at least ``MIN_JOBS``).
    With tracing, even jobs are traced and odd ones are not, so both see the
    same conditions. Job times are net of stolen time."""
    from perfbench import host
    from perfbench.trace import JobCounter, plan_counts, plan_nodes
    from perfbench.workloads import tree_bytes

    counter = JobCounter(w.spark.sparkContext) if args.trace else None
    untraced, traced, counts = [], [], []
    attempted = failed = 0
    observed = None
    rss.reset()
    start = time.perf_counter()
    while attempted < MIN_JOBS or time.perf_counter() - start < args.seconds:
        attempted += 1
        trace_this = bool(args.trace) and attempted % 2 == 0
        before = set(_snapshots(res.tmpdir))
        if trace_this:
            counter.begin(f"perfbench-job-{attempted}")
        rss.active(True)
        out = None
        try:
            with tracer.span("job", job=attempted) if trace_this \
                    else contextlib.nullcontext():
                steal0, busy0 = host.host_cpu_ticks()
                t = time.perf_counter()
                out = w.job(inp)
                dt = time.perf_counter() - t
                steal1, busy1 = host.host_cpu_ticks()
        except Exception:  # a failed job is counted, and the loop goes on
            traceback.print_exc()
        finally:
            rss.active(False)
            jobs = counter.end() if trace_this else None
        snaps = [p for p in _snapshots(res.tmpdir) if p not in before]
        if out is not None and trace_this:
            plan = {"shuffle_bytes": 0, "agg_peak_memory_bytes": 0}
            for df in out.frames:
                for k, v in plan_counts(plan_nodes(df)).items():
                    plan[k] += v
            counts.append({**jobs, **plan, "snapshots": len(snaps),
                           "snapshot_bytes": sum(tree_bytes(p)[1] for p in snaps)})
        for p in snaps:  # dead once the job has returned its output
            shutil.rmtree(p, ignore_errors=True)
        got = None if out is None else w.observe(out)
        if got != ref:
            if out is not None:
                print(f"job {attempted}: output differs from the reference: "
                      f"got {got} expected {ref}", file=sys.stderr)
            failed += 1
            continue
        observed = got
        net = dt * (1 - (steal1 - steal0) / max(1, busy1 - busy0))
        _say(f"job {attempted}: {net:.3f}s net, {dt:.3f}s wall"
             f"{' traced' if trace_this else ''}")
        (traced if trace_this else untraced).append(net)
    return {"attempted": attempted, "failed": failed, "untraced": untraced,
            "traced": traced, "counts": counts, "observed": observed}


def _per_layer(args, w, inp, loop, tracer, job_p50) -> dict:
    from perfbench.workloads import WORKLOADS

    def med(key):
        return statistics.median(c[key] for c in loop["counts"])

    with tracer.span("probe"):
        found, checks = w.probes(inp, loop["observed"])
    for name, ok in checks.items():
        _say(f"probe check {name}: {'matches' if ok else 'DIFFERS from'} the oracle")
    loop["attempted"] += len(checks)
    loop["failed"] += sum(not ok for ok in checks.values())
    # the same job at ~1% of the input: its time is the per-job fixed cost
    with tracer.span("fixed_job"):
        small = WORKLOADS[args.workload](w.spark, w.res, w.work,
                                         args.scale * FIXED_SCALE, tracer)
        small_inp = small.build(args.seed, small.fresh_dir("input_small"))
        # the plans are compiled already (same shapes as the warm-up job)
        fixed = []
        for _ in range(FIXED_REPS):
            with tracer.span("job"):
                t = time.perf_counter()
                small.job(small_inp)
                fixed.append(time.perf_counter() - t)
    traced_p50 = statistics.median(loop["traced"])
    found.update({
        "scan.rows": (w.rows, "build_input"),
        "aggregate.peak_memory_bytes": (med("agg_peak_memory_bytes"), "job"),
        "exchange.shuffle_bytes": (med("shuffle_bytes"), "job"),
        "materialize.snapshots": (med("snapshots"), "job"),
        "materialize.bytes": (med("snapshot_bytes"), "job"),
        "session.spark_jobs": (med("jobs"), "job"),
        "session.tasks": (med("tasks"), "job"),
        "session.fixed_job_s": (statistics.median(fixed), "fixed_job"),
        "trace.overhead_ratio": (traced_p50 / job_p50 - 1, "job"),
    })
    _say(f"fixed cost: session.fixed_job_s={statistics.median(fixed):.4f} "
         f"({small.input_desc}); per-row cost = (job_s.p50 - fixed) / rows = "
         f"{(job_p50 - statistics.median(fixed)) / w.rows * 1e6:.3f} us/row")
    _say(f"tracing overhead: traced p50={traced_p50:.4f}s "
         f"untraced p50={job_p50:.4f}s")
    paths = {}
    for sp in tracer.spans:
        paths.setdefault(sp.name, tracer.path(sp))
    metrics = {}
    for name, unit in PER_LAYER.items():
        if name in found:
            value, span = found[name]
            _say(f"layer {name} = {value} {unit} (span {paths[span]})")
        else:
            value = 0
            _say(f"layer {name} = 0 {unit} (layer not called by {w.name})")
        metrics[name] = (value, unit)
    return metrics


if __name__ == "__main__":
    sys.exit(main())
