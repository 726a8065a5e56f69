#!/usr/bin/env python3
"""Extraction benchmark for horus_spark.

    python3 perfbench/run.py --workload forms --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all            # every workload in turn

One run:
1. materialize the seeded corpus (cached by workload, seed and size;
   untimed: it is the load generator);
2. set-up, timed as ``setup_s``: start a machine-fit Spark session on
   local[<cpus>], build the workload's plan, run it once, cold, collecting
   the output spans for the check, then WARMUP_JOBS more times;
3. check the collected spans against the reference (untimed);
4. run it back to back, one job at a time (a closed loop with one client),
   for ``--seconds``; ``docs_per_s`` is the median over these jobs.

The last line of standard output is one JSON object: {"correct",
"attempted", "failed", "metrics"}. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run splits the window into an
untraced and a traced half, then probes every layer (perfbench/layers.py)
and reports the per-layer metrics. Lines before it start with ``#``.

Everything a run writes goes under ``.bench_build/perfbench`` beside this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# Set-up ends with warm-up jobs: a cold one (codegen, class loading, Python
# worker start-up) that collects the output for the check, then WARMUP_JOBS
# run as the timed jobs do. Job times still drift down by a few percent per
# job for about ten jobs as the JIT settles; waiting that out would cost
# more set-up than the time budget of 22 runs per workload allows, so every
# run measures the same stretch of the curve, past its steepest part.
WARMUP_JOBS = 2
MAX_CONSECUTIVE_FAILURES = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, help="forms, web, skewed or all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=None, help="corpus size (default: the workload's)")
    p.add_argument("--work-dir", default=os.path.join(ROOT, ".bench_build", "perfbench"))
    return p.parse_args(argv)


def info(key: str, value) -> None:
    """A human-readable line before the result line."""
    print(f"# {key}: {json.dumps(value, sort_keys=True)}", flush=True)


def timed_loop(wl, tally, seconds: float, tracer) -> list[float]:
    """Run jobs back to back until ``seconds`` of wall time have passed
    and one has succeeded; returns the job times. A job that raises counts
    all its documents as failed; repeated failures end the run."""
    times: list[float] = []
    failures = 0
    start = time.monotonic()
    while time.monotonic() - start < seconds or not times:
        try:
            with tracer.span("workload.job"):
                dt = wl.job(tracer)
        except Exception:
            traceback.print_exc()
            tally.job(wl.n_docs, raised=True)
            failures += 1
            if failures >= MAX_CONSECUTIVE_FAILURES:
                raise
            continue
        failures = 0
        tally.job(wl.n_docs)
        times.append(dt)
    return times


def docs_rate(name: str, n_docs: int, times: list[float]) -> float:
    """Median of per-job documents per second, printed with its quartiles
    and sample count."""
    from perfbench.stats import median, quartiles

    rates = [n_docs / t for t in times]
    q = quartiles(rates) if len(rates) >= 2 else (rates[0],) * 3
    info(name, {"median": median(rates), "q1": q[0], "q3": q[2], "samples": len(rates)})
    return median(rates)


def run_one(args) -> dict:
    import horus_spark  # noqa: F401 -- fail fast without the program

    from perfbench.check import Tally
    from perfbench.corpus import materialize
    from perfbench.sparkenv import (
        RssSampler, jvm_pid, machine, prepare_env, spark_conf, start_session, stop_session,
    )
    from perfbench.trace import NullTracer, Tracer, self_times
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
    cls = WORKLOADS[args.workload]
    t_start = time.perf_counter()
    facts = machine()
    info("machine", facts)
    prepare_env(ROOT, args.work_dir)
    corpus = materialize(ROOT, args.work_dir, cls.corpus_kind, args.seed,
                         args.docs or cls.default_docs, facts["cpus"])
    phases = {"corpus_s": time.perf_counter() - t_start}
    info("corpus", {"kind": corpus.manifest["kind"], "seed": args.seed, "docs": corpus.n_docs,
                    "words": corpus.n_words})

    tracer = Tracer() if args.trace else NullTracer()
    tally = Tally()
    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = start_session(facts["cpus"], spark_conf(args.work_dir, facts))
    session_s = time.perf_counter() - t
    try:
        with RssSampler(jvm_pid()) as rss:
            wl = cls(spark, corpus)
            wl.prepare(tracer)
            rows = wl.collect()
            for _ in range(WARMUP_JOBS):
                wl.job(NullTracer())
                tally.job(wl.n_docs)
            setup_s = time.perf_counter() - t
            t = time.perf_counter()
            mismatched = wl.check(tally, rows)
            del rows
            phases["check_s"] = time.perf_counter() - t
            window = args.seconds / 2 if args.trace else args.seconds
            times = timed_loop(wl, tally, window, NullTracer())
            if args.trace:
                traced = timed_loop(wl, tally, window, tracer)
        info("setup", {"session_start_s": session_s, "setup_s": setup_s})
        if mismatched:
            info("span_mismatches", {"count": len(mismatched), "first": mismatched[:5]})
        docs_per_s = docs_rate("docs_per_s", wl.n_docs, times)
        if args.trace:
            from perfbench.layers import probe_layers

            traced_rate = docs_rate("docs_per_s_traced", wl.n_docs, traced)
            metrics = probe_layers(spark, wl, tracer, args.work_dir)
            metrics["session.start_s"] = (session_s, "s")
            metrics["trace.overhead_pct"] = (100.0 * (docs_per_s - traced_rate) / docs_per_s, "%")
        else:
            metrics = {
                "docs_per_s": (docs_per_s, "docs/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss.peak_mb, "MB"),
                "span_match_rate": (tally.span_match_rate, "ratio"),
            }
    finally:
        t = time.perf_counter()
        stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t
    if args.trace:
        path = os.path.join(args.work_dir, "traces", f"{wl.name}-s{args.seed}-{tracer.run_id}.json")
        tracer.write(path)
        info("trace", {"file": path, "self_s_by_layer": self_times(tracer.spans)})
    # fail_rate is 0 on a healthy run, so it is not a metric: the result
    # line carries its numerator and base as "failed" and "attempted"
    info("fail_rate", {"value": tally.fail_rate, "failed": tally.failed, "attempted": tally.attempted})
    info("span_match_rate", {"value": tally.span_match_rate, "matched": tally.matched,
                             "checked": tally.checked})
    phases["total_s"] = time.perf_counter() - t_start
    info("phases", phases)
    return {
        "correct": tally.correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def run_all(args) -> int:
    """Each workload in its own process, one after another; prints every
    metric by name with its unit, then one JSON object of all results."""
    from perfbench.workloads import WORKLOADS

    results, code = {}, 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--work-dir", args.work_dir]
        if args.docs:
            cmd += ["--docs", str(args.docs)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"[{name}] {line}")
        if proc.returncode != 0 or not lines:
            print(f"[{name}] failed with exit code {proc.returncode}", flush=True)
            code = 1
            continue
        res = results[name] = json.loads(lines[-1])
        print(f"[{name}] correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for metric, m in res["metrics"].items():
            print(f"[{name}] {metric:<32} {m['value']:>16.6f} {m['unit']}")
        print(f"[{name}] {'fail_rate':<32} {res['failed'] / res['attempted']:>16.6f} ratio", flush=True)
    print(json.dumps(results))
    return code


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # runs the teardown on the way out


def main(argv=None) -> int:
    from perfbench.sparkenv import become_subreaper, reap_children

    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    become_subreaper()
    try:
        if args.workload == "all":
            return run_all(args)
        result = run_one(args)
    finally:
        # every process the run started, and every one they started, has
        # ended and been reaped before the result is printed
        reap_children()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
