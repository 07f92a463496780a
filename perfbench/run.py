#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Everything the run builds (corpus,
index snapshots, Spark scratch, event log) goes under
``perfbench/.work/`` and is removed at exit; a traced run leaves its
spans there. Human-readable lines come first; the last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``, with ``--trace 1`` the per-layer ones (see
``perfbench/README.md``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def median(values):
    return statistics.median(values) if values else float("nan")


def mean(values):
    return sum(values) / len(values) if values else float("nan")


class Ctx:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None

    @staticmethod
    def log(msg: str) -> None:
        print(msg, file=sys.stderr, flush=True)


def _isolate(work: str, n_turns: int, cpus: int) -> None:
    """Point every path the program and Spark write to into ``work``,
    before the JVM starts."""
    for d in ("eventlog", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SENG_EVENTLOG": "1",
        "SENG_EVENTLOG_DIR": os.path.join(work, "eventlog"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": "2g",
        # the engine's driver-scoring budget is 2,000,000 postings, one
        # per turn at its sf1 scale; the benchmark corpora are smaller,
        # so the budget keeps that ratio and heavy queries still cross it
        "SENG_SERVING_DRIVER_MAX": str(n_turns),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })


def _start_spark(work: str, cpus: int):
    from searchengine_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files in the run directory, and its
            # perf-counter file out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpu_ticks() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) summed over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _environment(spark, cpus: int) -> str:
    import pyspark

    sha = ""
    if os.path.isdir(os.path.join(ROOT, ".git")):  # a plain source tree has no HEAD
        try:
            sha = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, timeout=10).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return (f"nproc={cpus} master=local[{cpus}] pyspark={pyspark.__version__} java={java} "
            f"python={sys.version.split()[0]} head={sha or 'unknown'}")


def _window(ctx, wl, ops, seconds: float, traced_run: bool) -> list:
    """Run operations back to back for ``seconds``, and on until each of
    the workload's required classes has a sample (a traced one, in a
    traced run)."""
    from workloads import timed_op

    samples = []
    seen: set[str] = set()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds or not set(wl.required) <= seen:
        cls, req, fn, op, traced = next(ops)
        ctx.tracer.enabled = traced
        s = timed_op(ctx.tracer, req, cls, fn)
        s["op"], s["traced"] = op, traced
        samples.append(s)
        if traced:
            wl.traced_extra(op)
        if traced == traced_run:
            seen.add(wl.klass(cls))
        if s["error"]:
            ctx.log(f"ERROR {req} {cls}: {s['error']}")
    ctx.tracer.enabled = False
    return samples


def _spark_split(samples, jobs) -> None:
    """Attach each operation's Spark work, and the part of its latency
    no Spark job covered (driver-side time)."""
    from spans import job_totals

    for s in samples:
        s.update(job_totals(jobs, s["wall0"], s["wall1"]))
        s["driver_ms"] = max(0.0, s["lat"] * 1e3 - s["spark_ms"])


def _layer_table(tracer, samples) -> dict:
    """Per span name: count, p50 duration, p50 self time, Spark jobs;
    per operation class: Spark work per query."""
    selft = tracer.self_times()
    by: dict[str, list] = {}
    for s in tracer.spans:
        by.setdefault(s["name"], []).append(
            ((s["end"] - s["start"]) * 1e3, selft[s["id"]] * 1e3, s.get("jobs", 0)))
    out = {}
    for name, rows in sorted(by.items()):
        out[name] = {"n": len(rows), "p50_ms": median([r[0] for r in rows]),
                     "self_p50_ms": median([r[1] for r in rows]),
                     "jobs_mean": mean([r[2] for r in rows])}
    for cls in sorted({s["cls"] for s in samples}):
        ss = [s for s in samples if s["cls"] == cls]
        out[f"class.{cls}"] = {
            "n": len(ss), "p50_ms": median([s["lat"] * 1e3 for s in ss]),
            "jobs_per_query": mean([s["jobs"] for s in ss]),
            "tasks_per_query": mean([s["tasks"] for s in ss]),
            "executor_run_ms_per_query": mean([s["run_ms"] for s in ss]),
            "shuffle_bytes_per_query": mean([s["shuffle_bytes"] for s in ss]),
            "python_bytes_per_query": mean([s["python_bytes"] for s in ss]),
        }
        if all("postings" in s["op"] for s in ss):
            out[f"class.{cls}"]["postings_per_result"] = mean(
                [s["op"]["postings"] / max(len(s["rows"]), 1) for s in ss])
    return out


def _per_op(prefix: str, ss: list) -> dict:
    return {
        f"{prefix}.jobs_p50": (median([s["jobs"] for s in ss]), "count"),
        f"{prefix}.tasks_p50": (median([s["tasks"] for s in ss]), "count"),
        f"{prefix}.spark_ms_p50": (median([s["spark_ms"] for s in ss]), "ms"),
        f"{prefix}.driver_ms_p50": (median([s["driver_ms"] for s in ss]), "ms"),
        f"{prefix}.executor_run_ms_mean": (mean([s["run_ms"] for s in ss]), "ms"),
        f"{prefix}.shuffle_bytes_mean": (mean([s["shuffle_bytes"] for s in ss]), "bytes"),
        f"{prefix}.python_bytes_mean": (mean([s["python_bytes"] for s in ss]), "bytes"),
    }


def _per_layer(ctx, wl, samples, cold, setups, jobs, cpus, phases, rss) -> dict:
    from spans import job_totals

    _spark_split(samples, jobs)
    ok = [s for s in samples if not s["error"]]
    traced = [s for s in ok if s["traced"]]
    tprim = [s for s in traced if wl.klass(s["cls"]) == wl.primary]
    tslow = [s for s in traced if wl.klass(s["cls"]) == wl.slow]
    uprim = [s for s in ok if not s["traced"] and wl.klass(s["cls"]) == wl.primary]
    last = setups[-1]
    w0, w1 = last["build_wall"]
    build = job_totals(jobs, w0, w1)
    led = [x["ledger"] for x in setups]
    table = _layer_table(ctx.tracer, traced)
    for name, row in table.items():
        print("  layer " + name + " " + " ".join(
            f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}" for k, v in row.items()))
    return {
        "spark.start_s": (phases["spark"], "s"),
        "setup.cold_build_s": (cold["build_s"], "s"),
        "setup.build_s": (median([x["build_s"] for x in setups]), "s"),
        "setup.build_turns_per_s": (median([x["n_docs"] / x["build_s"] for x in setups]), "1/s"),
        "setup.catalog_open_ms": (median([x["open_ms"] for x in setups]), "ms"),
        "setup.handle_warm_s": (median([x["warm_s"] for x in setups]), "s"),
        "build.docmap_raw_s": (median([x["docmap_raw"] for x in led]), "s"),
        "build.docmap_s": (median([x["docmap"] for x in led]), "s"),
        "build.postings_s": (median([x["postings"] for x in led]), "s"),
        "build.terms_s": (median([x["terms"] for x in led]), "s"),
        "build.skew_ratio": (last["ledger"]["skew_ratio"], "ratio"),
        "build.executor_run_s": (build["run_ms"] / 1e3, "s"),
        "build.shuffle_bytes": (build["shuffle_bytes"], "bytes"),
        "build.cpu_busy_ratio": (build["run_ms"] / 1e3 / ((w1 - w0) * cpus), "ratio"),
        **_per_op("op", tprim),
        **_per_op("slow_op", tslow),
        "mem.peak_rss_mb": (rss.peak / 2**20, "MB"),
        **{f"mem.{k}_p50_mb": (median([x[k] for x in rss.window]) / 2**20, "MB")
           for k in ("driver", "jvm", "workers")},
        "trace.overhead_pct": (100.0 * (median([s["lat"] for s in tprim])
                                        / median([s["lat"] for s in uprim]) - 1), "%"),
    }


def run(args, work: str) -> dict:
    from workloads import WORKLOADS

    wcls = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    _isolate(work, wcls.n_turns, cpus)
    ctx = Ctx(args.seed, work)

    from spans import RssSampler

    t0 = time.perf_counter()
    with RssSampler() as rss:
        try:
            ctx.spark = _start_spark(work, cpus)
            return _measure(args, ctx, wcls, cpus, rss, t0)
        finally:
            _stop_spark(ctx.spark)


def _stop_spark(spark) -> None:
    """Stop Spark and wait until every process it started has ended:
    the JVM and its Python workers. The JVM exits on its own when its
    stdin closes, but only after this process has gone, so it is closed
    and waited for here; whatever is left after that is killed."""
    from pyspark import SparkContext
    from spans import descendants

    # taken before the stop too: stopping a Python-worker daemon orphans
    # its workers, which then are no longer this process's descendants
    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    finally:
        procs |= descendants(os.getpid())
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception as e:  # the JVM is waited for and killed below anyway
                Ctx.log(f"gateway shutdown: {e}")
        _end_processes(proc, procs)


def _end_processes(proc, procs: dict) -> None:
    """Wait for the JVM ``proc`` to exit once its stdin is closed, then
    end whatever of ``procs`` (pid -> start time) is still running."""
    from spans import alive, descendants

    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while alive(procs) and time.monotonic() < deadline:
            for pid in alive(procs):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            time.sleep(0.1)
            procs |= descendants(os.getpid())
    left = alive(procs)
    if left:
        raise RuntimeError(f"processes still running after Spark stopped: {sorted(left)}")


def _measure(args, ctx, wcls, cpus, rss, t_start) -> dict:
    from spans import Tracer, event_log_jobs, instrument
    from workloads import SETUP_REPS, traced_targets

    phases = {"spark": time.perf_counter() - t_start}
    ctx.tracer = Tracer(ctx.spark, enabled=False)
    t0 = time.perf_counter()
    wl = wcls(ctx)
    phases["inputs"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    cold = wl.setup_once("cold", wl.warm_path)
    phases["cold_setup"] = time.perf_counter() - t0
    setups = [wl.setup_once(f"rep{r}", wl.corpus_path) for r in range(SETUP_REPS)]
    t0 = time.perf_counter()
    wl.warmup()
    phases["warmup"] = time.perf_counter() - t0
    ops = wl.operations()
    if args.trace:
        instrument(ctx.tracer, traced_targets())
        ops = wl.traced_ops(ops)
    else:
        ops = ((*o, False) for o in ops)
    rss.mark(True)
    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    samples = _window(ctx, wl, ops, args.seconds, bool(args.trace))
    wall = time.perf_counter() - t0
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    rss.mark(False)
    rss.stop()
    # after the memory sampler stops: the checks load the corpus into DuckDB
    t0 = time.perf_counter()
    checked, wrong = wl.check(samples)
    phases["check"] = time.perf_counter() - t0
    errors = sum(1 for s in samples if s["error"])
    failed = errors + wrong

    timed = [s for s in samples if s["traced"] == bool(args.trace) and not s["error"]]
    prim = [s["lat"] * 1e3 for s in timed if wl.klass(s["cls"]) == wl.primary]
    slow = [s["lat"] * 1e3 for s in timed if wl.klass(s["cls"]) == wl.slow]
    # the light mix is multi-modal (SQL, sort and filter-cache misses are
    # slower than the rest), so a single percentile of it jumps between
    # modes from run to run; the tail is the mean of the slowest quarter
    tail = sorted(prim)[-math.ceil(len(prim) / 4):]
    at = min(len(prim) - 1, int(0.75 * len(prim)))
    last = setups[-1]
    e2e = {
        "setup_s": (median([x["setup_s"] for x in setups]), "s"),
        "op_p50_ms": (median(prim), "ms"),
        "op_tail_ms": (mean(tail), "ms"),
        "slow_op_p50_ms": (median(slow), "ms"),
        "index_bytes_per_input_byte": (last["index_bytes"] / last["input_bytes"], "ratio"),
        "rss_p50_mb": (median([sum(x.values()) for x in rss.window]) / 2**20, "MB"),
    }
    print(f"workload={args.workload} seed={args.seed} turns={last['n_docs']} "
          + _environment(ctx.spark, cpus))
    # on a shared virtual machine the hypervisor's steal time is the main
    # source of run-to-run spread; printed so that a slow run can be told
    # from a slow program
    print(f"host in window: busy={100 * sum(ticks[:3] + ticks[5:7]) / max(sum(ticks), 1):.0f}% "
          f"steal={100 * ticks[7] / max(sum(ticks), 1):.1f}% of {cpus} CPUs")
    print(f"window_s={wall:.2f} samples={len(samples)} phases_s: "
          + " ".join(f"{k}={v:.2f}" for k, v in phases.items())
          + " setups=" + ",".join(f"{x['setup_s']:.2f}" for x in setups))
    print(f"correctness: checked={checked} wrong={wrong} errors={errors} "
          f"attempted={len(samples)} failed_ratio={failed / len(samples):.4f}")
    print(f"rss_mb: samples={len(rss.window)} peak={rss.peak / 2**20:.0f} window_p50: " + " ".join(
        f"{k}={median([x[k] for x in rss.window]) / 2**20:.0f}" for k in ("driver", "jvm", "workers")))
    print(f"{wl.primary}: n={len(prim)} tail=mean of slowest {len(tail)}; "
          f"p75={sorted(prim)[at]:.1f} ms ({len(prim) - at - 1} beyond); {wl.slow}: n={len(slow)}")
    for k, (v, u) in e2e.items():
        print(f"  {k} = {v:.4f} {u}")

    metrics = e2e
    if args.trace:
        t0 = time.perf_counter()
        jobs = event_log_jobs(ctx.spark)
        ctx.tracer.attach_jobs(jobs)
        metrics = _per_layer(ctx, wl, samples, cold, setups, jobs, cpus, phases, rss)
        for k, (v, u) in metrics.items():
            print(f"  {k} = {v:.4f} {u}")
        out = os.path.join(HERE, ".work", f"trace-{args.workload}-{args.seed}.jsonl")
        ctx.tracer.dump(out)
        print(f"spans written to {os.path.relpath(out, ROOT)} "
              f"(event log parsed in {time.perf_counter() - t0:.2f}s)")

    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "searchengine_spark", "__init__.py")):
        print(f"error: no searchengine_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a termination request unwinds like an exception, so Spark and its
    # processes are still stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
