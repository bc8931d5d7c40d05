#!/usr/bin/env python3
"""Benchmark of the spatial engine: batch point-in-polygon + tiling, and image
ingest followed by interactive snapshot queries.

Run from the repository root:

    python3 spatialbench/run.py --workload pip_tile --seed 1 --seconds 15 --trace 0

One process, one client, closed loop, on ``local[nproc]``.  The run generates
its inputs from ``--seed``, starts the session, loads the inputs, runs one
untimed warm-up job, then runs jobs for ``--seconds`` seconds and checks every
job's output against an independent oracle.  The last line of standard output
is the result as JSON; the line before it records the host and the run.
With ``--trace 1`` the run alternates untraced and traced jobs and reports the
per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


def host() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    ram_gb = mem_kb / 1024**2
    # a sixth of host RAM, 1..8 GB, leaves room for the Python workers and
    # the page cache (the session default of 24g exceeds many hosts)
    return {"nproc": nproc, "ram_gb": round(ram_gb, 2),
            "driver_memory_gb": int(max(1, min(8, ram_gb // 6)))}


def configure_env(root: str, workdir: str) -> None:
    """Set before the JVM starts, so the driver and every Python worker
    inherit it: one BLAS/OpenMP thread per worker (nproc workers in all),
    the repository on the import path, and scratch space inside workdir."""
    for var in THREAD_VARS:
        os.environ[var] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")


def start_session(workdir: str, nproc: int, driver_memory_gb: int):
    from incubator_sedona_spark.session import get_spark

    return get_spark(
        app_name="spatialbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": f"{driver_memory_gb}g",
            # fixed, pre-touched heap: a growing one, or one whose pages are
            # touched as GC happens to reach them, made peak RSS swing by a
            # third between runs; no perf-data file, which the JVM would write
            # outside workdir
            "spark.driver.extraJavaOptions": (
                f"-Xms{driver_memory_gb}g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}"
            ),
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "20000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child process."""
    from pyspark import SparkContext

    from spatialbench.trace import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = descendants(os.getpid())
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while left and time.time() < deadline:
            for pid in list(left):
                try:
                    if os.waitpid(pid, os.WNOHANG)[0] == pid:
                        left.remove(pid)
                except ChildProcessError:  # not our direct child: poll /proc
                    if not os.path.exists(f"/proc/{pid}"):
                        left.remove(pid)
            time.sleep(0.05)
        if not left:
            break


def bench(spark, wl_cls, seed: int, seconds: float, trace: bool, sizes, workdir: str,
          session_s: float, corrupt=None) -> dict:
    """Load, warm up, measure and check one workload on a running session.

    ``corrupt``, when given, is applied to every timed job's output before the
    check (the self-test uses it to prove corrupted outputs count as failed).
    Returns the raw measurements; ``report`` turns them into the result line.
    """
    from spatialbench.trace import Tracer

    wl = wl_cls(spark, seed, sizes, workdir)
    t0 = time.perf_counter()
    wl.generate()
    generate_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext)
    tracer.record("session.start_s", session_s)
    with tracer.span("setup.load"):
        wl.load()
    # inputs are prepared and outputs checked outside the span, so setup_s
    # holds only the engine's work
    warm = [(i, wl.prepare(i)) for i in range(-1, -wl.warmup_jobs - 1, -1)]
    outs = []
    with tracer.span("setup.warmup"):
        for i, prep in warm:
            try:
                outs.append((i, wl.job(i, prep, None), None))
            except Exception:
                outs.append((i, None, "job raised: " + traceback.format_exc(limit=3)))
    problems = []
    for i, out, err in outs:
        errs = [err] if err else wl.check(out)
        if errs:
            problems.append(f"warm-up job {i}: " + "; ".join(errs)[:500])
    setup = {k: tracer.values[f"{k}_s"][-1] for k in ("setup.load", "setup.warmup")}

    # warm-up jobs are checked too, so they count as attempted
    attempted, failed = wl.warmup_jobs, len(problems)
    untraced, traced, rates = [], [], []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        use_trace = trace and i % 2 == 1
        prep = wl.prepare(i)
        t0 = time.perf_counter()
        out = None
        try:
            out = wl.job(i, prep, tracer if use_trace else None)
            dt = time.perf_counter() - t0
            if corrupt is not None:
                out = corrupt(wl, out)
            errs = wl.check(out)
        except Exception:
            dt = time.perf_counter() - t0
            errs = ["job raised: " + traceback.format_exc(limit=3)]
        attempted += 1
        if errs:
            failed += 1
            problems.append(f"job {i}: " + "; ".join(errs)[:500])
        if use_trace:
            traced.append(dt)
        else:
            untraced.append(dt)
            if out is not None:
                rates.append(wl.rows_per_job(out) / (dt if out.rows_s is None else out.rows_s))
                for kind, v in out.requests:
                    tracer.record(f"query.{kind}_p50_s", v)
        i += 1
        done = time.perf_counter() >= t_end
        if trace:
            done = done and min(len(traced), len(untraced)) >= wl.min_traced_jobs
        else:
            done = done and len(untraced) >= wl.min_jobs
        if done:
            break
    return {
        "workload": wl, "tracer": tracer, "setup": setup, "session_s": session_s,
        "generate_s": generate_s, "build_s": build_s,
        "untraced": untraced, "traced": traced, "rates": rates,
        "attempted": attempted, "failed": failed,
        "problems": problems,
    }


def report(raw: dict, spec: dict, trace: bool, peak_rss_mb: float) -> dict:
    """The result object: end-to-end metrics, or per-layer ones with --trace 1."""
    untraced = raw["untraced"]
    if trace:
        values = raw["tracer"].summary()
        if raw["traced"] and untraced:
            values["trace.overhead_s"] = statistics.median(raw["traced"]) - statistics.median(untraced)
        names = spec["per_layer"]
    else:
        values = {
            "setup_s": raw["session_s"] + sum(raw["setup"].values()),
            "rows_per_s": statistics.median(raw["rates"]) if raw["rates"] else 0.0,
            "peak_rss_mb": peak_rss_mb,
        }
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    return {
        "correct": raw["failed"] == 0 and raw["attempted"] > 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("pip_tile", "ingest_query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(root, "incubator_sedona_spark", "__init__.py")):
        print("error: run from the repository root; the incubator_sedona_spark "
              "package is not in the current directory", file=sys.stderr)
        return 2
    if not os.path.isfile(spec_path):
        print("error: BENCHMARK.json not found in the current directory", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    info = host()
    workdir = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    configure_env(root, workdir)
    sys.path.insert(0, root)
    from spatialbench.trace import RssSampler
    from spatialbench.workloads import WORKLOADS, Sizes

    sizes = Sizes()
    spark = None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(workdir, info["nproc"], info["driver_memory_gb"])
            session_s = time.perf_counter() - t0
            raw = bench(spark, WORKLOADS[args.workload], args.seed, args.seconds,
                        bool(args.trace), sizes, workdir, session_s)
        result = report(raw, spec, bool(args.trace), rss.peak_mb)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        parent = os.path.dirname(workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    for p in raw["problems"][:20]:
        print("check failed:", p, file=sys.stderr)
    run_info = {
        **info,
        "master": f"local[{info['nproc']}]",
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "inputs": raw["workload"].info(),
        "generate_s": raw["generate_s"], "build_s": raw["build_s"], "session_s": raw["session_s"], **{f"{k}_s": v for k, v in raw["setup"].items()},
        "untraced_jobs": len(raw["untraced"]), "traced_jobs": len(raw["traced"]),
        "job_latencies_s": [round(x, 4) for x in raw["untraced"]],
    }
    print(json.dumps({"run_info": run_info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
