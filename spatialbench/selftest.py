#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size.  Run from the repository
root:

    python3 spatialbench/selftest.py

Checks, on one small session:

1. a smoke run of every workload passes its oracle, untraced and traced;
2. the untraced result carries every end-to-end metric of BENCHMARK.json,
   none of them 0;
3. the traced result carries every per-layer metric of BENCHMARK.json, the
   layers the workload calls read non-zero and the layers it never calls
   read 0;
4. corrupted outputs count as failed: a dropped count row or a swapped MVT
   tile (pip_tile); a data file left out of the snapshot, a wrong kNN
   neighbour or a dropped window row (ingest_query).

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

ROOT = os.getcwd()

# span and counter prefixes each workload is expected to fill; every other
# per-layer metric must read 0 on that workload
COMMON = ("session.", "setup.", "trace.overhead_s")
USED = {
    "pip_tile": ("operators.joins.spatial_join", "operators.joins.candidates",
                 "operators.joins.results", "operators.joins.refine_ratio",
                 "operators.joins.shuffle_write_mb", "cells.", "geom.kernel.",
                 "operators.tiling.", "operators.mvt."),
    "ingest_query": ("sources.images.", "sources.snapshots.", "operators.joins.range_query",
                     "operators.knn.", "query."),
}
# metrics of a called layer that may legitimately be 0 on healthy tiny runs
MAY_BE_ZERO = (".fetch_wait_s", ".gc_s", ".failed_tasks", "bad_rows", "shuffle_write_mb",
               "trace.overhead_s")


def tiny_sizes():
    from spatialbench.workloads import Sizes

    return Sizes(pip_points=20_000, pip_zones=40, pip_tiles=16, kernel_pairs=500,
                 ingest_rows=200, query_rows=5_000, query_files=4)


# -- corruptions ---------------------------------------------------------------

def drop_count_row(wl, out):
    counts, mvt = out.data
    out.data = (counts[1:], mvt)
    return out


def swap_mvt_tiles(wl, out):
    counts, mvt = out.data
    rows = [tuple(r) for r in mvt]
    if len(rows) >= 2:
        (a, b) = rows[0], rows[1]
        rows[0] = (a[0], a[1], b[2], a[3])
        rows[1] = (b[0], b[1], a[2], b[3])
    else:
        rows = []
    out.data = (counts, rows)
    return out


def drop_snapshot_file(wl, out):
    """Rewrite the landing table's newest manifest without its last data file."""
    meta = os.path.join(wl.landing, "metadata")
    n = max(int(f[1:-5]) for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json"))
    with open(os.path.join(meta, f"v{n}.json")) as f:
        manifest = os.path.join(meta, json.load(f)["snapshots"][-1]["manifests"][-1])
    with open(manifest) as f:
        m = json.load(f)
    m["files"] = m["files"][:-1]
    with open(manifest, "w") as f:
        json.dump(m, f)
    return out


def wrong_neighbour(wl, out):
    """The kNN answer's last neighbour replaced by the farthest table point."""
    for k, (q, data) in enumerate(out.data):
        if q.kind == "knn":
            ids, dist = data
            far = int(wl.ids[np.argmax((wl.lon - q.qx) ** 2 + (wl.lat - q.qy) ** 2)])
            out.data[k] = (q, (list(ids[:-1]) + [far], dist))
    return out


def drop_window_row(wl, out):
    """The rectangle answer with one row dropped (a bogus one added to an
    empty answer)."""
    for k, (q, data) in enumerate(out.data):
        if q.kind == "rect":
            out.data[k] = (q, list(data[1:]) if data else [-1])
    return out


CORRUPTIONS = {
    "pip_tile": (drop_count_row, swap_mvt_tiles),
    "ingest_query": (drop_snapshot_file, wrong_neighbour, drop_window_row),
}


def main() -> int:
    sys.path.insert(0, ROOT)
    from spatialbench import run
    from spatialbench.trace import RssSampler
    from spatialbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    info = run.host()
    workdir = os.path.join(ROOT, ".bench_work", f"selftest-{os.getpid()}")
    run.configure_env(ROOT, workdir)
    failures = []

    def expect(cond, msg):
        print(("ok   " if cond else "FAIL ") + msg, flush=True)
        if not cond:
            failures.append(msg)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = run.start_session(workdir, info["nproc"], min(2, info["driver_memory_gb"]))
        session_s = time.perf_counter() - t0
        for name, cls in WORKLOADS.items():
            for trace in (False, True):
                sub = os.path.join(workdir, f"{name}-{int(trace)}")
                with RssSampler() as rss:
                    raw = run.bench(spark, cls, 3, 0.0, trace, tiny_sizes(), sub, session_s)
                res = run.report(raw, spec, trace, rss.peak_mb)
                mode = "traced" if trace else "untraced"
                expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                       f"{name} {mode}: {res['attempted']} jobs, {res['failed']} failed "
                       + "; ".join(raw["problems"][:2]))
                m = res["metrics"]
                if not trace:
                    names = [x["name"] for x in spec["end_to_end"]]
                    expect(list(m) == names and all(v["value"] > 0 for v in m.values()),
                           f"{name} untraced: every end-to-end metric present and non-zero")
                    continue
                names = [x["name"] for x in spec["per_layer"]]
                expect(list(m) == names, f"{name} traced: every per-layer metric present")
                used = USED[name] + COMMON
                stray = [k for k, v in m.items() if v["value"] != 0 and not k.startswith(used)]
                expect(not stray, f"{name} traced: layers never called read 0 {stray[:5]}")
                zero = [k for k, v in m.items() if v["value"] == 0 and k.startswith(USED[name])
                        and not k.endswith(MAY_BE_ZERO)]
                expect(not zero, f"{name} traced: layers called are measured {zero[:5]}")
            for corrupt in CORRUPTIONS[name]:
                sub = os.path.join(workdir, f"{name}-{corrupt.__name__}")
                raw = run.bench(spark, cls, 3, 0.0, False, tiny_sizes(), sub, session_s, corrupt=corrupt)
                timed = raw["attempted"] - cls.warmup_jobs  # the corruption hits timed jobs only
                expect(timed >= 1 and raw["failed"] == timed,
                       f"{name} {corrupt.__name__}: {raw['failed']} of {timed} timed jobs counted failed")
    finally:
        if spark is not None:
            run.stop_session(spark)
        shutil.rmtree(workdir, ignore_errors=True)
        parent = os.path.dirname(workdir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
