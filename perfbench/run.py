"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --cores 2 --workload extract_mixed --seed 1 \
        --seconds 8 --trace 0

Run from the repository root.  The run makes its inputs from ``--seed``,
starts one Spark session on ``local[--cores]``, runs one cold pass (with the
session start, the set-up a fresh CLI invocation pays), then untimed warm-up
passes until pass times stop falling, then timed passes for ``--seconds``.
One pass runs only after the previous one ended (a closed loop with one
client).  Every pass, warm-up included, is checked against the oracle
outside its timed region.  Pass times go to standard error; the last line of
standard output is one JSON object.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics instead: it enables Spark's event log, runs untraced and
traced passes in the timed window in the order U T T U U T T U ..., then
times each layer's calls and reduces the event log by job group.  See
perfbench/README.md.
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

from harness import (adopt_orphans, cpu_probe, gc_seconds, hwm_mb,
                     jit_seconds, log, python_workers, start_session,
                     stop_descendants, stop_session)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WARM_MIN = 3            # warm-up passes always run
WARM_TOL = 0.03         # a pass at least 3% under the best so far improves
WARM_STABLE = 2         # after WARM_MIN, warm-up ends after this many passes
WARM_CAP_S = 12.0       # that do not improve, or once it has taken this long
TIMED_MIN = 2           # timed passes in an untraced window
TRACED_MIN_EACH = 2     # traced and untraced passes in a traced window
MAX_FAILED = 3          # failed passes after which the run stops passing


class Run:
    """Pass accounting for one run: attempted and failed passes, the JVM's
    GC time per pass and the Python workers' peak RSS."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failed = 0
        self.last_gc_s = 0.0
        self.worker_mb = 0.0        # peak RSS of any Python worker seen

    def one_pass(self, w, spark, phase, tracer=None, keep=False):
        """Run and check one pass; its seconds, or None if it failed."""
        from workloads import NullTracer
        self.attempted += 1
        g0, j0 = gc_seconds(spark), jit_seconds(spark)
        t0 = time.perf_counter()
        try:
            result = w.run_pass(spark, tracer or NullTracer())
            dt = time.perf_counter() - t0
            self.last_gc_s = gc_seconds(spark) - g0
            jit = jit_seconds(spark) - j0
            bad = w.check(result, keep=keep)
        except Exception as e:  # noqa: BLE001 -- a failed pass is counted
            self.failed += 1
            log(f"{phase} pass FAILED after {time.perf_counter() - t0:.3f}s:"
                f" {e!r}")
            return None
        self.failed += bool(bad)
        workers = python_workers(self.jvm_pid)
        self.worker_mb = max([self.worker_mb] + [hwm_mb(p) for p in workers])
        log(f"{phase} pass {dt:.3f}s traced={int(tracer is not None)} "
            f"gc={self.last_gc_s:.3f}s jit={jit:.3f}s "
            f"py_workers={len(workers)} mismatches={bad}")
        return dt


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("extract_mixed", "vector_topk"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2)
    p.add_argument("--small", action="store_true",
                   help="small inputs, for the self-tests")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import vlm_ocr_doc_reader_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test ({e}); "
              "run from the repository root", file=sys.stderr)
        return 2

    # every process the run starts ends before it does, on every way out
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                            .split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    try:
        metrics, run = measure(args, work)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0,
                      "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}), flush=True)
    return 0


def measure(args, work):
    import workloads as wl
    probes = [cpu_probe() for _ in range(3)]
    log(f"cpu probe before: {' '.join(f'{x:.4f}' for x in probes)}")
    if args.workload == "extract_mixed":
        kw = {"n_docs": 1_000} if args.small else {}
        w = wl.ExtractMixed(os.path.join(work, "main"), args.seed, **kw)
    else:
        w = wl.VectorTopk(os.path.join(work, "main"), args.seed,
                          **({"n": 300} if args.small else {}))
    log(f"inputs ready: {w.items} items, {w.input_bytes} bytes")

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    t0 = time.perf_counter()
    spark, jvm = start_session(args.cores, work, event_dir)
    session_s = time.perf_counter() - t0
    log(f"session start {session_s:.3f}s")
    run = Run(jvm.pid)
    try:
        values, trace_ctx = _passes(spark, w, run, args, work, session_s,
                                    probes)
    finally:
        stop_session(spark, jvm)
        log("session stopped")
    if args.trace:
        import traced
        values.update(traced.event_metrics(event_dir, *trace_ctx))
    return with_units(values, "per_layer" if args.trace else "end_to_end"), \
        run


def with_units(values: dict, section: str) -> dict:
    """The metrics of one BENCHMARK.json section, in its order and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)[section]}
    if set(declared) != set(values):
        raise RuntimeError("metrics out of step with BENCHMARK.json: "
                           f"{sorted(set(declared) ^ set(values))}")
    return {k: {"value": values[k], "unit": u} for k, u in declared.items()}


def _passes(spark, w, run, args, work, session_s, probes) -> tuple:
    """Cold pass, warm-up, timed window and, when tracing, the layer calls.
    Returns the metric values the live session gives and, when tracing,
    what the event-log reduction needs."""
    import workloads as wl
    tracer = wl.Tracer(spark) if args.trace else None
    cold_s = run.one_pass(w, spark, "cold")
    if cold_s is None:
        raise SystemExit("the cold pass failed; no measurement")

    warm, best, stale = [], cold_s, 0
    while run.failed <= MAX_FAILED and (len(warm) < WARM_MIN or (
            stale < WARM_STABLE and sum(warm) < WARM_CAP_S)):
        dt = run.one_pass(w, spark, "warmup")
        if dt is not None:
            warm.append(dt)
            stale = 0 if dt < (1 - WARM_TOL) * best else stale + 1
            best = min(best, dt)

    timed, traced_times, tracer_s, gcs = [], [], [], []
    t_end = time.perf_counter() + args.seconds
    k = 0
    while run.failed <= MAX_FAILED and (
            time.perf_counter() < t_end or len(timed) < TIMED_MIN or (
                tracer and len(traced_times) < TRACED_MIN_EACH)):
        # U T T U: a trend over the window cancels between the two kinds
        use = tracer if tracer and k % 4 in (1, 2) else None
        if use:
            use.begin_pass(f"t{k}", "main")
            own = use.own_s
        dt = run.one_pass(w, spark, "timed", use,
                          keep=bool(use) and w.name == "extract_mixed")
        k += 1
        if dt is not None:
            (traced_times if use else timed).append(dt)
            gcs.append(run.last_gc_s)
            if use:
                tracer_s.append(use.own_s - own)
    after = [cpu_probe() for _ in range(3)]
    log(f"cpu probe after: {' '.join(f'{x:.4f}' for x in after)}")
    log("warm-up passes: " + " ".join(f"{x:.3f}" for x in warm))
    log("timed passes: " + " ".join(f"{x:.3f}" for x in timed))
    if not timed:
        raise SystemExit("every timed pass failed; no measurement")
    if not tracer:
        return {"items_per_s": w.items / statistics.median(timed),
                "setup_s": session_s + cold_s,
                "py_worker_peak_rss_mb": run.worker_mb}, None

    import traced
    values, roles = traced.layer_metrics(
        spark, tracer, run, w, args, work, session_s=session_s,
        warmup_passes=len(warm), gcs=gcs, timed=timed,
        traced_times=traced_times, tracer_s=tracer_s,
        cpu_probe_s=statistics.median(probes + after))
    return values, (tracer.tags, roles)


if __name__ == "__main__":
    sys.exit(main())
