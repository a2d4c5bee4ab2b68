"""Paper-pipeline benchmark: one closed-loop client against local[nproc].

Usage (from the repository root):

    python3 perfbench/run.py --workload {decompose_denorm,curation,mine_planted}
                             --seed N --seconds S --trace {0,1}

One thread issues each operation only after the previous one completes,
with the program's default session settings. A run makes one warm-up
operation, then at least ``OPS[workload]`` timed operations, and goes on
until ``--seconds`` have passed (BENCHMARK.json fixes the value the
benchmark is run with). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it carries run details: every end-to-end reading with its
unit and sample count (``op_fail_ratio``, and ``rejoin_s`` and
``stored_bytes_ratio`` for ``decompose_denorm``, among them), the
per-operation times, the input sizes and the host scheduler sentinel.

End-to-end metrics (tracing off):
- ``setup_s``: session start, input registration and one warm-up
  operation (JIT and codegen warm-up). Input generation is excluded;
  inputs are cached per seed under ``.perfbench_work/inputs``.
- ``op_p50_s``: median wall seconds per timed operation.
Every operation, the warm-up too, counts in ``attempted``; a failed or
wrong one counts in ``failed``.

Per-layer metrics (``--trace 1``): medians over traced operations of each
phase's self time and Spark status-store readings, the modules' public
counters, and the run's tracing overhead, accounting, unattributed-job and
leak counters. Traced and untraced operations alternate; the overhead is
the difference of their medians.

``mine_planted`` is runnable but not in BENCHMARK.json: a third workload's
runs would not fit the benchmark's total time budget.

Everything the run writes (inputs, Spark warehouse, SPARK_LOCAL_DIRS, temp
files) stays under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# timed operations per run (the warm-up operation not counted); a traced
# run alternates traced and untraced ones, starting traced
OPS = {"decompose_denorm": 2, "curation": 3, "mine_planted": 2}


def _unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(".bytes"):
        return "B"
    if name.endswith(("_ratio", "_share", ".per_job")):
        return "ratio"
    return "count"


def _isolate_environment() -> str:
    """Point every scratch location of the run at the work directory and
    return a fresh per-run directory to work in."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    os.chdir(run_dir)  # the default Spark warehouse lives in the cwd
    return run_dir


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _persisted(spark) -> int:
    """Persistent RDDs plus cached catalog tables."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().size()
    tables = sum(1 for t in spark.catalog.listTables()
                 if spark.catalog.isCached(t.name))
    return rdds + tables


def _shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _make_workload(name: str, meta: dict, seed: int, run_dir: str):
    import workloads

    if name == "mine_planted":
        return workloads.MinePlanted(meta)
    if name == "decompose_denorm":
        return workloads.DecomposeDenorm(
            meta, os.path.join(run_dir, "spark-warehouse"))
    with open(os.path.join(HERE, "pinned.json")) as f:
        pinned = json.load(f)["curation_packed_checksum"]
    return workloads.Curation(meta, seed, pinned)


def _op(wl, spark, tracer, index: int) -> tuple[bool, dict, float]:
    """One operation: (ok, counters, wall seconds)."""
    t0 = time.perf_counter()
    try:
        with tracer.operation(index):
            ok, counters = wl.op(spark, tracer)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        ok, counters = False, {}
    return ok, counters, time.perf_counter() - t0


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    run_dir = _isolate_environment()
    sys.path.insert(1, ROOT)
    import bench
    import inputs
    import workloads
    from relationaldecomposition_spark.session import get_spark
    from tracing import Tracer, median, quartile_spread

    t0 = time.perf_counter()
    meta = inputs.prepare(workload, seed, os.path.join(WORK, "inputs"), ROOT)
    prepare_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    try:
        wl = _make_workload(workload, meta, seed, run_dir)
        t0 = time.perf_counter()
        wl.register(spark)
        register_s = time.perf_counter() - t0

        off = Tracer(spark, enabled=False)
        warm_ok, _, warmup_s = _op(wl, spark, off, 0)
        attempted, failed = 1, int(not warm_ok)

        tracer = Tracer(spark, enabled=trace)
        plain, traced, plain_counters, traced_counters = [], [], [], []
        leaked = 0
        start = time.perf_counter()
        while True:
            if (len(traced) + len(plain) >= OPS[workload]
                    and time.perf_counter() - start >= seconds):
                break
            on = trace and len(traced) <= len(plain)
            ok, c, wall = _op(wl, spark, tracer if on else off, attempted)
            (traced if on else plain).append(wall)
            (traced_counters if on else plain_counters).append(c)
            attempted += 1
            failed += not ok
            leaked = max(leaked, _persisted(spark))

        correct = warm_ok and wl.final_check(spark) and failed == 0
        rss_mb = _jvm_peak_rss_mb(spark)
        sentinel_s = None
        if trace:  # a host reading, only worth its time in a traced run
            t0 = time.perf_counter()
            bench._run_calibration_sched(spark)
            sentinel_s = time.perf_counter() - t0
    finally:
        _shutdown(spark)

    def reading(value, samples):
        return {"value": float(value), "samples": samples}

    setup_s = session_s + register_s + warmup_s
    e2e = {"setup_s": reading(setup_s, 1),
           "op_p50_s": reading(median(plain), len(plain)),
           "jvm_peak_rss_mb": reading(rss_mb, 1),
           "op_fail_ratio": reading(failed / attempted, attempted)}
    for name in ("rejoin_s", "stored_bytes_ratio"):
        vals = [c[name] for c in plain_counters if name in c]
        if vals:
            e2e[name] = reading(median(vals), len(vals))
    for name, r in e2e.items():
        r["unit"] = _unit(name)
    details = {"workload": workload, "seed": seed, "input": meta,
               "end_to_end": e2e, "op_s": plain, "traced_op_s": traced,
               "op_s_quartile_spread": (quartile_spread(plain)
                                        if len(plain) >= 2 else 0.0),
               "prepare_s": prepare_s, "session_s": session_s,
               "register_s": register_s,
               "warmup_op_s": warmup_s, "host.sched_sentinel_s": sentinel_s}
    if workload == "curation":
        details["packed_checksum"] = wl.checksums[0] if wl.checksums else None
    print(json.dumps(details))

    if not trace:
        metrics = {"setup_s": setup_s, "op_p50_s": median(plain)}
    else:
        metrics = {name: 0.0 for name in workloads.COUNTERS}
        for name in workloads.COUNTERS:
            vals = [c[name] for c in traced_counters if name in c]
            if vals:
                metrics[name] = median(vals)
        metrics.update(tracer.phase_metrics(workloads.PHASES))
        metrics.update(tracer.accounting())
        metrics["setup.warmup_op_s"] = warmup_s
        metrics["trace.overhead_s"] = median(traced) - median(plain)
        metrics["trace.unattributed_jobs"] = float(tracer.unattributed_jobs)
        metrics["leak.persisted_rdds"] = float(leaked)
        metrics["host.sched_sentinel_s"] = sentinel_s
        metrics["jvm_peak_rss_mb"] = rss_mb
    return {"correct": bool(correct),
            "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(v), "unit": _unit(k)}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "relationaldecomposition_spark")):
        print("perfbench: run from a full checkout of the repository",
              file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
