"""Experiment-harness parity: per-run stats CSV emitters + threshold sweeps.

The reference ships three result-CSV schemas, reproduced here column-for-
column so downstream analysis scripts keep working:

- MVD-sweep CSV   (`Main.java:81-141` executeTestsSingleDataset):
  one row per threshold of a TopDown MVD mining run, with "NaN"/">timeout"
  rows for timed-out runs.
- MinSep-run CSV  (`search/MinimalJDGenerator.java:959-1076`):
  one row per (timeout, range size, threshold) minimal-separator mining
  run, plus a `.sep` file of the mined JDs per run
  (`printJDsToFile`; our format twin lives in sources/jd_io.py).
- Schema-enum CSV (`search/AcyclicSchemaEnumerator.java:243-300`):
  one row per enumerated acyclic schema with its validation metrics.

Each sweep mines on one entropy engine per relation (entropies depend on
the data, not on the threshold), so per-run counters are deltas over the
run, and a run the shared cache serves reads 0. Column mapping to Spark
counters (SparkEntropyEngine / DecompositionInfo instrumentation):
  "#File Scans"/"#In-Memory Queries Issued" -> engine.jobs_run
  "total file scan time"/"Query Time"       -> engine.scan_seconds
  "Time Building range Tbls"                -> the sizing count and collect
                                               (first threshold, ~0 after)
  "Range Size"                              -> DEFAULT_MAX_GROUPING_SETS
                                               (the grouping-set width cap,
                                               the analogue of the
                                               reference's range envelope)
  "Cached Entropy Objects"                  -> engine.cache_size (shared)
  "Number of tuples processed..."           -> engine.tuples_processed
Times are wall-clock SECONDS (floats), not the reference's millis — the
unit is stated here once instead of being implicit.

The sweep driver (`Main.java:202-221`) processes a directory's relations
smallest-first under a per-run timeout; `sweep_directory` mirrors that, and
the CLI in cli.py exposes it.
"""

from __future__ import annotations

import csv
import itertools
import os
import threading
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

# Main.java:206-207 — the published threshold sweep
DEFAULT_THRESHOLDS = (0, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.5, 0.6, 0.7,
                      0.75, 0.8, 0.9, 1.0, 1.1, 1.15, 1.3, 1.4, 1.5, 1.6,
                      2.0, 2.5, 3)

MVD_SWEEP_HEADER = ["#Attribtues", "#Rows", "Threshold", "#MVDs",
                    "#File Scans", "total file scan time",
                    "total Running time", "%scanning"]

MINSEP_HEADER = ["#Attribtues", "#Rows", "Range Size", "Threshold",
                 "Timeout (sec)", "Completed MinSeps", "#Minimal Separators",
                 "Completed FullMVDs", "#Full MVDs",
                 "Time Building range Tbls", "#In-Memory Queries Issued",
                 "Query Time", "total Running time", "%querying",
                 "Cached Entropy Objects",
                 "Number of tuples processed during Entropy Computation"]

MAX_SCHEMAS = 100  # ENUM_HEADER rows per `.sep` file

ENUM_HEADER = ["#Attribtues", "#Rows", "JDMeasure", "Separator Size",
               "Elapsed Time (sec)", "#Schemas Returned", "Largest Relation",
               "#Relations", "#Spurious Tuples", "DecompositionSizeinTuples",
               "DecompositionSizeInCells"]


def _append_rows(path: str, header: list[str], rows: list[list]) -> None:
    """CSV append, writing the header only on create (the reference's
    CREATE/APPEND split, MinimalJDGenerator.java:962-975)."""
    exists = os.path.exists(path)
    with open(path, "a", newline="") as f:
        w = csv.writer(f)
        if not exists:
            w.writerow(header)
        w.writerows(rows)


@dataclass
class RunResult:
    completed: bool
    row: list


def _mine_timed(runner, eng, make_miner, mine, timeout_sec: float):
    """(miner, completed) of ``mine(miner)`` under the runner's timeout.
    The miner gets a stop flag made on this thread, so no late worker can
    leave a fired flag on the shared engine after the reset below."""
    stop = threading.Event()
    miner = make_miner(stop.is_set)
    try:
        runner.run(lambda _: mine(miner), timeout=timeout_sec)
        return miner, True
    except TimeoutError:
        stop.set()
        return miner, False
    finally:
        # a fired flag left on the engine would cancel the next run's jobs
        eng.stop_check = None


def run_mvd_sweep(df: DataFrame, out_csv: str,
                  thresholds=DEFAULT_THRESHOLDS,
                  timeout_sec: float = 12000.0) -> list[RunResult]:
    """TopDown MVD mining per threshold -> MVD_SWEEP_HEADER rows.
    Timed-out runs emit the reference's NaN/">timeout" row shape."""
    from .engine.entropy import SparkEntropyEngine
    from .engine.measures import MeasureEngine
    from .mining.lattice import MVDMiner
    from .runner import TimeoutRunner

    runner = TimeoutRunner(df.sparkSession)
    results: list[RunResult] = []
    n_atts = len(df.columns)
    eng = SparkEntropyEngine(df)
    meng = MeasureEngine(eng)
    try:
        for thresh in thresholds:
            jobs0, scan0, t0 = eng.jobs_run, eng.scan_seconds, time.monotonic()
            miner, done = _mine_timed(
                runner, eng,
                lambda stop: MVDMiner(meng, alpha=thresh, stop_flag=stop),
                MVDMiner.mine, timeout_sec)
            total = time.monotonic() - t0
            scan = eng.scan_seconds - scan0
            pct = 100.0 * scan / total if total > 0 else 0.0
            if done:
                row = [n_atts, eng.num_rows, thresh, len(list(miner.discovered)),
                       eng.jobs_run - jobs0, round(scan, 3), round(total, 3),
                       round(pct, 2)]
            else:
                row = [n_atts, "NaN", thresh, "NaN", "NaN", "NaN",
                       f">{timeout_sec}", "NaN"]
            results.append(RunResult(done, row))
    finally:
        eng.unpersist()
    _append_rows(out_csv, MVD_SWEEP_HEADER, [r.row for r in results])
    return results


def run_minsep_experiment(df: DataFrame, out_csv: str, sep_dir: str,
                          name: str, thresholds=(0.0,),
                          timeout_sec: float = 12000.0,
                          mine_full_mvds: bool = True,
                          enum_csv: str | None = None) -> list[RunResult]:
    """Minimal-separator mining per threshold -> MINSEP_HEADER rows plus a
    `.sep` file of mined JDs per run (file name pattern matches the
    reference: <name>.TO.<timeout>.RANGE.<range>.THRESH.<thresh>.sep, which
    AcyclicSchemaEnumerator parses the threshold back out of). With
    ``enum_csv``, each run's `.sep` file is enumerated and validated on the
    engine the sweep mines on, as run_schema_enumeration does."""
    from .engine.decompose import DecompositionValidator
    from .engine.entropy import DEFAULT_MAX_GROUPING_SETS
    from .engine.measures import MeasureEngine
    from .mining.jd_miner import JDMiner
    from .runner import TimeoutRunner
    from .sources.jd_io import write_jds

    def mine(miner):
        miner.mine_all_min_seps()
        if mine_full_mvds:
            miner.mine_all_full_mvds()

    os.makedirs(sep_dir, exist_ok=True)
    runner = TimeoutRunner(df.sparkSession)
    results: list[RunResult] = []
    enum_rows: list[list] = []
    v = DecompositionValidator(df)
    eng, cols = v.eng, list(df.columns)
    meng = MeasureEngine(eng)
    try:
        for thresh in thresholds:
            jobs0, tuples0, t_build0 = (eng.jobs_run, eng.tuples_processed,
                                        time.monotonic())
            # the sizing count and the driver face's collect are build
            # time, not query time; only the first threshold pays them
            n_rows = eng.num_rows
            t_build = time.monotonic() - t_build0
            scan0, t0 = eng.scan_seconds, time.monotonic()
            miner, done = _mine_timed(
                runner, eng,
                lambda stop: JDMiner(meng, epsilon=thresh, stop_flag=stop),
                mine, timeout_sec)
            total = time.monotonic() - t0
            scan = eng.scan_seconds - scan0
            pct = 100.0 * scan / total if total > 0 else 0.0
            results.append(RunResult(done, [
                len(cols), n_rows, DEFAULT_MAX_GROUPING_SETS, thresh,
                timeout_sec, str(done), len(miner.mined_min_seps),
                str(done or not mine_full_mvds), len(miner.full_mvds),
                round(t_build, 3), eng.jobs_run - jobs0, round(scan, 3),
                round(total, 3), round(pct, 2), eng.cache_size,
                eng.tuples_processed - tuples0]))
            sep_path = os.path.join(
                sep_dir, f"{name}.TO.{int(timeout_sec)}.RANGE."
                         f"{DEFAULT_MAX_GROUPING_SETS}.THRESH.{thresh}.sep")
            jds = set(miner.full_mvds) | set(miner.mined_jds)
            write_jds(sorted(jds, key=str), sep_path, cols)
            if enum_csv is not None:
                enum_rows += _enum_rows(v, sep_path, MAX_SCHEMAS)
    finally:
        v.close()
    _append_rows(out_csv, MINSEP_HEADER, [r.row for r in results])
    if enum_csv is not None:
        _append_rows(enum_csv, ENUM_HEADER, enum_rows)
    return results


def _enum_rows(v, sep_path: str, max_schemas: int) -> list[list]:
    """One ENUM_HEADER row per acyclic schema enumerated from a `.sep`
    file, validated on ``v`` (AcyclicSchemaEnumerator step 5)."""
    from .schema.acyclic import AcyclicSchemaEnumerator
    from .sources.jd_io import read_jds

    cols = list(v.schema_cols)
    jds = sorted(read_jds(sep_path, cols), key=str)
    rows: list[list] = []
    n_rows, t0 = v.num_tuples, time.monotonic()
    for i, schema in enumerate(itertools.islice(
            AcyclicSchemaEnumerator(cols, jds), max_schemas)):
        info = v.process_decomposition(schema.clusters)
        rows.append([len(cols), n_rows, round(schema.estimated_measure, 9),
                     schema.max_separator, round(time.monotonic() - t0, 3),
                     i + 1, info.largest_relation, len(schema.clusters),
                     info.spurious_tuples, info.total_tuples,
                     info.total_cells])
    return rows


def run_schema_enumeration(df: DataFrame, sep_path: str, out_csv: str,
                           max_schemas: int = MAX_SCHEMAS) -> list[list]:
    """Enumerate acyclic schemas from a standalone `.sep` file of mined JDs
    and emit one ENUM_HEADER row per schema."""
    from .engine.decompose import DecompositionValidator

    v = DecompositionValidator(df)
    try:
        rows = _enum_rows(v, sep_path, max_schemas)
    finally:
        v.close()
    _append_rows(out_csv, ENUM_HEADER, rows)
    return rows


def sweep_directory(spark: SparkSession, in_dir: str, out_dir: str,
                    thresholds=DEFAULT_THRESHOLDS,
                    timeout_sec: float = 12000.0,
                    columns: list[str] | None = None,
                    mode: str = "minsep",
                    enumerate_schemas: bool = False) -> dict[str, list[RunResult]]:
    """Main.java:202-221: process every relation in `in_dir`
    smallest-file-first, sweeping thresholds under a per-run timeout.
    mode='mvd' emits <name>.out.csv; mode='minsep' emits <name>.csv +
    .sep files (+ <name>.enum.out.csv when enumerate_schemas). CSV
    relations are read with A1 semantics (sources.tables.read_csv_ref)."""
    from .sources.tables import read_csv_ref

    os.makedirs(out_dir, exist_ok=True)
    files = [os.path.join(in_dir, f) for f in os.listdir(in_dir)
             if f.endswith((".parquet", ".csv"))]
    files.sort(key=lambda p: (os.path.getsize(p) if os.path.isfile(p) else
                              sum(os.path.getsize(os.path.join(p, g))
                                  for g in os.listdir(p))))
    out: dict[str, list[RunResult]] = {}
    for path in files:
        name = os.path.basename(path).split(".")[0]
        df = (spark.read.parquet(path) if path.endswith(".parquet")
              else read_csv_ref(spark, path))
        df = df.select(*columns) if columns else df
        if mode == "mvd":
            out[name] = run_mvd_sweep(
                df, os.path.join(out_dir, f"{name}.out.csv"),
                thresholds, timeout_sec)
            continue
        enum_csv = (os.path.join(out_dir, f"{name}.enum.out.csv")
                    if enumerate_schemas else None)
        out[name] = run_minsep_experiment(
            df, os.path.join(out_dir, f"{name}.csv"), out_dir, name,
            thresholds, timeout_sec, enum_csv=enum_csv)
    return out
