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

Column mapping to Spark counters (all pre-existing instrumentation on
SparkEntropyEngine / DecompositionInfo):
  "#File Scans"/"#In-Memory Queries Issued" -> engine.jobs_run
  "total file scan time"/"Query Time"       -> engine.scan_seconds
  "Range Size"                              -> engine.max_grouping_sets
                                               (the grouping-set width cap,
                                               the analogue of the
                                               reference's range envelope)
  "Cached Entropy Objects"                  -> engine.cache_size
  "Number of tuples processed..."           -> engine.tuples_processed
Times are wall-clock SECONDS (floats), not the reference's millis — the
unit is stated here once instead of being implicit.

The sweep driver (`Main.java:202-221`) processes a directory's relations
smallest-first under a per-run timeout; `sweep_directory` mirrors that, and
the CLI in cli.py exposes it.
"""

from __future__ import annotations

import csv
import os
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
    for thresh in thresholds:
        eng = SparkEntropyEngine(df)
        t0 = time.monotonic()
        try:
            mined = runner.run(
                lambda stop: MVDMiner(MeasureEngine(eng), alpha=thresh,
                                      stop_flag=stop).mine(),
                timeout=timeout_sec)
            total = time.monotonic() - t0
            pct = 100.0 * eng.scan_seconds / total if total > 0 else 0.0
            row = [n_atts, eng.num_rows, thresh, len(list(mined)),
                   eng.jobs_run, round(eng.scan_seconds, 3),
                   round(total, 3), round(pct, 2)]
            results.append(RunResult(True, row))
        except TimeoutError:
            row = [n_atts, "NaN", thresh, "NaN", "NaN", "NaN",
                   f">{timeout_sec}", "NaN"]
            results.append(RunResult(False, row))
        finally:
            eng.unpersist()
    _append_rows(out_csv, MVD_SWEEP_HEADER, [r.row for r in results])
    return results


def run_minsep_experiment(df: DataFrame, out_csv: str, sep_dir: str,
                          name: str, thresholds=(0.0,),
                          timeout_sec: float = 12000.0,
                          mine_full_mvds: bool = True) -> list[RunResult]:
    """Minimal-separator mining per threshold -> MINSEP_HEADER rows plus a
    `.sep` file of mined JDs per run (file name pattern matches the
    reference: <name>.TO.<timeout>.RANGE.<range>.THRESH.<thresh>.sep, which
    AcyclicSchemaEnumerator parses the threshold back out of)."""
    from .engine.entropy import SparkEntropyEngine
    from .engine.measures import MeasureEngine
    from .mining.jd_miner import JDMiner
    from .runner import TimeoutRunner
    from .sources.jd_io import write_jds

    os.makedirs(sep_dir, exist_ok=True)
    runner = TimeoutRunner(df.sparkSession)
    results: list[RunResult] = []
    for thresh in thresholds:
        eng = SparkEntropyEngine(df)
        t_build0 = time.monotonic()
        # materialize the persisted input ("range tables"): the sizing
        # count, and on the driver face the one collect, are build time,
        # not query time
        _ = eng.num_rows
        t_build = time.monotonic() - t_build0
        build_scan = eng.scan_seconds
        miner = JDMiner(MeasureEngine(eng), epsilon=thresh)
        t0 = time.monotonic()
        completed_seps = completed_mvds = True
        try:
            def mine(stop):
                miner._stop = stop
                miner.eng.stop_check = stop
                miner.mine_all_min_seps()
                if mine_full_mvds:
                    miner.mine_all_full_mvds()
                return miner

            runner.run(mine, timeout=timeout_sec)
        except TimeoutError:
            completed_seps = completed_mvds = False
        total = time.monotonic() - t0
        scan = eng.scan_seconds - build_scan
        pct = 100.0 * scan / total if total > 0 else 0.0
        row = [len(df.columns), eng.num_rows, eng.max_grouping_sets, thresh,
               timeout_sec, str(completed_seps), len(miner.mined_min_seps),
               str(completed_mvds or not mine_full_mvds),
               len(miner.full_mvds), round(t_build, 3), eng.jobs_run,
               round(scan, 3), round(total, 3), round(pct, 2),
               eng.cache_size, eng.tuples_processed]
        results.append(RunResult(completed_seps, row))
        sep_path = os.path.join(
            sep_dir, f"{name}.TO.{int(timeout_sec)}.RANGE."
                     f"{eng.max_grouping_sets}.THRESH.{thresh}.sep")
        jds = set(miner.full_mvds) | set(miner.mined_jds)
        write_jds(sorted(jds, key=str), sep_path, list(df.columns))
        eng.unpersist()
    _append_rows(out_csv, MINSEP_HEADER, [r.row for r in results])
    return results


def run_schema_enumeration(df: DataFrame, sep_path: str, out_csv: str,
                           max_schemas: int = 100,
                           validate: bool = True) -> list[list]:
    """Enumerate acyclic schemas from a `.sep` file of mined JDs and emit
    one ENUM_HEADER row per schema (AcyclicSchemaEnumerator step 5)."""
    from .engine.decompose import DecompositionValidator
    from .schema.acyclic import AcyclicSchemaEnumerator, validate_schema
    from .sources.jd_io import read_jds

    jds = read_jds(sep_path, list(df.columns))
    rows: list[list] = []
    v = DecompositionValidator(df) if validate else None
    try:
        n_rows = v.num_tuples if validate else df.count()
        t0 = time.monotonic()
        for i, schema in enumerate(
                AcyclicSchemaEnumerator(list(df.columns), sorted(jds, key=str))):
            if i >= max_schemas:
                break
            if validate:
                info = validate_schema(v, schema)
                spurious, largest = info.spurious_tuples, info.largest_relation
                tuples, cells = info.total_tuples, info.total_cells
            else:
                spurious = largest = tuples = cells = "NaN"
            rows.append([len(df.columns), n_rows,
                         round(schema.estimated_measure, 9),
                         schema.max_separator,
                         round(time.monotonic() - t0, 3), i + 1, largest,
                         len(schema.clusters), spurious, tuples, cells])
    finally:
        if v is not None:
            v.close()
    _append_rows(out_csv, ENUM_HEADER, rows)
    return rows


def load_relation(spark: SparkSession, path: str,
                  columns: list[str] | None = None) -> DataFrame:
    """Parquet or reference-style CSV (A1 semantics via sources.tables)."""
    from .sources.tables import read_csv_ref

    if path.endswith(".parquet"):
        df = spark.read.parquet(path)
    else:
        df = read_csv_ref(spark, path)
    return df.select(*columns) if columns else df


def sweep_directory(spark: SparkSession, in_dir: str, out_dir: str,
                    thresholds=DEFAULT_THRESHOLDS,
                    timeout_sec: float = 12000.0,
                    columns: list[str] | None = None,
                    mode: str = "minsep",
                    enumerate_schemas: bool = False) -> dict[str, list[RunResult]]:
    """Main.java:202-221: process every relation in `in_dir`
    smallest-file-first, sweeping thresholds under a per-run timeout.
    mode='mvd' emits <name>.out.csv; mode='minsep' emits <name>.csv +
    .sep files (+ <name>.enum.out.csv when enumerate_schemas)."""
    os.makedirs(out_dir, exist_ok=True)
    files = [os.path.join(in_dir, f) for f in os.listdir(in_dir)
             if f.endswith((".parquet", ".csv"))]
    files.sort(key=lambda p: (os.path.getsize(p) if os.path.isfile(p) else
                              sum(os.path.getsize(os.path.join(p, g))
                                  for g in os.listdir(p))))
    out: dict[str, list[RunResult]] = {}
    for path in files:
        name = os.path.basename(path).split(".")[0]
        df = load_relation(spark, path, columns)
        if mode == "mvd":
            out[name] = run_mvd_sweep(
                df, os.path.join(out_dir, f"{name}.out.csv"),
                thresholds, timeout_sec)
            continue
        out[name] = run_minsep_experiment(
            df, os.path.join(out_dir, f"{name}.csv"), out_dir, name,
            thresholds, timeout_sec)
        if enumerate_schemas:
            from .engine.entropy import DEFAULT_MAX_GROUPING_SETS
            for res, thresh in zip(out[name], thresholds):
                sep = os.path.join(
                    out_dir, f"{name}.TO.{int(timeout_sec)}"
                             f".RANGE.{DEFAULT_MAX_GROUPING_SETS}"
                             f".THRESH.{thresh}.sep")
                if os.path.exists(sep):
                    run_schema_enumeration(
                        df, sep, os.path.join(out_dir, f"{name}.enum.out.csv"))
    return out
