"""User-facing sweep CLI — the entry point the reference exposes as
`Main.main` (`Main.java:202-221`: directory of relations, smallest first,
24-threshold sweep under per-run timeouts).

    python -m relationaldecomposition_spark.cli \
        --input-dir /root/testdata/sf0.001 --out-dir /tmp/sweep \
        --mode minsep --thresholds 0,0.1 --timeout 600 \
        --columns c_custkey,c_nationkey,c_mktsegment --enumerate

Outputs per relation (reference schemas, experiments.py):
  mode=mvd:    <name>.out.csv                (MVD sweep)
  mode=minsep: <name>.csv + per-run .sep     (min-sep mining)
               <name>.enum.out.csv           (with --enumerate)

Each relation is read, persisted and sized once: every threshold mines on
one entropy engine, and --enumerate validates each run's schemas on it.
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="relationaldecomposition_spark.cli",
        description="Threshold-sweep mining experiments over a directory "
                    "of parquet/CSV relations (reference Main.java parity).")
    p.add_argument("--input-dir", required=True,
                   help="directory of .parquet / .csv relations")
    p.add_argument("--out-dir", required=True,
                   help="directory for result CSVs and .sep files")
    p.add_argument("--mode", choices=["minsep", "mvd"], default="minsep")
    p.add_argument("--thresholds", default=None,
                   help="comma-separated epsilon list "
                        "(default: the reference's 24-threshold sweep)")
    p.add_argument("--timeout", type=float, default=12000.0,
                   help="per-run timeout in seconds (reference default 12000)")
    p.add_argument("--columns", default=None,
                   help="comma-separated column subset to mine (default all)")
    p.add_argument("--enumerate", action="store_true", dest="enumerate_schemas",
                   help="also enumerate + validate acyclic schemas per run")
    p.add_argument("--master", default=None,
                   help="Spark master override (default: session.get_spark)")
    return p


def main(argv: list[str] | None = None) -> int:
    from .experiments import DEFAULT_THRESHOLDS, sweep_directory
    from .session import get_spark

    from pyspark.sql import SparkSession

    args = build_parser().parse_args(argv)
    thresholds = (tuple(float(t) for t in args.thresholds.split(","))
                  if args.thresholds else DEFAULT_THRESHOLDS)
    columns = args.columns.split(",") if args.columns else None
    # only stop the session if this CLI created it (embedding callers —
    # e.g. tests — keep theirs alive; getOrCreate reuses it)
    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("rd-sweep", master=args.master)
    try:
        results = sweep_directory(
            spark, args.input_dir, args.out_dir, thresholds=thresholds,
            timeout_sec=args.timeout, columns=columns, mode=args.mode,
            enumerate_schemas=args.enumerate_schemas)
    finally:
        if not preexisting:
            spark.stop()
    n_runs = sum(len(v) for v in results.values())
    n_timeouts = sum(1 for v in results.values() for r in v if not r.completed)
    print(f"swept {len(results)} relation(s), {n_runs} run(s), "
          f"{n_timeouts} timeout(s); results in {args.out_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
