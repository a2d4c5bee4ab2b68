"""Per-chunk profile + chunk-width A/B of the entropy_batch32 workload
(r14 queued item #3: the sf10 sweep row has never had a per-chunk
component profile; profile chunk sizing against exchange count before
touching the chunked grouping-sets shape).

What it does, in ONE Spark session (interleaved configs, weather-immune):
for each grouping-set width cap in --widths (set as the engine module's
DEFAULT_MAX_GROUPING_SETS), run the bench's exact batch32
subset list against lineitem with a FRESH engine (cold driver cache per
run — the bench's shape), recording per chunk: set count, union width,
whether the pre-aggregation gate fired, and wall seconds. Total Expand
work is invariant to chunk width (sum over sets of N rows), so width can
only matter through scan amortization, scheduling, and the gate — this
measures which.

Usage: SPARK_GRAFT_CPUS=32 python tools/profile_entropy_chunks.py \
           [--sf-dir /root/repo/.data/sf10] [--widths 8,16,32] [--reps 2]
Prints one JSON line (recorded as SCALING.json entropy_chunk_profile_r14).
"""
from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from relationaldecomposition_spark.engine import entropy  # noqa: E402
from relationaldecomposition_spark.engine.entropy import (  # noqa: E402
    SparkEntropyEngine)
from relationaldecomposition_spark.session import get_spark  # noqa: E402
from relationaldecomposition_spark.sources.tables import load_table  # noqa: E402

COLS = ["l_returnflag", "l_linestatus", "l_quantity", "l_discount",
        "l_tax", "l_shipdate"]


class ProfiledEngine(SparkEntropyEngine):
    """Wraps _batch_grouping_sets to record one row per chunk job. It
    profiles the Spark kernel's chunks, so the driver face (which answers
    inputs of at most BROADCAST_MAX_ROWS rows without any chunk job) is
    withheld."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.chunk_log: list[dict] = []

    def _collect_table(self):
        return None

    def _batch_grouping_sets(self, subsets):
        union = set().union(*subsets) if subsets else set()
        pre0 = self.pre_agg_chunks
        t0 = time.monotonic()
        super()._batch_grouping_sets(subsets)
        self.chunk_log.append({
            "sets": len(subsets),
            "widths": sorted(len(s) for s in subsets),
            "union_cols": len(union),
            "pre_agg": self.pre_agg_chunks > pre0,
            "wall_s": round(time.monotonic() - t0, 2),
        })


def batch32():
    return [frozenset(c) for r in (1, 2, 3)
            for c in itertools.combinations(COLS, r)][:32]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--widths", default="8,16,32")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    widths = [int(w) for w in args.widths.split(",")]

    spark = get_spark("entropy-chunk-profile")
    spark.sparkContext.setLogLevel("ERROR")
    li = load_table(spark, args.sf_dir, "lineitem")
    # warm the page cache / JIT once outside the timed region
    li.select(*COLS).count()

    out = {"sf_dir": args.sf_dir, "widths": widths, "reps": args.reps,
           "runs": []}
    for rep in range(args.reps):
        for w in widths:
            spark.sparkContext.setJobDescription(
                f"entropy_batch32 profile width={w} rep={rep}")
            entropy.DEFAULT_MAX_GROUPING_SETS = w
            eng = ProfiledEngine(li.select(*COLS))
            t0 = time.monotonic()
            eng.entropies(batch32())
            wall = time.monotonic() - t0
            run = {"rep": rep, "max_grouping_sets": w,
                   "wall_s": round(wall, 2),
                   "jobs": eng.jobs_run,
                   "pre_agg_chunks": eng.pre_agg_chunks,
                   "direct_chunks": eng.direct_chunks,
                   "chunks": eng.chunk_log}
            eng.unpersist()
            out["runs"].append(run)
            print(f"rep{rep} width={w}: {run['wall_s']}s "
                  f"jobs={run['jobs']} pre_agg={run['pre_agg_chunks']}"
                  f"/{run['pre_agg_chunks'] + run['direct_chunks']}",
                  file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
