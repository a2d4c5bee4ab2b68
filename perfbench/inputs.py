"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes the
same rows in the same files. Inputs are generated once per seed into the
work directory's input cache and reused by later runs with that seed;
generation time is not part of any metric.

- ``planted``: a relation with a planted join tree. A root key ``k`` and
  three clusters of two low-cardinality attributes each; for every key the
  rows are the full cross product of one random tuple set per cluster, so
  the join dependency ``k ->> {a0,a1} | {b0,b1} | {c0,c1}`` holds exactly
  and ``{k}`` is its minimal separator. Every distinct row appears the same
  number of times, which keeps the dependency exact in the entropy measure.
  The row count is chosen so rows x 2^attrs exceeds JDMiner's default
  ``eager_cells``: mining takes the chunked grouping-sets path.
- ``denorm``: TPC-H customer/nation/region at sf0.1 (15,000 customers): a
  fixed 1,500-customer base replicated x10 by ``tools/gen_scale_data.py``'s
  key-shifting functions. The seed permutes the row order and the
  row-to-file layout only, so every seed mines, validates and writes the
  same relation.
- ``documents``: a fixed corpus with planted exact and near duplicates at
  sf0.1 (5,000 docs): 500 base docs replicated x10 by
  ``tools/gen_scale_data.scale_documents``, laid out by the seed like
  ``denorm``. The seed also picks the decontamination set (see workloads).
"""

from __future__ import annotations

import importlib.util
import itertools
import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# JDMiner's default eager all-entropies budget (rows x 2^attrs cells)
EAGER_CELLS = 100_000_000

PLANTED_CLUSTERS = (("a0", "a1"), ("b0", "b1"), ("c0", "c1"))
PLANTED_KEYS = 16
PLANTED_CARD = 3  # values per cluster attribute
PLANTED_TUPLES = 4  # distinct tuples per (key, cluster)
PLANTED_COPIES = 800  # multiplicity of every distinct row

# the base tables' content is fixed; the run seed only lays them out.
# sf0.1: on a 4-core host, operations at sf0.2-0.3 made one run (set-up
# plus a few operations) too long for the benchmark's time budget
BASE_SEED = 0
DENORM_BASE_CUSTOMERS = 1500
DENORM_FACTOR = 10
LAYOUT_FILES = 4

DOCS_BASE = 500
DOCS_FACTOR = 10
DOCS_VOCAB = ("join hash row batch scan column customer filter small slow "
              "merge order vector line table data agg value key stream "
              "window a spark part group big sort query fast the").split()

NATIONS = [(i, f"NATION_{i}", i % 5) for i in range(25)]
REGIONS = [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
           (4, "MIDDLE EAST")]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def planted_columns() -> list[str]:
    return ["k"] + [a for cluster in PLANTED_CLUSTERS for a in cluster]


def planted_schema() -> tuple[frozenset, list[frozenset]]:
    """Ground truth: (minimal separator, clusters of the planted schema)."""
    sep = frozenset({"k"})
    return sep, [sep | frozenset(c) for c in PLANTED_CLUSTERS]


def _is_product(tuples: np.ndarray) -> bool:
    """True when a set of 2-tuples is a cross product of its projections
    (it would plant a second, unintended independence inside the cluster)."""
    return len(tuples) == (len(set(tuples[:, 0])) * len(set(tuples[:, 1])))


def planted_rows(seed: int, keys: int = PLANTED_KEYS,
                 copies: int = PLANTED_COPIES) -> np.ndarray:
    """int32 array (rows, 7) in ``planted_columns()`` order, rows shuffled."""
    rng = np.random.default_rng([seed, 1])
    domain = np.array(list(itertools.product(range(PLANTED_CARD), repeat=2)))
    blocks = []
    for k in range(keys):
        sets = []
        for _ in PLANTED_CLUSTERS:
            while True:
                pick = domain[rng.choice(len(domain), PLANTED_TUPLES,
                                         replace=False)]
                if not _is_product(pick):
                    break
            sets.append(pick)
        # cross product of the three tuple sets under key k
        idx = np.array(list(itertools.product(range(PLANTED_TUPLES),
                                              repeat=len(sets))))
        block = np.concatenate(
            [np.full((len(idx), 1), k)]
            + [s[idx[:, i]] for i, s in enumerate(sets)], axis=1)
        blocks.append(block)
    rows = np.repeat(np.concatenate(blocks).astype(np.int32), copies, axis=0)
    rng.shuffle(rows)
    return rows


def _gen_scale_data(root: str):
    """tools/gen_scale_data.py as a module (tools/ is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "gen_scale_data", os.path.join(root, "tools", "gen_scale_data.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _dir_bytes(path: str) -> int:
    """Bytes of a file, or of the data files under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _write_arrow(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _customers(n: int) -> pa.Table:
    rng = np.random.default_rng([BASE_SEED, 2])
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        # distinct balances: an accidental repeat would change which
        # dependencies hold, and with them the mined separators
        "c_acctbal": (rng.choice(1_099_999, n, replace=False) - 99_999) / 100,
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)],
    })


def _documents(n: int) -> pa.Table:
    """Corpus with planted duplicates: ~8% exact copies of an earlier doc,
    ~8% near copies (an earlier doc plus two marker words), the rest random
    bags over a small vocabulary."""
    rng = np.random.default_rng([BASE_SEED, 3])
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.16:
            texts.append(texts[int(rng.integers(0, i))] + " dup dup")
        else:
            words = rng.choice(DOCS_VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    langs = ["en", "zh", "es", "de", "fr"]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [langs[i] for i in rng.choice(5, n, p=[.6, .1, .1, .1, .1])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def prepare(workload: str, seed: int, cache_dir: str, root: str) -> dict:
    """Generate (once per seed) the workload's input under ``cache_dir`` and
    return its description: paths plus rows, attributes and bytes.

    The seed-independent replicated tables are built once per cache, on
    Spark, in a process of their own: the benchmark's own session then
    starts equally cold on every run. Laying them out for a seed needs no
    Spark."""
    out = os.path.join(cache_dir, f"{workload}-{seed}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    if workload == "mine_planted":
        rows = planted_rows(seed)
        path = os.path.join(out, "planted.parquet")
        _write_arrow(pa.table({c: rows[:, i]
                               for i, c in enumerate(planted_columns())}),
                     path)
        meta = {"path": path, "rows": int(len(rows)),
                "attrs": len(planted_columns()), "bytes": _dir_bytes(path)}
    else:
        base = os.path.join(cache_dir, f"{workload}-base")
        if not os.path.exists(os.path.join(base, "meta.json")):
            subprocess.run([sys.executable, os.path.abspath(__file__),
                            workload, base, root], check=True, stdout=sys.stderr)
        with open(os.path.join(base, "meta.json")) as f:
            meta = json.load(f)
        sf_dir = os.path.join(out, "sf")
        for name in meta["tables"]:
            _lay_out(pq.read_table(os.path.join(base, "sf", f"{name}.parquet")),
                     seed, os.path.join(sf_dir, f"{name}.parquet"))
        meta.update(sf_dir=sf_dir, bytes=_dir_bytes(sf_dir))
    os.makedirs(out, exist_ok=True)
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


def _lay_out(table: pa.Table, seed: int, path: str) -> None:
    """Write ``table`` as LAYOUT_FILES Parquet files, the seed choosing which
    rows share a file and their order inside it."""
    order = np.random.default_rng([seed, 4]).permutation(table.num_rows)
    shuffled = table.take(order)
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, LAYOUT_FILES + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(shuffled.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def build_base(spark, workload: str, out: str, root: str) -> None:
    """Replicate the fixed base tables x10 with tools/gen_scale_data.py's
    functions into ``out``/sf and describe them in ``out``/meta.json."""
    gsd = _gen_scale_data(root)
    sf_dir = os.path.join(out, "sf")
    if workload == "decompose_denorm":
        from relationaldecomposition_spark.sources.tables import (
            denorm_customer_nation_region)

        seed_path = os.path.join(out, "seed", "customer.parquet")
        _write_arrow(_customers(DENORM_BASE_CUSTOMERS), seed_path)
        _write_arrow(pa.table({"n_nationkey": pa.array([n[0] for n in NATIONS], pa.int32()),
                               "n_name": [n[1] for n in NATIONS],
                               "n_regionkey": pa.array([n[2] for n in NATIONS], pa.int32())}),
                     os.path.join(sf_dir, "nation.parquet"))
        _write_arrow(pa.table({"r_regionkey": pa.array([r[0] for r in REGIONS], pa.int32()),
                               "r_name": [r[1] for r in REGIONS]}),
                     os.path.join(sf_dir, "region.parquet"))
        cust = gsd._shift_keys(spark.read.parquet(seed_path),
                               gsd.KEY_SHIFTS["customer"], DENORM_FACTOR)
        cust.write.mode("overwrite").parquet(
            os.path.join(sf_dir, "customer.parquet"))
        # the denormalized relation as plain Parquet: the stored-bytes baseline
        denorm_path = os.path.join(out, "denorm.parquet")
        denorm = denorm_customer_nation_region(spark, sf_dir)
        denorm.write.mode("overwrite").parquet(denorm_path)
        rows = DENORM_BASE_CUSTOMERS * DENORM_FACTOR
        meta = {"tables": ["customer", "nation", "region"], "rows": rows,
                "attrs": len(denorm.columns),
                "denorm_bytes": _dir_bytes(denorm_path),
                "distinct_rows": rows}
    elif workload == "curation":
        seed_path = os.path.join(out, "seed", "documents.parquet")
        _write_arrow(_documents(DOCS_BASE), seed_path)
        docs = gsd.scale_documents(spark.read.parquet(seed_path), DOCS_FACTOR)
        docs.write.mode("overwrite").parquet(
            os.path.join(sf_dir, "documents.parquet"))
        meta = {"tables": ["documents"], "rows": DOCS_BASE * DOCS_FACTOR,
                "attrs": len(docs.columns)}
    else:
        raise ValueError(f"unknown workload {workload!r}")
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


if __name__ == "__main__":
    # python3 inputs.py WORKLOAD OUT_DIR REPO_ROOT: build_base in a session
    # of its own (prepare runs this)
    _workload, _out, _root = sys.argv[1:4]
    sys.path.insert(1, _root)
    from relationaldecomposition_spark.session import get_spark
    from run import _shutdown

    _spark = get_spark("perfbench-inputs")
    try:
        build_base(_spark, _workload, _out, _root)
    finally:
        _shutdown(_spark)
