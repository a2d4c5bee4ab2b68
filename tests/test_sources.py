"""CSV source with the reference's untyped semantics (A1/A2) + threshold
sweep (the reference's UnitTests pattern: same dataset, many epsilons)."""

import pytest

from relationaldecomposition_spark.sources.tables import EMPTY_SENTINEL, read_csv_ref


def test_read_csv_ref_trim_and_sentinel(spark, tmp_path):
    p = tmp_path / "ref.csv"
    p.write_text("a, b ,c\n"
                 "1 , x,\n"
                 "2,y\n")          # short row: missing trailing field
    df = read_csv_ref(spark, str(p), header=False)
    rows = set(tuple(r) for r in df.collect())
    # fields trimmed; missing/empty trailing fields -> EMPTY sentinel
    assert rows == {("a", "b", "c"),
                    ("1", "x", EMPTY_SENTINEL),
                    ("2", "y", EMPTY_SENTINEL)}
    assert df.columns == ["att0", "att1", "att2"]


def test_read_csv_ref_header(spark, tmp_path):
    p = tmp_path / "hdr.csv"
    p.write_text("store,item\n1,5\n2,6\n")
    df = read_csv_ref(spark, str(p), header=True)
    assert df.columns == ["store", "item"]
    assert df.count() == 2


def test_read_csv_num_atts_cap(spark, tmp_path):
    p = tmp_path / "cap.csv"
    p.write_text("1,2,3,4\n5,6,7,8\n")
    df = read_csv_ref(spark, str(p), num_atts=2)
    assert df.columns == ["att0", "att1"]


def test_epsilon_sweep_monotone(spark):
    """Reference pattern 3 (UnitTests.main): sweep thresholds over one
    dataset. Brute-force discovery is monotone in epsilon: every dependency
    accepted at eps1 is accepted at every eps2 > eps1."""
    import random

    from relationaldecomposition_spark.engine.entropy import SparkEntropyEngine
    from relationaldecomposition_spark.engine.measures import MeasureEngine
    from relationaldecomposition_spark.mining.lattice import MVDMiner

    rng = random.Random(3)
    rows = []
    for k in range(1, 9):
        avs = rng.sample(range(4), 2)
        bvs = rng.sample(range(4), 2)
        for a in avs:
            for b in bvs:
                rows.append((k, a, b))
    df = spark.createDataFrame(rows, ["k", "a", "b"])
    meng = MeasureEngine(SparkEntropyEngine(df))
    prev = None
    for eps in [0.0, 0.1, 0.3, 1.0, 3.0]:
        found = {(d.lhs, d.rhs)
                 for d in MVDMiner(meng, alpha=eps).brute_force()}
        if prev is not None:
            assert prev <= found, f"sweep not monotone at eps={eps}"
        prev = found
    meng.engine.unpersist()


def test_every_query_has_an_oracle():
    """Gate completeness: every queries() entry has a DuckDB oracle twin,
    except the documented rows-only set (non-SQL-expressible operators,
    each carrying its value oracle in pytest instead)."""
    from relationaldecomposition_spark.queries import ORACLES, QUERIES
    # Round 5: EMPTY — even true BPE (o20) now has a DuckDB twin (the
    # learned merge table replayed by a recursive CTE); every query
    # hash-verifies.
    ROWS_ONLY_BY_DESIGN: set[str] = set()
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY_BY_DESIGN
    assert not set(ORACLES) - set(QUERIES)


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    from relationaldecomposition_spark.sources.tables import (
        read_jsonl, write_jsonl)
    src = tmp_path / "docs.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "hello world"}\n'
        '{"doc_id": 2, "text": "second doc"}\n'
        'not json at all\n'
        '{"doc_id": "wrongtype", "text": 3}\n')
    df = read_jsonl(spark, str(src), "doc_id bigint, text string")
    rows = df.collect()
    good = {r["doc_id"]: r["text"] for r in rows
            if r["_corrupt_record"] is None}
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == {1: "hello world", 2: "second doc"}
    assert len(bad) == 2          # quarantined, not dropped, not fatal
    # write path round-trips the clean subset
    clean = df.where(df["_corrupt_record"].isNull()).select("doc_id", "text")
    write_jsonl(clean, str(tmp_path / "out"), partitions=2)
    back = read_jsonl(spark, str(tmp_path / "out"),
                      "doc_id bigint, text string")
    assert {r["doc_id"]: r["text"] for r in back.collect()} == good


def test_compact_write_file_count_and_clustering(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq

    from relationaldecomposition_spark.sources.tables import (
        compact_write, load_table)

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    out = str(tmp_path / "compact")
    stats = compact_write(li, out, n_files=4, cluster_cols=["l_orderkey"])
    parts = sorted(glob.glob(out + "/part-*.parquet"))
    assert stats["n_files"] == 4 and len(parts) == 4
    # range clustering: per-file l_orderkey min/max spans must be disjoint,
    # so key-range predicates prune whole files via parquet statistics
    spans = []
    for p in parts:
        md = pq.read_metadata(p)
        idx = md.schema.names.index("l_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo
    # content round-trips
    assert spark.read.parquet(out).count() == li.count()


def test_compact_write_sizes_from_catalyst_estimate(spark, tmp_path,
                                                   monkeypatch):
    import glob

    from relationaldecomposition_spark.sources import tables
    from relationaldecomposition_spark.sources.tables import (
        compact_write, load_table)

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    out = str(tmp_path / "compact2")
    # target far above the table size -> exactly one output file
    stats = compact_write(li, out, target_file_bytes=1 << 30)
    assert stats["n_files"] == 1 and stats["est_bytes"] > 0
    assert len(glob.glob(out + "/part-*.parquet")) == 1
    # no plan stats (e.g. Spark Connect): ask for n_files, don't guess
    monkeypatch.setattr(tables, "plan_bytes", lambda df: None)
    with pytest.raises(ValueError, match="n_files"):
        compact_write(li, out, target_file_bytes=1 << 30)


def test_zorder_key_matches_python_reference(spark):
    import random

    from pyspark.sql import Row

    from relationaldecomposition_spark.sources.tables import zorder_key

    rng = random.Random(99)
    rows = [Row(a=rng.randrange(1 << 16), b=rng.randrange(1 << 16))
            for _ in range(200)]

    def ref(a, b, bits=16):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(rows).withColumn(
        "z", zorder_key("a", "b"))
    for r in df.collect():
        assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"])


def test_compact_write_zorder_clustering(spark, tmp_path):
    from pyspark.sql import functions as F

    from relationaldecomposition_spark.sources.tables import (
        compact_write, load_table, zorder_key)

    li = (load_table(spark, "/root/testdata/sf0.001", "lineitem")
          .withColumn("z", zorder_key("l_orderkey", "l_partkey")))
    out = str(tmp_path / "zorder")
    compact_write(li, out, n_files=4, cluster_cols=["z"])
    # each file's z-range is disjoint (range clustering on the Morton key),
    # and BOTH source dims are bounded within a file tighter than globally
    back = spark.read.parquet(out)
    assert back.count() == li.count()
    per_file = (back.groupBy(F.input_file_name().alias("f"))
                .agg(F.min("z").alias("zl"), F.max("z").alias("zh"))
                .collect())
    spans = sorted((r["zl"], r["zh"]) for r in per_file)
    assert len(spans) == 4
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo
