"""Tooling gates: the fixture generator must stay schema-exact vs the
driver fixtures (the sf1 oracle sweep's validity depends on it)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def generated(tmp_path_factory):
    from tools.gen_fixture import gen

    out = tmp_path_factory.mktemp("sfgen")
    stats = gen(0.001, str(out), seed=7)
    return str(out), stats


def test_gen_fixture_schema_exact(generated):
    """Every generated table carries the exact arrow schema of the
    driver fixture — names, order, and types (int32 vs int64, us
    timestamps, list<float>). A silent dtype drift here would turn
    the whole scale-sweep lever into noise."""
    out, _ = generated
    for t in TABLES:
        got = pq.ParquetFile(f"{out}/{t}.parquet").schema_arrow
        want = pq.ParquetFile(
            f"/root/testdata/sf0.001/{t}.parquet").schema_arrow
        assert len(got) == len(want), t
        for i in range(len(want)):
            assert got.field(i).name == want.field(i).name, t
            assert got.field(i).type == want.field(i).type, (
                t, got.field(i).name)


def test_gen_fixture_row_counts_and_integrity(generated):
    """Row counts scale linearly from the sf0.1 base; FKs stay inside
    their dimensions; the events stream stays ts-sorted (the driver
    fixtures are); documents carry proportional exact-dup mass."""
    import duckdb

    out, stats = generated
    assert stats["lineitem"] == 6000 and stats["customer"] == 150
    con = duckdb.connect()
    ok = con.sql(f"""
        SELECT
          (SELECT COUNT(*) FROM read_parquet('{out}/lineitem.parquet') l
           WHERE l.l_orderkey NOT BETWEEN 0 AND
             (SELECT MAX(o_orderkey) FROM
              read_parquet('{out}/orders.parquet'))) AS bad_fk,
          (SELECT COUNT(*) FROM (
             SELECT ts < LAG(ts) OVER (ORDER BY event_id) AS dec
             FROM read_parquet('{out}/events.parquet')) WHERE dec)
             AS unsorted
    """).fetchone()
    assert ok == (0, 0)


def test_rotation_lint_passes_on_current_order():
    """The driver samples the first ~50 queries() keys; the rotation
    lint (tools/check_rotation.py) must hold on HEAD so the
    least-recently-sampled cohort is always the next sample."""
    import subprocess
    import sys

    r = subprocess.run([sys.executable, "tools/check_rotation.py"],
                       capture_output=True, text=True, cwd="/root/repo")
    assert r.returncode == 0, r.stdout + r.stderr


def test_parity_scale_knob_consistent_and_default_stable():
    """SPARK_GRAFT_PARITY_SCALE (round 10, VERDICT r9 #6) must scale
    the parity moduli in the ORACLE SQL (the Spark closures read the
    same module constants, so one source of truth), and the default
    scale must leave every oracle byte-identical to the in-process
    import — the driver never sets the knob."""
    import importlib.util
    import os
    import re
    import sys

    def load(scale):
        old = os.environ.get("SPARK_GRAFT_PARITY_SCALE")
        os.environ["SPARK_GRAFT_PARITY_SCALE"] = str(scale)
        try:
            spec = importlib.util.spec_from_file_location(
                f"entry_scale_{scale}", "/root/repo/__spark_entry__.py")
            m = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(m)
            return m
        finally:
            if old is None:
                del os.environ["SPARK_GRAFT_PARITY_SCALE"]
            else:
                os.environ["SPARK_GRAFT_PARITY_SCALE"] = old

    import __spark_entry__ as entry
    base = entry.oracle_sql()
    assert load(1).oracle_sql() == base

    scaled = load(7).oracle_sql()
    expect = {"dedup_embedding_parity": "% 28", "knn_join": "% 28",
              "semdedup": "% 28", "dedup_embedding_against": "% 28",
              "dedup_near_parity": "% 14", "minhash_parity_gate": None,
              "ngram_jaccard": "% 7", "winnow": "% 7",
              "winnow_overlap": "% 7", "quantize_embedding": "% 7",
              "dedup_near_against": "% 7", "zorder": "% 7",
              "expect_fk": "% 7", "dedup_lines": "% 7",
              # round 12: the _HEVENTS heavy-pair fragment (per-user
              # join oracles quadratic on zipf-hot users)
              "attribution_first": "% 7", "asof_join": "% 7",
              "range_join": "% 7", "pit_enrich": "% 7",
              "stream_join": "% 7", "stream_join_stream": "% 7"}
    for name, mod in expect.items():
        if mod is None or name not in scaled:
            continue
        assert mod in scaled[name], (name, re.findall(r"% \d+", scaled[name]))
        assert mod not in base[name]


def test_gen_fixture_nan_planting(tmp_path):
    """--nan-frac corrupts only non-NULL embeddings, hits every
    corruption class at a plantable rate, and leaves the other tables
    untouched (round-10 valid_vec sweep lever)."""
    import math

    import pyarrow.parquet as pq

    from tools.gen_fixture import gen

    out = str(tmp_path / "nan")
    gen(0.01, out, seed=7, null_frac=0.05, nan_frac=0.2)
    emb = pq.read_table(f"{out}/embeddings.parquet")["embedding"].to_pylist()
    n_null = sum(v is None for v in emb)
    n_empty = sum(v is not None and len(v) == 0 for v in emb)
    n_nan = sum(v is not None and any(x is not None and math.isnan(x)
                                      for x in v) for v in emb)
    n_inf = sum(v is not None and any(x is not None and math.isinf(x)
                                      for x in v) for v in emb)
    n_nullcomp = sum(v is not None and any(x is None for x in v)
                     for v in emb)
    assert n_null > 0 and n_empty > 0 and n_nan > 0
    assert n_inf > 0 and n_nullcomp > 0
    n_bad = n_empty + n_nan + n_inf + n_nullcomp
    # ~20% of the non-NULL vectors corrupted
    assert 0.1 * len(emb) < n_bad < 0.3 * len(emb)


def test_gen_fixture_skew_and_garble_levers(tmp_path):
    """Round-12 levers: --skew-zipf produces a genuinely hot key
    whose identity is DECORRELATED from the parity moduli (permuted
    ranks), keeps every FK in domain, and leaves the schema exact;
    --text-garble plants the adversarial shapes while preserving
    n_chars consistency and NULL-text handling."""
    import numpy as np

    from tools.gen_fixture import _zipf_keys, gen

    rng = np.random.default_rng(0)
    keys = _zipf_keys(rng, 1000, 20000, 1.5)
    assert keys.min() >= 0 and keys.max() < 1000
    _, counts = np.unique(keys, return_counts=True)
    # zipf(1.5): the hottest key dominates
    assert counts.max() > 0.25 * len(keys)
    # permutation decorrelation: the hot key is not id 0 with
    # overwhelming probability over seeds (deterministic here)
    hot = np.bincount(keys, minlength=1000).argmax()
    rng2 = np.random.default_rng(1)
    hot2 = np.bincount(_zipf_keys(rng2, 1000, 20000, 1.5),
                       minlength=1000).argmax()
    assert hot != hot2  # seed-dependent identity, not rank 0

    out = tmp_path / "skewed"
    gen(0.001, str(out), seed=5, skew_zipf=1.5, text_garble=0.2)
    import pyarrow.parquet as pq2
    li = pq2.read_table(f"{out}/lineitem.parquet")
    no = pq2.read_table(f"{out}/orders.parquet").num_rows
    ok = li.column("l_orderkey").to_numpy()
    assert ok.min() >= 0 and ok.max() < no
    docs = pq2.read_table(f"{out}/documents.parquet").to_pydict()
    garbled = [t for t in docs["text"] if t is not None and
               (t == "" or "\x1f" in t or t.startswith("\x89PNG"))]
    assert garbled  # shapes actually planted
    for t, n in zip(docs["text"], docs["n_chars"]):
        assert (t is None and n is None) or (t is not None and n == len(t))


def test_stream_compare_detects_mismatches_and_orphan_lever(
        spark, tmp_path):
    """check_oracle --stream (round 13, VERDICT r12 #7): the multiset
    digest must agree on equal frames regardless of row order and
    dtype width, and must FAIL on a value flip, a row-count drift,
    and a column drift — a vacuously-green scale path would be worse
    than none. Plus: the --orphan-frac fixture lever plants real
    orphans and duplicate PKs."""
    import duckdb
    import pyarrow.parquet as pq_mod

    from tools.check_oracle import check_one_stream
    from tools.gen_fixture import gen

    con = duckdb.connect()
    d = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1, 1.5, "a"), (2, float("nan"), None), (3, -0.0, "c")],
        "k long, v double, s string").write.parquet(d)
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM read_parquet('{d}/*.parquet')")

    def q(spark_, sf_dir):
        # reversed order + int32 key: order/width must not matter
        from pyspark.sql import functions as F
        return (spark_.read.parquet(d)
                .select(F.col("k").cast("int").alias("k"), "v", "s")
                .orderBy(F.col("k").desc()))

    name, ok, lines = check_one_stream(
        "eq", q, "SELECT k, v, s FROM t", spark, "", con)
    assert ok, lines
    # value flip
    _, ok, lines = check_one_stream(
        "flip", q, "SELECT k, CASE WHEN k=3 THEN 0.25 ELSE v END AS v, "
        "s FROM t", spark, "", con)
    assert not ok and "digest mismatch" in lines[0]
    # row-count drift
    _, ok, lines = check_one_stream(
        "rows", q, "SELECT k, v, s FROM t WHERE k < 3", spark, "", con)
    assert not ok and "row count" in lines[0]
    # column drift
    _, ok, lines = check_one_stream(
        "cols", q, "SELECT k, v, s AS s2 FROM t", spark, "", con)
    assert not ok and "columns differ" in lines[0]

    out = tmp_path / "orphan"
    gen(0.001, str(out), seed=7, orphan_frac=0.2)
    li = pq_mod.read_table(str(out / "lineitem.parquet")).to_pandas()
    orders = pq_mod.read_table(str(out / "orders.parquet")).to_pandas()
    ok_keys = set(orders["o_orderkey"])
    assert (~li["l_orderkey"].isin(ok_keys)).sum() > 0          # orphans
    assert orders["o_orderkey"].duplicated().sum() > 0          # dup PKs
    emb = pq_mod.read_table(str(out / "embeddings.parquet")).to_pandas()
    docs = pq_mod.read_table(str(out / "documents.parquet")).to_pandas()
    assert (~emb["vec_id"].isin(set(docs["doc_id"]))).sum() > 0
    assert emb["vec_id"].is_unique                              # injective
