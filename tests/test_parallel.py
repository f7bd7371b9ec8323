"""Adaptive kernel fan-out (operators/parallel.py).

The helper must (1) widen an input that has fewer partitions than the
session's default parallelism to min(defaultParallelism, 8), (2) be a
NO-OP on an input that is already at least that wide — the at-scale
case, so production plans never gain an exchange — (3) pass streaming
inputs through, and (4) never change operator output (the winnow
Arrow kernel is the heaviest consumer — its fingerprint set must be
partitioning-invariant).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from blackroad_data_pipeline_spark.operators import apply_operator as op
from blackroad_data_pipeline_spark.operators.parallel import fan_out

SF = "/root/testdata/sf0.001"


def test_fan_out_widens_starved_input(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() == 1  # single-row-group fixture
    # default width: session parallelism, capped at the measured knee
    target = min(spark.sparkContext.defaultParallelism, 8)
    assert fan_out(docs).rdd.getNumPartitions() == target


def test_fan_out_noop_on_wide_input(spark):
    target = spark.sparkContext.defaultParallelism
    wide = spark.range(1000, numPartitions=target + 3)
    out = fan_out(wide)
    assert out is wide  # not just same width — the same plan object


def test_winnow_output_partitioning_invariant(spark):
    """The heaviest fan_out consumer must produce the identical
    fingerprint SET from the fanned 1-partition parquet input and from
    an already-wide input that fan_out leaves alone (winnowing is
    doc-local)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cfg = {"field": "text", "id_field": "doc_id", "k": 5, "window": 4}
    fanned = op("winnow", docs, cfg).collect()
    wide = docs.repartition(spark.sparkContext.defaultParallelism + 3)
    assert fan_out(wide) is wide
    plain = op("winnow", wide, cfg).collect()
    key = lambda r: (r["doc_id"], r["pos"], r["fp"])  # noqa: E731
    assert sorted(map(key, plain)) == sorted(map(key, fanned))
    assert len(plain) > 0


def test_fan_out_streaming_passthrough(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.write.mode("overwrite").parquet(str(tmp_path / "src"))
    stream = (spark.readStream.schema(docs.schema)
              .option("recursiveFileLookup", "true")
              .parquet(str(tmp_path / "src")))
    assert fan_out(stream) is stream


def test_fan_out_rows_survive(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n = docs.count()
    out = fan_out(docs.select("doc_id"))
    assert out.count() == n
    assert out.agg(F.countDistinct("doc_id")).first()[0] == n


def test_arrow_local_frame_exact_and_local(spark):
    """lit_frame's Arrow path must (1) build a LocalRelation — no
    pickled-RDD scan on consuming jobs — (2) preserve values EXACTLY
    on the safe type set (big int64s, NaN, NULLs, float32 arrays,
    binary), and (3) fall back (None) on unsafe schemas."""
    from blackroad_data_pipeline_spark.operators.parallel import (
        arrow_local_frame,
        lit_frame,
    )

    rows = [
        (2**63 - 1, "a", [1.5, 2.5], b"\x00\xff", float("nan"), True),
        (-(2**63), None, None, None, -0.0, None),
    ]
    schema = ("id long, t string, v array<float>, b binary, "
              "f double, ok boolean")
    df = arrow_local_frame(spark, rows, schema)
    assert df is not None
    assert "LocalRelation" in df._jdf.queryExecution().optimizedPlan().toString()
    ref = spark.sparkContext.parallelize(rows, 1)
    ref_df = spark.createDataFrame(ref, schema)
    assert df.schema == ref_df.schema
    got, want = df.collect(), ref_df.collect()
    import math

    for g, w in zip(got, want):
        for a, b in zip(g, w):
            if isinstance(a, float) and isinstance(b, float) \
                    and math.isnan(a):
                assert math.isnan(b)
            else:
                assert a == b
    # lit_frame routes through the same path for small lists
    lf = lit_frame(spark, rows, schema)
    assert "LocalRelation" in lf._jdf.queryExecution().optimizedPlan().toString()
    # timestamps are excluded (host-zone vs UTC naive-datetime
    # semantics differ between the RDD and Arrow paths)
    assert arrow_local_frame(spark, [(1,)], "ts timestamp") is None


def test_arrow_local_frame_wrong_arity_falls_back_and_raises(spark):
    """A row shorter or longer than the schema must not be NULL-filled
    or cut by the Arrow path: it falls back to the RDD path, which
    raises. The fixture's createDataFrame takes the same route and
    passes extra positional arguments through to Spark."""
    import pytest

    from blackroad_data_pipeline_spark.operators.parallel import (
        arrow_local_frame,
        lit_frame,
    )

    schema = "a long, b string"
    mismatch = "FIELD_STRUCT_LENGTH_MISMATCH"
    for rows in ([(1,), (2, "b")], [(1, "a", 3)]):
        assert arrow_local_frame(spark, rows, schema) is None
        with pytest.raises(Exception, match=mismatch):
            lit_frame(spark, rows, schema).collect()
        with pytest.raises(Exception, match=mismatch):
            spark.createDataFrame(rows, schema).collect()
    # positional samplingRatio/verifySchema reach Spark's own path
    df = spark.createDataFrame([(1, "a")], schema, None, False)
    assert df.collect()[0].asDict() == {"a": 1, "b": "a"}
    assert "LocalRelation" not in \
        df._jdf.queryExecution().optimizedPlan().toString()
