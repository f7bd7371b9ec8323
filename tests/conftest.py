from __future__ import annotations

import glob
import os

import pytest

from blackroad_data_pipeline_spark.session import get_spark


def _jdbc_driver_jar() -> str | None:
    """A DuckDB JDBC driver jar if one is cached locally — lets the
    jdbc source run against a REAL driver (in-memory DuckDB) instead
    of staying code-path-only. Purely opportunistic: absent jar just
    skips the test."""
    hits = glob.glob(os.path.expanduser(
        "~/.cache/coursier/**/duckdb_jdbc*.jar"), recursive=True)
    return hits[0] if hits else None


JDBC_JAR = _jdbc_driver_jar()


@pytest.fixture(scope="session")
def spark():
    # spark.default.parallelism=4: createDataFrame/parallelize frames
    # otherwise carry local[ncores] partitions (32 here), so every
    # tiny-fixture stage schedules 32 map tasks and a crossJoin
    # fallback becomes a 1024-task CartesianProduct — pure scheduling
    # overhead on <20-row test data. Measured (round 14): the
    # fuzzy_join brute-force property test's inner loop dropped 11x
    # (53 s -> 4.8 s for 3 examples); the full suite ~2.5x. Scale
    # semantics are untouched — operators derive widths from the live
    # session, and the sf0.1 bench/driver sessions keep their real
    # parallelism.
    extra = {"spark.sql.shuffle.partitions": "4",
             "spark.default.parallelism": "4"}
    if JDBC_JAR:
        extra["spark.jars"] = JDBC_JAR
    s = get_spark("tests", extra_conf=extra)
    # Route tiny literal fixtures through the Arrow LocalRelation path
    # (operators/parallel.py arrow_local_frame): the pickled-RDD frame
    # behind plain createDataFrame runs Python tasks on EVERY
    # consuming action. Those cost ~0.2 s each mostly because the
    # worker re-read pyspark.zip and the spark-core jar per task; the
    # session's daemon (_pydaemon) now skips that, and a 20-row
    # fixture's collect() measures 117 ms on the RDD path vs 3 ms
    # here (4 cores; 273 ms vs 6 ms before the daemon). The
    # conversion is value-exact for the safe type set and FALLS BACK
    # to the original path for everything else (timestamps, Decimals,
    # nested Rows, RDD/pandas inputs, extra arguments like
    # verifySchema), so test semantics are unchanged — only the
    # construction path is.
    from blackroad_data_pipeline_spark.operators.parallel import (
        arrow_local_frame,
    )

    orig_create = s.createDataFrame

    def fast_create(data, schema=None, *args, **kwargs):
        if not args and not kwargs and isinstance(data, list) and data:
            struct = schema
            if schema is None or (isinstance(schema, (list, tuple))
                                  and all(isinstance(n, str) for n in schema)):
                try:  # reuse Spark's own local-list inference
                    struct = s._inferSchemaFromList(
                        data, list(schema) if schema else None)
                except Exception:
                    struct = None
            if struct is not None:
                df = arrow_local_frame(s, data, struct)
                if df is not None:
                    return df
        return orig_create(data, schema, *args, **kwargs)

    s.createDataFrame = fast_create
    yield s
    s.createDataFrame = orig_create


@pytest.fixture()
def employees(spark):
    """The reference's canonical unit-test fixture — 3 rows, all
    strings (mirrors its CSV typing; reference test_data_pipeline.py:15-19)."""
    return spark.createDataFrame(
        [("Alice", "30", "eng"), ("Bob", "25", "eng"), ("Carol", "35", "pm")],
        ["name", "age", "dept"],
    )
