"""Adaptive kernel-input parallelism (round-13 optimization).

Arrow/pandas kernels and per-row-expensive projections inherit the
upstream partitioning. A scan of one unsplittable file — or of a few
files with single large row groups, which is exactly what the local
fixtures are — yields fewer tasks than the session has cores, so a
per-doc Python kernel runs nearly serially no matter how wide the
cluster is (the "input skew: one huge unsplittable file" case of the
optimization playbook §2.5; the fix there is "repartition immediately
after the read").

``fan_out(df)`` widens such inputs with ONE round-robin repartition
placed BEFORE the kernel: the exchange moves the raw input rows once
(cheap relative to the kernel by construction — fan_out is only
applied where the per-row work dominates), and the exchange doubles
as the projection barrier that keeps Catalyst from collapsing the
kernel into the scan stage. When the input already has at least as
many partitions as the width below — any real at-scale table — it is
a NO-OP: no extra exchange is ever added at 100 TB, so the
production plan shape is unchanged.

The width is ``min(defaultParallelism, 8)``. The cap of 8 is a
measured knee (sf0.1, min-of-N bench, 32 cores): standalone kernel
queries plateau by width 8 (winnow 4.87 s un-fanned -> 1.25 s at 8
-> 1.51 s at 32), while composed ingest chains whose band/signature
subtrees re-execute per day DEGRADE with width because every extra
task multiplies per-stage scheduling/Arrow overhead across dozens of
stages.

Only partition-INVARIANT kernels may be fanned out (every call site
is a per-row/per-doc deterministic function); order-sensitive kernels
(per-partition sketch candidate generation) must not use this helper.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

# see module docstring: measured plateau/degradation knee at sf0.1
_MAX_WIDTH = 8
# leaf stats at or above this are Spark's "unknown size" sentinel
# (defaultSizeInBytes = Long.Max) or join-estimate garbage — ignore
_UNKNOWN_SIZE_FLOOR = 1 << 60

_warned: set[str] = set()


def _warn_once(key: str, msg: str, *args) -> None:
    if key not in _warned:
        _warned.add(key)
        log.warning(msg, *args)


def overlap(*thunks):
    """Run INDEPENDENT driver-side thunks concurrently, one thread
    each, and return their results in argument order. Each thunk
    typically launches its own Spark jobs (two trainings, a write and
    a dedup over the same frozen batch), so the jobs share the
    executors instead of serializing (guide §2.6). All thunks finish
    before the first failure re-raises."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _leaf_scan_bytes(df: DataFrame) -> int:
    """Sum of the optimized plan's LEAF relation size statistics —
    real file bytes for file scans. Leaves without statistics (Spark
    reports Long.Max) are skipped; any failure reports 0, which callers
    read as "size unknown"."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            b = int(leaves.apply(i).stats().sizeInBytes().toString())
            if 0 < b < _UNKNOWN_SIZE_FLOOR:
                total += b
        return total
    except Exception:
        _warn_once("leaf_stats",
                   "leaf statistics unavailable for a plan; "
                   "treating its size as unknown")
        return 0


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` round-robin to ``min(defaultParallelism, 8)``
    iff it currently has fewer partitions — a no-op on any input that
    already carries enough tasks. Streaming inputs are returned
    unchanged (their micro-batch partitioning is owned by the
    source)."""
    if df.isStreaming:
        return df
    target = min(df.sparkSession.sparkContext.defaultParallelism,
                 _MAX_WIDTH)
    if target <= 1:
        return df
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        # plans the RDD conversion cannot express (should not happen
        # for batch inputs) — never let the widening break the query
        _warn_once("numparts",
                   "fan_out: partition count unavailable for a plan; "
                   "leaving the input unwidened")
        return df
    if n >= target:
        return df
    return df.repartition(target)


# Types the Arrow LocalRelation path converts with EXACTLY the same
# semantics as the pickled-RDD path (verified: big ints exact, NaN
# preserved, NULLs, float32 rounds-to-nearest identically). Timestamps
# are excluded — the RDD path interprets naive datetimes in the HOST
# zone while Arrow assumes UTC — as are Decimal/interval/UDT exotics.
_ARROW_SAFE_ATOMS = None  # populated lazily (pyspark.sql.types import)


def _arrow_safe_type(dt) -> bool:
    from pyspark.sql import types as T

    global _ARROW_SAFE_ATOMS
    if _ARROW_SAFE_ATOMS is None:
        _ARROW_SAFE_ATOMS = (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
            T.BinaryType, T.DateType)
    if isinstance(dt, T.ArrayType):
        return _arrow_safe_type(dt.elementType)
    if isinstance(dt, T.MapType):
        return _arrow_safe_type(dt.keyType) and _arrow_safe_type(dt.valueType)
    if isinstance(dt, T.StructType):
        return all(_arrow_safe_type(f.dataType) for f in dt.fields)
    return type(dt) in _ARROW_SAFE_ATOMS


def arrow_local_frame(spark: SparkSession, rows: list, schema):
    """Build ``rows`` as an Arrow-backed **LocalRelation** — or return
    ``None`` when the data/schema cannot be converted faithfully.

    A LocalRelation executes as ``LocalTableScan``: no pickled-RDD
    scan, no Python task on ANY consuming job, and Catalyst sees
    exact row counts/sizes (broadcast estimates stop being RDD
    guesses). Most of what a Python task used to cost was not the
    round trip but the worker re-reading pyspark.zip and the
    spark-core jar on every task, which the session's daemon
    (``_pydaemon``) now skips. Measured after that fix (4 cores, a
    20-row frame in 4 slices): ``collect()`` 117 ms on the RDD path
    vs 3 ms here (273 ms vs 6 ms before it); a groupBy over it
    176 ms vs 89 ms. The caller must treat ``None`` as "use the RDD
    path" — conversion is attempted optimistically and ANY mismatch
    (unsafe type, nested Row structs, rows whose arity differs from
    the schema) falls back."""
    from pyspark.sql import types as T

    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if isinstance(schema, str):
            struct = T._parse_datatype_string(schema)
        elif isinstance(schema, T.StructType):
            struct = schema
        else:
            return None
        if not isinstance(struct, T.StructType) or not _arrow_safe_type(struct):
            return None
        names = struct.fieldNames()
        pylist = []
        for r in rows:
            if isinstance(r, dict):
                pylist.append(r)
            elif isinstance(r, (tuple, list)):
                # a short or long row would be NULL-filled or cut by
                # zip; the RDD path raises on it instead
                if len(r) != len(names):
                    return None
                # Row is a tuple subclass; nested Rows (struct cells
                # as tuples) make pa raise -> fallback
                pylist.append(dict(zip(names, r)))
            else:
                return None
        tbl = pa.Table.from_pylist(pylist, schema=to_arrow_schema(struct))
        return spark.createDataFrame(tbl, schema=struct)
    except Exception:
        return None


def lit_frame(spark: SparkSession, data, schema):
    """DataFrame over driver-held literal rows (model tables, probe
    rows, group-scalar rebuilds) with partitioning SIZED TO THE DATA.

    Plain ``createDataFrame(list)`` parallelizes any local list to
    ``defaultParallelism`` pickled-RDD slices, so a 4-row model frame
    scans as 32 Python-eval tasks on EVERY consuming job — measured
    0.32 s/job vs 0.16 s at one slice on 32 cores, and an EMPTY frame
    pays the same 0.3 s for zero rows. Model/probe frames are consumed
    by several jobs per query (drift gate, assignment scans, serve
    probes), so the tax multiplies.

    Round 14: model-sized frames (< 50k rows) additionally go through
    the Arrow **LocalRelation** path (``arrow_local_frame``) — zero
    Python-eval tasks per consuming job instead of one. Bigger driver
    rebuilds (the connected-components fast path) stay on pickled-RDD
    slices (one per 50k rows): a LocalRelation embeds every row in the
    plan, which is exactly wrong for bulk data."""
    rows = data if isinstance(data, list) else list(data)
    if len(rows) < 50_000:
        df = arrow_local_frame(spark, rows, schema)
        if df is not None:
            return df
    slices = max(1, -(-len(rows) // 50_000))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema)

