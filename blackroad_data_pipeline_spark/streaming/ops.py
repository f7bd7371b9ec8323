"""Streaming operators (absent from the reference — SURVEY.md §2.5).

Structured-Streaming-first: every operator here works identically on a
batch DataFrame and a ``readStream`` DataFrame (the Spark unified
model), so pipelines can switch a source to streaming without
rewriting transforms. Watermarks bound state for late data; windowed
aggregations use the built-in incremental state store.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.parallel import overlap
from ..operators.registry import register
from ..operators.relational import exact_sum

# Guards the set-conf -> start -> restore-conf window in
# run_stream_to_memory: harness threads share ONE SparkSession, so an
# unserialized window lets a concurrent query capture the temporary
# shuffle-partition value into its own SQLConf — or read it back as
# `prev` and pin the session at the temporary value (ADVICE r8).
_CONF_LOCK = threading.Lock()


def _windowed_aggs(config: Mapping, ts: str) -> list:
    aggs = []
    for spec in config.get("aggregates", [{"field": ts, "function": "count"}]):
        fn = spec.get("function", "count")
        field = spec["field"]
        alias = spec.get("alias", f"{field}_{fn}")
        col = F.col(field)
        if fn == "count":
            aggs.append(F.count(F.lit(1)).alias(alias))
        elif fn == "sum":
            aggs.append(exact_sum(col).alias(alias))
        elif fn in ("avg", "min", "max"):
            aggs.append(getattr(F, fn)(col.cast("double")).alias(alias))
        else:
            raise ValueError(f"unknown windowed aggregate: {fn!r}")
    return aggs


def _select_window(out: DataFrame, keys: list, window_col: str = "window") -> DataFrame:
    return out.select(
        F.col(f"{window_col}.start").alias("window_start"),
        F.col(f"{window_col}.end").alias("window_end"),
        *keys,
        *[c for c in out.columns if c not in (window_col, "session_window", *keys)],
    )


@register("windowed_agg")
def op_windowed_agg(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Tumbling/sliding event-time window aggregation.

    Batch and streaming share this plan; on a stream, ``watermark``
    (e.g. "10 minutes") bounds state and admits late rows up to the
    delay. Output: window_start, window_end, group keys, aggregates.
    """
    ts = config.get("ts_field", "ts")
    size = config.get("window", "1 hour")
    slide = config.get("slide")  # None -> tumbling
    keys = list(config.get("group_by", []))
    if df.isStreaming and config.get("watermark"):
        df = df.withWatermark(ts, config["watermark"])
    win = F.window(ts, size, slide) if slide else F.window(ts, size)
    out = df.groupBy(win, *keys).agg(*_windowed_aggs(config, ts))
    return _select_window(out, keys)


@register("session_windowed_agg")
def op_session_windowed_agg(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Gap-based session-window aggregation (``F.session_window``) —
    the streaming-native sessionization. One row per (key, session);
    windows merge as events arrive, watermark evicts closed sessions.
    ``sessionize`` (batch lag+cumsum) is the per-event-id variant this
    state operator can't express; both share the same gap semantics.
    """
    ts = config.get("ts_field", "ts")
    gap = config.get("gap", "30 minutes")
    keys = list(config.get("group_by", []))
    if df.isStreaming and config.get("watermark"):
        df = df.withWatermark(ts, config["watermark"])
    out = df.groupBy(F.session_window(ts, gap), *keys).agg(*_windowed_aggs(config, ts))
    return _select_window(out, keys, window_col="session_window")


@register("sessionize")
def op_sessionize(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Assign session ids per key: a new session starts when the gap
    since the previous event exceeds ``gap`` seconds.

    Batch implementation is the classic lag+cumsum window; on streams
    use ``session_window`` (see op_windowed_agg) — kept separate
    because the batch shape yields per-event session ids, which the
    streaming state operator cannot.
    """
    from pyspark.sql import Window

    ts = config.get("ts_field", "ts")
    key = config["key"]
    gap_s = int(config.get("gap_seconds", 1800))
    # NULL-ts events have no timeline position: excluded, like every
    # temporal operator (operators/temporal.py _drop_null_ts — NULLS
    # FIRST ordering would otherwise seed a phantom session)
    df = df.filter(F.col(ts).isNotNull())
    # a total order (tiebreak after ts) keeps session assignment
    # deterministic when timestamps collide
    order_cols = [ts, *config.get("tiebreak", [])]
    w = Window.partitionBy(key).orderBy(*order_cols)
    from ..operators.temporal import epoch_seconds
    gap = epoch_seconds(F.col(ts)) - F.lag(epoch_seconds(F.col(ts))).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_s), 1).otherwise(0)
    return (
        df.withColumn("__new", is_new)
        .withColumn("session_seq", F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("session_id",
                    F.concat_ws("#", F.col(key).cast("string"), F.col("session_seq")))
        .drop("__new")
    )


@register("stateful_dedup")
def op_stateful_dedup(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Streaming-safe exact dedup with explicit per-key state
    (``applyInPandasWithState``): the first row per key is emitted,
    every later one is dropped — across micro-batches, unbounded
    input. A TTL bounds state so a 100 TB/day stream doesn't
    accumulate keys forever — the accepted trade-off of every
    at-scale streaming dedup (a key recurring after the TTL is
    re-emitted). Two TTL clocks:

    - ``ttl_mode: "event_time"`` (the scale-correct default when a
      TTL is wanted): state evicts once the stream's WATERMARK passes
      the key's last-seen event time + ``ttl_ms``. Driven by data
      time, so a backfill replays identically, and the query drains
      under processAllAvailable (no empty-batch scheduling). Requires
      ``ts_field`` + ``watermark``.
    - ``ttl_mode: "processing"`` (default for bare ``ttl_ms``,
      backwards-compatible): wall-clock eviction. Note: Spark then
      schedules continuous (possibly empty) micro-batches to evaluate
      the timers — correct for a long-lived production stream, but a
      finite test/backfill stream should use event_time (or no TTL)
      so the query drains and stops.

    On a batch DataFrame this falls back to ``dropDuplicates`` (the
    same semantics without the state machinery).
    """
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keys = list(config["keys"])
    if not df.isStreaming:
        return df.dropDuplicates(keys)

    if config.get("impl") == "native":
        # JVM-native bounded-state path (dropDuplicatesWithinWatermark):
        # no Python state worker, state expires at the EVENT-TIME
        # watermark instead of a processing-time TTL. Needs an
        # event-time column + watermark; semantics differ from the
        # default path only for keys recurring after expiry (watermark
        # vs TTL horizon) — the same accepted trade, bounded by data
        # time rather than wall-clock.
        ts = config.get("ts_field", "ts")
        wm = config.get("watermark", "10 minutes")
        return df.withWatermark(ts, wm).dropDuplicatesWithinWatermark(keys)

    ttl_ms = config.get("ttl_ms")
    ttl_mode = config.get("ttl_mode", "processing")
    if ttl_mode not in ("processing", "event_time"):
        raise ValueError(
            f"stateful_dedup ttl_mode must be processing|event_time, "
            f"got {ttl_mode!r}")
    if ttl_ms is None and "ttl_mode" in config:
        # an explicit mode with no ttl_ms would silently run unbounded
        # — the opposite of what the caller asked for
        raise ValueError(
            "stateful_dedup: ttl_mode is set but ttl_ms is missing")
    out_schema = df.schema

    if ttl_ms is not None and ttl_mode == "event_time":
        ts = config.get("ts_field", "ts")
        wm = config.get("watermark")
        if wm is None:
            raise ValueError(
                "stateful_dedup ttl_mode='event_time' requires "
                "'watermark' (eviction is watermark-driven)")
        df = df.withWatermark(ts, wm)
        state_schema = T.StructType([
            T.StructField("seen", T.BooleanType()),
            T.StructField("last_ms", T.LongType())])

        def emit_first_event_time(key, pdfs, state: GroupState):
            import pandas as pd

            if state.hasTimedOut:
                # only reached when the group had NO rows this batch
                # and the watermark passed last_ms + ttl
                state.remove()
                return
            emitted = state.exists
            last_ms = state.get[1] if emitted else -(1 << 62)
            if emitted and (state.getCurrentWatermarkMs()
                            > last_ms + int(ttl_ms)):
                # the timer only FIRES on a batch where the key has no
                # rows — a key whose first post-expiry appearance
                # carries data must still be treated as evicted, or
                # re-emission would depend on batch scheduling
                # (round-9 review finding)
                emitted = False
                last_ms = -(1 << 62)
            first = None
            for pdf in pdfs:
                if len(pdf):
                    m = int(pd.Timestamp(pdf[ts].max()).value // 1_000_000)
                    if m > last_ms:
                        last_ms = m
                    if first is None and not emitted:
                        emitted = True
                        first = pdf.iloc[:1]
            # GroupState cancels the pending timer on EVERY invocation
            # (same trap as ProcessingTimeTimeout) — re-arm each time,
            # clamped above the current watermark (Spark rejects a
            # timestamp the watermark has already passed)
            state.update((True, last_ms))
            state.setTimeoutTimestamp(
                max(last_ms + int(ttl_ms),
                    state.getCurrentWatermarkMs() + 1))
            if first is not None:
                yield first

        return df.groupBy(*keys).applyInPandasWithState(
            emit_first_event_time, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )

    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def emit_first(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        emitted = state.exists
        # GroupState cancels the pending timeout on EVERY invocation;
        # it must be re-armed each time the group is seen, or a key
        # that receives a duplicate would keep its state forever
        if emitted and ttl_ms is not None:
            state.setTimeoutDuration(int(ttl_ms))
        for pdf in pdfs:
            if not emitted and len(pdf):
                emitted = True
                state.update((True,))
                if ttl_ms is not None:
                    state.setTimeoutDuration(int(ttl_ms))
                yield pdf.iloc[:1]

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl_ms is not None
               else GroupStateTimeout.NoTimeout)
    return df.groupBy(*keys).applyInPandasWithState(
        emit_first, out_schema, state_schema, "append", timeout,
    )


def read_events_stream(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """File-based streaming source over a parquet directory — the
    local stand-in for Kafka; swap ``format`` for production. A path
    to a single file streams its parent directory with a glob filter
    (the file source only accepts directories)."""
    import os

    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.format("parquet").schema(schema).option(
        "maxFilesPerTrigger", 1)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.load(path)


def run_stream_to_memory(df: DataFrame, name: str,
                         output_mode: str = "complete",
                         shuffle_partitions: int | None = None):
    """Drive a streaming query to completion over available input
    (test/bench harness): memory sink + processAllAvailable.

    ``shuffle_partitions`` sizes the STATEFUL operator's partitioning
    for this query only (the value is captured into the stream's own
    SQLConf at start; the session conf is restored immediately).
    Stateful streaming cost scales with state-store COUNT, not state
    size: a stream-stream join materializes 4 HDFS-backed store
    instances per shuffle partition (left/right × keyToNumValues/
    keyWithIndexToValue), so the local[32] default of 32 partitions
    spends the micro-batch creating+committing 128 stores for
    kilobytes of state. Size it to throughput: fixture-scale contract
    entries pass a small value; a production job at real event rates
    wants the default (or higher). NOTE: for a checkpointed
    production stream this is fixed at FIRST start — the state is
    physically laid out by partition — so pick for peak, not current,
    throughput there."""
    spark = df.sparkSession
    # EVERY start() snapshots the session conf into the query's own
    # SQLConf, so even the no-override branch must serialize with the
    # set->start->restore window — otherwise it can capture another
    # thread's temporary value (round-9 review finding). Queries never
    # hold the lock while running; start() is async.
    with _CONF_LOCK:
        prev = None
        if shuffle_partitions is not None:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions",
                           str(shuffle_partitions))
        try:
            q = (df.writeStream.outputMode(output_mode)
                 .format("memory").queryName(name).start())
        finally:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
    q.processAllAvailable()
    q.stop()
    return q


def _read_existing(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet dataset at ``path``, or None while nothing has been
    written there yet (a store writer's first drain). ONLY a missing
    path is swallowed — a schema mismatch / corrupt footer / bad
    config must surface, or the writer silently skips its history and
    re-ingests duplicates.

    The schema is the one `_footer_schema` reads on the driver — what
    Spark's own inference would read, without the one-task Spark job
    it runs for that on every drain. So the frame's columns and types
    are exactly the ones on disk: a missing or retyped column fails
    the plan that names it, as an inferred read does."""
    from pyspark.errors import AnalysisException

    schema = _footer_schema(path)
    try:
        return (spark.read if schema is None
                else spark.read.schema(schema)).parquet(path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", lambda: None)()
        if cond != "PATH_NOT_FOUND" and "PATH_NOT_FOUND" not in str(e):
            raise
        return None


def _footer_schema(path: str):
    """The data schema Spark recorded in the footer of one data file of
    the local parquet dataset at ``path`` — the schema Spark infers for
    it (without ``mergeSchema``, it reads one data file's footer, and a
    Spark-written footer carries the schema as written); partition
    columns still come from the directory names. None, so Spark infers
    it as before, when ``path`` is not a local directory, holds a
    parquet summary file, no data file, or a footer without that
    record."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    root = path[len("file:"):] if path.startswith("file:") else path
    if not os.path.isdir(root):
        return None

    def hidden(name: str) -> bool:  # Spark's listing rule
        return ((name.startswith("_") and "=" not in name)
                or name.startswith(".") or name.endswith("._COPYING_"))

    if any(n in ("_metadata", "_common_metadata") for n in os.listdir(root)):
        return None
    for parent, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not hidden(d))
        for name in sorted(f for f in files if not hidden(f)):
            meta = pq.read_metadata(os.path.join(parent, name)).metadata
            text = (meta or {}).get(
                b"org.apache.spark.sql.parquet.row.metadata")
            try:
                return StructType.fromJson(json.loads(text))
            except (TypeError, ValueError, KeyError):
                return None
    return None


def _drain(df: DataFrame, each_batch, checkpoint: str):
    """Run ``each_batch(batch, batch_id)`` over every micro-batch that
    is available now, then stop (foreachBatch + ``availableNow``).
    foreachBatch is at-least-once: a batch whose drain failed before
    its checkpoint commit replays with the same id and input, so
    ``each_batch`` must converge on replay."""
    q = (df.writeStream.foreachBatch(each_batch)
         .option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def run_stream_incremental(df: DataFrame, path: str, checkpoint: str,
                           output_mode: str = "append",
                           partition_by: list | None = None):
    """Incremental-batch ingestion: drain WHATEVER is currently
    available from the stream into a parquet dataset, then stop —
    the ``availableNow`` trigger. The checkpoint directory records
    which source files/offsets were already processed, so re-running
    the same call later processes ONLY new input (exactly-once file
    sink semantics via the streaming commit log). This is the
    production shape for "catch up on new data every N hours" at
    100 TB: no reprocessing, no manual bookkeeping, restart-safe.
    """
    writer = (df.writeStream.outputMode(output_mode)
              .format("parquet")
              .option("path", path)
              .option("checkpointLocation", checkpoint)
              .trigger(availableNow=True))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    q = writer.start()
    q.awaitTermination()
    return q


@register("stream_join")
def op_stream_join(df: DataFrame, config: Mapping, views) -> DataFrame:
    """Event-time interval join — the stream-stream join shape
    (clicks ⋈ impressions within N seconds). Equality on ``by`` plus a
    bounded time condition ``right_ts ∈ [left_ts - before, left_ts +
    after]``; on streams BOTH sides carry watermarks and the time bound
    lets Spark expire join state (an unbounded-time stream-stream join
    would hold every row forever). Works identically on batch frames —
    there the time bound is just a join predicate Catalyst folds into
    the equi-join.

    Config: ``right`` (view name or DataFrame), ``by`` (key columns),
    ``left_ts``/``right_ts`` (default "ts"), ``before``/``after``
    (seconds, default 0/3600), ``watermark``/``right_watermark``
    (e.g. "10 minutes"; applied only to streaming inputs), ``prefix``
    for right columns (default "r\\_"), ``how`` (inner default; left
    outer emits NULL-padded lefts once state expires).

    At 100 TB of events: one shuffle per side on the ``by`` keys; the
    state store keeps only rows inside the watermark+interval horizon,
    so state is bounded by rate × window, not history.
    """
    right_df = config["right"]
    if isinstance(right_df, str):
        right_df = views[right_df]
    by = list(config.get("by", []))
    lts = config.get("left_ts", "ts")
    rts = config.get("right_ts", lts)
    before = int(config.get("before", 0))
    after = int(config.get("after", 3600))
    prefix = config.get("prefix", "r_")
    how = config.get("how", "inner")

    if df.isStreaming and config.get("watermark"):
        df = df.withWatermark(lts, config["watermark"])
    if right_df.isStreaming:
        wm = config.get("right_watermark", config.get("watermark"))
        if wm:
            right_df = right_df.withWatermark(rts, wm)

    right_sel = right_df.select(
        *[F.col(c).alias(f"{prefix}{c}") for c in right_df.columns])
    conds = [df[k] == right_sel[f"{prefix}{k}"] for k in by]
    rt, lt = F.col(f"{prefix}{rts}"), F.col(lts)
    conds.append(rt >= lt - F.expr(f"INTERVAL {before} SECONDS"))
    conds.append(rt <= lt + F.expr(f"INTERVAL {after} SECONDS"))
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return df.join(right_sel, cond, how)


def run_stream_ingest_dedup(df: DataFrame, path: str, checkpoint: str,
                            fingerprint_path: str, field: str = "text",
                            id_field: str = "doc_id"):
    """Incremental corpus ingestion with CROSS-RESTART content dedup —
    the production crawl-intake shape at 100 TB: each availableNow
    drain dedups the new micro-batch within itself (keep min id per
    ``content_key``, the dedup_exact key), drops
    everything whose fingerprint already exists in a persistent
    NARROW fingerprint store (fp + ingest batch id — never re-reads
    old text), then appends the survivors and their fingerprints.

    Replay safety (foreachBatch is at-least-once): survivors write
    with dynamic partition overwrite into an ``__ingest_batch``
    partition, so a replayed batch rewrites its own partition instead
    of duplicating rows; the store anti-join EXCLUDES the current
    batch id, so a replay that already appended its fingerprints
    still recomputes the same survivor set, and appends only the
    fingerprints its failed attempt did not. Net effect: exactly-once
    corpus and fingerprint-store contents without a transactional
    table format.
    """
    from ..llmops.dedup import content_key

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        fped = batch.withColumn("__fp", content_key(F.col(field)))
        keep = (fped.groupBy("__fp").agg(F.min(id_field).alias(id_field))
                .drop("__fp"))
        fped = fped.join(keep, id_field, "left_semi")
        store = _read_existing(batch.sparkSession, fingerprint_path)
        if store is not None:
            older = (store.filter(F.col("ingest_batch") != F.lit(batch_id))
                     .select("fp"))
            fped = fped.join(
                older, fped["__fp"] == older["fp"], "left_anti")
        survivors = fped.localCheckpoint(eager=True)  # compute ONCE
        fps = survivors.select(F.col("__fp").alias("fp"),
                               F.lit(batch_id).alias("ingest_batch"))
        if store is not None:
            # a replay appends only what its failed attempt did not
            fps = fps.join(
                store.filter(F.col("ingest_batch") == F.lit(batch_id))
                .select("fp"), "fp", "left_anti")
        fps.write.mode("append").parquet(fingerprint_path)
        (survivors.drop("__fp")
         .withColumn("__ingest_batch", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__ingest_batch").parquet(path))

    return _drain(df, _ingest, checkpoint)


def run_stream_scd2(df: DataFrame, path: str, checkpoint: str,
                    keys: list, attrs: list, ts_field: str = "ts",
                    n_buckets: int = 16):
    """Streaming Type-2 SCD maintenance — the CDC-intake shape: each
    availableNow drain merges the micro-batch's observations into the
    persisted version store via op_scd2's incremental mode (only
    touched keys are rebuilt, streaming/batch share ONE merge
    implementation and its tested merge-associativity law).

    The store partitions by a hash bucket of the business key with
    dynamic partition overwrite, so a batch touching k keys rewrites
    at most min(k, n_buckets) partitions, never the full dimension —
    the property that keeps a 100 TB dimension maintainable. Replay
    safety: re-merging an already-applied batch is a no-op (identical
    (key, ts, state) observations collapse in the change-point
    compress), so checkpoint-replayed batches converge to the same
    store.
    """
    from ..operators.temporal import op_scd2

    def _merge(batch: DataFrame, batch_id: int) -> None:
        cfg = {"keys": keys, "attrs": attrs, "ts_field": ts_field}
        history = _read_existing(batch.sparkSession, path)
        if history is not None:
            cfg["history"] = history.drop("__bucket")
        merged = op_scd2(batch, cfg, views=None)
        bucket = F.pmod(F.hash(*[F.col(k) for k in keys]),
                        F.lit(n_buckets))
        out = merged.withColumn("__bucket", bucket)
        if "history" in cfg:
            # merge touches only keys in this batch; rows for other
            # buckets are untouched history rows that the dynamic
            # overwrite below would rewrite byte-identically, so prune
            # the output to the touched buckets before writing
            touched = (batch.select(*keys).dropDuplicates(list(keys))
                       .withColumn("__b", bucket)
                       .select("__b").dropDuplicates())
            out = out.join(
                touched, out["__bucket"] == touched["__b"], "left_semi")
        (out.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__bucket").parquet(path))

    return _drain(df, _merge, checkpoint)


def run_stream_vector_ingest(df: DataFrame, path: str, checkpoint: str,
                             model_path: str, field: str = "embedding",
                             id_field: str = "vec_id",
                             threshold: float = 0.9, dim: int = 64,
                             m: int = 8, ks: int = 16, n_cells: int = 4,
                             n_planes: int = 12, n_tables: int = 2,
                             bits: int = 8, bounds=(-1.0, 1.0),
                             seed: int = 42,
                             min_train: int | None = None):
    """Streaming vector-corpus ingestion — the production RAG/vector-
    store intake shape, composing the round-10 train/serve split with
    the incremental-dedup family. Each availableNow drain:

    1. applies the valid_vec contract (NaN/Inf/empty/NULL-component
       vectors never enter the store — `vector_health` is the audit
       of what this drops),
    2. near-dedups the micro-batch within itself (greedy
       dedup_embedding) and against the PERSISTED history in one plan
       (dedup_embedding with ``history``: one candidate-and-verify
       pass) — history consumed as int8 codes dequantized on the fly
       (4x narrower I/O; the bucketed join never re-reads raw fp32
       history),
    3. bootstraps the PQ codebooks and IVF coarse quantizer from the
       FIRST batch and persists them (`model_path`/books, /cells);
       every later batch serves the FROZEN models, so pq codes and
       ivf_cell ids stay joinable across days — the property that
       makes the store servable at all (op_ann_pq ``books``/``codes``
       answers probes from it with zero training jobs),
    4. appends survivors as narrow serving rows — ``vec_id``, int8
       ``q_emb``, 8-byte ``pq_code``, ``ivf_cell`` — into an
       ``__ingest_batch`` partition with dynamic overwrite, so a
       checkpoint-replayed batch rewrites its own partition instead
       of duplicating rows (the run_stream_ingest_dedup replay
       contract; the history anti-join excludes the current batch id
       for the same reason).

    Quantization bounds are CALLER-FIXED (default [-1, 1] for unit
    vectors), never per-batch min/max — a drifting codebook would
    make day-1 and day-2 codes incomparable.

    After the bootstrap a drain is one plan, run once by the store
    write: the encode steps are projections over models collected to
    the driver once per model identity (`_model_np`), so nothing is
    materialized. The books, cells and store are read with the schema
    their parquet footers record (`_read_existing`), read on the
    driver instead of by a Spark inference job per table, and each is
    exactly what is on disk: a store without ``q_emb`` or of another
    element type, or books without ``codeword``, fails the drain
    before it writes, where a declared schema would read NULLs that
    the validity filter drops — a silently skipped history.

    Bootstrap is GUARDED: if the first drain has fewer than
    ``min_train`` valid deduped vectors (default max(ks, n_cells)),
    the drain raises instead of freezing degenerate models — an empty
    books table would NULL-code every later batch forever. The failed
    drain is uncommitted, so re-running after more data queues replays
    it losslessly.
    """
    from ..operators import apply_operator as op
    from ..llmops.similarity import (
        _double_sql,
        _sql_alias,
        _sql_name,
        valid_vec,
    )

    lo, hi = float(bounds[0]), float(bounds[1])
    if min_train is None:
        # every sub-codebook draws its ks seeds from the SAME rows, so
        # ks distinct vectors train all m subspaces; the coarse
        # quantizer needs n_cells
        min_train = max(ks, n_cells)
    dd_cfg = {"threshold": threshold, "dim": dim, "n_planes": n_planes,
              "n_tables": n_tables, "seed": seed,
              "field": field, "id_field": id_field}
    pq_cfg = {"dim": dim, "m": m, "ks": ks, "field": field,
              "id_field": id_field, "seed_order": "id"}

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        from ..store import (
            is_managed,
            store_current_version,
            store_resolve,
            version_number,
        )

        # Managed-root indirection (store.py): if ``path`` is a store
        # root with a manifest, resolve the CURRENT version dir at
        # EVERY drain — after vector_store_maintain_managed swaps the
        # pointer, the next drain (and any checkpoint replay of it)
        # reads history from and appends into the NEW version, so the
        # compacted copy is what replay collides against, never the
        # retired one.
        path_ = store_resolve(path) if is_managed(path) else path

        # Managed MODEL root: when ``model_path`` carries a manifest
        # (caller ran store_init on it), each drain resolves the
        # CURRENT model version — a model_refresh swap between drains
        # is picked up atomically — and every appended row is tagged
        # ``model_version``, so codes from different model versions
        # stay distinguishable and the store serves directly through
        # op_ann_pq_versioned. Unmanaged model_path keeps the
        # round-10 frozen-model layout and schema unchanged.
        managed_model = is_managed(model_path)
        if managed_model:
            model_ver = version_number(store_current_version(model_path))
            model_dir = store_resolve(model_path)
        else:
            model_ver, model_dir = None, model_path

        batch = batch.filter(valid_vec(field))

        def _read(sub):
            return _read_existing(spark, f"{model_dir}/{sub}")

        books = _read("books")
        cells = _read("cells")
        bootstrap = books is None or cells is None
        if bootstrap:
            # the models train on the within-batch survivors, which
            # the bootstrap consumes up to four times (guard count, two
            # trainings, the encode or history dedup below) —
            # materialize them once instead of re-running the LSH
            # dedup subtree per consumer (the iterative-loop
            # discipline; round 14)
            batch = op("dedup_embedding", batch, dd_cfg).localCheckpoint(
                eager=True)
            # Bootstrap GUARD: freezing books/cells from an empty or
            # near-empty first drain persists degenerate models, after
            # which pq_encode's empty-books path NULL-codes every later
            # batch forever — a silently unservable store. Raise (the
            # drain fails UNCOMMITTED, so nothing is lost; re-run the
            # ingest once enough bootstrap data is queued, or lower
            # ``min_train``).
            n_valid = batch.count()
            if n_valid < min_train:
                raise ValueError(
                    f"vector-ingest bootstrap: first batch has "
                    f"{n_valid} valid deduped vectors, below the "
                    f"training minimum {min_train} (default "
                    f"max(ks, n_cells) seeds); refusing to freeze "
                    f"PQ/IVF models on it")
            # bootstrap: train on the first batch, persist, re-read
            # (the parquet round-trip IS the serving contract — same
            # books in, same codes out, pytest-pinned in batch mode).
            # The two trainings are INDEPENDENT jobs over the frozen
            # batch — overlap them (guide §2.6, the model_refresh
            # pattern); each training is self-contained and exact
            # integer Lloyd sums are reduction-order independent.
            def _train_books():
                op("pq_encode", batch, {**pq_cfg, "emit": "books"}) \
                    .write.mode("overwrite").parquet(f"{model_dir}/books")

            def _train_cells():
                op("ivf_assign", batch,
                   {**pq_cfg, "n_cells": n_cells, "emit": "cells"}) \
                    .write.mode("overwrite").parquet(f"{model_dir}/cells")

            overlap(_train_books, _train_cells)
            books, cells = _read("books"), _read("cells")

        hist = None
        store = _read_existing(spark, path_)
        if store is not None:
            # array_repeat folds to the same literal bounds array as a
            # dim-wide array of literals
            hist = store.filter(
                f"__ingest_batch != {int(batch_id)}").selectExpr(
                _sql_name(id_field), f"q_emb AS {_sql_alias(field)}",
                f"array_repeat({_double_sql(lo)}, {dim}) AS q_lo",
                f"array_repeat({_double_sql(hi)}, {dim}) AS q_hi")
            hist = op("dequantize_embedding", hist,
                      {"bits": bits, "field": field})
        if bootstrap and hist is None:
            kept = batch  # deduped and materialized above
        else:
            # ONE plan does the within-batch and the against-history
            # dedup (re-running the within-batch step over bootstrap
            # survivors drops nothing). The write below is its only
            # consumer: the encode steps are projections over models
            # already collected to the driver, so nothing is
            # materialized here.
            kept = op("dedup_embedding", batch, {**dd_cfg, "history": hist})
        q = op("quantize_embedding", kept,
               {"dim": dim, "bits": bits, "bounds": [lo, hi],
                "field": field, "as": "q_emb"})
        coded = op("pq_encode", q, {**pq_cfg, "books": books})
        celled = op("ivf_assign", coded,
                    {**pq_cfg, "n_cells": n_cells, "cells": cells})
        cols = [_sql_name(id_field), "q_emb", "pq_code", "ivf_cell"]
        if managed_model:
            # codes from different model versions are not joinable;
            # the tag is what lets op_ann_pq_versioned serve the
            # mixed store after a model_refresh swap
            cols.append(f"CAST({int(model_ver)} AS INT) AS model_version")
        (celled.selectExpr(*cols, f"{int(batch_id)} AS __ingest_batch")
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__ingest_batch").parquet(path_))

    return _drain(df, _ingest, checkpoint)


def vector_store_maintain(spark: SparkSession, src_path: str,
                          dst_path: str, *, hot_batches: int = 1,
                          drop_below: int | None = None,
                          fold: bool = True,
                          target_file_mb: int = 512,
                          batch_col: str = "__ingest_batch") -> dict:
    """Vector-store lifecycle maintenance — compaction + retention for
    the ``run_stream_vector_ingest`` store layout (one ``batch_col``
    partition per availableNow drain; at production drain cadence that
    is the classic small-files death at 100 TB: listing + scan
    planning choke on file COUNT long before the bytes matter).

    Three content-preserving moves, composed:

    - **retention**: partitions with ``batch_col < drop_below`` are
      dropped entirely (aged batches past the serving horizon).
    - **fold**: surviving COLD partitions (all but the newest
      ``hot_batches``) are rewritten into ONE partition keyed by the
      smallest cold batch id, sized from actual on-disk bytes
      (``target_file_mb`` per output file — the compact_parquet
      sizing rule). Row content other than ``batch_col`` is copied
      bit-for-bit; ``batch_col`` is maintenance metadata (serving
      reads never consult it).
    - **hot stays replayable**: the newest ``hot_batches`` partitions
      are copied unchanged. Only the LATEST drain can ever be
      replayed from the streaming checkpoint (committed epochs never
      re-fire), so folding strictly-older batches cannot collide with
      a dynamic-overwrite replay — the replay-safety pytest drives
      this against a real checkpoint.

    Writes to a NEW path (``dst_path``) like compact_parquet: the
    dataset swap is the caller's atomic step; an in-place rewrite
    cannot be made atomic on a plain filesystem.

    Returns stats: files/bytes/batches before and after, rows_dropped.
    """
    from ..sinks import data_file_stats

    df = spark.read.parquet(src_path)
    if batch_col not in df.columns:
        raise ValueError(f"store at {src_path} has no {batch_col!r} "
                         f"partition column")

    ids = sorted(r[0] for r in df.select(batch_col).distinct().collect())
    if not ids:
        raise ValueError(f"store at {src_path} is empty")
    dropped = [i for i in ids if drop_below is not None and i < drop_below]
    kept = [i for i in ids if i not in dropped]
    hot = kept[len(kept) - hot_batches:] if hot_batches > 0 else []
    cold = [i for i in kept if i not in hot]

    files_before, bytes_before = data_file_stats(spark, src_path)
    rows_dropped = (df.filter(F.col(batch_col).isin(dropped)).count()
                    if dropped else 0)

    wrote = False
    if cold:
        cold_bytes = 0
        for i in cold:
            try:
                _, b = data_file_stats(spark,
                                       f"{src_path}/{batch_col}={i}")
                cold_bytes += b
            except Exception:
                pass  # non-hive layout: fall back to one file
        n_files = max(1, -(-cold_bytes // (target_file_mb * 1024 * 1024)))
        cold_df = df.filter(F.col(batch_col).isin(cold))
        if fold:
            cold_df = cold_df.withColumn(batch_col,
                                         F.lit(min(cold)).cast("long"))
        (cold_df.repartition(int(n_files))
         .write.mode("error").partitionBy(batch_col).parquet(dst_path))
        wrote = True
    if hot:
        (df.filter(F.col(batch_col).isin(hot))
         .write.mode("append" if wrote else "error")
         .partitionBy(batch_col).parquet(dst_path))
        wrote = True
    if not wrote:
        # retention dropped everything: an empty store is still a
        # valid store (schema-preserving empty write)
        df.limit(0).write.mode("error").partitionBy(batch_col) \
            .parquet(dst_path)

    files_after, bytes_after = data_file_stats(spark, dst_path)
    return {
        "files_before": int(files_before), "files_after": int(files_after),
        "bytes_before": int(bytes_before), "bytes_after": int(bytes_after),
        "batches_before": len(ids),
        "batches_after": (1 if cold and fold else len(cold)) + len(hot),
        "rows_dropped": int(rows_dropped),
        "dropped_batches": dropped,
        "fold_batch": (min(cold) if cold and fold else None),
        # the batch-id snapshot this compaction processed — the
        # managed wrapper reconciles LATE partitions (a concurrent
        # ingest drain committing into the source version after this
        # snapshot) against it before and after the swap
        "source_batches": [int(i) for i in ids],
    }


def _list_batch_partitions(path: str, batch_col: str) -> list[int]:
    """Batch ids present ON DISK under a hive-partitioned store dir
    (``batch_col=<id>`` subdirectories). A directory listing, not a
    Spark scan: the maintainer uses it to detect partitions committed
    by a concurrent ingest drain AFTER its own snapshot scan — a
    Spark re-read could serve cached listings. Local-fs only, like
    store.py (the manifest layer is local-fs by contract)."""
    prefix = batch_col + "="
    out = []
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return out
    for n in names:
        if n.startswith(prefix) and os.path.isdir(os.path.join(path, n)):
            try:
                out.append(int(n[len(prefix):]))
            except ValueError:
                continue
    return sorted(out)


def vector_store_maintain_managed(spark: SparkSession, root: str,
                                  **kw) -> dict:
    """Maintenance with an OWNED atomic swap (VERDICT r11 #3) over a
    managed store root (store.py manifest layout).

    Resolves the current version from the manifest, compacts it into
    a FRESH version directory, VALIDATES the copy (surviving row
    count must equal source minus retention drops — a truncated or
    doubled rewrite must never become current), then atomically
    repoints the manifest with a compare-and-set on the version it
    maintained from. A reader that resolved the root before the swap
    keeps scanning the old immutable version dir; the next
    ``run_stream_vector_ingest`` drain resolves the NEW version, so
    checkpoint replay lands on the compacted copy. Old versions stay
    on disk until ``store_gc`` (readers may still be in flight).

    **Concurrent-ingest guarantee (round 13, VERDICT r12 #2 /
    ADVICE r12):** an ingest drain that resolved the root BEFORE the
    swap commits its ``batch_col`` partition into the SOURCE version
    — possibly after this maintainer's snapshot scan. Those rows are
    durable (committed epochs never replay), so losing them from the
    new version would be a silent lost write. The maintainer closes
    the race by COPY-FORWARD reconciliation: immediately before the
    swap it re-lists the source version's partition directories and
    appends any batch not in its compaction snapshot into the new
    version unchanged (looping until the listing is stable), and
    after the swap it re-lists ONCE more and copies any straggler
    the same way (appending into the now-current version is the
    ingest layout's own pattern). The residual window is a drain
    whose parquet commit lands after the post-swap listing: its rows
    stay durable in the retired source dir and are recovered by the
    NEXT maintenance pass, which begins by reconciling prior
    versions (``reconcile_orphans``) — until then they are absent
    from serving reads and from drain dedup history, which is the
    documented cost of running ingest concurrently with maintenance
    instead of quiescing it.
    """
    from ..store import (
        store_current_version,
        store_next_version,
        store_swap,
        store_versions,
    )

    batch_col = kw.get("batch_col", "__ingest_batch")
    src_version = store_current_version(root)
    src = os.path.join(root, src_version)

    # begin by recovering stragglers a PREVIOUS maintenance window
    # left behind in retired versions (see the guarantee note above):
    # any batch id present in an older version dir but absent from
    # the current one is copied forward before this compaction scans
    recovered_prior = []
    cur_ids = set(_list_batch_partitions(src, batch_col))
    # lateness test is MONOTONIC batch ids (streaming epoch ids only
    # ever grow): an old-version id above the current version's max
    # is a straggler drain commit; ids at or below it are folded or
    # retention-dropped content already accounted for. An EMPTY
    # current version has no anchor for that test (retention dropped
    # everything) — skip rather than resurrect dropped batches.
    if cur_ids:
        for v in store_versions(root):
            if v == src_version:
                continue
            for i in _list_batch_partitions(os.path.join(root, v),
                                            batch_col):
                if i > max(cur_ids):
                    _copy_batch_partition(spark, os.path.join(root, v),
                                          src, batch_col, i)
                    cur_ids.add(i)
                    recovered_prior.append(i)

    dst_version = store_next_version(root)
    dst = os.path.join(root, dst_version)
    stats = vector_store_maintain(spark, src, dst, **kw)
    snapshot = set(stats["source_batches"])

    # validate over the SNAPSHOT only — a partition committed by a
    # concurrent drain after the compaction scan is not a truncation,
    # it is a late batch the reconcile below copies forward
    n_src = (spark.read.parquet(src)
             .filter(F.col(batch_col).isin(sorted(snapshot))).count())
    n_dst = spark.read.parquet(dst).count()
    if n_dst != n_src - stats["rows_dropped"]:
        raise RuntimeError(
            f"vector_store_maintain_managed: compacted copy has "
            f"{n_dst} rows, expected {n_src} - "
            f"{stats['rows_dropped']} dropped — leaving manifest on "
            f"{src_version}")

    recovered = list(recovered_prior)
    seen = set(snapshot)
    for _ in range(16):  # pre-swap: loop until the listing is stable
        late = [i for i in _list_batch_partitions(src, batch_col)
                if i not in seen]
        if not late:
            break
        for i in late:
            _copy_batch_partition(spark, src, dst, batch_col, i)
            seen.add(i)
            recovered.append(i)
    swap = store_swap(root, dst_version, expect=src_version)
    # post-swap: one final listing — a drain that resolved pre-swap
    # may have committed between the last pre-swap listing and the
    # pointer flip; appending into the current version is legal
    for i in _list_batch_partitions(src, batch_col):
        if i not in seen:
            _copy_batch_partition(spark, src, dst, batch_col, i)
            seen.add(i)
            recovered.append(i)
    stats.update({"version_before": swap["previous"],
                  "version_after": swap["current"], "path": dst,
                  "recovered_batches": recovered})
    return stats


def _copy_batch_partition(spark, src: str, dst: str,
                          batch_col: str, i: int) -> None:
    """Append one committed ``batch_col=i`` partition from ``src``
    into ``dst`` unchanged (the copy-forward arm of the concurrent
    drain-vs-maintain reconciliation). A listed partition directory
    is commit-complete: Spark moves task files into the partition
    dir at job commit, never incrementally."""
    (spark.read.parquet(os.path.join(src, f"{batch_col}={i}"))
     .withColumn(batch_col, F.lit(int(i)).cast("long"))
     .write.mode("append").partitionBy(batch_col).parquet(dst))


@register("vector_store_maintain")
def op_vector_store_maintain(df: DataFrame, config: Mapping,
                             views) -> DataFrame:
    """Pipeline-operator wrapper for ``vector_store_maintain`` so a
    config-driven pipeline can schedule store maintenance as a DAG
    step (the input frame is only the SparkSession carrier — the
    store lives at ``path``). Returns the stats as a one-row
    DataFrame, so a pipeline can sink/alert on files_before/after,
    rows_dropped, and the fold/retention outcome.

    config: EITHER ``root`` (a managed store root — resolve, compact
    into a fresh version, validate, and atomically swap the manifest;
    vector_store_maintain_managed) OR ``path`` (required, the live
    store) + ``dst`` (required, the compacted copy — the swap stays
    the caller's atomic step); plus ``hot_batches`` (default 1),
    ``drop_below`` (optional), ``fold`` (default true),
    ``target_file_mb`` (default 512), ``batch_col`` (default
    __ingest_batch)."""
    kw = dict(
        hot_batches=int(config.get("hot_batches", 1)),
        # int-coerce here too: a string drop_below from a JSON/YAML
        # config must fail (or work) at the boundary, not as a
        # '<' between int and str deep inside the maintain loop
        drop_below=(int(config["drop_below"])
                    if config.get("drop_below") is not None else None),
        fold=bool(config.get("fold", True)),
        target_file_mb=int(config.get("target_file_mb", 512)),
        batch_col=config.get("batch_col", "__ingest_batch"))
    if config.get("root"):
        stats = vector_store_maintain_managed(
            df.sparkSession, config["root"], **kw)
    else:
        if not config.get("path") or not config.get("dst"):
            raise ValueError(
                "vector_store_maintain requires `root` (managed store) "
                "or `path` (live store) + `dst` (compacted copy)")
        stats = vector_store_maintain(
            df.sparkSession, config["path"], config["dst"], **kw)
    row = (stats["files_before"], stats["files_after"],
           stats["bytes_before"], stats["bytes_after"],
           stats["batches_before"], stats["batches_after"],
           stats["rows_dropped"],
           stats["fold_batch"],
           stats.get("version_before"), stats.get("version_after"),
           # comma-joined, not an array — list cells crash the driver
           # comparator's pandas sort
           ",".join(str(i) for i in stats.get("recovered_batches", [])))
    return df.sparkSession.createDataFrame(
        [row],
        "files_before long, files_after long, bytes_before long, "
        "bytes_after long, batches_before long, batches_after long, "
        "rows_dropped long, fold_batch long, version_before string, "
        "version_after string, recovered_batches string")
