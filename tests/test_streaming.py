"""Streaming seam tests: the same windowed_agg plan runs as a real
Structured Streaming query (file source -> memory sink) and agrees
with its batch execution."""

from __future__ import annotations

import pytest

import blackroad_data_pipeline_spark.streaming as streaming_pkg  # noqa: F401
from blackroad_data_pipeline_spark.operators import apply_operator as op
from blackroad_data_pipeline_spark.sources.readers import nanos_to_timestamp
from blackroad_data_pipeline_spark.streaming.ops import (
    read_events_stream,
    run_stream_to_memory,
)

SF = "/root/testdata/sf0.001"
WINDOW_CFG = {
    "ts_field": "ts", "window": "1 hour", "group_by": ["event_type"],
    "watermark": "10 minutes",
    "aggregates": [{"field": "event_id", "function": "count", "alias": "n_events"}],
}


def _events_batch(spark):
    return nanos_to_timestamp(
        spark.read.parquet(f"{SF}/events.parquet"), "ts")


def test_windowed_agg_streaming_matches_batch(spark):
    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in op("windowed_agg", _events_batch(spark), WINDOW_CFG).collect()
    }
    assert batch  # sanity: events span multiple windows

    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{SF}/events.parquet"), "ts")
    assert stream.isStreaming
    agg = op("windowed_agg", stream, WINDOW_CFG)
    run_stream_to_memory(agg, "win_out", output_mode="complete")
    streamed = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert streamed == batch


def test_sessionize_batch(spark):
    df = op("sessionize", _events_batch(spark),
            {"ts_field": "ts", "key": "user_id", "gap_seconds": 600,
             "tiebreak": ["event_id"]})
    rows = df.collect()
    assert len(rows) == 1000
    # session ids are per-user and sequences start at 1
    first = [r for r in rows if r["session_id"].endswith("#1")]
    users = {r["user_id"] for r in rows}
    assert {r["user_id"] for r in first} == users


def test_stateful_dedup_stream_emits_first_only(spark):
    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{SF}/events.parquet"), "ts")
    deduped = op("stateful_dedup", stream, {"keys": ["user_id"]})
    run_stream_to_memory(deduped, "dedup_out", output_mode="append")
    rows = spark.sql("SELECT * FROM dedup_out").collect()
    users = [r["user_id"] for r in rows]
    assert len(users) == len(set(users))  # exactly one row per user
    batch_users = {r["user_id"] for r in _events_batch(spark).collect()}
    assert set(users) == batch_users


def test_stateful_dedup_batch_fallback(spark):
    df = _events_batch(spark)
    out = op("stateful_dedup", df, {"keys": ["user_id"]})
    assert not out.isStreaming
    assert out.count() == df.select("user_id").distinct().count()


def test_session_windowed_agg_batch(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=5), 2.0),   # same session (gap 10m)
        (1, base + dt.timedelta(minutes=30), 4.0),  # new session
        (2, base, 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double")
    out = op("session_windowed_agg", df, {
        "ts_field": "ts", "gap": "10 minutes", "group_by": ["user_id"],
        "aggregates": [{"field": "value", "function": "sum", "alias": "total"}],
    }).collect()
    got = {(r["user_id"], r["total"]) for r in out}
    assert got == {(1, 3.0), (1, 4.0), (2, 8.0)}
    # session end = last event + gap
    first = [r for r in out if r["user_id"] == 1 and r["total"] == 3.0][0]
    assert (first["window_end"] - first["window_start"]).total_seconds() == 15 * 60


def test_session_windowed_agg_streaming_matches_batch(spark):
    cfg = {"ts_field": "ts", "gap": "10 minutes", "group_by": ["user_id"],
           "watermark": "1 hour",
           "aggregates": [{"field": "value", "function": "sum", "alias": "total"}]}
    batch = {(r["user_id"], r["window_start"], r["total"])
             for r in op("session_windowed_agg", _events_batch(spark), cfg).collect()}
    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{SF}/events.parquet"), "ts")
    agg = op("session_windowed_agg", stream, cfg)
    run_stream_to_memory(agg, "sess_out", output_mode="complete")
    streamed = {(r["user_id"], r["window_start"], r["total"])
                for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert streamed == batch


def test_windowed_agg_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode + watermark: a row older than the watermark horizon
    at its arrival time is dropped, not aggregated."""
    import datetime as dt
    import os

    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    d = tmp_path / "stream"
    os.makedirs(d)
    schema_s = "event_id long, ts timestamp, event_type string, value double"
    # Round 9 rewrite: the original read the parquet SUBDIRS without
    # recursiveFileLookup — zero input rows, and the all()-on-empty
    # assertion passed vacuously. Also reordered to what Spark
    # GUARANTEES: the late-events filter uses the PREVIOUS
    # micro-batch's watermark (SPARK-40925 multi-operator semantics),
    # so the late row must arrive >= 2 batches after the
    # watermark-advancing row to be deterministically dropped.
    batches = [
        [(1, base + dt.timedelta(hours=3), "a", 1.0)],  # on-time 15:00
        [(3, base + dt.timedelta(days=2), "a", 1.0)],   # advance wm + flush
        [(2, base, "a", 1.0)],  # late: 12:00 window long past the wm
        [(4, base + dt.timedelta(days=4), "a", 1.0)],   # final flush
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema_s).coalesce(1).write.mode(
            "overwrite").parquet(str(d / f"f{i}.parquet"))
        # file source orders by mod time — pin it explicitly (1s fs
        # granularity + sub-second writes would otherwise tie)
        for root, _, names in os.walk(d / f"f{i}.parquet"):
            for n in names:
                os.utime(os.path.join(root, n), (now + 60 * i, now + 60 * i))

    stream = (spark.readStream.format("parquet")
              .schema(spark.createDataFrame([], schema_s).schema)
              .option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").load(str(d)))
    agg = op("windowed_agg", stream, {
        "ts_field": "ts", "window": "1 hour", "group_by": ["event_type"],
        "watermark": "10 minutes",
        "aggregates": [{"field": "event_id", "function": "count",
                        "alias": "n"}]})
    run_stream_to_memory(agg, "late_out", output_mode="append")
    rows = spark.sql("SELECT * FROM late_out").collect()
    got = {r["window_start"]: r["n"] for r in rows}
    # the on-time row's 15:00 window flushed with count 1; the late
    # row was dropped — its 12:00 window never appears
    assert got[base + dt.timedelta(hours=3)] == 1
    assert base not in got


def test_incremental_ingestion_processes_only_new_files(spark, tmp_path):
    """availableNow + checkpoint = incremental batch: run 1 drains the
    existing files; a re-run with the same checkpoint ingests ONLY
    files added since (the commit log remembers processed input)."""
    from blackroad_data_pipeline_spark.streaming.ops import run_stream_incremental

    src = tmp_path / "incoming"
    src.mkdir()
    out = str(tmp_path / "ingested")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, v string"

    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.mode(
        "overwrite").parquet(str(src / "batch1.parquet"))
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_incremental(stream, out, ckpt)
    assert spark.read.parquet(out).count() == 2

    spark.createDataFrame([(3, "c")], schema).write.mode(
        "overwrite").parquet(str(src / "batch2.parquet"))
    stream2 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_incremental(stream2, out, ckpt)
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3]  # batch1 NOT reprocessed (no dup 1,2)


def test_stream_join_stream_stream_matches_batch(spark):
    """Interval join clicks->purchases: both sides real streams with
    watermarks; the result set must equal the batch execution of the
    identical operator config."""
    cfg = {"by": ["user_id"], "left_ts": "ts", "right_ts": "ts",
           "before": 0, "after": 1800, "watermark": "30 minutes"}

    def split(df):
        clicks = df.filter("event_type = 'click'").select(
            "event_id", "user_id", "ts")
        purchases = df.filter("event_type = 'purchase'").select(
            "event_id", "user_id", "ts")
        return clicks, purchases

    bc, bp = split(_events_batch(spark))
    batch = {(r["event_id"], r["r_event_id"]) for r in op(
        "stream_join", bc, {**cfg, "right": bp}, views={}).collect()}
    assert batch  # sanity: the fixture produces matches

    sc_, sp = split(nanos_to_timestamp(
        read_events_stream(spark, f"{SF}/events.parquet"), "ts"))
    joined = op("stream_join", sc_, {**cfg, "right": sp}, views={})
    assert joined.isStreaming
    run_stream_to_memory(joined, "sj_out", output_mode="append")
    streamed = {(r["event_id"], r["r_event_id"])
                for r in spark.sql("SELECT * FROM sj_out").collect()}
    assert streamed == batch


def test_stateful_dedup_native_matches_state_path(spark):
    """The JVM-native dropDuplicatesWithinWatermark path emits exactly
    one row per key over a finite stream, same as the Python-state
    path (all fixture events fall inside one watermark horizon)."""
    stream = nanos_to_timestamp(
        read_events_stream(spark, f"{SF}/events.parquet"), "ts")
    deduped = op("stateful_dedup", stream,
                 {"keys": ["user_id"], "impl": "native",
                  "ts_field": "ts", "watermark": "10 years"})
    run_stream_to_memory(deduped, "dedup_native_out", output_mode="append")
    rows = spark.sql("SELECT * FROM dedup_native_out").collect()
    users = [r["user_id"] for r in rows]
    assert len(users) == len(set(users))
    batch_users = {r["user_id"] for r in _events_batch(spark).collect()}
    assert set(users) == batch_users


def test_stream_ingest_dedup_cross_batch_fingerprint_store(spark, tmp_path):
    """Incremental crawl intake: batch 2 re-crawls batch-1 content
    (different ids, same normalized text) plus an internal dup — the
    persistent fingerprint store drops the re-crawl, within-batch
    dedup keeps one of the internal pair, and the checkpoint prevents
    reprocessing on the second drain."""
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_ingest_dedup,
    )

    src = tmp_path / "crawl"
    src.mkdir()
    out = str(tmp_path / "corpus")
    fps = str(tmp_path / "fingerprints")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    spark.createDataFrame(
        [(1, "the cat sat"), (2, "fresh content")], schema
    ).write.parquet(str(src / "drop1.parquet"))
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_ingest_dedup(stream, out, ckpt, fps)
    assert sorted(r["doc_id"] for r in spark.read.parquet(out).collect()) \
        == [1, 2]

    spark.createDataFrame(
        [(10, "THE  cat   SAT"),        # re-crawl of doc 1 -> dropped
         (11, "brand new text"),
         (12, "brand  NEW   text"),     # within-batch dup of 11
         (13, "other novel words")], schema
    ).write.parquet(str(src / "drop2.parquet"))
    stream2 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_ingest_dedup(stream2, out, ckpt, fps)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 11, 13]
    # the store holds one narrow row per kept fingerprint
    store = spark.read.parquet(fps)
    assert store.count() == 4 and set(store.columns) == {"fp", "ingest_batch"}


def test_stream_scd2_incremental_store(spark, tmp_path):
    """Streaming SCD2 maintenance: two drains of a growing
    observation directory must leave the same version store as a
    one-shot batch compress of all observations, and the second drain
    must rewrite only the touched hash-bucket partitions."""
    from blackroad_data_pipeline_spark.operators import apply_operator as op
    from blackroad_data_pipeline_spark.streaming.ops import run_stream_scd2

    src = tmp_path / "obs"
    src.mkdir()
    store = str(tmp_path / "scd2_store")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, ts long, v string"
    batch1 = [(1, 10, "a"), (1, 30, "b"), (2, 10, "x"), (3, 5, "z")]
    batch2 = [(1, 60, "c"), (4, 7, "q")]

    spark.createDataFrame(batch1, schema).write.parquet(
        str(src / "b1.parquet"))
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_scd2(stream, store, ckpt, keys=["k"], attrs=["v"],
                    ts_field="ts", n_buckets=8)

    spark.createDataFrame(batch2, schema).write.parquet(
        str(src / "b2.parquet"))
    stream2 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_scd2(stream2, store, ckpt, keys=["k"], attrs=["v"],
                    ts_field="ts", n_buckets=8)

    got = sorted(map(tuple, spark.read.parquet(store)
                 .select("k", "v", "valid_from", "valid_to", "is_current")
                 .collect()),
                 key=lambda t: [(x is None, str(x)) for x in t])
    whole = sorted(map(tuple, op(
        "scd2", spark.createDataFrame(batch1 + batch2, schema),
        {"keys": ["k"], "attrs": ["v"]}, views={}).collect()),
        key=lambda t: [(x is None, str(x)) for x in t])
    assert got == whole


def test_stateful_dedup_event_time_ttl_evicts_and_reemits(spark, tmp_path):
    """Event-time TTL (VERDICT r8 #5): state evicts once the WATERMARK
    passes last-seen + ttl, so a key recurring after eviction
    re-emits — and the same key under a generous TTL stays deduped.
    Data-time driven: the query drains under processAllAvailable
    (no ProcessingTimeTimeout empty-batch scheduling)."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, user_id int, ts timestamp"
    batches = [
        # b1: key 1 + an in-batch dup -> one emit
        [(1, 1, base), (2, 1, base + dt.timedelta(minutes=1))],
        # b2: advances the watermark to ~13:50 (delay 10m)
        [(3, 2, base + dt.timedelta(hours=2))],
        # b3: key 1 has NO rows -> its expired timer fires (evict)
        [(4, 3, base + dt.timedelta(hours=2, minutes=30))],
        # b4: key 1 recurs after eviction -> re-emits
        [(5, 1, base + dt.timedelta(hours=3))],
    ]
    d = tmp_path / "ettl"
    os.makedirs(d)
    for i, rows in enumerate(batches):
        # one physical file per batch (coalesce(1)) so mod-time order
        # == batch order under maxFilesPerTrigger=1
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(d / f"f{i}.parquet"))
        time.sleep(1.1)  # file source orders batches by mod time

    def run(name, ttl_ms):
        stream = (spark.readStream.format("parquet")
                  .schema(schema).option("maxFilesPerTrigger", 1)
                  .option("recursiveFileLookup", "true")
                  .load(str(d)))
        out = op("stateful_dedup", stream, {
            "keys": ["user_id"], "ttl_ms": ttl_ms,
            "ttl_mode": "event_time", "ts_field": "ts",
            "watermark": "10 minutes"})
        run_stream_to_memory(out, name, output_mode="append")
        return sorted(r["event_id"]
                      for r in spark.sql(f"SELECT * FROM {name}").collect())

    # 10-minute TTL: key 1's state (last seen 12:01) expires when the
    # watermark reaches 13:50 in b3 -> event 5 re-emits
    assert run("ettl_short", 10 * 60 * 1000) == [1, 3, 4, 5]
    # 10-hour TTL: nothing expires -> event 5 stays a duplicate
    assert run("ettl_long", 10 * 3600 * 1000) == [1, 3, 4]


def test_stateful_dedup_event_time_ttl_data_path_eviction(spark, tmp_path):
    """Round-9 review finding: the EventTime TIMER only fires on a
    batch where the key has NO rows — a key whose first post-expiry
    appearance carries data must still re-emit (the data path checks
    the watermark itself), or eviction would depend on batch
    scheduling. Here key 1 recurs in the very next batch after the
    watermark passed its TTL horizon — no key-free batch in between."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "event_id long, user_id int, ts timestamp"
    batches = [
        [(1, 1, base)],                               # key 1 emits
        [(2, 2, base + dt.timedelta(hours=2))],       # wm -> 13:50
        [(3, 1, base + dt.timedelta(hours=3))],       # key 1 WITH data
    ]
    d = tmp_path / "ettl_dp"
    os.makedirs(d)
    now = time.time()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(str(d / f"f{i}.parquet"))
        for root, _, names in os.walk(d / f"f{i}.parquet"):
            for n in names:
                os.utime(os.path.join(root, n), (now + 60 * i,) * 2)

    stream = (spark.readStream.format("parquet")
              .schema(schema).option("maxFilesPerTrigger", 1)
              .option("recursiveFileLookup", "true").load(str(d)))
    out = op("stateful_dedup", stream, {
        "keys": ["user_id"], "ttl_ms": 10 * 60 * 1000,
        "ttl_mode": "event_time", "ts_field": "ts",
        "watermark": "10 minutes"})
    run_stream_to_memory(out, "ettl_dp", output_mode="append")
    got = sorted(r["event_id"]
                 for r in spark.sql("SELECT * FROM ettl_dp").collect())
    assert got == [1, 2, 3]  # event 3 re-emits despite carrying data


def test_stream_vector_ingest_frozen_models_and_history_dedup(
        spark, tmp_path, monkeypatch):
    """Streaming vector intake (round 10): drain 1 bootstraps + freezes
    the PQ/IVF models and stores the batch; drain 2's near-dups of
    drain-1 vectors are dropped via the int8 history and its near-dup
    of a smaller day-2 id within the day — both kinds of loser in one
    drain — its invalid vector never enters the store, and the stored
    codes are
    bit-identical to a batch re-encode against the persisted models —
    the joinability/servability contract. Drain 2 dedups within the
    day and against the history in ONE dedup_embedding call, so the
    within-batch LSH self-join is not re-planned under each of
    dedup_embedding_against's three reads of its input."""
    import numpy as np

    from blackroad_data_pipeline_spark import operators
    from blackroad_data_pipeline_spark.operators import (
        apply_operator as op,
    )
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(5)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    base = [unit(rng.randn(8)) for _ in range(6)]
    src = tmp_path / "vecs"
    src.mkdir()
    out = str(tmp_path / "store")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)

    spark.createDataFrame(
        list(enumerate(base)), schema
    ).write.parquet(str(src / "day1.parquet"))
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_vector_ingest(stream, out, ckpt, models, **kw)
    day1 = spark.read.parquet(out)
    assert sorted(r["vec_id"] for r in day1.collect()) == [0, 1, 2, 3, 4, 5]
    assert {"vec_id", "q_emb", "pq_code", "ivf_cell"} <= set(day1.columns)

    day2_rows = [
        (10, unit(np.asarray(base[0]) + rng.randn(8) * 1e-3)),  # ~dup of 0
        (11, unit(rng.randn(8))),                               # new
        (12, [float("nan")] + [0.0] * 7),                       # invalid
        (13, unit(rng.randn(8))),                               # new
    ]
    day2_rows.append(                                   # ~dup of 11, same day
        (14, unit(np.asarray(day2_rows[1][1]) + rng.randn(8) * 1e-3)))
    spark.createDataFrame(day2_rows, schema).write.parquet(
        str(src / "day2.parquet"))
    stream2 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    dedups = []

    def spy(name, df, config, *args, **kwargs):
        if name.startswith("dedup_embedding"):
            dedups.append((name, config.get("history") is not None))
        return op(name, df, config, *args, **kwargs)

    monkeypatch.setattr(operators, "apply_operator", spy)
    run_stream_vector_ingest(stream2, out, ckpt, models, **kw)
    monkeypatch.undo()
    assert dedups == [("dedup_embedding", True)]

    store = spark.read.parquet(out)
    got = sorted(r["vec_id"] for r in store.collect())
    assert got == [0, 1, 2, 3, 4, 5, 11, 13]

    # day-2 codes must equal a batch re-encode against the FROZEN
    # persisted models (same books in, same codes out)
    books = spark.read.parquet(f"{models}/books")
    cells = spark.read.parquet(f"{models}/cells")
    raw = spark.createDataFrame(
        [r for r in day2_rows if r[0] in (11, 13)], schema)
    cfg = {"dim": 8, "m": 2, "ks": 2, "seed_order": "id"}
    want = {r["vec_id"]: (list(r["pq_code"]), r["ivf_cell"]) for r in
            op("ivf_assign", op("pq_encode", raw, {**cfg, "books": books}),
               {"n_cells": 2, "cells": cells}).collect()}
    stored = {r["vec_id"]: (list(r["pq_code"]), r["ivf_cell"]) for r in
              store.filter("vec_id in (11, 13)").collect()}
    assert stored == want

    # the store SERVES: ann_pq from frozen books + stored codes, no
    # training jobs — top-1 for a probe equal to vector 3 is 3 itself
    hit = op("ann_pq", spark.createDataFrame(list(enumerate(base)), schema),
             {**cfg, "probe": base[3], "k": 1,
              "books": books, "codes": store.select("vec_id", "pq_code")})
    assert [r["vec_id"] for r in hit.collect()] == [3]


def _vector_days(n_days: int, seed: int = 11):
    """Day files of 8-dim vectors: day 0 has ids 0..7, day d > 0 has
    ids 100*d .. 100*d+3 and a near-copy (id 100*d+10) of vector 0."""
    import numpy as np

    rng = np.random.RandomState(seed)
    days = [[(i, [float(x) for x in rng.randn(8)]) for i in range(8)]]
    for d in range(1, n_days):
        days.append([(100 * d + i, [float(x) for x in rng.randn(8)])
                     for i in range(4)]
                    + [(100 * d + 10, [x + 1e-4 for x in days[0][0][1]])])
    return days


_VEC_KW = dict(dim=8, m=2, ks=2, n_cells=2, n_planes=2, n_tables=4)


def _vector_drainer(spark, tmp_path):
    """(add, drain, store, checkpoint, models): ``add(name, rows)``
    writes a day file, ``drain()`` runs one availableNow vector-ingest
    drain over every day file not drained yet."""
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    src = tmp_path / "vecs"
    src.mkdir()
    out, ckpt, models = (str(tmp_path / d) for d in
                         ("store", "ckpt", "models"))
    schema = "vec_id long, embedding array<float>"

    def add(name, rows):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))

    def drain():
        return run_stream_vector_ingest(
            spark.readStream.schema(schema).option(
                "recursiveFileLookup", True).parquet(str(src)),
            out, ckpt, models, **_VEC_KW)

    return add, drain, out, ckpt, models


def test_stream_vector_ingest_steady_drain_is_one_lean_plan(
        spark, tmp_path, monkeypatch):
    """A drain after the bootstrap, with a store to dedup against, is
    one lean plan: nothing is materialized (the dedup's only consumer
    is the store write; the encode steps are projections over models
    already collected to the driver), no Spark job runs inside a read
    (the books, cells and store schemas come from a parquet footer
    read on the driver, not from Spark's one-task inference job), at
    most 9 Spark jobs run in all, and building it takes few py4j
    calls (each step is one SQL parse, not a call per column and
    operator; the ceiling is about twice what a drain makes)."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader

    add, drain, out, _, _ = _vector_drainer(spark, tmp_path)
    days = _vector_days(3)
    for d in range(3):
        add(f"day{d}", days[d])
        if d < 2:
            drain()

    sc = spark.sparkContext
    scheduler = sc._jsc.sc().dagScheduler()
    checkpoints, read_jobs, calls = [], [], [0]
    real_cp, real_parquet = DataFrame.localCheckpoint, DataFrameReader.parquet
    client = type(sc._gateway._gateway_client)
    real_send = client.send_command

    def cp(self, *args, **kwargs):
        checkpoints.append(args)
        return real_cp(self, *args, **kwargs)

    def parquet(self, *args, **kwargs):
        j0 = scheduler.nextJobId()
        try:
            return real_parquet(self, *args, **kwargs)
        finally:
            read_jobs.append(scheduler.nextJobId() - j0)

    def send(self, *args, **kwargs):
        calls[0] += 1
        return real_send(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", cp)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    j0 = scheduler.nextJobId()
    monkeypatch.setattr(client, "send_command", send)
    drain()
    monkeypatch.undo()
    jobs = scheduler.nextJobId() - j0

    assert checkpoints == []
    assert len(read_jobs) >= 3 and set(read_jobs) == {0}, read_jobs
    assert jobs <= 9, jobs
    assert calls[0] <= 1200, calls[0]
    got = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(8)) + [100, 101, 102, 103, 200, 201, 202, 203]


@pytest.mark.parametrize("bad", ["store_without_q_emb",
                                 "store_q_emb_of_binary",
                                 "books_without_codeword"])
def test_stream_vector_ingest_fails_loudly_on_a_wrong_schema(
        spark, tmp_path, bad):
    """A store or model whose schema on disk is not the one the drain
    reads fails the drain before anything is written: no store
    partition for the batch and no checkpoint commit. A store read
    with a declared schema would instead give NULL vectors, which the
    validity filter drops, so the drain would silently skip its
    history and store its duplicates."""
    import os
    import shutil

    from pyspark.errors import StreamingQueryException
    from pyspark.sql import functions as F

    add, drain, out, ckpt, models = _vector_drainer(spark, tmp_path)
    days = _vector_days(2)
    add("day0", days[0])
    drain()

    target, column = {
        "store_without_q_emb": (out, "q_emb"),
        "store_q_emb_of_binary": (out, "q_emb"),
        "books_without_codeword": (os.path.join(models, "books"),
                                   "codeword"),
    }[bad]
    frame = spark.read.parquet(target)
    if bad == "store_q_emb_of_binary":
        frame = frame.withColumn("q_emb", F.transform(
            "q_emb", lambda x: x.cast("string").cast("binary")))
    else:
        frame = frame.drop(column)
    writer = frame.write
    if target == out:
        writer = writer.partitionBy("__ingest_batch")
    writer.parquet(str(tmp_path / "rewritten"))
    shutil.rmtree(target)
    shutil.move(str(tmp_path / "rewritten"), target)

    add("day1", days[1])
    with pytest.raises(StreamingQueryException, match=column):
        drain()
    assert not os.path.exists(os.path.join(out, "__ingest_batch=1"))
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "1"))


def test_model_cache_sees_a_same_length_rewrite(spark, tmp_path):
    """A frozen model rewritten in place between two drains, and between
    a drain and a served ann_pq probe, by a model of the same byte
    length with the old mtime (what a file system whose mtime clock is
    coarser than the rewrite shows): the next read serves the new
    model, never the array cached for the old one."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    add, drain, out, _, models = _vector_drainer(spark, tmp_path)
    days = _vector_days(2, seed=5)
    rng = np.random.RandomState(3)
    # books: m=2 subspaces x ks=2 codes of dim/m=4 longs; cells: 2 x 8
    books = rng.randint(-10 ** 6, 10 ** 6, size=(2, 2, 4))
    cells = rng.randn(2, 8)
    paths = {k: os.path.join(models, k, "part-0.parquet")
             for k in ("books", "cells")}

    def write_models(flip: bool):
        """The models, with codes 0/1 and cells 0/1 swapped if flip:
        same values and sizes, every vector's code and cell changes."""
        b, c = (books[:, ::-1], cells[::-1]) if flip else (books, cells)
        tables = {
            "books": pa.table({
                "subspace": pa.array([0, 0, 1, 1], pa.int32()),
                "code": pa.array([0, 1, 0, 1], pa.int32()),
                "codeword": pa.array([[int(v) for v in b[j, k]]
                                      for j in range(2) for k in range(2)],
                                     pa.list_(pa.int64()))}),
            "cells": pa.table({
                "cell": pa.array([0, 1], pa.int32()),
                "centroid": pa.array([list(map(float, r)) for r in c],
                                     pa.list_(pa.float64()))})}
        for k, t in tables.items():
            before = os.stat(paths[k]) if os.path.exists(paths[k]) else None
            os.makedirs(os.path.dirname(paths[k]), exist_ok=True)
            pq.write_table(t, paths[k], compression="NONE",
                           use_dictionary=False, write_statistics=False)
            if before is not None:
                assert os.path.getsize(paths[k]) == before.st_size
                os.utime(paths[k], ns=(before.st_atime_ns,
                                       before.st_mtime_ns))
        return {k: spark.createDataFrame(t.to_pandas())
                for k, t in tables.items()}

    pq_cfg = {"dim": 8, "m": 2, "ks": 2, "seed_order": "id"}

    def encoded(rows, mem):
        """(vec_id, pq_code, ivf_cell) of ``rows`` under in-memory models,
        which are never cached."""
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        df = op("ivf_assign", op("pq_encode", df, {**pq_cfg,
                                                   "books": mem["books"]}),
                {**pq_cfg, "n_cells": 2, "cells": mem["cells"]})
        return sorted((r["vec_id"], list(r["pq_code"]), r["ivf_cell"])
                      for r in df.collect())

    def stored(batch):
        return sorted((r["vec_id"], list(r["pq_code"]), r["ivf_cell"])
                      for r in spark.read.parquet(out).filter(
                          f"__ingest_batch = {batch}").collect())

    first = write_models(flip=False)
    add("day0", days[0])
    drain()
    assert stored(0) == encoded(days[0], first)
    flipped = write_models(flip=True)
    add("day1", days[1])
    drain()
    kept = days[1][:4]  # the near-copy of vector 0 is deduped away
    assert stored(1) == encoded(kept, flipped) != encoded(kept, first)

    corpus = spark.createDataFrame(days[0] + days[1],
                                   "vec_id long, embedding array<float>")
    probe = {**pq_cfg, "probe": days[0][3][1], "k": 5,  # pure ADC
             "n_cells": 2, "nprobe": 1,
             "codes": spark.read.parquet(out).select(
                 "vec_id", "pq_code", "ivf_cell")}

    def served(mem=None):
        models_ = mem or {k: spark.read.parquet(os.path.dirname(p))
                          for k, p in paths.items()}
        return [tuple(r) for r in op("ann_pq", corpus,
                                     {**probe, **models_}).collect()]

    assert served() == served(flipped)
    back = write_models(flip=False)
    assert served() == served(back)
    assert served(back) != served(flipped)


def test_stream_vector_ingest_bootstrap_over_existing_store(
        spark, tmp_path):
    """A drain that finds no models but an existing store (models/
    deleted between drains) bootstraps again: it retrains on the
    WITHIN-BATCH survivors — a history near-dup still trains — and
    stores only the rows that also survive the history dedup. The
    retrained books and cells equal the batch trainers' over
    dedup_embedding of the day's valid rows."""
    import shutil

    import numpy as np

    from blackroad_data_pipeline_spark.operators import (
        apply_operator as op,
    )
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(11)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    def near(v):
        return unit(np.asarray(v) + rng.randn(8) * 1e-3)

    base = [unit(rng.randn(8)) for _ in range(6)]
    src = tmp_path / "vecs"
    src.mkdir()
    out = str(tmp_path / "store")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)

    def drain(rows, name):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(str(src))
        run_stream_vector_ingest(stream, out, ckpt, models, **kw)

    drain(list(enumerate(base)), "day1")
    shutil.rmtree(models)
    fresh = [unit(rng.randn(8)) for _ in range(3)]
    day2 = [(10, near(base[0])),                 # ~dup of history 0
            (11, fresh[0]), (12, fresh[1]), (13, fresh[2]),
            (14, near(fresh[0])),                # ~dup of 11, same day
            (15, [float("nan")] + [0.0] * 7)]    # invalid
    drain(day2, "day2")

    got = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert got == [0, 1, 2, 3, 4, 5, 11, 12, 13]

    survivors = op("dedup_embedding", spark.createDataFrame(
        [r for r in day2 if r[0] != 15], schema),
        {"threshold": 0.98, "dim": 8, "n_planes": 2, "n_tables": 8})
    assert sorted(r["vec_id"] for r in survivors.collect()) == \
        [10, 11, 12, 13]
    cfg = {"dim": 8, "m": 2, "ks": 2, "seed_order": "id"}
    for sub, want in (
            ("books", op("pq_encode", survivors, {**cfg, "emit": "books"})),
            ("cells", op("ivf_assign", survivors,
                         {**cfg, "n_cells": 2, "emit": "cells"}))):
        assert sorted(map(tuple, spark.read.parquet(
            f"{models}/{sub}").collect())) == \
            sorted(map(tuple, want.collect())), sub


def test_stream_vector_ingest_bootstrap_guard_refuses_tiny_batch(
        spark, tmp_path):
    """ADVICE r10: freezing PQ books / IVF cells from a near-empty
    first drain persists degenerate models that NULL-code every later
    batch. The bootstrap must raise (uncommitted — replayable) when the
    first batch's valid deduped vector count is below min_train, and
    must leave NO model artifacts behind."""
    import os

    import numpy as np
    import pytest
    from pyspark.errors import StreamingQueryException

    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(7)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    src = tmp_path / "vecs"
    src.mkdir()
    out = str(tmp_path / "store")
    models = str(tmp_path / "models")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)

    # one valid vector + one invalid — below min_train = max(ks, n_cells) = 2
    spark.createDataFrame(
        [(0, unit(rng.randn(8))), (1, [float("nan")] + [0.0] * 7)], schema
    ).write.parquet(str(src / "day1.parquet"))
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    with pytest.raises(StreamingQueryException, match="training minimum"):
        run_stream_vector_ingest(
            stream, out, str(tmp_path / "ckpt1"), models, **kw)
    assert not os.path.exists(f"{models}/books")
    assert not os.path.exists(f"{models}/cells")
    assert not os.path.exists(out)

    # with enough valid vectors queued, a FRESH checkpoint replays the
    # data losslessly and bootstraps fine
    spark.createDataFrame(
        [(i, unit(rng.randn(8))) for i in range(2, 6)], schema
    ).write.parquet(str(src / "day1b.parquet"))
    stream2 = spark.readStream.schema(schema).option(
        "recursiveFileLookup", True).parquet(str(src))
    run_stream_vector_ingest(
        stream2, out, str(tmp_path / "ckpt2"), models, **kw)
    assert spark.read.parquet(f"{models}/books").count() > 0
    got = sorted(r["vec_id"] for r in spark.read.parquet(out).collect())
    assert got == [0, 2, 3, 4, 5]


def test_stream_vector_ingest_wrong_width_vector_fails_the_drain(
        spark, tmp_path):
    """A day file holding one vector of the wrong width fails its drain
    with the vector kernels' width error (it is not dropped as invalid),
    and the failed drain commits nothing: no store partition for the
    batch and no checkpoint commit, so a replay sees it again."""
    import os

    import numpy as np
    from pyspark.errors import StreamingQueryException

    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(13)
    src = tmp_path / "vecs"
    src.mkdir()
    out = str(tmp_path / "store")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)

    def drain(rows, name):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))
        stream = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(str(src))
        run_stream_vector_ingest(stream, out, ckpt, models, **kw)

    drain([(i, rng.randn(8).tolist()) for i in range(6)], "day1")
    day2 = [(10, rng.randn(8).tolist()), (11, rng.randn(7).tolist()),
            (12, rng.randn(8).tolist())]
    with pytest.raises(StreamingQueryException, match=(
            r"every vector must have the model's width 8; "
            r"this batch has widths \[")):
        drain(day2, "day2")
    assert os.path.isdir(os.path.join(out, "__ingest_batch=0"))
    assert not os.path.exists(os.path.join(out, "__ingest_batch=1"))
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert not os.path.exists(os.path.join(ckpt, "commits", "1"))


def test_vector_store_maintain_compacts_folds_and_stays_replay_safe(
        spark, tmp_path):
    """Round 11 (VERDICT r10 #5): store maintenance must (a) preserve
    content bit-for-bit while folding cold batches and shrinking file
    counts, (b) keep the history-dedup working against folded rows,
    and (c) not collide with checkpoint replay — after a swap, the
    next drain with the SAME checkpoint appends only new data."""
    import shutil

    import numpy as np

    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
        vector_store_maintain,
    )

    rng = np.random.RandomState(11)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "store")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)
    base = [unit(rng.randn(8)) for _ in range(6)]

    def drain(rows, name):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))
        s = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(str(src))
        run_stream_vector_ingest(s, store, ckpt, models, **kw)

    drain(list(enumerate(base)), "d1")                     # batch 0
    drain([(10, unit(rng.randn(8))), (11, unit(rng.randn(8)))], "d2")
    drain([(20, unit(rng.randn(8))), (21, unit(rng.randn(8)))], "d3")

    def snapshot(path):
        return {(r["vec_id"], tuple(r["q_emb"]), tuple(r["pq_code"]),
                 r["ivf_cell"])
                for r in spark.read.parquet(path).collect()}

    before = snapshot(store)
    store2 = str(tmp_path / "store2")
    stats = vector_store_maintain(spark, store, store2, hot_batches=1)
    assert snapshot(store2) == before                      # bit-equal
    assert stats["batches_after"] == 2                     # fold(0,1) + hot 2
    assert stats["fold_batch"] == 0
    assert stats["files_after"] <= stats["files_before"]
    got_batches = sorted(r[0] for r in spark.read.parquet(store2)
                         .select("__ingest_batch").distinct().collect())
    assert got_batches == [0, 2]

    # swap the maintained store in, then drain with the SAME checkpoint:
    # only the new file fires (committed epochs never replay); the
    # near-dup of vector 0 must be dropped against the FOLDED history
    shutil.rmtree(store)
    shutil.move(store2, store)
    drain([(30, unit(rng.randn(8))),
           (31, unit(np.asarray(base[0]) + rng.randn(8) * 1e-3))], "d4")
    ids = sorted(r["vec_id"] for r in spark.read.parquet(store).collect())
    assert ids == [0, 1, 2, 3, 4, 5, 10, 11, 20, 21, 30]

    # retention: drop everything below the fold-survivor horizon
    store3 = str(tmp_path / "store3")
    stats2 = vector_store_maintain(spark, store, store3,
                                   hot_batches=1, drop_below=2)
    assert stats2["rows_dropped"] == 8                     # batch-0 fold
    left = sorted(r["vec_id"] for r in spark.read.parquet(store3).collect())
    assert left == [20, 21, 30]


def test_vector_store_lifecycle_ingest_drift_maintain_compose(
        spark, tmp_path):
    """Round 11 end-to-end lifecycle: stream-ingest two days against
    frozen PQ/IVF models, audit day-2 for drift against the day-1
    bootstrap baseline with the FROZEN cells (centroid_drift), run
    store maintenance through the OPERATOR wrapper, swap, and keep
    serving — the production loop the round's pieces compose into."""
    import numpy as np

    from blackroad_data_pipeline_spark.operators import (
        apply_operator as op,
    )
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(23)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "store")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)

    # two clusters with wide-but-identical jitter laws: pairwise
    # cosines stay far below the 0.98 dedup threshold, while day-2's
    # distance-to-centroid distribution matches day-1's (drift quiet)
    cents = [unit([1.0] + [0.0] * 7), unit([0.0, 1.0] + [0.0] * 6)]
    def day(ids):
        return [(i, unit(np.asarray(cents[i % 2]) + 0.25 * rng.randn(8)))
                for i in ids]
    day1 = day(range(40))
    day2 = day(range(100, 140))

    def drain(rows, name):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))
        s = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(str(src))
        run_stream_vector_ingest(s, store, ckpt, models, **kw)

    drain(day1, "d1")
    drain(day2, "d2")

    # drift gate: day-2 vs the day-1 bootstrap baseline, against the
    # FROZEN cells persisted by the ingest (in-distribution -> quiet)
    cells = spark.read.parquet(f"{models}/cells")
    drift = op("centroid_drift",
               spark.createDataFrame(day2, schema),
               {"dim": 8, "cells": cells,
                "baseline": spark.createDataFrame(day1, schema),
                "threshold": 0.5}, views={}).collect()
    assert drift and all(not r["drifted"] for r in drift)
    assert sum(r["n_batch"] for r in drift) == 40

    # maintenance through the OPERATOR wrapper (pipeline-facing)
    store2 = str(tmp_path / "store2")
    stats = op("vector_store_maintain",
               spark.range(1),
               {"path": store, "dst": store2}, views={}).collect()[0]
    assert stats["batches_after"] == 2
    assert stats["rows_dropped"] == 0

    # swap + third drain: the store keeps serving with the same models
    import shutil
    shutil.rmtree(store)
    shutil.move(store2, store)
    drain([(300, unit(rng.randn(8)))], "d3")
    ids = sorted(r["vec_id"] for r in spark.read.parquet(store).collect())
    # day-1 survivors persist through maintenance+swap, the post-swap
    # drain appends, nothing duplicates; a couple of day-2 clustered
    # points may legitimately near-dup away (cos >= 0.98 pairs)
    assert len(ids) == len(set(ids))
    assert 300 in ids
    day1_kept = [i for i in ids if i < 40]
    day2_kept = [i for i in ids if 100 <= i < 140]
    assert day1_kept and day2_kept
    assert set(day1_kept) | set(day2_kept) | {300} == set(ids)
    assert len(day2_kept) >= 35


def test_vector_store_managed_root_atomic_swap(spark, tmp_path):
    """Round 12 (VERDICT r11 #3): the swap is OWNED. A managed store
    root resolves reads through a one-file manifest; maintenance
    compacts into a fresh immutable version dir, validates, and
    atomically repoints the manifest — a reader in flight keeps its
    full pre-swap snapshot, the post-swap resolve serves the
    compacted copy bit-for-bit, and the next ingest drain (same
    checkpoint) replays against the NEW path."""
    import numpy as np

    from blackroad_data_pipeline_spark.operators import (
        apply_operator as op,
    )
    from blackroad_data_pipeline_spark.store import (
        store_gc,
        store_init,
        store_read,
        store_resolve,
        store_swap,
    )
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(12)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    src = tmp_path / "vecs"
    src.mkdir()
    root = str(tmp_path / "store_root")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)
    base = [unit(rng.randn(8)) for _ in range(6)]

    store_init(root)
    assert store_resolve(root).endswith("v000000")

    def drain(rows, name):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))
        s = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(str(src))
        # path == the managed ROOT: each drain resolves the manifest
        run_stream_vector_ingest(s, root, ckpt, models, **kw)

    drain(list(enumerate(base)), "d1")                     # batch 0
    drain([(10, unit(rng.randn(8))), (11, unit(rng.randn(8)))], "d2")
    drain([(20, unit(rng.randn(8))), (21, unit(rng.randn(8)))], "d3")

    def snap(df):
        return {(r["vec_id"], tuple(r["q_emb"]), tuple(r["pq_code"]),
                 r["ivf_cell"]) for r in df.collect()}

    # reader in flight: resolved BEFORE the swap, pinned to v000000
    inflight = spark.read.parquet(store_resolve(root))
    before = snap(inflight)

    stats = op("vector_store_maintain", spark.range(1),
               {"root": root, "hot_batches": 1}, views={}).collect()[0]
    assert stats["version_before"] == "v000000"
    assert stats["version_after"] == "v000001"
    assert stats["batches_after"] == 2                     # fold(0,1) + hot 2

    # post-swap: manifest points at the compacted copy, bit-equal
    assert store_resolve(root).endswith("v000001")
    assert snap(store_read(spark, root)) == before
    # the in-flight reader still sees its complete pre-swap snapshot
    assert snap(inflight) == before

    # CAS: a stale maintainer (expects the retired version) fails loudly
    with pytest.raises(RuntimeError, match="concurrent maintenance"):
        store_swap(root, "v000000", expect="v000000")
    with pytest.raises(ValueError, match="does not exist"):
        store_swap(root, "v999999")

    # next drain, SAME checkpoint: lands in v000001; the near-dup of
    # vector 0 is dropped against the FOLDED history in the new path
    drain([(30, unit(rng.randn(8))),
           (31, unit(np.asarray(base[0]) + rng.randn(8) * 1e-3))], "d4")
    ids = sorted(r["vec_id"]
                 for r in store_read(spark, root).collect())
    assert ids == [0, 1, 2, 3, 4, 5, 10, 11, 20, 21, 30]
    got = sorted(r[0] for r in store_read(spark, root)
                 .select("__ingest_batch").distinct().collect())
    assert got == [0, 2, 3]                                # fold + hot + new

    # retired version stays on disk until gc (readers may be live)
    assert (tmp_path / "store_root" / "v000000").is_dir()
    assert store_gc(root, keep=0) == ["v000000"]
    assert not (tmp_path / "store_root" / "v000000").exists()


def test_ingest_picks_up_refreshed_model_through_manifest(spark, tmp_path):
    """Round 12, the full production loop owned end to end: ingest
    bootstraps models under a MANAGED model root (v0), model_refresh
    retrains on a drifted window and atomically swaps the manifest to
    v1, and the NEXT drain — same checkpoint, no restart — encodes
    with v1 (including the refreshed q_centroid coarse model) and
    tags its rows, so the mixed-version store serves one exact merged
    top-k through ann_pq_versioned + read_versioned_books."""
    import hashlib

    import numpy as np

    from blackroad_data_pipeline_spark.llmops.similarity import (
        read_versioned_books,
    )
    from blackroad_data_pipeline_spark.operators import (
        apply_operator as op,
    )
    from blackroad_data_pipeline_spark.store import (
        store_current_version,
        store_init,
    )
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(33)
    dim = 8

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    def vec(center, bump, eps):
        v = [0.0] * dim
        v[center] = 1.0
        v[(center + 3) % dim] += eps
        v[4] += bump
        return unit(np.asarray(v))

    src = tmp_path / "vecs"
    src.mkdir()
    store = str(tmp_path / "store")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.999, dim=dim, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)
    store_init(models)

    day1 = [(i, vec(i % 2, 0.0, 0.01 * ((i % 5) - 2)))
            for i in range(40)]
    shifted = [(200 + i, vec(i % 2, 0.5 if i % 2 == 1 else 0.0,
                             0.01 * ((i % 5) - 2))) for i in range(40)]
    day3 = [(400 + i, vec(i % 2, 0.5 if i % 2 == 1 else 0.0,
                          0.013 * ((i % 7) - 3))) for i in range(20)]

    def drain(rows, name):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))
        s = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(str(src))
        run_stream_vector_ingest(s, store, ckpt, models, **kw)

    drain(day1, "d1")                       # bootstrap under v000000
    assert store_current_version(models) == "v000000"
    v0 = {r["vec_id"]: r for r in spark.read.parquet(store).collect()}
    assert {r["model_version"] for r in v0.values()} == {0}

    # drift trips on the shifted population -> retrain + swap to v1
    pq = {"dim": dim, "m": 2, "ks": 2, "refine": 1, "seed_order": "id"}
    books0 = spark.read.parquet(f"{models}/v000000/books")
    cells0 = spark.read.parquet(f"{models}/v000000/cells")
    base_df = spark.createDataFrame(day1, schema)
    shift_df = spark.createDataFrame(shifted, schema)
    op("model_refresh", shift_df,
       {**pq, "threshold": 0.10, "n_cells": 2, "cells": cells0,
        "books": books0, "baseline": base_df, "store": base_df,
        "model_root": models}, views={})
    assert store_current_version(models) == "v000001"

    # next drain, SAME checkpoint: v1 books AND the refreshed
    # q_centroid coarse model serve the encode; rows tagged 1
    drain(day3, "d3")
    rows = spark.read.parquet(store).collect()
    # both drains' stored rows, pinned to what the drain stored when it
    # inferred the store and model schemas with Spark jobs and verified
    # within-batch and history candidates in two passes
    assert hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in (
        spark.read.parquet(store).select(
            "vec_id", "q_emb", "pq_code", "ivf_cell", "model_version",
            "__ingest_batch").collect()))).encode()).hexdigest() == (
        "9087547b9e60dd0485e9712b7e0a22efef0fd4197033790eb4bbc0b69c1d025a")
    tags = {r["vec_id"]: r["model_version"] for r in rows}
    # (the within-batch near-dedup keeps only distinct day-1 vectors;
    # assert over the survivors, which must all stay v0)
    old_ids = [i for i, _ in day1 if i in tags]
    assert old_ids and {tags[i] for i in old_ids} == {0}
    new_ids = [i for i, _ in day3 if i in tags]
    assert new_ids and {tags[i] for i in new_ids} == {1}

    # v1 codes replay the frozen v1 books bit-for-bit
    books1 = spark.read.parquet(f"{models}/v000001/books")
    expect = {r["vec_id"]: list(r["pq_code"]) for r in
              op("pq_encode", spark.createDataFrame(day3, schema),
                 {**pq, "books": books1}, views={}).collect()}
    got = {r["vec_id"]: list(r["pq_code"]) for r in rows
           if r["model_version"] == 1}
    assert got == {i: expect[i] for i in got}

    # mixed-version serving: exact merged top-5 vs a numpy replay
    vbooks = read_versioned_books(spark, models)
    assert {r["model_version"] for r in
            vbooks.select("model_version").distinct().collect()} == {0, 1}
    codes = spark.read.parquet(store).select(
        "vec_id", "pq_code", "model_version")
    probe = vec(0, 0.0, 0.0)
    got5 = op("ann_pq_versioned",
              spark.createDataFrame(day1 + day3, schema),
              {**pq, "probe": probe, "k": 5, "books": vbooks,
               "codes": codes}, views={}).collect()

    def books_np(bdf):
        arr = np.zeros((2, 2, 4), dtype=np.int64)
        for r in bdf.collect():
            arr[r["subspace"], r["code"]] = r["codeword"]
        return arr
    b_np = {0: books_np(books0), 1: books_np(books1)}
    qv = np.floor(np.array(probe) * 1e6).astype(np.int64)
    exp = sorted(
        (sum(int(((qv[j * 4:(j + 1) * 4]
                   - b_np[r["model_version"]][j, r["pq_code"][j]]) ** 2)
                 .sum()) for j in range(2)), r["vec_id"])
        for r in codes.collect())[:5]
    assert [(r["adc_dist"], r["vec_id"]) for r in got5] == exp


def test_store_uri_scheme_roots_fail_loudly():
    """ADVICE r12: store.py is local-fs only (os.replace atomicity);
    an hdfs://-style root previously made is_managed silently answer
    False and the managed flow degraded to the unmanaged layout with
    no error. Now the degradation is loud."""
    import pytest as _pytest

    from blackroad_data_pipeline_spark.store import is_managed, store_init

    for root in ("hdfs://nn/warehouse/store", "s3://bucket/store",
                 "file:///tmp/store"):
        with _pytest.raises(ValueError, match="URI scheme"):
            is_managed(root)
        with _pytest.raises(ValueError, match="URI scheme"):
            store_init(root)
    # windows-style drive letters and plain paths are NOT schemes
    assert is_managed("/tmp/definitely-not-a-store-root-xyz") is False


def test_maintain_recovers_concurrent_drain_commits_zero_lost(
        spark, tmp_path, monkeypatch):
    """Round 13 (VERDICT r12 #2 / ADVICE r12): the drain-vs-maintain
    lost-write race. An ingest drain that resolved the root BEFORE
    the swap commits its batch partition into the SOURCE version —
    (a) after the maintainer's compaction snapshot, or (b) after the
    pre-swap reconcile, just before the pointer flip. Committed
    epochs never replay, so those rows must be COPY-FORWARDED by the
    maintainer, not lost. Also drives the straggler path: a commit
    landing after the post-swap listing is recovered by the NEXT
    maintenance pass's prior-version reconcile."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    import blackroad_data_pipeline_spark.store as store_mod
    import blackroad_data_pipeline_spark.streaming.ops as ops_mod
    from blackroad_data_pipeline_spark.operators import (
        apply_operator as op,
    )
    from blackroad_data_pipeline_spark.store import store_init, store_read
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest,
    )

    rng = np.random.RandomState(7)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    src = tmp_path / "vecs"
    src.mkdir()
    root = str(tmp_path / "store_root")
    models = str(tmp_path / "models")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<float>"
    kw = dict(threshold=0.98, dim=8, m=2, ks=2, n_cells=2,
              n_planes=2, n_tables=8)

    store_init(root)

    def drain(rows, name):
        spark.createDataFrame(rows, schema).write.parquet(
            str(src / f"{name}.parquet"))
        s = spark.readStream.schema(schema).option(
            "recursiveFileLookup", True).parquet(str(src))
        run_stream_vector_ingest(s, root, ckpt, models, **kw)

    drain([(i, unit(rng.randn(8))) for i in range(6)], "d1")   # batch 0
    drain([(10, unit(rng.randn(8)))], "d2")                    # batch 1

    def ids_now():
        return sorted(r["vec_id"] for r in store_read(spark, root)
                      .select("vec_id").collect())

    # (a) drain commits AFTER the compaction snapshot, BEFORE swap
    real_maintain = ops_mod.vector_store_maintain

    def maintain_then_drain(*a, **k):
        stats = real_maintain(*a, **k)
        drain([(20, unit(rng.randn(8)))], "d3")               # batch 2
        return stats

    monkeypatch.setattr(ops_mod, "vector_store_maintain",
                        maintain_then_drain)
    stats = op("vector_store_maintain", spark.range(1),
               {"root": root, "hot_batches": 1}, views={}).collect()[0]
    monkeypatch.setattr(ops_mod, "vector_store_maintain", real_maintain)
    assert stats["version_after"] == "v000001"
    assert ids_now() == [0, 1, 2, 3, 4, 5, 10, 20]            # zero lost

    # (b) drain commits between the pre-swap reconcile and the flip
    real_swap = store_mod.store_swap

    def drain_then_swap(root_, version, expect=None):
        monkeypatch.setattr(store_mod, "store_swap", real_swap)
        drain([(30, unit(rng.randn(8)))], "d4")               # batch 3
        return real_swap(root_, version, expect=expect)

    monkeypatch.setattr(store_mod, "store_swap", drain_then_swap)
    stats = op("vector_store_maintain", spark.range(1),
               {"root": root, "hot_batches": 1}, views={}).collect()[0]
    assert stats["version_after"] == "v000002"
    assert "3" in stats["recovered_batches"].split(",")
    assert ids_now() == [0, 1, 2, 3, 4, 5, 10, 20, 30]        # zero lost

    # straggler: a commit landing after the post-swap listing lives
    # only in the RETIRED source version dir (v000001 — the version
    # maintain (b) compacted FROM); the NEXT maintain's prior-version
    # reconcile copies it forward (batch id 9 > current max 3)
    late = (spark.read.parquet(
                os.path.join(root, "v000002", "__ingest_batch=3"))
            .withColumn("vec_id", F.lit(40).cast("long")).limit(1))
    late.write.parquet(os.path.join(root, "v000001",
                                    "__ingest_batch=9"))
    stats = op("vector_store_maintain", spark.range(1),
               {"root": root, "hot_batches": 1}, views={}).collect()[0]
    assert "9" in stats["recovered_batches"].split(",")
    assert 40 in ids_now()                                    # recovered


# -- crash replay: a drain that dies between a store write and its
# checkpoint commit replays the batch; the final store must be the
# uninterrupted run's -------------------------------------------------------


def _unit_vecs(seed, n, dim=8):
    import numpy as np

    rng = np.random.RandomState(seed)
    out = []
    for _ in range(n):
        v = rng.randn(dim)
        out.append((v / np.linalg.norm(v)).tolist())
    return out


def _near(v, seed):
    import numpy as np

    w = np.asarray(v) + np.random.RandomState(seed).randn(len(v)) * 1e-3
    return (w / np.linalg.norm(w)).tolist()


_BASE = _unit_vecs(5, 6)
_NEW = _unit_vecs(6, 2)

# per writer: the input schema, the rows of drain 1 and drain 2, and
# the parquet writes each drain makes (a case per write)
_CRASH_WRITERS = {
    "ingest_dedup": (
        "doc_id long, text string",
        [(1, "the cat sat"), (2, "fresh content"), (3, None),
         (4, "fresh content")],
        [(10, "THE  cat   SAT"), (11, "brand new text"),
         (12, "brand  NEW   text"), (13, ""), (14, "other novel words")],
        (2, 2)),
    "scd2": (
        "k long, ts long, v string",
        [(1, 10, "a"), (1, 30, "b"), (2, 10, "x"), (3, 5, "z")],
        [(1, 60, "c"), (4, 7, "q"), (2, 10, "x")],
        (1, 1)),
    "vector_ingest": (
        "vec_id long, embedding array<float>",
        list(enumerate(_BASE)),
        [(10, _near(_BASE[0], 7)), (11, _NEW[0]), (13, _NEW[1]),
         (14, _near(_NEW[0], 8))],
        (3, 1)),   # drain 1: books and cells (concurrent), then the store
}


def _writer_run(writer, root, stream):
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_ingest_dedup,
        run_stream_scd2,
        run_stream_vector_ingest,
    )

    ckpt = str(root / "ckpt")
    if writer == "ingest_dedup":
        run_stream_ingest_dedup(stream, str(root / "corpus"), ckpt,
                                str(root / "fps"))
    elif writer == "scd2":
        run_stream_scd2(stream, str(root / "store"), ckpt, keys=["k"],
                        attrs=["v"], ts_field="ts", n_buckets=8)
    else:
        run_stream_vector_ingest(
            stream, str(root / "store"), ckpt, str(root / "models"),
            threshold=0.98, dim=8, m=2, ks=2, n_cells=2, n_planes=2,
            n_tables=8)


def _land(spark, writer, root, day):
    """Write drain ``day``'s input file into the source directory."""
    schema, day1, day2, _ = _CRASH_WRITERS[writer]
    spark.createDataFrame(day1 if day == 1 else day2, schema) \
        .write.parquet(str(root / "src" / f"day{day}.parquet"))


def _drain(spark, writer, root):
    """Drain everything the source directory holds now."""
    stream = spark.readStream.schema(_CRASH_WRITERS[writer][0]).option(
        "recursiveFileLookup", True).parquet(str(root / "src"))
    _writer_run(writer, root, stream)


def _store_digests(spark, writer, root) -> dict:
    """sha256 of the sorted rows of every store the writer keeps."""
    import hashlib

    subs = {"ingest_dedup": ("corpus", "fps"), "scd2": ("store",),
            "vector_ingest": ("store", "models/books", "models/cells")}
    out = {}
    for sub in subs[writer]:
        df = spark.read.parquet(str(root / sub))
        cols = sorted(df.columns)
        rows = sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())
        out[sub] = (len(rows), hashlib.sha256(
            "\n".join([repr(cols)] + rows).encode()).hexdigest())
    return out


def _patch_parquet_writes(monkeypatch, crash_at=None) -> list:
    """Count DataFrameWriter.parquet calls; with ``crash_at``, the
    crash_at-th call raises after its write returned — the process
    dies between the store write and the checkpoint commit. Locked:
    the vector ingest's bootstrap writes its two models concurrently."""
    import threading

    from pyspark.sql.readwriter import DataFrameWriter

    real = DataFrameWriter.parquet
    lock = threading.Lock()
    calls = []

    def parquet(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        with lock:
            calls.append(path)
            n = len(calls)
        if n == crash_at:
            raise RuntimeError(f"injected crash after parquet write {n}")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return calls


@pytest.fixture(scope="module")
def uninterrupted_stores(spark, tmp_path_factory) -> dict:
    """Each writer's store digests after two uninterrupted drains."""
    out = {}
    with pytest.MonkeyPatch.context() as mp:
        for writer, spec in _CRASH_WRITERS.items():
            root = tmp_path_factory.mktemp(writer)
            writes = []
            for day in (1, 2):
                _land(spark, writer, root, day)
                calls = _patch_parquet_writes(mp)
                _drain(spark, writer, root)
                mp.undo()
                writes.append(len(calls))
            # every write of both drains has its crash case below
            assert tuple(writes) == spec[3]
            out[writer] = _store_digests(spark, writer, root)
    return out


@pytest.mark.parametrize("writer,day,crash_at", [
    (w, day, n) for w, spec in _CRASH_WRITERS.items()
    for day, n_writes in zip((1, 2), spec[3])
    for n in range(1, n_writes + 1)])
def test_store_writer_crash_replay_converges(
        spark, tmp_path, monkeypatch, uninterrupted_stores, writer, day,
        crash_at):
    """Crash a drain after its crash_at-th parquet write returns (before
    the checkpoint commit), rerun it unpatched from the same
    checkpoint, finish the remaining drains: every store — rows,
    and for the vector ingest its frozen books and cells — equals an
    uninterrupted run's."""
    from pyspark.errors import StreamingQueryException

    _land(spark, writer, tmp_path, 1)
    if day == 2:
        _drain(spark, writer, tmp_path)
        _land(spark, writer, tmp_path, 2)
    _patch_parquet_writes(monkeypatch, crash_at)
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _drain(spark, writer, tmp_path)
    monkeypatch.undo()
    _drain(spark, writer, tmp_path)
    if day == 1:
        _land(spark, writer, tmp_path, 2)
        _drain(spark, writer, tmp_path)
    assert (_store_digests(spark, writer, tmp_path)
            == uninterrupted_stores[writer])
