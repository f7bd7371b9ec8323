"""The two workloads. Each takes a ``run.Run``, drives the package's
public entry points in a closed loop and returns ``(end-to-end metrics,
their sample counts, the primary op kind, {layer metric: op kind})``;
the primary kind is the op whose latency is ``latency_p50_s``.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path
from statistics import median as _median

import numpy as np
import pyarrow.parquet as pq

from checks import check_etl, check_kept, check_probe, read_parts
from inputs import etl_inputs, ingest_defaults, vec_inputs

ETL_NOMINAL_S = 1.5     # nominal etl_batch op: ops = seconds / this, >= 8
WARM_OPS = (3, 5)       # min, max warm-up etl_batch ops
CYCLE_NOMINAL_S = 7.5   # nominal vector_store cycle (drain + probes), >= 4
PROBES = 3              # ann_pq probes after each drain
WARM_PROBES = (4, 8)    # min, max warm-up probes
K, RERANK = 10, 40
WARM_CYCLE = 1_000_000  # probe-id stream of the warm-up (timed cycles count from 0)
VEC_SCHEMA = "vec_id long, embedding array<float>"


def median(xs) -> float:
    return _median(xs) if xs else 0.0  # 0 only when every op failed


def _data_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("part-*"))


def _traced(run, i: int) -> bool:
    # a traced run alternates traced and untraced ops of the primary
    # kind; the difference of their median latencies is trace.overhead_s
    return not run.trace or i % 2 == 0


# -- etl_batch ----------------------------------------------------------------

def etl_batch(run):
    from blackroad_data_pipeline_spark.service import PipelineService

    data, meta, run.gen_s = etl_inputs(run.inputs_dir, run.seed)
    expected = pq.read_table(data / "expected.parquet").to_pylist()
    out = run.dir / "etl_out"

    svc = PipelineService(run.start_spark())
    pid = svc.create_pipeline("perfbench_etl_batch").id
    svc.add_source(pid, "lineitem", "parquet",
                   {"path": str(data / "lineitem.parquet")})
    svc.add_source(pid, "orders", "parquet",
                   {"path": str(data / "orders.parquet")}, root=False)
    svc.add_transform(pid, "filter",
                      {"field": "l_quantity", "op": "gt", "value": 10}, 0)
    svc.add_transform(pid, "join", {"right": "orders", "prefix": "",
                                    "left_key": "l_orderkey",
                                    "right_key": "o_orderkey"}, 1)
    svc.add_transform(pid, "aggregate", {"group_by": ["o_custkey"], "aggregates": [
        {"field": "l_extendedprice", "function": "sum", "alias": "revenue"},
        {"field": "l_orderkey", "function": "count", "alias": "n"}]}, 2)
    svc.add_transform(pid, "sort", {"field": "revenue", "descending": True}, 3)
    svc.add_sink(pid, "parquet", {"path": str(out)})

    def one(timed: bool, traced: bool = True) -> dict:
        with run.tracer.op("pipeline", timed, traced) as rec:
            res = svc.run_pipeline(pid)
        if not rec["error"] and res["status"] != "success":
            rec["error"] = f"run_pipeline: {res.get('error')}"
        if not rec["error"]:
            rec["error"] = check_etl(read_parts(out), expected)
            rec["extra"]["bytes_ratio"] = _data_bytes(out) / meta["input_bytes"]
        return rec

    run.warm(lambda: one(False), *WARM_OPS)
    run.ready()
    n = max(8, round(run.args.seconds / ETL_NOMINAL_S))
    recs = [one(True, _traced(run, i)) for i in range(n)]

    ok = [r for r in recs if not r["error"]]
    p50 = median([r["latency_s"] for r in recs])
    metrics = {
        "setup_s": run.setup_s,
        "latency_p50_s": p50,
        # rows of the median op, times the share of ops that succeeded:
        # a median, like every timing here, so a short burst of host load
        # moves it less than a sum over all ops would
        "rows_per_s": meta["input_rows"] * len(ok) / len(recs) / p50,
        "bytes_written_per_input_byte":
            median([r["extra"]["bytes_ratio"] for r in ok]),
    }
    counts = {"latency_p50_s": n, "rows_per_s": n,
              "bytes_written_per_input_byte": len(ok)}
    return metrics, counts, "pipeline", {}


# -- vector_store -------------------------------------------------------------

def vector_store(run):
    from blackroad_data_pipeline_spark import operators
    from blackroad_data_pipeline_spark.streaming.ops import (
        run_stream_vector_ingest)

    data, meta, run.gen_s = vec_inputs(run.inputs_dir, run.seed)
    # the ingest runs with its package defaults (dedup threshold, LSH
    # geometry, PQ/IVF shape); probes serve the same PQ/IVF shape
    ingest = ingest_defaults()
    vecs = {}
    for f in ["history.parquet"] + [d["file"] for d in meta["days"]]:
        t = pq.read_table(data / f)
        vecs.update(zip(t.column("vec_id").to_pylist(),
                        t.column("embedding").to_pylist()))
    hist_ids = list(range(meta["history"]))

    spark = run.start_spark()
    live = {k: run.dir / k for k in ("src", "store", "ckpt")}
    snap = {k: run.dir / "snapshot" / k for k in live}
    models = run.dir / "models"
    live["src"].mkdir()

    def drain():
        stream = spark.readStream.schema(VEC_SCHEMA).parquet(str(live["src"]))
        return run_stream_vector_ingest(stream, str(live["store"]),
                                        str(live["ckpt"]), str(models))

    def kept_ids(batch: int) -> list:
        return pq.read_table(live["store"] / f"__ingest_batch={batch}",
                             columns=["vec_id"]).column("vec_id").to_pylist()

    # The store every timed drain starts from holds the history, written
    # by two drains: the bootstrap drain of its first BATCH vectors trains
    # and freezes the PQ books and IVF cells, and a drain of the rest runs
    # the serving path once, which is the drain warm-up (the first drain
    # after the bootstrap is the slowest of the drains that follow it).
    hist = pq.read_table(data / "history.parquet")
    parts = [hist.slice(0, meta["batch"]), hist.slice(meta["batch"])]
    for batch, part in enumerate(parts):
        pq.write_table(part, live["src"] / f"history{batch}.parquet")
        with run.tracer.op(("bootstrap", "drain")[batch], False) as rec:
            drain()
        want = part.column("vec_id").to_pylist()
        rec["error"] = rec["error"] or check_kept(kept_ids(batch), want)
        if rec["error"]:
            raise RuntimeError(f"history drain {batch}: {rec['error']}")
        if batch == 0:
            run.run_layers["similarity.train_s"] = rec["latency_s"]
    day_batch = len(parts)  # the batch id of every timed drain
    for k in live:
        shutil.copytree(live[k], snap[k])
    books = spark.read.parquet(str(models / "books"))
    cells = spark.read.parquet(str(models / "cells"))

    def drain_day(day: dict, timed: bool) -> dict:
        for k in live:  # reset the store, outside the timed region
            shutil.rmtree(live[k])
            shutil.copytree(snap[k], live[k])
        shutil.copy(data / day["file"], live["src"] / "day.parquet")
        with run.tracer.op("drain", timed) as rec:
            q = drain()
        if rec["error"]:
            return rec
        dur = (q.lastProgress or {}).get("durationMs", {})
        rec["extra"].update({
            "streaming.drain_s": rec["latency_s"],
            "streaming.batch_s": dur.get("addBatch", 0) / 1000,
            "streaming.overhead_s":
                (dur.get("triggerExecution", 0) - dur.get("addBatch", 0)) / 1000,
            "store.bytes_written":
                _data_bytes(live["store"] / f"__ingest_batch={day_batch}"),
        })
        rec["extra"]["bytes_ratio"] = (rec["extra"]["store.bytes_written"]
                                       / (data / day["file"]).stat().st_size)
        rec["error"] = check_kept(kept_ids(day_batch), day["keep"])
        return rec

    def probe(vec_id: int, timed: bool, traced: bool = True) -> dict:
        cfg = {"probe": vecs[vec_id], "k": K, "rerank": RERANK,
               "dim": ingest["dim"], "m": ingest["m"], "ks": ingest["ks"],
               "n_cells": ingest["n_cells"], "nprobe": 2,
               "books": books, "cells": cells}
        with run.tracer.op("probe", timed, traced) as rec:
            cfg["codes"] = spark.read.parquet(str(live["store"]))
            corpus = spark.read.parquet(str(live["src"]))
            plan = operators.apply_operator("ann_pq", corpus, cfg)
            t = time.perf_counter()
            rows = plan.collect()
            run.tracer.add("serve.collect_s", time.perf_counter() - t)
        if rec["error"]:
            return rec
        ids = [r["vec_id"] for r in rows]
        rec["extra"]["rows_out"] = len(ids)
        rec["error"] = check_probe(ids, vec_id, K)
        return rec

    def probe_ids(cycle: int, pool: list, n: int = PROBES) -> list:
        rng = np.random.default_rng([run.seed, cycle])
        return [pool[i] for i in rng.choice(len(pool), n, replace=False)]

    # warm-up: probes until probe latency stops falling
    warm_ids = iter(probe_ids(WARM_CYCLE, hist_ids, WARM_PROBES[1]))
    run.warm(lambda: probe(next(warm_ids), False), *WARM_PROBES)
    run.ready()

    days = meta["days"]
    cycles = max(4, round(run.args.seconds / CYCLE_NOMINAL_S))
    drains, probes = [], []
    for c in range(cycles):
        day = days[c % len(days)]
        drains.append(drain_day(day, True))
        for vid in probe_ids(c, hist_ids + day["keep"]):
            probes.append(probe(vid, True, _traced(run, len(probes))))

    ok = [r for r in drains if not r["error"]]
    metrics = {
        "setup_s": run.setup_s,
        "latency_p50_s": median([r["latency_s"] for r in probes]),
        "rows_per_s": meta["batch"] * len(ok) / len(drains)
        / median([r["latency_s"] for r in drains]),
        "bytes_written_per_input_byte":
            median([r["extra"]["bytes_ratio"] for r in ok]),
    }
    counts = {"latency_p50_s": len(probes),
              "rows_per_s": len(drains),
              "bytes_written_per_input_byte": len(ok)}
    per_layer_kind = {name: "drain" for name in (
        "spark.jobs", "spark.stages", "spark.tasks", "exec.task_s",
        "exec.shuffle_bytes", "exec.spill_bytes", "exec.task_skew",
        "streaming.drain_s", "streaming.batch_s", "streaming.overhead_s",
        "similarity.dedup_build_s", "similarity.encode_build_s",
        "store.bytes_written")}
    return metrics, counts, "probe", per_layer_kind
