"""Per-layer tracing for the ``--trace 1`` run.

Spans are recorded from the benchmark's side, around calls into each
module of the package, by replacing the names where the caller looks
them up: ``service.read_source`` / ``apply_operator`` / ``write_sink``
are bound at import, ``streaming.ops`` imports
``operators.apply_operator`` at call time, and ``Catalog`` methods are
looked up on the class. No file of the package is edited.

Spark job, stage and task numbers come from the session's event log,
attributed to ops by time window (ops never overlap in the closed loop).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

# apply_operator names -> the similarity layer they belong to; any other
# operator is plan construction of the operators layer
SIMILARITY_LAYER = {
    "dedup_embedding": "similarity.dedup_build_s",
    "dedup_embedding_against": "similarity.dedup_build_s",
    "dequantize_embedding": "similarity.dedup_build_s",
    "quantize_embedding": "similarity.encode_build_s",
    "pq_encode": "similarity.encode_build_s",
    "ivf_assign": "similarity.encode_build_s",
    "ann_pq": "similarity.ann_pq_build_s",
}


def host_steal_s() -> float | None:
    """CPU seconds the hypervisor took from this machine's vCPUs so far
    (summed over vCPUs), or None where /proc/stat has no steal column."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


class Tracer:
    """Per-op span sums. ``op()`` opens an op record; once ``install()``
    has wrapped the package's names, wrapped calls add their duration to
    the open record of a traced op."""

    def __init__(self) -> None:
        self.ops: list[dict] = []
        self.current: dict | None = None
        self._undo: list = []
        # (detach, attach) of the Spark event log; set in a traced run
        self.log_switch = None

    @contextmanager
    def op(self, kind: str, timed: bool, traced: bool = True):
        """Record one op; ``timed`` is false for warm-up ops. An op with
        ``traced`` false runs as in an untraced run: no spans, and the
        event log detached (outside the timed region). An exception
        inside the op is recorded as its error, so callers test
        ``rec["error"]`` first."""
        rec = {"kind": kind, "timed": timed, "traced": traced,
               "layers": {}, "extra": {}, "error": None}
        if not traced and self.log_switch:
            self.log_switch[0]()
        self.current = rec if traced else None
        rec["t0"] = time.time()
        steal = host_steal_s()
        t = time.perf_counter()
        try:
            yield rec
        except Exception as e:  # an op that raises counts as failed
            rec["error"] = f"raised {e!r}"[:500]
        finally:
            rec["latency_s"] = time.perf_counter() - t
            rec["t1"] = time.time()
            end = host_steal_s()
            rec["steal_s"] = (None if steal is None or end is None
                              else end - steal)
            self.current = None
            self.ops.append(rec)
            if not traced and self.log_switch:
                self.log_switch[1]()

    def add(self, layer: str, seconds: float) -> None:
        if self.current is not None:
            layers = self.current["layers"]
            layers[layer] = layers.get(layer, 0.0) + seconds

    def _wrap(self, layer_of, fn):
        def wrapped(*args, **kwargs):
            if self.current is None:
                return fn(*args, **kwargs)
            t = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.add(layer_of(args), time.perf_counter() - t)
        return wrapped

    def _patch(self, owner, name: str, layer_of) -> None:
        orig = getattr(owner, name)
        self._undo.append((owner, name, orig))
        setattr(owner, name, self._wrap(layer_of, orig))

    def install(self) -> None:
        from blackroad_data_pipeline_spark import catalog, operators, service

        self._patch(service, "read_source", lambda a: "sources.read_s")
        self._patch(service, "apply_operator", lambda a: "operators.build_s")
        self._patch(service, "write_sink", lambda a: "sinks.write_s")
        self._patch(operators, "apply_operator",
                    lambda a: SIMILARITY_LAYER.get(a[0], "operators.build_s"))
        for name, attr in list(vars(catalog.Catalog).items()):
            if callable(attr) and not name.startswith("_"):
                self._patch(catalog.Catalog, name, lambda a: "catalog.s")

    def uninstall(self) -> None:
        while self._undo:
            owner, name, orig = self._undo.pop()
            setattr(owner, name, orig)


def read_event_log(log_dir: Path) -> dict:
    """Jobs, stages and tasks of a finished Spark application."""
    jobs, stages, tasks = [], [], []
    # a rolling (v2) log is a directory of events_<n>_<app> files
    files = [f for f in sorted(log_dir.rglob("*"))
             if f.is_file() and not f.name.startswith(("appstatus", "."))]
    for f in files:
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.append({
                        "id": (info["Stage ID"], info["Stage Attempt ID"]),
                        "t0": info["Submission Time"] / 1000,
                        "t1": info["Completion Time"] / 1000,
                        "tasks": info["Number of Tasks"]})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append({
                        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                        "t0": info["Launch Time"] / 1000,
                        "dur": (info["Finish Time"] - info["Launch Time"]) / 1000,
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Disk Bytes Spilled", 0),
                        "input_rows": (m.get("Input Metrics") or {})
                        .get("Records Read", 0)})
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def spark_counts(log: dict, t0: float, t1: float) -> dict:
    """Spark work whose start falls inside [t0, t1]."""
    def inside(t):
        return t0 <= t <= t1

    stages = [s for s in log["stages"] if inside(s["t0"])]
    tasks = [t for t in log["tasks"] if inside(t["t0"])]
    skew = 1.0
    if stages:
        longest = max(stages, key=lambda s: s["t1"] - s["t0"])
        durs = [t["dur"] for t in tasks if t["stage"] == longest["id"]]
        med = statistics.median(durs) if durs else 0.0
        if med > 0:
            skew = max(durs) / med
    return {
        "spark.jobs": sum(1 for j in log["jobs"] if inside(j)),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "exec.task_s": sum(t["run_s"] for t in tasks),
        "exec.shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "exec.spill_bytes": sum(t["spill_bytes"] for t in tasks),
        "exec.task_skew": skew,
        "exec.input_rows": sum(t["input_rows"] for t in tasks),
    }
