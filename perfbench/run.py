"""End-to-end benchmark of the pipeline engine.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. One closed-loop client in one process
calls the package's public entry points; the next op starts only after
the previous one returned and its output was checked. Op sequences are
count-bounded: ``--seconds`` fixes the op counts through a nominal op
duration, never a clock, so every run of a workload does the same work.

Workloads (see BENCHMARK.json for why each was chosen):

- ``etl_batch``: ``PipelineService.run_pipeline`` of a reference-shaped
  pipeline (parquet scan -> filter -> join to a non-root view ->
  aggregate -> sort -> parquet sink) over a ``tools/gen_fixture.py``
  clone; each output is compared with a DuckDB replay of the same SQL.
- ``vector_store``: ``streaming.ops.run_stream_vector_ingest`` drains of
  day files with planted near-duplicates into a store reset to its
  history snapshot before every drain, each followed by
  ``apply_operator("ann_pq", ...)`` probes served from the frozen models
  and stored codes.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``; also written to
``perfbench/_work/trace-<workload>-seed<seed>.json``).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

from spans import (Tracer, host_steal_s, read_event_log,  # noqa: E402
                   spark_counts)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"

WARM_GAIN = 0.05  # keep warming while an op beats the best so far by this


class Run:
    """State of one benchmark process: its pinned environment, its
    scratch directory, the Spark session and the op records."""

    def __init__(self, args) -> None:
        self.args = args
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.inputs_dir = WORK / "inputs"
        self.dir = WORK / f"run-{os.getpid()}"
        shutil.rmtree(self.dir, ignore_errors=True)
        for sub in ("tmp", "local", "events", "warehouse"):
            (self.dir / sub).mkdir(parents=True)
        cpus = min(4, len(os.sched_getaffinity(0)))
        self.env = {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": "3g",
            "SPARK_LOCAL_DIRS": str(self.dir / "local"),
            "PIPELINE_DB": str(self.dir / "pipelines.db"),
            "TMPDIR": str(self.dir / "tmp"),
            # every JVM (spark-submit's launcher, the driver) keeps its
            # temp files in the run directory, and none writes
            # /tmp/hsperfdata_<user>
            "JAVA_TOOL_OPTIONS":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.dir / 'tmp'}",
        }
        os.environ.update(self.env)
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        self.gen_s = 0.0
        self.setup_s = 0.0
        self.session_s = 0.0
        self.run_layers: dict = {}
        self.steal_at_ready = None
        self.spark = None
        self.tracer = Tracer()

    def start_spark(self):
        from blackroad_data_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.dir / "warehouse"),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (self.dir / "events").as_uri(),
            })
            self.tracer.install()
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.session_s = time.perf_counter() - t
        if self.trace:
            # an untraced op of a traced run detaches the event-log
            # listener from Spark's listener bus; detaching waits until
            # the listener has written every event already queued
            sc = self.spark.sparkContext._jsc.sc()
            bus, log = sc.listenerBus(), sc.eventLogger().get()
            self.tracer.log_switch = (lambda: bus.removeListener(log),
                                      lambda: bus.addToEventLogQueue(log))
        return self.spark

    def ready(self) -> None:
        """End of set-up: everything before the first timed op."""
        self.setup_s = time.perf_counter() - T_START - self.gen_s
        self.steal_at_ready = host_steal_s()

    def warm(self, one, min_n: int, max_n: int) -> None:
        """Run ``one()`` (returns an op record) until latency stops
        falling: at least ``min_n`` times, and on while the last op
        still beat every earlier one by ``WARM_GAIN``."""
        lat = []
        while len(lat) < max_n:
            lat.append(one()["latency_s"])
            if len(lat) >= min_n and lat[-1] > (1 - WARM_GAIN) * min(lat[:-1]):
                break

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and the Python workers the
        JVM started) to exit."""
        self.tracer.uninstall()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -- result -------------------------------------------------------------------

def timed(run: Run, kind: str) -> list[dict]:
    return [r for r in run.tracer.ops if r["kind"] == kind and r["timed"]]


def layer_metrics(run: Run, layers: dict, primary: str,
                  per_layer_kind: dict) -> tuple[dict, dict]:
    """Median per op of every layer metric, and its sample count.
    ``per_layer_kind`` maps a layer metric to the op kind it is
    measured on (default: the primary kind, whose latency is
    ``latency_p50_s``)."""
    from workloads import median

    log = read_event_log(run.dir / "events")
    for rec in run.tracer.ops:
        rec["spark"] = spark_counts(log, rec["t0"], rec["t1"])
        if rec["extra"].get("rows_out"):
            rec["spark"]["exec.scan_rows_per_probe"] = (
                rec["spark"]["exec.input_rows"] / rec["extra"]["rows_out"])
    out, counts = {}, {}
    for name in layers:
        kind = per_layer_kind.get(name, primary)
        vals = [{**r["layers"], **r["extra"], **r["spark"]}.get(name, 0.0)
                for r in timed(run, kind) if r["traced"]]
        out[name], counts[name] = median(vals), len(vals)
    per_run = {"session.start_s": run.session_s, **run.run_layers}
    out.update(per_run)
    counts.update(dict.fromkeys(per_run, 1))
    ops = timed(run, primary)
    on = [r["latency_s"] for r in ops if r["traced"]]
    off = [r["latency_s"] for r in ops if not r["traced"]]
    out["trace.overhead_s"] = median(on) - median(off)
    counts["trace.overhead_s"] = len(ops)
    return out, counts


def report(run: Run, metrics: dict, units: dict, counts: dict) -> dict:
    """Print every metric with its unit and sample count; return the
    result object. Warm-up ops are checked too, so they count in
    ``attempted`` and ``failed``."""
    ops = run.tracer.ops
    failed = [r for r in ops if r["error"]]
    for r in failed[:5]:
        print(f"FAILED {r['kind']}: {r['error']}", file=sys.stderr)
    for kind in sorted({r["kind"] for r in ops}):
        for timed in (False, True):
            lat = [r["latency_s"] for r in ops
                   if r["kind"] == kind and r["timed"] == timed]
            if lat:
                print(f"{run.args.workload} {kind} "
                      f"{'timed' if timed else 'warm-up'} latencies_s: "
                      + " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)
        steal = [r["steal_s"] for r in ops if r["kind"] == kind and r["timed"]]
        if steal and None not in steal:
            # not a metric: the ops a busy host slowed show here
            print(f"{run.args.workload} {kind} host steal per timed op "
                  f"(vCPU-s): " + " ".join(f"{x:.2f}" for x in steal),
                  file=sys.stderr)
    print(f"{run.args.workload} session start: {run.session_s:.2f} s, "
          f"input generation: {run.gen_s:.2f} s", file=sys.stderr)
    steal = host_steal_s()
    if steal is not None and run.steal_at_ready is not None:
        # not a metric: a run slowed by a busy host shows it here
        print(f"{run.args.workload} host steal during timed ops: "
              f"{steal - run.steal_at_ready:.1f} vCPU-s", file=sys.stderr)
    for name, value in metrics.items():
        print(f"{run.args.workload} {name} = {value:.6g} {units[name]}"
              f"  (n={counts.get(name, 1)})")
    return {"correct": not failed, "attempted": len(ops),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def main(argv=None) -> int:
    # workloads and metric names/units are declared once, in BENCHMARK.json
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("blackroad_data_pipeline_spark",
                           "tools/gen_fixture.py") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not in a checkout of the repository "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    import workloads

    run = Run(args)
    try:
        metrics, counts, primary, per_layer_kind = getattr(
            workloads, args.workload)(run)
        run.stop()
        if args.trace:
            values, layer_counts = layer_metrics(run, layers, primary,
                                                 per_layer_kind)
            result = report(run, values, layers, layer_counts)
            trace_file = WORK / f"trace-{args.workload}-seed{args.seed}.json"
            trace_file.write_text(json.dumps({
                "workload": args.workload, "seed": args.seed,
                "env": run.env, "per_layer": values,
                "samples": layer_counts,
                "ops": run.tracer.ops}, indent=1, default=str))
        else:
            result = report(run, metrics, e2e, counts)
    finally:
        run.stop()
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
