"""Dump .explain("formatted") for named contract queries to
plans/<tag>/<query>_<suffix>.txt (round-13 optimization evidence).

Usage: python tools/capture_plans.py <tag> <suffix> q1 q2 ...
The plans are those of the session as configured: single-row-group
fixture files scan as one partition, so kernels carry the fan-out
exchange (operators/parallel.py) that an at-scale table never gets.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from blackroad_data_pipeline_spark.session import get_spark


def main() -> None:
    tag, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    queries = dict(entry_mod.queries())
    try:  # bench-only scale probes are capturable too (round 14)
        import bench
        queries.update(bench.SCALE_PROBES)
    except Exception:
        pass
    for name in names:
        df = queries[name](spark, sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text.splitlines())} lines)")


if __name__ == "__main__":
    main()
