"""Plan-quality report over every contract query.

Prints a table of the physical-plan properties that matter at 100 TB
(shuffle count, join strategies, Python eval nodes and their
kernels, codegen spans, pushed filters) for each
`__spark_entry__.queries()` entry at sf0.001, and writes PLANS.md. Complements tests/test_plans.py (which gates the
key properties) with full-surface visibility.

Usage: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from blackroad_data_pipeline_spark import plans
from blackroad_data_pipeline_spark.session import get_spark


def _kernels(df) -> str:
    counts = Counter(plans.arrow_kernels(df))
    return ", ".join(k if n == 1 else f"{k}×{n}"
                     for k, n in sorted(counts.items())) or "—"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_report")
    # Report the AT-SCALE plan: the adaptive kernel fan-out
    # (operators/parallel.py) only fires when the scan yields fewer
    # partitions than the session has cores — true of every
    # single-row-group sf0.001 file, never of a real at-scale table.
    # Splitting the fixture files by bytes (no per-file open cost, at
    # least defaultParallelism partitions per scan) gives the at-scale
    # width, where fan_out is a no-op; tests/test_plans.py gates the
    # same shape.
    spark.conf.set("spark.sql.files.minPartitionNum",
                   str(spark.sparkContext.defaultParallelism))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    # Report plans with AQE OFF: the AdaptiveSparkPlan explain repeats
    # each shared Exchange per consuming branch (the ReuseExchange
    # dedup only happens at stage-materialization time under AQE), so
    # AQE-on counts double-charge every self-join built on a shared
    # repartition — r2's "ngram_jaccard: 49 shuffles" was this
    # artifact. The static optimizer applies ReuseExchange, so the
    # shuffles column below is distinct exchanges actually executed,
    # and `reused` counts the extra consumers served by them (runtime
    # AQE reuse is gated in tests/test_plans.py).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    lines = [
        "# PLANS — physical-plan quality per contract query",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}`. Columns:",
        "shuffles (DISTINCT hash/range exchanges — broadcast excluded,",
        "ReuseExchange-deduplicated: AQE-off plan), reused (extra",
        "consumers served by a shared exchange — branches that would",
        "re-execute their upstream without reuse), joins (strategy",
        "list), pyrow (row-at-a-time Python nodes — must be 0), arrow",
        "(Arrow-batched Python nodes — the sanctioned escape hatch),",
        "kernels (the Python function of each Arrow node, ×n when one is",
        "planned n times — `plans.arrow_kernels`), codegen",
        "(WholeStageCodegen spans), pushed (predicates reaching a file",
        "scan).",
        "",
        "Reading notes: a BroadcastNestedLoopJoin in the ANN probes is the",
        "intended shape — it broadcasts a SINGLE probe row against the scan",
        "(a constant-space pass), not a table-by-table cross product.",
        "Iterative ops (connected components) execute their loop at build",
        "time and return a checkpointed result, so their reported plan is",
        "the post-fixpoint consumer plan.",
        "",
        "| query | shuffles | reused | joins | pyrow | arrow | kernels "
        "| codegen | pushed |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            row = (
                f"| {name} "
                f"| {plans.shuffle_exchange_count(df)} "
                f"| {plans.reused_exchange_count(df)} "
                f"| {', '.join(plans.join_strategies(df)) or '—'} "
                f"| {len(plans.row_python_nodes(df))} "
                f"| {len(plans.arrow_python_nodes(df))} "
                f"| {_kernels(df)} "
                f"| {plans.codegen_stage_count(df)} "
                f"| {len(plans.pushed_filters(df))} |"
            )
        except Exception as e:  # noqa: BLE001 — report, don't abort the table
            row = f"| {name} | ERROR: {type(e).__name__}: {e} | | | | | | | |"
        lines.append(row)
        print(row)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"\nwrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
