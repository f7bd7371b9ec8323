"""Physical-plan quality inspection.

The reference has no optimizer and nothing to inspect (SURVEY.md §4);
in this engine the plan IS the performance contract, so we make the
properties that matter at 100 TB checkable in code and CI:

- predicates pushed into the parquet scan (``PushedFilters``),
- column pruning reaching the scan (``ReadSchema``),
- broadcast vs shuffled join choice,
- shuffle (Exchange) count per query,
- no row-at-a-time Python in the hot path (``BatchEvalPython``),
- whole-stage codegen coverage.

These parse Spark's ``explain`` output rather than poking at JVM
internals, so they track exactly what an engineer would eyeball with
``df.explain("formatted")`` — but as assertions a test suite can hold.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

# row-at-a-time Python evaluation — the slow path we ban from core
# operators; Arrow-batched nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas) are the sanctioned escape hatch
_ROW_PYTHON_NODES = ("BatchEvalPython",)
_ARROW_PYTHON_NODES = ("ArrowEvalPython", "MapInPandas",
                       "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas")
# a numbered Arrow node's header line of the formatted explain; a node
# inside a whole-stage-codegen subtree prints ` [codegen id : N]` too
_ARROW_NODE_HEAD = (rf"^\(\d+\) ({'|'.join(_ARROW_PYTHON_NODES)})"
                    r"(?: \[codegen id : \d+\])?$")


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """``df.explain(mode)`` as a string."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _split_top_level(s: str) -> list[str]:
    """Split on commas outside any bracket nesting — predicates like
    In(status, [a,b]) must stay one fragment."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return [p for p in parts if p]


def pushed_filters(df: DataFrame) -> list[str]:
    """Every predicate Spark pushed into a file scan, flattened across
    all scan nodes. Empty list on a plan whose scans push nothing —
    which for a filtered parquet read is a performance bug."""
    text = explain_text(df)
    out: list[str] = []
    # greedy-to-line-end: nested ']' inside In(col, [a,b]) must not
    # truncate the capture
    for m in re.finditer(r"PushedFilters: \[(.*)\]", text):
        out.extend(_split_top_level(m.group(1)))
    return out


def scan_read_schemas(df: DataFrame) -> list[str]:
    """The ``ReadSchema`` of each file scan — what actually gets read
    off disk after column pruning."""
    return re.findall(r"ReadSchema: (\S+)", explain_text(df))


def exchange_count(df: DataFrame) -> int:
    """Number of distinct Exchange (shuffle/broadcast-exchange) nodes
    in the physical plan. Counts plan nodes, not string mentions."""
    text = explain_text(df)
    return len(re.findall(r"^\s*\(\d+\)\s+(?:Exchange|ShuffleQueryStage)", text, re.M))


def shuffle_exchange_count(df: DataFrame) -> int:
    """Shuffles only (hash/range partitioning), excluding broadcast
    exchanges — the number that grows your 100 TB bill."""
    text = explain_text(df)
    n = 0
    for m in re.finditer(r"^\s*\(\d+\)\s+Exchange\b.*$", text, re.M):
        if "broadcast" not in m.group(0).lower():
            n += 1
    return n


def reused_exchange_count(df: DataFrame) -> int:
    """``ReusedExchange`` nodes — when N plan branches need the same
    shuffle output, Spark's ReuseExchange rule keeps ONE Exchange and
    replaces the other N-1 consumers with ReusedExchange references.
    Self-joins built on a shared ``.repartition(key)`` (the LSH bucket
    joins) rely on this: without reuse each branch re-executes the
    whole upstream plan — including the signature kernel — per
    consumer (measured 3.6x on candidate generation)."""
    text = explain_text(df)
    return len(re.findall(r"^\s*\(\d+\)\s+ReusedExchange", text, re.M))


def join_strategies(df: DataFrame) -> list[str]:
    """Join node types in plan order, e.g. ['BroadcastHashJoin',
    'SortMergeJoin']."""
    text = explain_text(df)
    return re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b",
        text,
    )


def row_python_nodes(df: DataFrame) -> list[str]:
    """Row-at-a-time Python eval nodes (the ~100x-slower-than-Arrow
    path). Core relational operators must return []."""
    text = explain_text(df)
    return [n for n in _ROW_PYTHON_NODES if n in text]


def arrow_python_nodes(df: DataFrame) -> list[str]:
    """The type of each Arrow-batched Python node in the physical plan,
    one entry per node — allowed, but worth counting: a kernel planned
    twice appears twice. Reads the numbered node details of the
    formatted explain, so a node is counted once however the tree
    prints it."""
    return re.findall(_ARROW_NODE_HEAD, explain_text(df), re.M)


# one numbered Arrow node of the formatted explain, up to its
# Arguments line (the Python function calls, plus attribute lists):
# (node type, arguments)
_ARROW_NODE_ARGS = re.compile(
    _ARROW_NODE_HEAD.removesuffix("$") + r"\n"
    r"(?:(?!\(\d+\) ).*\n)*?Arguments: (.*)$", re.M)


def arrow_kernels(df: DataFrame) -> list[str]:
    """The Python function of each Arrow node in the physical plan,
    sorted, one entry per call — an ArrowEvalPython node evaluating two
    UDFs contributes both. A kernel planned twice (two branches that
    each recompute it, say) appears twice. A call prints as
    ``name(args)#exprId`` inside the node's Arguments; attribute lists
    and the result slots (``pythonUDF0#12``) carry no call."""
    out = []
    for _, args in _ARROW_NODE_ARGS.findall(explain_text(df)):
        for part in _split_top_level(args):
            calls = (_split_top_level(part[1:-1]) if part.startswith("[")
                     else [part])
            out += [m.group(1) for c in calls
                    if (m := re.match(r"(\w+)\(.*\)#\d+\w*$", c))]
    return sorted(out)


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans — fused JVM loops. More rows
    per span = fewer virtual calls; 0 on a non-trivial relational plan
    means something is blocking codegen. The AQE wrapper reports 0
    subtrees before execution, so the plan is re-planned (a fresh
    trivial-filter clone, physical planning is lazy) with AQE off
    just for this inspection."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        text = explain_text(df.filter(F.lit(True)), mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", text)
    return int(m.group(1)) if m else 0


def has_node(df: DataFrame, node: str) -> bool:
    """True if the physical plan contains a node type by name
    (e.g. 'WindowGroupLimit', 'HashAggregate')."""
    return node in explain_text(df)


# ------------------------------------------------------------------
# assertion helpers (for tests / CI plan gates)
# ------------------------------------------------------------------


def assert_pushed_filter(df: DataFrame, column: str) -> None:
    filters = pushed_filters(df)
    assert any(column in f for f in filters), (
        f"no pushed filter mentions {column!r}; pushed={filters}\n"
        f"{explain_text(df)}"
    )


def assert_pruned_scan(df: DataFrame, must_not_read: str) -> None:
    schemas = scan_read_schemas(df)
    assert schemas, "no file scan in plan"
    assert all(must_not_read not in s for s in schemas), (
        f"scan still reads {must_not_read!r}: {schemas}"
    )


def assert_no_row_python(df: DataFrame) -> None:
    nodes = row_python_nodes(df)
    assert not nodes, f"row-at-a-time Python in hot path: {nodes}"


def assert_broadcast_join(df: DataFrame) -> None:
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, (
        f"expected a broadcast hash join, got {strategies}"
    )


def assert_no_cartesian(df: DataFrame) -> None:
    strategies = join_strategies(df)
    bad = [s for s in strategies if s in ("BroadcastNestedLoopJoin", "CartesianProduct")]
    assert not bad, f"unscalable join strategy in plan: {strategies}"


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = shuffle_exchange_count(df)
    assert got <= n, f"plan has {got} shuffles, budget is {n}:\n{explain_text(df)}"


def assert_exchange_reuse(df: DataFrame, min_reused: int = 1) -> None:
    """Assert the plan shares at least ``min_reused`` exchanges across
    branches (self-join candidate generation must not re-execute its
    upstream per branch)."""
    got = reused_exchange_count(df)
    assert got >= min_reused, (
        f"plan has {got} ReusedExchange nodes, expected >= {min_reused} "
        f"— a shared shuffle is being re-executed per consumer:\n"
        f"{explain_text(df)}"
    )
