"""Plan-quality tooling: make the physical plan a testable artifact."""

from .quality import (  # noqa: F401
    arrow_kernels,
    arrow_python_nodes,
    assert_broadcast_join,
    assert_exchange_reuse,
    assert_max_shuffles,
    assert_no_cartesian,
    assert_no_row_python,
    assert_pruned_scan,
    assert_pushed_filter,
    codegen_stage_count,
    exchange_count,
    explain_text,
    has_node,
    join_strategies,
    pushed_filters,
    reused_exchange_count,
    row_python_nodes,
    scan_read_schemas,
    shuffle_exchange_count,
)
