"""Output checks. Each returns None when the output is right and a
one-line reason when it is not; a failed check counts the op as failed.

They read outputs with pyarrow, never through Spark, so checking adds
no Spark jobs to the event log the traced run attributes to ops.
"""

from __future__ import annotations

import math
from pathlib import Path

import pyarrow.parquet as pq

REL_TOL = 1e-9  # double sums differ in summation order between engines


def read_parts(path: Path) -> list[dict]:
    """Rows of a Spark parquet output directory, in part-file order."""
    rows: list[dict] = []
    for part in sorted(Path(path).glob("part-*.parquet")):
        rows.extend(pq.read_table(part).to_pylist())
    return rows


def check_etl(rows: list[dict], expected: list[dict]) -> str | None:
    """``rows`` must hold exactly the expected (o_custkey, revenue, n)
    groups, in descending revenue order."""
    if len(rows) != len(expected):
        return f"{len(rows)} rows, expected {len(expected)}"
    want = {r["o_custkey"]: r for r in expected}
    seen = set()
    for r in rows:
        k = r.get("o_custkey")
        e = want.get(k)
        if e is None or k in seen:
            return f"unexpected or repeated o_custkey {k!r}"
        seen.add(k)
        if r["n"] != e["n"]:
            return f"o_custkey {k}: n={r['n']}, expected {e['n']}"
        if not math.isclose(r["revenue"], e["revenue"], rel_tol=REL_TOL):
            return f"o_custkey {k}: revenue={r['revenue']}, expected {e['revenue']}"
    for a, b in zip(rows, rows[1:]):
        if a["revenue"] < b["revenue"]:
            return f"not sorted by revenue desc at o_custkey {b['o_custkey']}"
    return None


def check_kept(kept_ids, expected_ids) -> str | None:
    """A drain must store exactly the day's ids minus its planted copies."""
    kept, want = sorted(kept_ids), sorted(expected_ids)
    if kept == want:
        return None
    extra = sorted(set(kept) - set(want))[:3]
    missing = sorted(set(want) - set(kept))[:3]
    return (f"kept {len(kept)} ids, expected {len(want)} "
            f"(extra {extra}, missing {missing})")


def check_probe(result_ids: list, probe_id: int, k: int) -> str | None:
    """Probing with a stored vector must return that vector first."""
    if not result_ids or result_ids[0] != probe_id:
        return f"probe {probe_id}: top-1 {result_ids[:1]}"
    if len(result_ids) != k:
        return f"probe {probe_id}: {len(result_ids)} results, expected {k}"
    return None
