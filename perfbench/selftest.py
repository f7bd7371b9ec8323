"""Self-test of the output checks: each accepts a right output and
rejects a corrupted one. Needs no Spark.

Run: python3 perfbench/selftest.py
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from checks import check_etl, check_kept, check_probe, read_parts


def _etl_cases() -> None:
    good = [{"o_custkey": 7, "revenue": 300.5, "n": 3},
            {"o_custkey": 2, "revenue": 200.25, "n": 2},
            {"o_custkey": 9, "revenue": 10.0, "n": 1}]
    expected = sorted(good, key=lambda r: r["o_custkey"])
    with tempfile.TemporaryDirectory() as d:
        # two part files, read back in part order
        pq.write_table(pa.Table.from_pylist(good[:2]),
                       Path(d) / "part-00000-x.snappy.parquet")
        pq.write_table(pa.Table.from_pylist(good[2:]),
                       Path(d) / "part-00001-x.snappy.parquet")
        (Path(d) / "_SUCCESS").touch()
        assert check_etl(read_parts(Path(d)), expected) is None
    assert check_etl(good[:2], expected), "dropped row accepted"
    assert check_etl(good + good[:1], expected), "extra row accepted"
    bad = [dict(r) for r in good]
    bad[1]["revenue"] *= 1.000001
    assert check_etl(bad, expected), "wrong sum accepted"
    bad = [dict(r) for r in good]
    bad[2]["n"] += 1
    assert check_etl(bad, expected), "wrong count accepted"
    assert check_etl(good[::-1], expected), "wrong order accepted"
    bad = [dict(r) for r in good]
    bad[0]["o_custkey"] = 8
    assert check_etl(bad, expected), "wrong key accepted"


def _vector_cases() -> None:
    want = [5, 1, 3]
    assert check_kept([1, 3, 5], want) is None
    assert check_kept([1, 3], want), "missing id accepted"
    assert check_kept([1, 3, 5, 9], want), "kept planted copy accepted"
    assert check_probe([4] + list(range(10, 19)), 4, 10) is None
    assert check_probe([10, 4] + list(range(11, 19)), 4, 10), \
        "wrong top-1 accepted"
    assert check_probe([], 4, 10), "empty result accepted"
    assert check_probe([4, 10], 4, 10), "short result accepted"


def main() -> int:
    _etl_cases()
    _vector_cases()
    print("checks: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
