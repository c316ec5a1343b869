"""Result checks for the benchmark's queries.

A query with a DuckDB oracle is compared through the repository's own
``tests/oracle_check.py::compare_one``.  A rows-only query is compared
with an order-insensitive checksum of its rows, recorded from a known
good commit in ``checksums.json``.

Record the checksums (for every rows-only query of every workload, at
the workload's scale and at the smoke-test scale) with::

    python3 perfbench/check.py --record
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
CHECKSUMS = BENCH_DIR / "checksums.json"


def _oracle_check():
    # the module puts its own entry on sys.path when imported; keep ours,
    # so later imports still resolve inside this checkout
    saved = list(sys.path)
    sys.path.insert(0, str(ROOT / "tests"))
    import oracle_check

    sys.path[:] = saved
    return oracle_check


def rows_checksum(df) -> tuple[int, str]:
    oc = _oracle_check()
    rows = [tuple(r) for r in df.collect()]
    digest = hashlib.sha256("\n".join(oc.rows_to_multiset(rows, df.columns)).encode()).hexdigest()
    return len(rows), digest


class _TimedConnection:
    """DuckDB connection that keeps its own query time apart, so the
    oracle's work is not counted as the program's."""

    def __init__(self, con):
        self.con = con
        self.seconds = 0.0

    def execute(self, sql):
        t0 = time.perf_counter()
        frame = self.con.execute(sql).df()
        self.seconds += time.perf_counter() - t0
        return _Fetched(frame)


class _Fetched:
    def __init__(self, frame):
        self.frame = frame

    def df(self):
        return self.frame


class Checker:
    """Checks one query execution at a time against its oracle or its
    recorded checksum."""

    def __init__(self, sf_dir: Path, sf_name: str):
        oc = _oracle_check()
        from ezdata_spark.queries import ORACLE

        self.oc = oc
        self.oracle = ORACLE
        self.sf_dir = str(sf_dir)
        self.con = _TimedConnection(oc.connect_oracle(self.sf_dir))
        self.sums = json.loads(CHECKSUMS.read_text()).get(sf_name, {}) if CHECKSUMS.exists() else {}

    @property
    def oracle_seconds(self) -> float:
        return self.con.seconds

    def close(self) -> None:
        """Drop the oracle's connection, so its memory is not counted in
        the program's RSS."""
        self.con.con.close()

    def check(self, spark, name: str, fn) -> str | None:
        """Run ``fn`` and return None when its result is right, or what
        is wrong with it."""
        if name in self.oracle:
            status, _n, msgs = self.oc.compare_one(spark, self.con, fn, self.oracle[name], self.sf_dir)
            return None if status == "pass" else "; ".join(msgs) or status
        expected = self.sums.get(name)
        if expected is None:
            return "no recorded checksum"
        try:
            n, digest = rows_checksum(fn(spark, self.sf_dir))
        except Exception as exc:  # noqa: BLE001 - a failing query is a result
            return f"spark error: {type(exc).__name__}: {exc}"
        if [n, digest] != expected:
            return f"checksum: {n} rows {digest[:12]}, recorded {expected[0]} rows {expected[1][:12]}"
        return None


def record() -> None:
    """Write the checksums of every rows-only query in every workload."""
    import os

    from run import hermetic_env, start_session, stop_session  # noqa: PLC0415
    from workloads import SMOKE_SF, WORKLOADS  # noqa: PLC0415

    with hermetic_env("record") as work:
        spark = start_session()
        try:
            from ezdata_spark.queries import ORACLE, QUERIES

            out = json.loads(CHECKSUMS.read_text()) if CHECKSUMS.exists() else {}
            for sf in sorted({w.sf for w in WORKLOADS.values()} | {SMOKE_SF}):
                names = sorted({q for w in WORKLOADS.values() for q in w.queries if q not in ORACLE})
                for name in names:
                    out.setdefault(sf, {})[name] = list(rows_checksum(QUERIES[name](spark, str(BENCH_DIR / "data" / sf))))
                    print(sf, name, out[sf][name], flush=True)
            CHECKSUMS.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
        finally:
            stop_session(spark)
    print("recorded in", os.path.relpath(CHECKSUMS, ROOT), "using", work)


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python3 perfbench/check.py --record")
    sys.path.insert(0, str(BENCH_DIR))
    record()
