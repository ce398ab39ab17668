"""Check the benchmark's output check: it must pass a faithful copy of the
inputs and fail a copy with one corrupted row or one missing table.

Run from the root of a checkout: ``python3 perfbench/selftest.py``. Needs no
Spark session (the check is DuckDB only) and takes a few seconds.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]

import duckdb  # noqa: E402

import workloads  # noqa: E402


def restored_copy(src: str, target: str, tables, corrupt: str | None = None
                  ) -> None:
    """Write each source table as a restore would (a directory of part
    files); in table ``corrupt`` the first row's ``l_quantity`` grows by 1."""
    con = duckdb.connect()
    for t in tables:
        out = os.path.join(target, f"{t}.parquet")
        os.makedirs(out)
        sql = f"SELECT * FROM {workloads.parquet_rel(os.path.join(src, t + '.parquet'))}"
        if t == corrupt:
            sql = ("SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 THEN "
                   f"l_quantity + 1 ELSE l_quantity END AS l_quantity) FROM ({sql})")
        con.execute(f"COPY ({sql}) TO '{out}/part-00000.parquet' (FORMAT PARQUET)")
    con.close()


def run_check(work: str, corrupt=None, drop=None) -> list[str]:
    wl = workloads.BackupRoundtrip(work, seed=7)
    wl.generate(workloads.BACKUP_TABLES, 0.001, workloads.BACKUP_REPLICAS)
    wl.target = os.path.join(work, "restored")
    shutil.rmtree(wl.target, ignore_errors=True)
    restored_copy(wl.src, wl.target,
                  [t for t in workloads.BACKUP_TABLES if t != drop], corrupt)
    wl.check(None)
    return wl.problems


def main() -> None:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    ok = True
    try:
        for label, kw, want_fail in (
                ("faithful copy", {}, False),
                ("one corrupted row in lineitem", {"corrupt": "lineitem"}, True),
                ("orders missing", {"drop": "orders"}, True)):
            problems = run_check(work, **kw)
            caught = bool(problems)
            ok &= caught == want_fail
            verdict = "ok" if caught == want_fail else "WRONG"
            print(f"{verdict:5} {label}: {problems or 'no problems'}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
