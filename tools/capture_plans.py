"""Capture .explain("formatted") for registry entries into a directory.

Usage: python3 tools/capture_plans.py <outdir> <before|after> [query ...]
Writes <outdir>/<query>_<before|after>.txt, creating <outdir> if needed.
Defaults to every entry in bench.BENCH_QUERIES when no query names are given.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    outdir = sys.argv[1]
    phase = sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry
    from bench import BENCH_QUERIES
    from mydumper_spark.session import get_session

    if not names:
        names = list(BENCH_QUERIES)

    os.makedirs(outdir, exist_ok=True)

    spark = get_session("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(outdir, f"{name}_{phase}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
