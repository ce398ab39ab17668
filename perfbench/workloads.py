"""The benchmark's workloads: inputs, one timed pass, and the output check.

Every workload is a closed loop with one client: the benchmark process issues
the next call only when the previous one returned. A pass calls the
program's public entry points only (``engine.dump``, ``engine.restore``,
``sinks.manifest.verify_manifest`` and the ``__spark_entry__.queries()``
registry). The output checks run after the timed passes and recompute the
expected answer with DuckDB, independently of the program.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time

import duckdb

import gen

#: tables each workload moves, scale factor of one copy, and copies
BACKUP_TABLES = ["part", "orders", "lineitem", "events"]
BACKUP_SF, BACKUP_REPLICAS = 0.01, 2
CURATION_SF = 0.01
#: bench.py entries the curation pass runs (see README.md for the choice)
CURATION_ENTRIES = [
    "q5_region_volume",
    "a4_checksums",
]


def duck_checksum_sql(con, relation: str) -> str:
    """The program's cross-engine checksum, rendered for DuckDB over
    ``relation`` (a table name or a ``read_parquet(...)`` call)."""
    from mydumper_spark.functions.checksum import oracle_checksum_sql

    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    return oracle_checksum_sql(relation, [(f'"{c[0]}"', c[1]) for c in cols])


def duck_checksum(con, relation: str) -> tuple:
    return tuple(con.execute(duck_checksum_sql(con, relation)).fetchone())


def parquet_rel(path: str) -> str:
    """DuckDB relation over a parquet file or a directory of part files."""
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"read_parquet('{path}')"


def compare_tables(con, pairs: dict[str, tuple[str, str]]) -> dict:
    """For each table, checksum and row count of the expected relation
    against the actual one: {table: None if they match, else the problem}."""
    problems = {}
    for t, (expected, actual) in pairs.items():
        try:
            want, got = duck_checksum(con, expected), duck_checksum(con, actual)
            problems[t] = None if want == got else \
                f"checksum/rows {got} != expected {want}"
        except duckdb.Error as e:
            problems[t] = f"unreadable output: {e}"
    return problems


class Workload:
    """One workload: ``make_inputs`` writes the inputs (once per run, before
    any program process starts), ``start`` prepares a program process,
    ``run_pass`` is one timed closed-loop pass (``split`` collects the
    curation entries' build/plan/exec times on traced passes), ``check``
    verifies the last pass's outputs."""

    name = ""
    #: fresh program processes per run; the first pass of each is one
    #: ``cold_s`` sample
    cold_runs = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.src = os.path.join(work, "src")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        """Count one operation (a table's dump/restore/verify, an entry run
        or an output check) and remember why it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def generate(self, tables, sf: float, replicas: int = 1) -> None:
        copy_rows = gen.generate(self.src, self.seed, sf, replicas, tables)
        con = duckdb.connect()
        bad = gen.check(con, self.src, copy_rows, replicas, duck_checksum_sql)
        con.close()
        for p in bad:
            self.op(False, f"generator: {p}")
        self.source_rows = {t: n * replicas for t, n in copy_rows.items()}

    def make_inputs(self) -> None:
        self.generate(*self.inputs)
        with open(os.path.join(self.work, "inputs.json"), "w") as f:
            json.dump(self.source_rows, f)

    def load_inputs(self) -> None:
        with open(os.path.join(self.work, "inputs.json")) as f:
            self.source_rows = json.load(f)

    def start(self, spark) -> None:
        pass

    def stored_bytes_ratio(self, dump_dir: str) -> float:
        src = sum(os.path.getsize(p)
                  for p in glob.glob(os.path.join(self.src, "*")))
        out = sum(os.path.getsize(os.path.join(dp, f))
                  for dp, _, fs in os.walk(dump_dir) for f in fs)
        return out / src

    def check_manifest(self, manifest) -> None:
        for t, rows in self.source_rows.items():
            entry = manifest.tables.get(t)
            self.op(entry is not None and entry.rows == rows,
                    f"dump {t}: manifest rows "
                    f"{entry.rows if entry else None} != source {rows}")

    def check_verify(self, results: dict, what: str) -> None:
        for t in self.source_rows:
            r = results.get(t)
            ok = r["ok"] if isinstance(r, dict) else r
            self.op(ok is True, f"{what} {t}: {r}")


class BackupRoundtrip(Workload):
    """dump (parquet, checksums on) → restore into a parquet tree (verify
    on) → verify_manifest."""

    name = "backup_roundtrip"
    inputs = (BACKUP_TABLES, BACKUP_SF, BACKUP_REPLICAS)

    def run_pass(self, spark, split=None) -> dict[str, float]:
        from mydumper_spark import engine
        from mydumper_spark.sinks import manifest as mf

        dump_dir = os.path.join(self.work, "dump")
        self.target = os.path.join(self.work, "restored")
        for d in (dump_dir, self.target):
            shutil.rmtree(d, ignore_errors=True)
        t0 = time.perf_counter()
        m = engine.dump(spark, self.src, engine.DumpConfig(
            output_dir=dump_dir, fmt="parquet", checksum=True))
        t1 = time.perf_counter()
        r = engine.restore(spark, dump_dir, self.target, verify=True)
        t2 = time.perf_counter()
        v = mf.verify_manifest(spark, dump_dir)
        t3 = time.perf_counter()
        self.check_manifest(m)
        self.check_verify(r.get("verify", {}), "restore verify")
        self.check_verify(v, "verify_manifest")
        return {"engine.dump_s": t1 - t0, "engine.restore_s": t2 - t1,
                "engine.verify_s": t3 - t2,
                "stored_bytes_ratio": self.stored_bytes_ratio(dump_dir)}

    def check(self, spark) -> None:
        """DuckDB checksums of the source against the restored tree."""
        con = duckdb.connect()
        pairs = {t: (parquet_rel(os.path.join(self.src, f"{t}.parquet")),
                     parquet_rel(os.path.join(self.target, f"{t}.parquet")))
                 for t in self.source_rows}
        for t, problem in compare_tables(con, pairs).items():
            self.op(problem is None, f"output check {t}: {problem}")
        con.close()


def _canon(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _multiset(cols, rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in rows)


class CurationQueries(Workload):
    """Registry entries through the ``noop`` sink, the way bench.py times
    them."""

    name = "curation_queries"
    inputs = (gen.ALL_TABLES, CURATION_SF)
    # its cold pass is mostly JIT and codegen, whose time swings most with
    # the neighbours' load: two samples, see README.md
    cold_runs = 2

    def start(self, spark) -> None:
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()

    def run_entry(self, spark, name: str, split: dict | None) -> None:
        """One entry. With ``split``, time its three parts: building the
        DataFrame, Catalyst planning, and the noop write."""
        t0 = time.perf_counter()
        df = self.queries[name](spark, self.src)
        if split is not None:
            t1 = time.perf_counter()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        if split is not None:
            t3 = time.perf_counter()
            split["operators.build_s"] += t1 - t0
            split["operators.plan_s"] += t2 - t1
            split["operators.exec_s"] += t3 - t2
            split[f"operators.{name}.wall_s"] = t3 - t0

    def run_pass(self, spark, split: dict | None = None) -> dict[str, float]:
        for name in CURATION_ENTRIES:
            try:
                self.run_entry(spark, name, split)
                self.op(True, name)
            except Exception as e:  # an entry failing is a counted failure
                self.op(False, f"entry {name}: {type(e).__name__}: {e}")
        return {}

    def check(self, spark) -> None:
        """Each entry against its ``oracle_sql()`` twin on DuckDB (columns,
        row count, order-insensitive values); entries without a twin must
        return rows."""
        con = duckdb.connect()
        for t in gen.ALL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"{parquet_rel(os.path.join(self.src, t + '.parquet'))}")
        for name in CURATION_ENTRIES:
            try:
                df = self.queries[name](spark, self.src)
                scols, srows = df.columns, [tuple(r) for r in df.collect()]
                if name not in self.oracles:
                    self.op(len(srows) > 0, f"check {name}: no rows")
                    continue
                rel = con.execute(self.oracles[name])
                dcols = [d[0] for d in rel.description]
                drows = rel.fetchall()
            except Exception as e:
                self.op(False, f"check {name}: {type(e).__name__}: {e}")
                continue
            if sorted(scols) != sorted(dcols):
                self.op(False, f"check {name}: columns {scols} != {dcols}")
            elif _multiset(scols, srows) != _multiset(dcols, drows):
                self.op(False, f"check {name}: {len(srows)} rows differ from "
                        f"the oracle's {len(drows)}")
            else:
                self.op(True, name)
        con.close()


WORKLOADS = {w.name: w for w in (BackupRoundtrip, CurationQueries)}
