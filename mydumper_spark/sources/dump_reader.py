"""Dump-directory reader (SURVEY §2.1 S12) — the restore-side source.

The reference classifies dump files by filename pattern
(/root/reference/src/myloader/myloader_process_filename.c: db.table.part.sql,
db.table-schema.sql, db-schema-create.sql, metadata, ...) and routes each to
a handler. Our dump layout is parquet/csv dirs + metadata.json; this module
reads either our layout or a reference-style CSV dump back into DataFrames.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from mydumper_spark.sinks.writers import CsvFormat

#: filename → file-type routing, after myloader.h:142-157
FILE_PATTERNS = {
    "schema_create": re.compile(r"^(?P<db>[^.]+)-schema-create\.sql$"),
    "table_schema": re.compile(r"^(?P<db>[^.]+)\.(?P<table>[^.]+)-schema\.sql$"),
    # compressed variants (the reference's -c/--compress writes .sql.gz or
    # .sql.zst): Spark's text/csv readers decode .gz via the built-in Hadoop
    # codec (verified in tests); .zst needs the native Hadoop zstd codec.
    "data_sql": re.compile(
        r"^(?P<db>[^.]+)\.(?P<table>[^.]+)\.(?P<part>\d+)\.sql(?P<comp>\.(gz|zst))?$"
    ),
    "data_dat": re.compile(
        r"^(?P<db>[^.]+)\.(?P<table>[^.]+)\.(?P<part>\d+)\.dat(?P<comp>\.(gz|zst))?$"
    ),
    "metadata": re.compile(r"^metadata(\.partial)?(\.json)?$"),
}


def classify(filename: str) -> tuple[str, dict] | None:
    for kind, pat in FILE_PATTERNS.items():
        m = pat.match(filename)
        if m:
            return kind, m.groupdict()
    return None


def _dialect_from_manifest(root: str) -> CsvFormat:
    """Dialect for a convention-based (no explicit ``fmt``) .dat read.

    If the dir carries a manifest with a recorded ``csv_dialect``, honor
    it — with a missing ``escaped_data`` key meaning the LEGACY raw form
    (same rule as read_dumped_table). A dir with NO dialect record at all
    predates the escaped-data convention, so its bytes are raw: defaulting
    to the dataclass's escaped_data=True here would silently halve every
    consecutive backslash pair in old dumps."""
    import json

    try:
        with open(os.path.join(root, "_manifest.json")) as f:
            dialect = json.load(f).get("config", {}).get("csv_dialect")
    except (OSError, ValueError):
        dialect = None
    # one shared rule with read_dumped_table's .dat branches: unknown
    # (newer-writer) keys dropped, missing escaped_data = legacy raw
    from mydumper_spark.sinks.writers import csvformat_from_recorded_dialect

    return csvformat_from_recorded_dialect(dialect)


def read_dump_table(
    spark: SparkSession,
    root: str,
    table: str,
    fmt: CsvFormat | None = None,
    schema=None,
) -> DataFrame:
    """Read one table back from a dump dir — parquet preferred, CSV (.dat)
    fallback with the same dialect options the writer used, and ``.sql``
    INSERT dumps (the reference's primary format) as the final fallback.

    ``schema`` (StructType or DDL string) is required for the ``.sql`` route
    — in a reference dump it lives in the sibling ``-schema.sql`` file."""
    from mydumper_spark.sources.insert_parser import read_insert_sql

    pq = os.path.join(root, f"{table}.parquet")
    if os.path.exists(pq):
        return spark.read.parquet(pq)
    dat = os.path.join(root, f"{table}.dat")
    if os.path.exists(dat):
        fmt = fmt or _dialect_from_manifest(root)
        if schema is None:
            # engine dumps write a schema sidecar next to the .dat — a
            # typed read beats inference (csv is stringly-typed on disk)
            from mydumper_spark.sinks.manifest import read_schema_sidecar

            schema = read_schema_sidecar(root, table)
        from mydumper_spark.sinks.writers import read_csv_typed

        return read_csv_typed(spark, dat, schema, fmt)
    # reference-style chunked .dat (db.table.NNNNN.dat): typed csv read
    # over exactly this table's chunks
    dat_chunks = _reference_chunks(root, table, "data_dat")
    if dat_chunks:
        fmt = fmt or _dialect_from_manifest(root)
        if schema is None:
            schema = _schema_from_sidecar(root, table)
        from mydumper_spark.sinks.writers import read_csv_typed

        return read_csv_typed(spark, dat_chunks, schema, fmt)
    # .sql INSERT dump: either our write_insert_sql dir ({table}.sql/) or
    # reference-style per-chunk files (db.table.NNNN.sql) in the root
    sql_dir = os.path.join(root, f"{table}.sql")
    chunked = _reference_chunks(root, table, "data_sql")
    target = sql_dir if os.path.isdir(sql_dir) else chunked
    if not target:
        raise FileNotFoundError(f"no parquet/.dat/.sql data for table {table!r} in {root}")
    if schema is None:
        schema = _schema_from_sidecar(root, table)
    if schema is None:
        raise ValueError(
            f".sql INSERT dump for {table!r} needs a schema — none given and "
            f"no sibling *-schema.sql file found in {root}"
        )
    return read_insert_sql(spark, target, schema)


def _reference_chunks(root: str, table: str, kind: str) -> list[str]:
    """This table's reference-layout chunk files (``db.table.NNNNN.*``),
    db-AWARE: a qualified name ('db.table') matches exactly its database's
    chunks; a bare name must be unambiguous — two databases holding
    same-named tables raise instead of silently unioning their rows."""
    matches: list[tuple[str, str]] = []
    for f in sorted(os.listdir(root)):
        c = classify(f)
        if not c or c[0] != kind:
            continue
        qual = f"{c[1]['db']}.{c[1]['table']}"
        if qual == table or c[1]["table"] == table:
            matches.append((c[1]["db"], os.path.join(root, f)))
    dbs = {db for db, _ in matches}
    if len(dbs) > 1:
        raise ValueError(
            f"table name {table!r} is ambiguous in {root}: chunks exist "
            f"in databases {sorted(dbs)} — qualify the name as 'db.table'")
    return [p for _, p in matches]


def _schema_from_sidecar(root: str, table: str) -> str | None:
    """Derive the Spark schema from the reference's sibling
    ``db.table-schema.sql`` CREATE TABLE file, when one exists — the typed
    read then needs no user-supplied schema, matching myloader's behavior
    (it executes the schema file before loading data chunks)."""
    from mydumper_spark.plans.ddl import schema_from_create_table

    hits: list[tuple[str, str]] = []
    for f in sorted(os.listdir(root)):
        c = classify(f)
        if c and c[0] == "table_schema":
            qual = f"{c[1]['db']}.{c[1]['table']}"
            if qual == table or c[1]["table"] == table:
                hits.append((c[1]["db"], os.path.join(root, f)))
    if len({db for db, _ in hits}) > 1:
        # same-named tables in two databases: picking whichever sorts
        # first would silently type one table with the other's schema
        raise ValueError(
            f"schema for {table!r} is ambiguous in {root}: qualify the "
            f"name as 'db.table' ({sorted(db for db, _ in hits)})")
    for _, path in hits:
        with open(path, encoding="utf-8") as fh:
            return schema_from_create_table(fh.read())
    return None


def read_dump_dir(spark: SparkSession, root: str) -> dict[str, DataFrame]:
    """Discover every table in a dump dir (S12 intake walk): engine-layout
    ``{table}.parquet``/``{table}.dat`` artifacts AND reference-layout
    chunk files (``db.table.NNNNN.sql``/``.dat`` — grouped per table, not
    one bogus table per chunk)."""
    out: dict[str, DataFrame] = {}
    ref_tables: set[str] = set()
    for name in sorted(os.listdir(root)):
        c = classify(name)
        if c and c[0] in ("data_sql", "data_dat"):
            # reference layout: chunks group under the QUALIFIED name
            ref_tables.add(f"{c[1]['db']}.{c[1]['table']}")
        elif name.endswith(".parquet"):
            out[name[: -len(".parquet")]] = spark.read.parquet(os.path.join(root, name))
        elif name.endswith(".dat"):
            t = name[: -len(".dat")]
            if t not in out:
                out[t] = read_dump_table(spark, root, t)
    for t in sorted(ref_tables):
        if t not in out:
            out[t] = read_dump_table(spark, root, t)
    return out
