"""Table / schema checksums (SURVEY §2.5 A4-A5, §2.9 L9).

The reference records a per-table data checksum in its metadata manifest and
re-verifies it after restore:
- data checksum: MySQL ``CHECKSUM TABLE`` — /root/reference/src/checksum.c:98-102
- schema/object checksums: ``BIT_XOR(CAST(CRC32(col) AS UNSIGNED))`` over
  definitions — /root/reference/src/checksum.c:105-153
- verify-after-load — /root/reference/src/checksum.c:202-302,
  src/myloader/myloader.c:684-730

``CHECKSUM TABLE`` is engine-specific, so the reference itself already uses
the portable ``bit_xor(crc32(...))`` form for schema objects. We standardize
on that shape for *all* checksums, with one twist for cross-engine parity:
Spark's ``crc32`` does not exist in DuckDB (our correctness oracle), so the
portable variant hashes the canonical row string with ``md5`` and folds the
first 15 hex digits (60 bits) into a BIGINT via ``bit_xor``. Both engines
compute the identical value, it is order-independent (xor), and it scales:
one whole-stage-codegen projection plus a single-value aggregate — no
shuffle, no collect.

Canonicalization rules (the cross-engine contract):
- DOUBLE/FLOAT → round(x, 6) then DECIMAL(30,6) then string (both engines
  print decimals identically; raw double→string formatting does not match).
- TIMESTAMP/DATE → engine-native string form, identical under UTC sessions.
- NULL → concat_ws skips nulls in both engines; a per-row null bitmap column
  is appended so ``('a',NULL)`` ≠ ``(NULL,'a')`` — the reference gets this
  for free from SQL NULL literals (mydumper_write.c:654-655).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: unit separator — same role as the reference's field terminator in .dat rows
SEP = "\x01"


def _canon_col(f: T.StructField) -> Column:
    c = F.col(f.name)
    if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
        return F.round(c, 6).cast(T.DecimalType(30, 6)).cast("string")
    if isinstance(f.dataType, T.ArrayType):
        elem = c
        if isinstance(f.dataType.elementType, (T.DoubleType, T.FloatType)):
            elem = F.transform(c, lambda x: F.round(x.cast("double"), 6).cast(T.DecimalType(30, 6)))
        return F.concat_ws(",", elem.cast("array<string>"))
    return c.cast("string")


def canonical_row_string(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Deterministic, engine-portable serialization of a row (the analogue of
    the reference's escaped .dat row, mydumper_write.c:946-1011).

    Built as ONE ``F.expr`` over a SQL string rendered in Python rather than
    a tree of Column calls: the Column form costs ~4 py4j round-trips per
    field (~0.3-0.6 s of driver time per wide table, ~2 s across a 10-table
    manifest sweep — r14), while a single parse is ~10 ms. The SQL is the
    exact same expression (``_canon_sql`` mirrors ``_canon_col`` case for
    case; equality is pinned by test_checksum's cross-form assertions and
    the a4 oracle)."""
    fields = [f for f in df.schema.fields if cols is None or f.name in cols]
    parts = [_canon_sql(f) for f in fields]
    nullmap = "concat(" + ", ".join(
        f"CASE WHEN `{f.name}` IS NULL THEN '1' ELSE '0' END" for f in fields
    ) + ")"
    # char(1) == SEP (constant-folded); a raw \x01 byte inside a SQL
    # literal would depend on parser handling of control bytes
    return F.expr(
        "concat_ws(char(1), " + ", ".join(parts) + ", " + nullmap + ")"
    )


def _canon_sql(f: T.StructField) -> str:
    """SQL rendering of :func:`_canon_col`, case for case."""
    name = f"`{f.name}`"
    if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
        return f"CAST(CAST(round({name}, 6) AS DECIMAL(30,6)) AS STRING)"
    if isinstance(f.dataType, T.ArrayType):
        elem = name
        if isinstance(f.dataType.elementType, (T.DoubleType, T.FloatType)):
            elem = (f"transform({name}, x -> "
                    "CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(30,6)))")
        return f"concat_ws(',', CAST({elem} AS ARRAY<STRING>))"
    return f"CAST({name} AS STRING)"


#: checksum algorithms: "md5" is the cross-engine SPEC (DuckDB replays it —
#: the oracle-graded a4 path); "xxhash64" is the PRODUCTION fast path (same
#: canonical row string, but the row hash is one JVM xxhash64 instead of
#: md5 + hex-substring + base-conversion — ~2× cheaper on wide/text tables,
#: not oracle-replayable because DuckDB lacks xxhash64). Manifests record
#: which one they used; verification honors the recorded algorithm.
ALGORITHMS = ("md5", "xxhash64")


def row_hash(df: DataFrame, cols: list[str] | None = None,
             algorithm: str = "md5") -> Column:
    """Per-row 64-bit hash of the canonical row string under ``algorithm``."""
    canon = canonical_row_string(df, cols)
    if algorithm == "md5":
        return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")
    if algorithm == "xxhash64":
        return F.xxhash64(canon)
    raise ValueError(f"unknown checksum algorithm {algorithm!r}; use {ALGORITHMS}")


def portable_checksum(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Order-independent 60-bit per-row hash, identical in Spark and DuckDB.

    ``bit_xor`` over these makes the table checksum insensitive to row order
    and trivially partial-aggregatable (map-side combine), which is what makes
    it viable at 100 TB: the aggregate state is a single long per partition,
    merged on the driver."""
    return row_hash(df, cols, "md5")


def table_checksum(df: DataFrame, cols: list[str] | None = None,
                   algorithm: str = "md5") -> dict:
    """A4 + A1: {rows, checksum} for one table — the manifest entry the
    reference writes per table (mydumper_start_dump.c:774-797) and re-checks
    after load (L9)."""
    r = checksum_df(df, cols, algorithm).first()
    return {"rows": r["rows"], "checksum": r["checksum"]}


def checksum_df(df: DataFrame, cols: list[str] | None = None,
                algorithm: str = "md5") -> DataFrame:
    """Checksum as a DataFrame (the oracle-checked query surface).

    md5 over the wide canonical row string dominates the scan (re-measured
    at sf0.1: lineitem 3.2s single-task vs 1.8s at 32 — the earlier
    "repartition is neutral" note was a small-input artifact), so the input
    goes through the ``ensure_min_partitions`` floor: a no-op on any
    well-split source (every real 100 TB table — many files/row groups),
    and a one-time spread of at most one core's workload when the source
    arrives as a single row group. The repartition must happen BEFORE the
    hash projection — Catalyst would otherwise push the md5 below the
    exchange and serialize it anyway."""
    from mydumper_spark.util import ensure_min_partitions

    df = ensure_min_partitions(df)
    rh = row_hash(df, cols, algorithm).alias("__rh")
    return df.select(rh).agg(
        F.expr("bit_xor(__rh)").alias("checksum"), F.count(F.lit(1)).alias("rows")
    )


def checksum_tables_df(tables: "dict[str, DataFrame]",
                       algorithm: str = "md5") -> DataFrame:
    """Checksums for MANY tables as ONE aggregation tree.

    Semantically identical to unioning one :func:`checksum_df` per table
    (same (table_name, checksum, rows) multiset, including the NULL-checksum
    /0-rows row for an empty table), but the plan is N tagged hash
    projections with map-side ``partial_bit_xor`` feeding a SINGLE
    ``groupBy(table_name)`` exchange, instead of N independent
    final-aggregate exchanges — for the 10-table manifest sweep that is
    1 reduce exchange instead of 10 single-partition exchanges plus their
    AQE stages (r14: the two a4 bench entries spent most of their wall in
    per-branch stage scheduling, ~40 Exchange nodes between them). Each
    input still goes through the ``ensure_min_partitions`` parallelism
    floor exactly like :func:`checksum_df`.

    Empty tables keep their row through one NULL-hash marker row per
    table, unioned into the same aggregate: a row hash is never NULL
    (``xxhash64`` and ``conv(md5…)`` always return a value), so
    ``bit_xor`` and ``count`` of ``__rh`` skip the markers and every group
    exists even when its table has no rows. The markers are one
    ``range(1)`` row exploded over literal names — a JVM-side relation,
    with no join and no Python-side ``createDataFrame`` (whose
    ``Scan ExistingRDD`` would start the Python worker daemon)."""
    from mydumper_spark.util import ensure_min_partitions

    spark = next(iter(tables.values())).sparkSession
    hashed = spark.range(1).select(
        F.explode(F.array(*[F.lit(n) for n in tables])).alias("table_name"),
        F.lit(None).cast("bigint").alias("__rh"),
    )
    for name, df in tables.items():
        # spread only tables big enough for parallel hashing to beat the
        # extra exchange stage. Measured on a 4-vCPU host: lineitem at
        # sf0.01 (1.05 MB) takes about 0.3 s of single-core md5 hashing,
        # yet lowering the bar to 512 KB or 128 KB made the 10-table a4
        # sweep slower (median about 1.8 → 2.3 s) — below 2 MB the extra
        # stage costs more than it saves; production tables always clear it
        df = ensure_min_partitions(df, min_bytes=2 * 1024 * 1024)
        hashed = hashed.unionAll(df.select(
            F.lit(name).alias("table_name"),
            row_hash(df, None, algorithm).alias("__rh"),
        ))
    return hashed.groupBy("table_name").agg(
        F.expr("bit_xor(__rh)").alias("checksum"),
        F.count("__rh").alias("rows"),
    )


def oracle_checksum_sql(
    table: str, fields: list[tuple[str, str]], where: str | None = None
) -> str:
    """Render the DuckDB-equivalent SQL of :func:`checksum_df` for the oracle.

    ``fields`` is [(name, duckdb_type), ...] in DataFrame column order; the
    canonicalization must mirror ``_canon_col`` exactly."""
    parts = []
    for name, typ in fields:
        t = typ.upper()
        if t in ("DOUBLE", "FLOAT", "REAL"):
            parts.append(f"CAST(round({name}, 6) AS DECIMAL(30,6))::VARCHAR")
        elif t.endswith("[]"):
            parts.append(
                f"array_to_string(CAST({name} AS VARCHAR[]), ',')"
                if not t.startswith(("DOUBLE", "FLOAT", "REAL"))
                else (
                    "array_to_string(list_transform("
                    + name
                    + ", x -> CAST(round(CAST(x AS DOUBLE),6) AS DECIMAL(30,6))::VARCHAR), ',')"
                )
            )
        else:
            parts.append(f"CAST({name} AS VARCHAR)")
    nullmap = "||".join(
        f"CASE WHEN {name} IS NULL THEN '1' ELSE '0' END" for name, _ in fields
    )
    canon = "concat_ws(chr(1), " + ", ".join(parts) + ", " + nullmap + ")"
    rh_sql = f"CAST(('0x' || substr(md5({canon}), 1, 15)) AS BIGINT)"
    w = f" WHERE {where}" if where else ""
    return (
        f"SELECT bit_xor(rh) AS checksum, count(*) AS rows "
        f"FROM (SELECT {rh_sql} AS rh FROM {table}{w}) t"
    )
