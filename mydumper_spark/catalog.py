"""Catalog discovery + table-scope filters.

Reference behavior re-expressed here:
- S10 catalog discovery scan — enumerate databases/tables and classify them
  (/root/reference/src/mydumper/mydumper_working_thread.c:247-295, 1149-1284).
- P6 regex table filter (``--regex``) — /root/reference/src/regex.c:96-147.
- P7 skiplist filter (``--omit-from-file``) — /root/reference/src/tables_skiplist.c:35-89.
- P8 explicit table/db lists (``--tables-list`` / ``-B``).
- P9 engine filter (``--ignore-engines``) — mydumper_working_thread.c:1203-1210.
- P12 special/system table filter — mydumper_working_thread.c:253-258.
- O6 chunk-column pick by index cardinality — mydumper_table.c:181-239.

On Spark the "catalog" is driver-side metadata: for the parquet test corpus it
is the directory listing + schema probe; for a JDBC source it is
``information_schema`` queries through the same connection. Filtering is pure
driver logic over that list — cheap, no cluster work.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: system namespaces the reference always skips
#: (mydumper_working_thread.c:253-258, is_mysql_special_tables in common.c)
SPECIAL_SCHEMAS = {"information_schema", "performance_schema", "sys", "mysql", "data_dictionary"}

#: PK registry for the driver-supplied TPC-H-ish corpus; the heuristic below
#: covers tables not listed (reference picks PK > first UNIQUE > highest-
#: cardinality index, mydumper_table.c:181-239).
KNOWN_PRIMARY_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


@dataclass
class TableMeta:
    """Driver-side table descriptor — Spark analogue of ``struct db_table``
    (/root/reference/src/mydumper/mydumper_table.h:29-77)."""

    database: str
    name: str
    path: str | None = None  # parquet path; None for JDBC tables
    engine: str = "parquet"
    primary_key: list[str] = field(default_factory=list)
    schema: T.StructType | None = None
    row_estimate: int | None = None
    #: True when discovery admitted a VIEW as a data table
    #: (--views-as-tables): its rows dump, but table-DDL capture must
    #: skip it (SHOW CREATE on a view yields view DDL, wrong to replay
    #: as a table definition)
    is_view: bool = False

    @property
    def qualified_name(self) -> str:
        return f"{self.database}.{self.name}"


@dataclass
class TableFilters:
    """The reference's table-scoping CLI surface (P6-P12)."""

    regex: str | None = None  # --regex over "db.table"
    skiplist: set[str] = field(default_factory=set)  # --omit-from-file entries
    tables_list: set[str] | None = None  # --tables-list db.t1,db.t2
    databases: set[str] | None = None  # -B db1,db2
    ignore_engines: set[str] = field(default_factory=set)  # --ignore-engines
    include_special: bool = False
    updated_since_days: float | None = None  # P10 --updated-since

    def admits(self, t: TableMeta) -> bool:
        qn = t.qualified_name
        if not self.include_special and t.database in SPECIAL_SCHEMAS:
            return False
        if self.databases is not None and t.database not in self.databases:
            return False
        # qualified entries ("db.table") match exactly; bare entries match
        # the table name in any database — so `-T customer` works against a
        # JDBC source whose schema is "main", not "default"
        if self.tables_list is not None and qn not in self.tables_list \
                and t.name not in self.tables_list:
            return False
        # skiplist matches either "db" or "db.table" (tables_skiplist.c:35-89)
        if t.database in self.skiplist or qn in self.skiplist:
            return False
        if t.engine.lower() in {e.lower() for e in self.ignore_engines}:
            return False
        if self.regex is not None and not re.search(self.regex, qn, re.IGNORECASE):
            return False
        return True

    def admits_database(self, database: str) -> bool:
        """Database-level gate for schema-scoped objects (routines/events):
        the reference dumps these per admitted DATABASE, not per table name
        (they ride the db-schema-post file, mydumper_jobs.c:555-620), so
        only the db-scoped rules apply — special-schema exclusion, -B, and
        db-level skiplist entries."""
        if not self.include_special and database in SPECIAL_SCHEMAS:
            return False
        if self.databases is not None and database not in self.databases:
            return False
        if database in self.skiplist:
            return False
        return True


def pick_chunk_column(meta: TableMeta,
                      profile: list[dict] | None = None) -> str | None:
    """O6: choose the scan-partitioning column.

    Reference order: PK, else first UNIQUE, else highest-cardinality index
    (mydumper_table.c:181-239); integer keys preferred over string keys for
    chunking (mydumper_chunks.c:142-248). Without index stats we prefer the
    first integral PK column, then any integral ``*key``/``*id`` column, then
    the first string PK column (string chunking is the fallback there too).

    ``profile`` — a ``_profile.json`` table section from a prior dump
    (operators/profile.py rows: column_name / n_rows / n_distinct /
    n_nulls) — plays the role of the reference's
    ``information_schema.STATISTICS`` cardinality input: for PK-less
    tables, the integral column with the highest distinct count (and no
    null majority) wins over the name heuristic. A 3-value ``status_id``
    column must never become the chunk key when a million-value sequence
    column sits beside it — chunk count is bounded by key cardinality."""
    schema = meta.schema
    if schema is None:
        return meta.primary_key[0] if meta.primary_key else None
    by_name = {f.name: f for f in schema.fields}
    for c in meta.primary_key:
        f = by_name.get(c)
        if f is not None and isinstance(f.dataType, _INTEGRAL_TYPES):
            return c
    if profile:
        stats = {r["column_name"]: r for r in profile}
        best, best_card = None, 1
        for f in schema.fields:  # schema order breaks ties deterministically
            if not isinstance(f.dataType, _INTEGRAL_TYPES):
                continue
            r = stats.get(f.name)
            if r is None or not r.get("n_distinct"):
                continue
            n_rows = r.get("n_rows") or 0
            if r.get("n_nulls", 0) * 2 > n_rows:  # null-majority: bad key
                continue
            if r["n_distinct"] > best_card:
                best, best_card = f.name, r["n_distinct"]
        if best is not None:
            return best
    for f in schema.fields:
        if isinstance(f.dataType, _INTEGRAL_TYPES) and re.search(r"(key|id)$", f.name, re.I):
            return f.name
    if meta.primary_key:
        return meta.primary_key[0]
    return None


class ParquetCatalog:
    """Catalog over a directory of ``<table>.parquet`` files (the driver test
    corpus layout, TESTDATA.md). Mirrors the reference's discovery scan S10:
    enumerate, probe schema, classify — all driver-side."""

    def __init__(self, spark: SparkSession, root: str, database: str = "default"):
        self.spark = spark
        self.root = root
        self.database = database

    def discover(self, filters: TableFilters | None = None) -> list[TableMeta]:
        filters = filters or TableFilters()
        out: list[TableMeta] = []
        for fname in sorted(os.listdir(self.root)):
            if not fname.endswith(".parquet"):
                continue
            name = fname[: -len(".parquet")]
            meta = TableMeta(
                database=self.database,
                name=name,
                path=os.path.join(self.root, fname),
                engine="parquet",
                primary_key=KNOWN_PRIMARY_KEYS.get(name, []),
            )
            if not filters.admits(meta):
                continue
            # P10 freshness filter: the reference checks UPDATE_TIME against
            # NOW() - INTERVAL N DAY (mydumper_start_dump.c:527-548); file
            # mtime is the parquet-side equivalent.
            if filters.updated_since_days is not None:
                import time

                age_days = (time.time() - os.path.getmtime(meta.path)) / 86400.0
                if age_days > filters.updated_since_days:
                    continue
            # schema probe is metadata-only for parquet (footer read, no scan)
            meta.schema = self.spark.read.parquet(meta.path).schema
            if not meta.primary_key:
                meta.primary_key = _guess_primary_key(meta.schema)
            out.append(meta)
        return out

    def read(self, meta: TableMeta, num_chunks: int | None = None) -> DataFrame:
        # num_chunks is a JDBC-source concern (one SELECT per chunk); parquet
        # scan parallelism comes from row groups / maxPartitionBytes instead.
        # The schema discover() probed spares a second footer job.
        reader = self.spark.read
        if meta.schema is not None:
            reader = reader.schema(meta.schema)
        return reader.parquet(meta.path)


def _rget(row, key: str):
    """Case-insensitive Row field access: MySQL returns information_schema
    labels in their defined UPPER case, DuckDB lowercase, and
    Row.__getitem__ is case-sensitive — aliases cover our own queries but
    driver/dialect quirks (and future unaliased columns) must not crash
    discovery."""
    d = row.asDict()
    if key in d:
        return d[key]
    for k, v in d.items():
        if k.lower() == key:
            return v
    return None


def _guess_primary_key(schema: T.StructType) -> list[str]:
    for f in schema.fields:
        if re.search(r"(^id$|_id$|key$)", f.name, re.I):
            return [f.name]
    return []


class JdbcCatalog:
    """S10 over a live JDBC source: enumerate ``information_schema.tables``
    through the same connection the data scan uses — the Spark-side analogue
    of the reference's SHOW DATABASES / SHOW TABLE STATUS walk
    (/root/reference/src/mydumper/mydumper_working_thread.c:247-295).

    ``information_schema.tables`` is ANSI and exists in MySQL, MariaDB,
    TiDB and DuckDB (our live test engine), so one discovery query serves
    every dialect the engine targets. System schemas are dropped by the
    same ``TableFilters`` P12 gate as everywhere else; the MySQL ``ENGINE``
    column (P9 input) only exists on mysql-family servers and is probed
    only there."""

    def __init__(self, spark: SparkSession, url: str,
                 properties: dict[str, str] | None = None,
                 mysql_like: bool = False):
        self.spark = spark
        self.url = url
        self.properties = dict(properties or {})
        self.mysql_like = mysql_like

    def _q(self, sql: str) -> DataFrame:
        return self.spark.read.jdbc(
            url=self.url, table=f"({sql}) AS t", properties=self.properties
        )

    def _qident(self, name: str) -> str:
        """Dialect identifier quoting via the shared
        :func:`mydumper_spark.plans.ddl.quote_ident` — what makes tables
        named ``a.b`` / ``t%`` / ``a/b`` scannable (test/specific_16's
        pathological-name corpus), guaranteed to match the restore side."""
        from mydumper_spark.plans.ddl import quote_ident

        return quote_ident(name, "mysql" if self.mysql_like else "ansi")

    def _qtable(self, meta: TableMeta) -> str:
        return f"{self._qident(meta.database)}.{self._qident(meta.name)}"

    def discover(self, filters: TableFilters | None = None,
                 include_views: bool = False) -> list[TableMeta]:
        """``include_views`` admits VIEWs as DATA tables (the reference's
        --views-as-tables: a view is SELECTable, so its rows dump like any
        table); the metas carry ``is_view`` so DDL capture can skip them."""
        filters = filters or TableFilters()
        type_pred = ("table_type IN ('BASE TABLE', 'VIEW')"
                     if include_views else "table_type = 'BASE TABLE'")
        # lowercase aliases: MySQL returns information_schema labels in
        # their defined (UPPER) case and Row access is case-sensitive —
        # unaliased r["table_schema"] would crash discovery on MySQL
        rows = None
        if self.mysql_like:  # ENGINE feeds the P9 --ignore-engines gate
            try:
                rows = self._q(
                    "SELECT table_schema AS table_schema, "
                    "table_name AS table_name, table_type AS table_type, "
                    "engine AS engine FROM information_schema.tables "
                    f"WHERE {type_pred}"
                ).collect()
            except Exception:
                # the ENGINE shape failed — but only a SUCCESSFUL ANSI
                # retry is dialect evidence; a transient failure (network
                # blip) must not permanently downgrade identifier quoting
                # to double quotes against a backtick server
                rows = self._q(
                    "SELECT table_schema AS table_schema, "
                    "table_name AS table_name, table_type AS table_type "
                    f"FROM information_schema.tables WHERE {type_pred}"
                ).collect()
                self.mysql_like = False
        if rows is None:
            rows = self._q(
                "SELECT table_schema AS table_schema, "
                "table_name AS table_name, table_type AS table_type "
                f"FROM information_schema.tables WHERE {type_pred}"
            ).collect()
        out: list[TableMeta] = []
        for row in sorted(rows,
                          key=lambda r: (_rget(r, "table_schema"),
                                         _rget(r, "table_name"))):
            engine_val = _rget(row, "engine") if self.mysql_like else None
            meta = TableMeta(
                database=_rget(row, "table_schema"),
                name=_rget(row, "table_name"),
                path=None,
                engine=engine_val or "jdbc",
                primary_key=KNOWN_PRIMARY_KEYS.get(
                    _rget(row, "table_name"), []),
                is_view=(_rget(row, "table_type") == "VIEW"),
            )
            if not filters.admits(meta):
                continue
            # schema probe: LIMIT-0 server round-trip, no data movement
            meta.schema = self.read(meta).schema
            if not meta.primary_key:
                meta.primary_key = _guess_primary_key(meta.schema)
            out.append(meta)
        return out

    def read(self, meta: TableMeta, num_chunks: int | None = None) -> DataFrame:
        """One JDBC scan; with ``num_chunks`` and an integral chunk column,
        a partitioned scan (S2) — one server SELECT per chunk, planned from
        server-side MIN/MAX (S9), exactly the reference's per-chunk
        execution shape."""
        table = self._qtable(meta)
        if num_chunks and num_chunks > 1:
            col = pick_chunk_column(meta)
            f = ({f.name: f for f in meta.schema.fields}.get(col)
                 if meta.schema is not None and col else None)
            if f is not None and isinstance(f.dataType, _INTEGRAL_TYPES):
                qc = self._qident(col)
                bounds = self._q(
                    f"SELECT MIN({qc}) AS lo, MAX({qc}) AS hi FROM {table}"
                ).first()
                if bounds["lo"] is not None:
                    return self.spark.read.jdbc(
                        url=self.url, table=table, column=col,
                        lowerBound=int(bounds["lo"]),
                        upperBound=int(bounds["hi"]) + 1,
                        numPartitions=num_chunks, properties=self.properties,
                    )
        return self.spark.read.jdbc(
            url=self.url, table=table, properties=self.properties
        )


def load_profiles(dump_dir: str) -> dict[str, list[dict]]:
    """Per-table column-profile sections from a prior ``dump --profile``
    run's ``_profile.json`` — the cardinality input :func:`pick_chunk_column`
    uses in place of the reference's ``information_schema.STATISTICS``
    (mydumper_table.c:181-239). Missing file → empty dict (profiles are an
    optimization input, never a requirement)."""
    import json

    path = os.path.join(dump_dir, "_profile.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)

