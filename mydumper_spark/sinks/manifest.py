"""Metadata manifest sink (SURVEY §2.2 K8, §2.5 A6/A7).

The reference writes an INI ``metadata`` file: a ``[config]`` section,
per-table ``[db.table]`` sections with rows + checksums, and source/
replication positions (/root/reference/src/mydumper/mydumper_start_dump.c:
774-808, 1119-1200; partial flushes mydumper_stream.c:171-240). Ours is the
same contract as JSON (plus an INI renderer for format parity): it is what
the restore side verifies against (L9) and what incremental/streaming
consumers poll (ST4).
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from mydumper_spark.functions.checksum import table_checksum
from mydumper_spark.util import thread_map


@dataclass
class TableEntry:
    name: str
    rows: int
    #: None when the dump ran with checksum=False — rows are still recorded
    #: (restore ordering O4 needs them) but L9 verification is skipped
    data_checksum: int | None
    schema_checksum: str
    #: the read-back Spark schema (``StructType.jsonValue()``) the two
    #: checksums describe — what :func:`read_dumped_table` hands
    #: ``spark.read.schema`` for parquet/orc, so reading the program's own
    #: files runs no footer (schema-inference) job. None in manifests
    #: that predate it.
    spark_schema: dict | None = None
    path: str | None = None
    #: raw source DDL artifact (`<name>-schema.sql`, the reference's
    #: db.table-schema.sql, mydumper_jobs.c:274) — None when the source
    #: exposes no DDL (parquet corpus)
    schema_sql_path: str | None = None
    #: A5 checksum of the DDL artifact text (reference schema_checksum is
    #: over the column definitions; this covers the full artifact)
    schema_sql_checksum: str | None = None
    #: machine-readable key/constraint descriptor (plans/ddl.py contract)
    #: captured from the source catalog — what engine.restore replays as
    #: phase-ordered DDL on the target (L6/L7)
    schema_def: dict | None = None
    #: incremental-dump record: {pk, delete_path, delta_schema,
    #: delete_schema, added, changed, deleted, parent_rows} — set when
    #: ``path`` holds a delta, not a full table (the two schemas are the
    #: delta and deletes files' own, read back without inference);
    #: rows/data_checksum describe the reconstructed FULL state
    incremental: dict | None = None
    #: source schema/database for multi-schema dumps (the manifest key is
    #: then "db.table"); None when the dump had a single namespace. What
    #: lets a jdbc-target restore tell "schema s1, table t" apart from a
    #: single table literally named "s1.t" (both are legal).
    database: str | None = None


@dataclass
class Manifest:
    started_at: float = field(default_factory=time.time)
    finished_at: float | None = None
    quote_character: str = "`"  # [config] parity (mydumper_start_dump.c:1175)
    #: row-hash algorithm for data checksums. Production default is the
    #: JVM xxhash64 fast path (~2× cheaper than md5 on wide/text tables —
    #: checksumming is pure overhead on every dump, so the default should
    #: be the cheap one); "md5" stays the cross-engine spec the oracle
    #: replays. Recorded in the manifest so verification always recomputes
    #: with the same algorithm the dump used.
    algorithm: str = "xxhash64"
    #: data format of the dump's table files (parquet | csv | jsonl) —
    #: recorded so verify/restore dispatch the right reader instead of
    #: guessing from path extensions alone
    fmt: str = "parquet"
    #: the CSV dialect the dump was written with (CsvFormat fields) — what
    #: makes a csv dump re-readable for L9 verification: the reference
    #: verifies EVERY format via post-load CHECKSUM TABLE (checksum.c:
    #: 202-302), so its native csv format must not be the one we can't
    #: check. None for non-csv dumps.
    csv_dialect: dict | None = None
    #: --exec-per-thread filter extension the dump's sql chunks carry
    #: (reference mydumper.c:270-298) — recorded so restore knows the
    #: files need the user's decode command instead of a native read
    exec_per_thread_extension: str | None = None
    #: reference [source] section: the GTID/binlog position the dump is
    #: consistent at, set by the S11 fence (engine._open_source)
    source_info: dict[str, str] = field(default_factory=dict)
    #: lineage for incremental dumps: the parent manifest this dump is a
    #: delta against (the reference daemon's "last good snapshot" chain,
    #: mydumper_daemon_thread.c:33-146); None for full dumps
    parent_manifest: str | None = None
    tables: dict[str, TableEntry] = field(default_factory=dict)
    #: --compact / --use-savepoints (recorded flags; compact is a
    #: metadata NO-OP — the reference only gates the per-chunk SQL_MODE
    #: header, mydumper_common.c:411,422, and our chunks carry none)
    compact: bool = False
    use_savepoints: bool = False
    #: non-table schema objects (views/triggers/routines/events) captured
    #: at dump time — [{kind, database, name, path, checksum, table?}] with
    #: ``path`` the DDL artifact (reference -schema-view.sql /
    #: -schema-triggers.sql / db-schema-post.sql files) and ``checksum``
    #: its md5 (A5). engine.restore replays them in the POST phase.
    objects: list[dict] = field(default_factory=list)

    def add_table(self, df: DataFrame, name: str, path: str | None = None,
                  database: str | None = None) -> TableEntry:
        entry = build_entry(df, name, self.algorithm, path=path,
                            database=database)
        self.tables[name] = entry
        return entry

    def finish(self) -> None:
        self.finished_at = time.time()


def build_entry(df: DataFrame, name: str, algorithm: str,
                path: str | None = None, database: str | None = None,
                checksum: bool = True) -> TableEntry:
    """Compute one table's manifest entry. A standalone function (not a
    ``Manifest`` method) so the parallel dump path can compute entries on
    pool threads — each runs its own Spark checksum job — and merge them
    into the manifest dict afterwards in deterministic catalog order,
    without locking the manifest."""
    if checksum:
        cs = table_checksum(df, algorithm=algorithm)
        rows, dcs = cs["rows"], cs["checksum"]
    else:
        # --no-checksum still records rows (O4 largest-first restore
        # ordering needs them; parquet count is a footer-metadata read)
        rows, dcs = df.count(), None
    return TableEntry(
        name=name,
        rows=rows,
        data_checksum=dcs,
        schema_checksum=_schema_checksum(df),
        spark_schema=df.schema.jsonValue(),
        path=path,
        database=database,
    )


def _schema_checksum(df: DataFrame) -> str:
    """A5 schema checksum: hash of the ordered (name, type, nullable)
    triples — the Spark analogue of the reference's column-definition
    checksum query (/root/reference/src/checksum.c:105-117)."""
    import hashlib

    canon = ";".join(f"{f.name}:{f.dataType.simpleString()}:{f.nullable}" for f in df.schema.fields)
    return hashlib.md5(canon.encode()).hexdigest()


def write_manifest(manifest: Manifest, root: str, partial: bool = False) -> str:
    """JSON manifest + INI twin. ``partial=True`` mirrors the streaming
    ``metadata.partial.N`` flushes (ST4)."""
    os.makedirs(root, exist_ok=True)
    name = "_manifest.partial.json" if partial else "_manifest.json"
    doc = {
        "config": {
            "quote_character": manifest.quote_character,
            "checksum_algorithm": manifest.algorithm,
            "format": manifest.fmt,
            **({"csv_dialect": manifest.csv_dialect}
               if manifest.csv_dialect else {}),
            **({"exec_per_thread_extension":
                manifest.exec_per_thread_extension}
               if manifest.exec_per_thread_extension else {}),
            **({"compact": True} if manifest.compact else {}),
            # recorded, not acted on: Spark dumps hold no long per-table
            # transaction, so savepoints have nothing to shrink — the
            # S11 snapshot fence provides the consistency they buy
            **({"use_savepoints": True} if manifest.use_savepoints
               else {}),
        },
        "started_at": manifest.started_at,
        "finished_at": manifest.finished_at,
        "source": manifest.source_info,
        **({"parent_manifest": manifest.parent_manifest}
           if manifest.parent_manifest else {}),
        # O5 ordering: objects sort by (kind, db, name) — deterministic
        # regardless of capture order
        **({"objects": sorted(
            manifest.objects,
            key=lambda o: (o["kind"], o.get("database") or "", o["name"]))}
           if manifest.objects else {}),
        "tables": {
            t: {
                "rows": e.rows,
                "data_checksum": e.data_checksum,
                "schema_checksum": e.schema_checksum,
                **({"spark_schema": e.spark_schema}
                   if e.spark_schema is not None else {}),
                "path": e.path,
                "database": e.database,
                **({"schema_sql_path": e.schema_sql_path,
                    "schema_sql_checksum": e.schema_sql_checksum}
                   if e.schema_sql_path else {}),
                **({"schema_def": e.schema_def} if e.schema_def else {}),
                **({"incremental": e.incremental} if e.incremental else {}),
            }
            for t, e in sorted(manifest.tables.items())  # O5 metadata sorting
        },
    }
    path = os.path.join(root, name)
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    # Reference-exact `metadata` twin (myloader refuses a dump dir without
    # it, myloader.c:162-164); `_manifest.ini` keeps the legacy name.
    from mydumper_spark.sinks.metadata_file import (
        DumpMetadata, TableMeta, format_metadata,
    )

    def _ts(epoch: float | None) -> str:
        if epoch is None:
            return ""
        return time.strftime("%Y-%m-%d %H:%M:%S", time.localtime(epoch))

    ref = DumpMetadata(
        started_at=_ts(manifest.started_at),
        finished_at=_ts(manifest.finished_at) or None,
        source={k: v for k, v in manifest.source_info.items()
                if k == "executed_gtid_set"},
        quote_character=(
            "BACKTICK" if manifest.quote_character == "`" else manifest.quote_character
        ),
        tables=[
            TableMeta(
                e.database or "default",
                t[len(e.database) + 1:] if e.database else t,  # bare name
                rows=e.rows,
                data_checksum=(str(e.data_checksum)
                               if e.data_checksum is not None else None),
                schema_checksum=str(e.schema_checksum),
            )
            for t, e in sorted(manifest.tables.items())
        ],
    )
    text = format_metadata(ref, compact=manifest.compact)
    # `metadata` (no underscore prefix) would break a parquet directory read,
    # so the streaming partial flush (which writes INTO the live data dir)
    # only gets the underscore-prefixed twin; the dump root gets both.
    ini_names = ("_manifest.ini",) if partial else ("metadata", "_manifest.ini")
    for ini_name in ini_names:
        # surrogateescape: a hostile real_table_name read byte-faithfully
        # from a genuine dump's metadata may carry non-UTF-8 bytes — a
        # strict write here would abort the import AFTER all chunk
        # reads/checksums, leaving data without a manifest (the JSON
        # twin is safe: ensure_ascii escapes surrogates)
        with open(os.path.join(root, ini_name), "w", encoding="utf-8",
                  errors="surrogateescape") as f:
            f.write(text)
    return path


def read_manifest(root: str) -> dict:
    with open(os.path.join(root, "_manifest.json")) as f:
        return json.load(f)


def rebase_manifest_paths(manifest_dir: str, old_root: str,
                          new_root: str) -> int:
    """Rewrite every absolute path the manifest in ``manifest_dir``
    recorded under ``old_root`` to live under ``new_root`` — the fix-up
    for moving a dump directory as a unit (the daemon's dump-into-temp →
    atomic-rename crash-safety protocol runs this on the temp dir RIGHT
    BEFORE the rename, so the manifest is correct the instant the rename
    lands). Touches exactly the fields that carry artifact paths:
    ``tables[*].path`` / ``schema_sql_path`` / ``incremental.delete_path``
    and ``objects[*].path``; ``parent_manifest`` points OUTSIDE this dump
    and is left alone. Returns the number of rewritten fields."""
    doc = read_manifest(manifest_dir)
    old = os.path.abspath(old_root)
    new = os.path.abspath(new_root)

    def _rb(container: dict, field: str) -> int:
        p = container.get(field)
        if p and os.path.abspath(p).startswith(old + os.sep):
            container[field] = os.path.join(
                new, os.path.relpath(os.path.abspath(p), old))
            return 1
        return 0

    n = 0
    for e in doc.get("tables", {}).values():
        n += _rb(e, "path") + _rb(e, "schema_sql_path")
        if e.get("incremental"):
            n += _rb(e["incremental"], "delete_path")
    for o in doc.get("objects", []):
        n += _rb(o, "path")
    if n:
        with open(os.path.join(manifest_dir, "_manifest.json"), "w") as f:
            json.dump(doc, f, indent=2)
    return n


def manifest_algorithm(doc: dict) -> str:
    """The row-hash algorithm this manifest's checksums were computed with.
    Manifests written before the algorithm field existed are md5 (the only
    algorithm that existed then)."""
    return doc.get("config", {}).get("checksum_algorithm", "md5")


def read_dumped_table(spark, entry: dict,
                      csv_dialect: dict | None = None) -> "DataFrame | None":
    """Typed read of one manifest entry's dumped data — the one place a
    recorded data path becomes a DataFrame (dump read-back, restore,
    verify). Dispatches on the recorded path's format: parquet and orc
    directly, with the entry's recorded ``spark_schema`` when it has one
    (inference only for entries that predate it); jsonl, csv (``.dat``)
    and sql chunks through their schema sidecar (all three are
    stringly-typed on disk — inference would not round-trip the dumped
    types), csv additionally through the dialect
    the manifest recorded at dump time (``csv_dialect``). Returns None
    when the path is gone, when the dump genuinely lacks the sidecar
    (written before it existed), or for --exec-per-thread chunks, which
    need the user's decode command — callers report "unverifiable" or
    fall back, they don't crash."""
    path = entry.get("path")
    if not path or not os.path.exists(path):
        return None
    if path.endswith(".parquet"):
        return _recorded_schema_reader(
            spark, entry.get("spark_schema")).parquet(path)
    directory, base = os.path.split(path)
    # reference-layout chunks ({name}.NNNNN.sql|dat[.ext]) are FILES: an
    # engine csv dump of a table whose name ends in digits (db `t`, table
    # `00001`) is the Spark directory t.00001.dat, not chunk 1 of `t`
    m = os.path.isfile(path) and (_SQL_CHUNK_RE.search(base)
                                  or _DAT_CHUNK_RE.search(base))
    if m:
        tail = m.group(0)
        kind, ext = tail[6:10], tail[10:]  # ".NNNNN" + ".sql"/".dat"
        if ext not in _NATIVE_SQL_EXTS:
            # --exec-per-thread filtered dump: unreadable without the
            # user's decode command — never garbage-parsed
            return None
        schema = read_schema_sidecar(directory, base[: -len(tail)])
        if schema is None:
            return None
        # the typed read spans EVERY sibling chunk, not just the
        # recorded chunk 0 — a one-file read would silently load a
        # fraction of the table
        if kind == ".sql":
            from mydumper_spark.sources.insert_parser import read_insert_sql

            return read_insert_sql(spark, sql_chunk_paths(path), schema)
        from mydumper_spark.sinks.writers import read_csv_typed

        return read_csv_typed(spark, dat_chunk_paths(path), schema,
                              _dialect_format(csv_dialect))
    if path.endswith(".orc"):
        return _recorded_schema_reader(
            spark, entry.get("spark_schema")).orc(path)
    name, suffix = os.path.splitext(base)
    if suffix not in (".jsonl", ".dat"):
        return None
    schema = read_schema_sidecar(directory, name)
    if schema is None:
        return None
    if suffix == ".jsonl":
        return spark.read.schema(schema).json(path)
    from mydumper_spark.sinks.writers import read_csv_typed

    return read_csv_typed(spark, path, schema, _dialect_format(csv_dialect))


def _recorded_schema_reader(spark, recorded: dict | None):
    """``spark.read`` bound to a recorded schema (a StructType's
    ``jsonValue``), so the read skips the footer job that schema inference
    runs; plain ``spark.read`` (inference) when nothing was recorded."""
    if recorded is None:
        return spark.read
    from pyspark.sql import types as T

    return spark.read.schema(T.StructType.fromJson(recorded))


def _dialect_format(csv_dialect: dict | None):
    """Recorded-dialect → CsvFormat for a .dat read; one shared rule
    (writers.csvformat_from_recorded_dialect) so the forward-compat
    filter and the legacy escaped_data default can never diverge
    between this read and dump_reader's convention-based read."""
    from mydumper_spark.sinks.writers import csvformat_from_recorded_dialect

    return csvformat_from_recorded_dialect(csv_dialect)


def write_schema_sidecar(directory: str, name: str, schema) -> str:
    """Write ``schema`` (a StructType) as the typed-read sidecar of the
    data files named ``name`` in ``directory`` — ``{name}.schema.json``
    next to ``{name}.jsonl``/``.dat``/``.NNNNN.sql``. Returns its path."""
    path = os.path.join(directory, f"{name}.schema.json")
    with open(path, "w") as f:
        f.write(schema.json())
    return path


def read_schema_sidecar(directory: str, name: str):
    """The StructType :func:`write_schema_sidecar` wrote for ``name`` in
    ``directory``, or None when the dump predates sidecars."""
    from pyspark.sql import types as T

    path = os.path.join(directory, f"{name}.schema.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return T.StructType.fromJson(json.load(f))


#: chunk suffix of a fmt="sql" data file ({out_name}.NNNNN.sql[.ext…] —
#: the reference's db.table.NNNNN.sql rotation, -c compression (.gz/.zst),
#: or an --exec-per-thread filter extension, myloader_process_filename.c)
_SQL_CHUNK_RE = re.compile(r"\.\d{5}\.sql(\.[A-Za-z0-9]{1,10})*$")
#: .dat twin (reference --load-data/--csv chunk rotation)
_DAT_CHUNK_RE = re.compile(r"\.\d{5}\.dat(\.[A-Za-z0-9]{1,10})*$")
#: extra extensions the engine can read back NATIVELY (Spark text codecs);
#: anything else means the dump went through --exec-per-thread and needs
#: the user's decode command (engine.restore exec_per_thread=…)
_NATIVE_SQL_EXTS = {"", ".gz", ".zst"}


def is_sql_chunk(path: str) -> bool:
    """True when a recorded data path is a fmt="sql" chunk file."""
    return bool(_SQL_CHUNK_RE.search(path))


def _chunk_paths(chunk0: str, chunk_re: "re.Pattern", kind: str) -> list:
    d, base = os.path.split(chunk0)
    prefix = chunk_re.sub("", base)
    # siblings carry chunk0's exact extension tail (.sql / .sql.gz /
    # .sql.<filter-ext>) — matching ANY tail here could mix a filtered
    # and an unfiltered generation of the same dump dir
    tail = chunk_re.search(base).group(0)
    ext = tail[tail.index(kind) + len(kind):]
    pat = re.compile(re.escape(prefix) + r"\.\d{5}" + re.escape(kind)
                     + re.escape(ext) + "$")
    return sorted(os.path.join(d, f) for f in os.listdir(d) if pat.match(f))


def sql_chunk_paths(chunk0: str) -> list[str]:
    """Every sibling chunk of a fmt="sql" dump, from its recorded first
    chunk — listdir + regex, not glob (masqueraded/odd table names must
    not be glob-interpreted)."""
    return _chunk_paths(chunk0, _SQL_CHUNK_RE, ".sql")


def dat_chunk_paths(chunk0: str) -> list[str]:
    """Every sibling chunk of a reference-layout .dat dump (the
    --load-data/--csv twin of :func:`sql_chunk_paths`)."""
    return _chunk_paths(chunk0, _DAT_CHUNK_RE, ".dat")


def materialized_table(spark, dump_root: str, table: str):
    """Reconstruct one table's FULL current state from a dump that may be
    incremental: walk the parent-manifest chain to the base full dump, then
    replay each generation's delta (drop deleted/changed keys, union the
    delta rows) — ``apply_diff`` semantics over the dumped artifacts.
    Cost is proportional to chain length × change volume, the whole point
    of incremental dumps (the reference daemon's snapshot ring K10 keeps
    full dumps; we keep one full + deltas)."""
    from pyspark.sql import functions as F

    doc = read_manifest(dump_root)
    entry = doc["tables"][table]
    inc = entry.get("incremental")
    if not inc:
        # honor the generation's OWN recorded dialect: an incremental
        # chain may bottom out in a csv-format full dump
        return read_dumped_table(
            spark, entry,
            csv_dialect=doc.get("config", {}).get("csv_dialect"))
    base = materialized_table(spark, doc["parent_manifest"], table)
    pk = inc["pk"]
    # the delta and deletes files are read with the schemas the dump
    # recorded when it wrote them; older manifests infer them
    delta = (_recorded_schema_reader(spark, inc.get("delta_schema"))
             .parquet(entry["path"]) if entry.get("path")
             else base.limit(0))
    gone = (_recorded_schema_reader(spark, inc.get("delete_schema"))
            .parquet(inc["delete_path"]).select(*pk)
            if inc.get("delete_path") else delta.select(*pk).limit(0))
    return apply_delta(base, delta, gone, pk)


def apply_delta(base, delta, gone, pk: list[str]):
    """One incremental generation over ``base``: drop the deleted keys
    (``gone``, pk columns only) and the changed ones, then add the delta
    rows (added + changed)."""
    # changed keys appear in BOTH the delta (new version) and the drop set.
    # No forced broadcast: change volume is unbounded (a bulk UPDATE makes
    # the drop set table-sized) — AQE broadcasts real slivers by itself
    drop = gone.unionByName(delta.select(*pk)).distinct()
    return base.join(drop, pk, "left_anti").unionByName(delta)


def verify_manifest(spark, root: str) -> dict[str, dict]:
    """L9 checksum verification: recompute every table's checksum from its
    dumped files and compare (/root/reference/src/checksum.c:202-302),
    honoring the algorithm recorded at dump time. Format-aware: parquet,
    orc, jsonl AND csv dumps verify (csv through the schema sidecar + the
    manifest-recorded dialect — the reference verifies its native csv
    format too); a data path that no longer exists, or a dump predating
    the sidecar, returns ok=None with its reason instead of crashing.

    Files are read with their ON-DISK schema (inference for parquet/orc,
    never the recorded ``spark_schema``): a file rewritten with a renamed,
    dropped, added or retyped column fails on ``schema_checksum`` with a
    reason, before any data checksum runs — trusting the recorded schema
    would pass an added column and turn a retyped one into a reader
    error. Tables verify concurrently on a thread pool
    (``min(tables, defaultParallelism)`` threads); results keep manifest
    order. Returns {table: {"ok": bool|None, "expected": ..., "actual":
    ...}}."""
    doc = read_manifest(root)
    algo = manifest_algorithm(doc)
    csv_dialect = doc.get("config", {}).get("csv_dialect")

    def verify_table(item: tuple[str, dict]) -> dict:
        t, entry = item
        if not entry.get("path"):
            return {"ok": None, "reason": "no data path recorded"}
        if entry.get("data_checksum") is None:
            return {"ok": None, "reason": "dump ran without checksums"}
        if not os.path.exists(entry["path"]):
            return {"ok": None,
                    "reason": f"data path {entry['path']!r} does not "
                              "exist (moved or deleted)"}
        if entry.get("incremental"):
            # delta entry: checksums cover the reconstructed full state
            df = materialized_table(spark, root, t)
        else:
            df = read_dumped_table(spark, dict(entry, spark_schema=None),
                                   csv_dialect=csv_dialect)
        if df is None:
            return {
                "ok": None,
                "reason": f"format of {entry['path']!r} cannot be re-read "
                          "for verification (dump predates schema sidecar)",
            }
        schema_cs = _schema_checksum(df)
        if schema_cs != entry["schema_checksum"]:
            return {
                "ok": False,
                "reason": f"schema of {entry['path']!r} changed since the "
                          f"dump: {df.schema.simpleString()} on disk",
                "expected": {"schema_checksum": entry["schema_checksum"]},
                "actual": {"schema_checksum": schema_cs},
            }
        cs = table_checksum(df, algorithm=algo)
        return {
            "ok": cs["checksum"] == entry["data_checksum"] and cs["rows"] == entry["rows"],
            "expected": {"rows": entry["rows"], "checksum": entry["data_checksum"]},
            "actual": {"rows": cs["rows"], "checksum": cs["checksum"]},
        }

    items = list(doc["tables"].items())
    checked = thread_map(verify_table, items,
                         spark.sparkContext.defaultParallelism)
    return {t: r for (t, _), r in zip(items, checked)}
