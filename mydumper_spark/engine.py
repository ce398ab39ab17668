"""Engine facade — the ``mydumper`` / ``myloader`` entry points, Spark-first.

``dump`` compiles a config (the reference's CLI surface) into: catalog
discovery → per-table chunk plan → transform pipeline → sink + manifest —
the lifecycle of /root/reference/src/mydumper/mydumper_start_dump.c:1039-1560
with Catalyst replacing the hand-built SQL strings.

``restore`` is the myloader inverse: read dump dir → loader DAG (schema →
data → index/constraint/post phases) → checksum verification (L9).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from mydumper_spark.catalog import ParquetCatalog, TableFilters, TableMeta, pick_chunk_column
from mydumper_spark.operators.transform import TableTransform, apply_transform
from mydumper_spark.planner.chunks import ChunkPlan, plan_chunks
from mydumper_spark.plans.loader_dag import LoaderDag, LoadJob, Phase, PurgeMode
from mydumper_spark.sinks.manifest import (
    Manifest,
    read_dumped_table,
    verify_manifest,
    write_manifest,
    write_schema_sidecar,
)
from mydumper_spark.sinks.writers import (
    CsvFormat,
    write_csv,
    write_jsonl,
    write_parquet,
)
from mydumper_spark.util import empty_frame, thread_map


@dataclass
class DumpConfig:
    """The engine's config surface ≅ the reference's CLI/defaults-file."""

    output_dir: str
    filters: TableFilters = field(default_factory=TableFilters)
    global_where: str | None = None  # P1 --where
    per_table: dict[str, TableTransform] = field(default_factory=dict)  # P2-P5
    chunks_per_table: int | None = None  # --rows analogue
    fmt: str = "parquet"  # parquet | csv | jsonl | orc | sql (K1-K4)
    csv_format: CsvFormat = field(default_factory=CsvFormat)
    max_records_per_file: int | None = None  # K5 --chunk-filesize
    # --- fmt="sql" (K1, the reference's NATIVE format: multi-row INSERT
    # chunk files db.table.NNNNN.sql that real myloader can consume) ---
    #: rows per INSERT statement (myloader --rows re-batching analogue)
    rows_per_statement: int = 1000
    #: -s/--statement-size: cap each statement by BYTES (reference-exact;
    #: composes with rows_per_statement — whichever cap hits first)
    statement_size: int | None = None
    #: --complete-insert: emit the column list in every INSERT
    complete_insert: bool = False
    #: --insert-ignore / --replace → "INSERT IGNORE" / "REPLACE"
    insert_mode: str = "INSERT"
    checksum: bool = True  # --checksum-all
    exec_per_file: str | None = None  # K9 --exec
    #: --exec-per-thread + --exec-per-thread-extension (reference
    #: mydumper.c:270-298): pipe every finished fmt="sql" chunk through an
    #: arbitrary filter process (stdin→stdout), the output carrying the
    #: extension. Both-or-neither (the reference m_criticals otherwise);
    #: incompatible with -c compression (same check, mydumper.c:281) —
    #: gzip/zstd ARE this mechanism internally and ride the native codec.
    exec_per_thread: str | None = None
    exec_per_thread_extension: str | None = None
    masquerade_filenames: bool = False  # T13 --masquerade-filename
    #: --compact (reference mydumper_arguments.c:226): accepted and
    #: manifest-recorded; a NO-OP on artifacts — the reference flag only
    #: suppresses the per-chunk SQL_MODE header (mydumper_common.c:
    #: 411,422), which our fmt="sql" chunks never carry, and the
    #: metadata file is written unconditionally there (round-12 fix:
    #: trimming metadata lost foreign SQL_MODE session restoration).
    compact: bool = False
    #: --use-savepoints (reference mydumper_arguments.c:243): in the
    #: reference this wraps per-table metadata reads in SAVEPOINT /
    #: ROLLBACK TO to shrink MDL windows. Spark dumps hold no long
    #: transaction per table (each chunk is its own SELECT under the S11
    #: snapshot fence), so the flag is accepted and RECORDED (manifest
    #: config) but changes nothing — the fence already provides what
    #: savepoints buy.
    use_savepoints: bool = False
    #: --table-engine-for-view-dependency (mydumper_arguments.c:415,
    #: default MEMORY): engine named in the stand-in CREATE TABLE written
    #: for each view (mydumper_jobs.c:520-545) so foreign myloader can
    #: resolve view-on-view/table dependencies before the real CREATE
    #: VIEW replays.
    table_engine_for_view_dependency: str = "MEMORY"
    #: write a per-table per-column profile (_profile.json) alongside the
    #: manifest — rows/nulls/distincts/bounds from one extra aggregate per
    #: table (operators/profile.py; HLL distincts, scale-safe). Independent
    #: of ``checksum`` — either flag alone triggers the written-data
    #: read-back.
    profile: bool = False
    #: driver threads submitting per-table write/checksum/profile jobs
    #: concurrently — the reference's N worker threads across tables
    #: (mydumper_working_thread.c). Spark job submission is thread-safe;
    #: with 1000 small tables a sequential driver loop leaves the cluster
    #: idle between jobs (each table's job can't saturate it), so the dump
    #: wall time becomes Σ(per-table latency). Set 1 to force the
    #: sequential path.
    dump_threads: int = 4
    #: capture each table's source DDL (PKs/indexes/constraints) as a
    #: ``<table>-schema.sql`` artifact + manifest descriptor when the
    #: source is a live JDBC database — the reference's schema-dump jobs
    #: (mydumper_jobs.c:128-344). No-op for parquet sources (no DDL to
    #: capture).
    capture_ddl: bool = True
    # --- JDBC-source options (used when `source` is a jdbc: URL) ---
    jdbc_properties: dict[str, str] = field(default_factory=dict)  # user/pw/driver
    #: S11 fence connections: a zero-arg callable returning an object with
    #: ``execute(sql) -> list[tuple]`` (e.g. a mysql-connector cursor
    #: wrapper). Tests inject fakes; without one, MySQL-family dumps warn
    #: that per-partition snapshots are unfenced.
    connection_factory: object | None = None
    fence_workers: int = 4  # worker connections the fence opens
    dialect: object | None = None  # ServerDialect override (else probed live)
    #: --tidb-snapshot: pin every partition to one TiDB MVCC timestamp/TSO
    #: (reference mydumper_common.c:436) — on TiDB this replaces the
    #: binlog fence as the S11 consistency mechanism
    tidb_snapshot: str | None = None
    #: --all-tablespaces (-Y): dump general InnoDB tablespace DDL
    #: (all-schema-create-tablespace.sql). Reference default is OFF —
    #: tablespaces are server-level objects most dumps shouldn't carry
    #: (mydumper_arguments.c:341)
    all_tablespaces: bool = False
    #: --no-views (-W): skip view DDL capture entirely
    no_views: bool = False
    #: object-capture gates. The reference's -G/-R/-E are opt-INs
    #: (triggers/routines/events dump only when asked); our default
    #: captures everything, so the user-facing knobs are the inverse —
    #: skip flags per kind (a superset default with honest opt-outs)
    skip_triggers: bool = False
    skip_routines: bool = False
    skip_events: bool = False
    #: -k/--order-by-primary: PK-sort rows within each output partition
    #: (reference O1, mydumper_write.c:1055 — ORDER BY pk per chunk).
    #: sortWithinPartitions, deliberately NOT a global orderBy: the
    #: reference sorts per chunk too, and a corpus-wide total sort would
    #: be a pure-overhead range exchange
    order_by_primary: bool = False
    #: --views-as-tables: dump each view's ROWS as a table (a view is
    #: SELECTable) instead of its DDL — the reference flag of the same
    #: name; view entries restore as plain tables
    views_as_tables: bool = False
    #: completion callback ``(table_key, [absolute file paths])`` invoked
    #: from the dump pool the moment ONE table's files are finished on
    #: disk (data written, checksummed, profiled) — the hook ``dump
    #: --stream`` uses to frame files onto the wire WHILE other tables
    #: are still dumping, the reference's per-file push
    #: (mydumper_stream.c:34-157). Called from pool threads concurrently:
    #: the callback must do its own locking. Dump-wide artifacts (schema
    #: DDL, objects, profile, manifest) finish after every table and are
    #: NOT announced here — stream them when ``dump`` returns.
    table_done: object | None = None
    #: --check-row-count: pre-count each table at the source (SELECT
    #: COUNT(*) pushed to a JDBC server / metadata-only for parquet) and
    #: hard-fail the dump if the written row count differs (reference
    #: mydumper_start_dump.c:804 m_critical) — catches concurrent writes
    #: slipping through an unfenced dump
    check_row_count: bool = False
    #: --disk-limits "<pause>:<resume>" in MB (reference
    #: mydumper_arguments.c:196): before each table's write, pause while
    #: free space at the output dir is below pause-MB, resuming once it
    #: recovers to resume-MB
    disk_limits: str | None = None
    #: test seam for disk_limits: zero-arg callable returning free bytes
    #: at the output dir (default shutil.disk_usage)
    disk_free_fn: object | None = None
    #: --throttle "[max_sleep_us:]Variable=value" (reference
    #: common_options.c:122-146; monitor thread common.c:1796-1834 polls
    #: SHOW GLOBAL STATUS LIKE Variable and writers g_usleep an adaptive
    #: amount — doubling from 10ms while over, halving on recovery,
    #: capped at max_sleep_us). Plain "value" defaults the variable to
    #: Threads_running; value 0 defaults to dump_threads (both reference
    #: defaults). Spark shape: the gate holds dump-pool SUBMISSIONS (a
    #: per-write sleep would stall executors mid-stage) — the same
    #: backpressure point as --disk-limits, probing source load instead
    #: of target disk.
    throttle: str | None = None
    #: test seam / non-MySQL sources: zero-arg callable returning the
    #: probed value. Default probes SHOW GLOBAL STATUS LIKE <variable>
    #: over a connection_factory() connection (MySQL-family servers).
    throttle_probe_fn: object | None = None
    #: --dry-run (reference common_options.c: "skips the connection to the
    #: database and the execution of any query"): run discovery/planning
    #: only — admitted tables, resolved output names, row estimates,
    #: captured object inventory — and return that PLAN dict instead of a
    #: Manifest; no data is read, nothing is written
    dry_run: bool = False


def _parse_disk_limits(spec: str) -> tuple[int, int]:
    """'<pause>:<resume>' MB → (pause_bytes, resume_bytes); the reference
    pauses when free < pause and resumes at free ≥ resume, so resume must
    not be below pause."""
    try:
        pause_mb, resume_mb = (int(x) for x in spec.split(":"))
    except ValueError as e:
        raise ValueError(
            f"--disk-limits expects '<pause>:<resume>' in MB, got {spec!r}"
        ) from e
    if resume_mb < pause_mb:
        raise ValueError(
            f"--disk-limits resume ({resume_mb}MB) below pause "
            f"({pause_mb}MB) would never resume")
    return pause_mb * 1024 * 1024, resume_mb * 1024 * 1024


def _wait_for_disk(cfg: DumpConfig, pause_b: int, resume_b: int) -> None:
    """Block the calling pool thread while the output filesystem is under
    the pause threshold (reference mydumper_file_handler.c disk-space
    check: writers stall, they don't fail)."""
    import shutil
    import time as _time

    free = cfg.disk_free_fn or (
        lambda: shutil.disk_usage(cfg.output_dir).free)
    if free() >= pause_b:
        return
    import warnings

    warnings.warn(
        f"disk-limits: free space under {pause_b >> 20}MB at "
        f"{cfg.output_dir}; pausing until {resume_b >> 20}MB free",
        stacklevel=2)
    while free() < resume_b:
        _time.sleep(0.1)


def _parse_throttle(spec: str) -> tuple[str, int, float]:
    """``[max_sleep_us:]Variable=value`` → (variable, value, max_sleep_s)
    — the reference's exact grammar (common_options.c:122-146: an optional
    leading microseconds cap, then ``Variable=value`` or a bare ``value``
    that defaults the variable to Threads_running; the cap defaults to
    60s, common.c throttle_max_usleep_limit)."""
    max_sleep_s = 60.0
    body = spec
    if ":" in spec:
        head, body = spec.split(":", 1)
        try:
            max_sleep_s = int(head) / 1e6
        except ValueError as e:
            raise ValueError(
                f"--throttle expects '[max_sleep_us:]Variable=value', got "
                f"{spec!r}") from e
        if max_sleep_s <= 0:
            raise ValueError("--throttle max_sleep_us must be positive")
    if "=" in body:
        var, _, val = body.partition("=")
    else:
        var, val = "Threads_running", body
    try:
        value = int(val)
    except ValueError as e:
        raise ValueError(
            f"--throttle expects '[max_sleep_us:]Variable=value', got "
            f"{spec!r}") from e
    return var, value, max_sleep_s


class _ThrottleGate:
    """--throttle analogue: probe a source load metric between table
    submissions and hold new work while it exceeds the threshold. The
    sleep adapts exactly like the reference monitor
    (common.c:1796-1834): doubles from 10ms while over the threshold
    (capped), halves once recovered — so a persistently loaded server
    backs the dump off geometrically instead of hammering the probe.
    Thread-safe: pool threads share one gate (one probe stream, like the
    reference's single monitor thread)."""

    def __init__(self, probe, threshold: int, max_sleep_s: float = 60.0):
        import threading

        self.probe = probe
        self.threshold = threshold
        self.max_sleep = max_sleep_s
        self.sleep = 0.0
        self.dead = False  # probe broke: throttling disabled, warned once
        self._lock = threading.Lock()

    def wait(self) -> None:
        import time as _time
        import warnings

        warned = False
        while True:
            # probe under the gate lock: pool threads share ONE probe
            # connection (like the reference's single monitor thread), and
            # DBAPI connections are not thread-safe — an unserialized
            # concurrent probe would interleave protocol packets
            with self._lock:
                if self.dead:
                    return
                try:
                    current = int(self.probe())
                except Exception as e:
                    # a broken monitor must not wedge the dump (the
                    # reference traces "Invalid query" and keeps going,
                    # common.c:1828): warn once, stop throttling
                    warnings.warn(f"throttle: probe failed ({e}); "
                                  "disabling throttle for this dump",
                                  stacklevel=2)
                    self.dead = True
                    return
                if current <= self.threshold:
                    self.sleep /= 2
                    return
                self.sleep = min(self.max_sleep,
                                 self.sleep * 2 if self.sleep else 0.01)
                s = self.sleep
            if not warned:
                warnings.warn(
                    f"throttle: source metric at {current} > "
                    f"{self.threshold}; holding dump submissions",
                    stacklevel=2)
                warned = True
            _time.sleep(s)  # outside the lock: held threads sleep, the
            # next prober takes over


def _build_throttle_gate(cfg: DumpConfig) -> "_ThrottleGate | None":
    """Construct the --throttle gate (None when the flag is unset): parse
    the reference grammar, default value 0 → dump_threads (reference
    common.c:1804-1806), and build the default SHOW GLOBAL STATUS probe
    over a connection_factory() connection when no probe seam is given."""
    if not cfg.throttle:
        return None
    var, value, max_sleep = _parse_throttle(cfg.throttle)
    if value == 0:
        value = cfg.dump_threads  # reference: defaults num_threads
    probe = cfg.throttle_probe_fn
    if probe is None:
        if cfg.connection_factory is None:
            raise ValueError(
                "--throttle needs a probe: a source with "
                "DumpConfig.connection_factory (probed via SHOW "
                "GLOBAL STATUS LIKE, MySQL-family) or an explicit "
                "throttle_probe_fn")
        conn = cfg.connection_factory()
        sql = f"SHOW GLOBAL STATUS LIKE '{var}'"

        def probe(conn=conn, sql=sql):
            rows = conn.execute(sql)
            # SHOW GLOBAL STATUS rows are (Variable_name, Value)
            return int(rows[0][-1]) if rows else 0
    return _ThrottleGate(probe, value, max_sleep)


@contextmanager
def _open_source(spark: SparkSession, source: str, cfg: DumpConfig):
    """Route the dump source: a directory → ParquetCatalog; a ``jdbc:`` URL
    → live dialect probe → S11 snapshot fence (MySQL-family only) →
    JdbcCatalog over the same connection properties. Yields
    (catalog, DumpFence|None, ServerDialect|None) and releases the fence
    on exit: a failure must not leak its open REPEATABLE-READ transaction
    (it pins the source's undo/history horizon). The fence runs before
    any chunk planning/scan and records the GTID position; because
    Spark's per-partition scan connections open later (their
    REPEATABLE-READ snapshot comes from sessionInitStatement), the
    table-wide guarantee is completed by ``fence.verify_after()`` at dump
    end — GTID unchanged across the window ⇒ all partition snapshots
    observed identical data
    (reference mydumper_start_dump.c:1389-1417)."""
    if not source.startswith("jdbc:"):
        yield ParquetCatalog(spark, source), None, None
        return
    from mydumper_spark.catalog import JdbcCatalog
    from mydumper_spark.sources.jdbc_source import (
        JdbcSourceConfig,
        snapshot_fence_for_dump,
    )
    from mydumper_spark.sources.server_detect import (
        ServerProduct,
        detect_via_jdbc,
    )

    scheme = source.split(":")[1].lower() if source.count(":") >= 2 else ""
    jcfg = JdbcSourceConfig(
        url=source,
        consistent_snapshot=scheme in ("mysql", "mariadb"),
        tidb_snapshot=cfg.tidb_snapshot,
        extra=dict(cfg.jdbc_properties),
    )
    props = jcfg.properties()
    dialect = cfg.dialect or detect_via_jdbc(spark, source, props)
    fence = snapshot_fence_for_dump(
        dialect, cfg.connection_factory, num_workers=cfg.fence_workers
    )
    mysql_like = dialect.is_mysql_like and dialect.product is not ServerProduct.UNKNOWN
    try:
        yield (JdbcCatalog(spark, source, props, mysql_like=mysql_like),
               fence, dialect)
    finally:
        if fence is not None:
            fence.release()


def _plan_tables(cat, cfg: DumpConfig) -> list[tuple]:
    """The admitted tables in catalog order as ``[(key, db_rec, meta,
    tt)]`` — the one discovery rule of ``dump``, ``dump_incremental`` and
    ``source_drift``. ``key`` is the manifest key, ``db_rec`` the database
    recorded in the entry (None in single-namespace dumps), ``tt`` the
    table's TableTransform or None."""
    from mydumper_spark.catalog import JdbcCatalog

    metas = cat.discover(cfg.filters, **(
        {"include_views": True}
        if cfg.views_as_tables and isinstance(cat, JdbcCatalog)
        else {}))
    # a multi-database JDBC server can hold same-named tables in
    # different schemas — bare names would collide on both the manifest
    # key and the output filename, silently overwriting one table with
    # another
    multi_db = len({m.database for m in metas}) > 1
    plan = []
    for meta in metas:
        key = meta.qualified_name if multi_db else meta.name
        # per-table config: the manifest key first; a single-namespace
        # dump also honors the qualified form. A multi-database dump
        # matches the qualified key only (a bare name there would apply
        # one schema's WHERE/scope to a stranger table of the same name)
        tt = cfg.per_table.get(key)
        if tt is None and not multi_db:
            tt = cfg.per_table.get(meta.qualified_name)
        plan.append((key, meta.database if multi_db else None, meta, tt))
    return plan


def _attach_schema_artifact(entry, artifact, out_name: str,
                            output_dir: str) -> None:
    """Write a captured table-DDL artifact next to the data file and point
    the manifest entry at it — the phase-3 merge step of ``_run_dump``
    and the imports (an incremental restore needs the same L6/L7 inputs a
    full restore gets)."""
    if artifact is None:
        return
    import hashlib as _hashlib

    from mydumper_spark.plans.ddl import descriptor_is_empty

    sp = os.path.join(output_dir, f"{out_name}-schema.sql")
    # utf-8 + surrogateescape, mirroring _write_object_artifacts: a
    # genuine/mysqldump CREATE TABLE may carry raw non-UTF-8 bytes
    # (latin-1 comments/defaults) preserved by the intake's
    # byte-faithful surrogateescape read — a strict write would abort
    # the whole import on the first such table
    with open(sp, "w", encoding="utf-8", errors="surrogateescape") as f:
        f.write(artifact.raw_sql.rstrip("\n") + "\n")
    entry.schema_sql_path = sp
    entry.schema_sql_checksum = _hashlib.md5(
        artifact.raw_sql.encode("utf-8", "surrogateescape")).hexdigest()
    if not descriptor_is_empty(artifact.descriptor):
        entry.schema_def = artifact.descriptor


def _capture_objects(cat, dialect, cfg: DumpConfig,
                     admitted_tables: set[str], multi_db: bool,
                     capture_conn) -> list:
    """Non-table schema objects (views/triggers/routines/events/sequences),
    captured once per dump and filter-gated by ``_run_dump`` (reference
    -schema-view.sql / -schema-triggers.sql / db-schema-post.sql
    artifacts, mydumper_jobs.c:392-620). Returns
    ``[(key, obj), ...]``; empty for non-JDBC sources."""
    from mydumper_spark.catalog import JdbcCatalog

    if not (cfg.capture_ddl and isinstance(cat, JdbcCatalog)):
        return []
    from mydumper_spark.sources.schema_objects import capture_schema_objects
    from mydumper_spark.sources.server_detect import ServerProduct

    product = dialect.product if dialect else ServerProduct.UNKNOWN
    out = []
    for obj in capture_schema_objects(
        lambda sql: cat._q(sql).collect(), product, conn=capture_conn,
        # reference --all-tablespaces defaults OFF: passing no dialect
        # suppresses exactly the tablespace family
        dialect=dialect if cfg.all_tablespaces else None,
    ):
        okey = (f"{obj.database}.{obj.name}" if multi_db and obj.database
                else obj.name)
        if obj.kind == "view" and (cfg.no_views or cfg.views_as_tables):
            # --no-views drops them; --views-as-tables dumps their ROWS
            # instead (they entered the table list at discovery)
            continue
        if ((obj.kind == "trigger" and cfg.skip_triggers)
                or (obj.kind == "routine" and cfg.skip_routines)
                or (obj.kind == "event" and cfg.skip_events)):
            continue  # per-kind capture gates (reference -G/-R/-E inverse)
        if obj.kind == "tablespace":
            # server-global (no database, no table): always admitted —
            # the reference gates only on server support
            pass
        elif obj.kind in ("view", "sequence"):
            # views and sequences pass the same P5-P8 name gates as
            # tables (the reference discovers both FROM the table
            # list — TABLE_TYPE VIEW/SEQUENCE)
            if not cfg.filters.admits(
                TableMeta(database=obj.database, name=obj.name)
            ):
                continue
            if obj.kind == "view":
                # columns for the stand-in dependency table
                # (--table-engine-for-view-dependency; the reference
                # runs SHOW FIELDS, mydumper_jobs.c:517). Best-effort:
                # a dialect without information_schema just skips the
                # stand-in (our own restore never needs it — the DAG
                # orders views after their bases).
                db_lit = obj.database.replace("'", "''")
                nm_lit = obj.name.replace("'", "''")
                where = (f"WHERE table_schema = '{db_lit}' "
                         f"AND table_name = '{nm_lit}' "
                         "ORDER BY ordinal_position")
                obj.columns = None
                # COLUMN_TYPE carries the full type (varchar(20)); MySQL
                # has it, DuckDB/ANSI only expose DATA_TYPE — try the
                # complete form first so the stand-in DDL is valid for
                # its one consumer (foreign myloader against MySQL)
                for tcol in ("column_type", "data_type"):
                    try:
                        obj.columns = [
                            (r[0], r[1]) for r in cat._q(
                                f"SELECT column_name, {tcol} "
                                "FROM information_schema.columns "
                                + where).collect()]
                        break
                    except Exception:
                        continue
        elif obj.kind == "trigger":
            # a trigger's fate follows its base table's (the
            # reference files triggers per-table)
            tkey = (f"{obj.database}.{obj.table}" if multi_db
                    else obj.table)
            if tkey not in admitted_tables:
                continue
        else:
            # routines/events are database-scoped (db-schema-post):
            # without this gate an out-of-scope schema's procedures
            # would be dumped AND replayed on the restore target
            if not cfg.filters.admits_database(obj.database):
                continue
        out.append((okey, obj))
    return out


#: strip the reference view-artifact preamble (DROP TABLE IF EXISTS…;
#: DROP VIEW IF EXISTS…; — mydumper_jobs.c:578-579). The identifier may
#: be backtick-quoted and contain ';', so quoted segments are consumed
#: atomically — a hostile view name cannot truncate the strip mid-name.
_VIEW_PREAMBLE_RE = __import__("re").compile(
    r"^(?:DROP\s+(?:TABLE|VIEW)\s+IF\s+EXISTS"
    r"(?:`(?:[^`]|``)*`|[^;`])*;\s*)+",
    __import__("re").IGNORECASE)


def _strip_view_preamble(raw: str) -> str:
    return _VIEW_PREAMBLE_RE.sub("", raw).strip()


#: reference artifact naming (mydumper_jobs.c): views get -schema-view.sql,
#: triggers -schema-triggers.sql; routines and events land in the post file
#: (we keep one per object, with a distinct suffix for events so a
#: routine/event name clash cannot overwrite — SQL puts them in separate
#: namespaces)
_OBJ_SUFFIX = {"view": "-schema-view.sql",
               "trigger": "-schema-triggers.sql",
               "routine": "-schema-post.sql",
               "event": "-schema-ev-post.sql",
               "sequence": "-schema-sequence.sql",
               "tablespace": "-schema-create-tablespace.sql"}


def _write_object_artifacts(manifest: Manifest, schema_objects: list,
                            fnames, output_dir: str,
                            view_dep_engine: str = "MEMORY") -> None:
    """Write each captured schema object's DDL artifact and record it in
    ``manifest.objects`` (phase-3 merge step of ``_run_dump`` and the
    imports).

    For views with captured columns, also write the reference's stand-in
    dependency table (``{view}-schema.sql`` holding ``CREATE TABLE IF NOT
    EXISTS … ENGINE=<view_dep_engine>``, mydumper_jobs.c:520-545) so
    foreign myloader can resolve view-on-view/table dependency order; our
    own restore ignores it (the DAG orders views natively).

    Every view's real ``-schema-view.sql`` artifact opens with the
    reference's preamble ``DROP TABLE IF EXISTS … ; DROP VIEW IF EXISTS …``
    (mydumper_jobs.c:578-579): foreign myloader replays the stand-in
    CREATE TABLE first, and without the DROP TABLE line the subsequent
    CREATE VIEW fails with "Table already exists". Our own restore strips
    the preamble and issues its own target-qualified drops."""
    import hashlib as _hashlib

    for okey, obj in schema_objects:
        safe = fnames.filename_for(okey)
        op = os.path.join(output_dir, f"{safe}{_OBJ_SUFFIX[obj.kind]}")
        body = obj.raw_sql.rstrip("\n") + "\n"
        if obj.kind == "view" and not body.upper().startswith("DROP "):
            bt_name = obj.name.replace("`", "``")
            body = (f"DROP TABLE IF EXISTS `{bt_name}`;\n"
                    f"DROP VIEW IF EXISTS `{bt_name}`;\n" + body)
        # surrogateescape: mysqldump-sourced object DDL may carry raw
        # non-UTF-8 bytes preserved by the splitter's byte-faithful read;
        # a strict write would abort the whole artifact pass on them
        with open(op, "w", encoding="utf-8",
                  errors="surrogateescape") as f:
            f.write(body)
        if obj.kind == "view" and getattr(obj, "columns", None):
            cols = ",\n".join(
                "  `{}` {}".format(c.replace("`", "``"), t)
                for c, t in obj.columns)
            standin = os.path.join(output_dir, f"{safe}-schema.sql")
            # utf-8 + surrogateescape like every artifact write: a
            # non-ASCII view/column name must not abort under C locales
            with open(standin, "w", encoding="utf-8",
                      errors="surrogateescape") as f:
                f.write(
                    "CREATE TABLE IF NOT EXISTS `{}`(\n{}\n) ENGINE={};\n"
                    .format(obj.name.replace("`", "``"), cols,
                            view_dep_engine))
        manifest.objects.append({
            "kind": obj.kind,
            "database": obj.database,
            "name": obj.name,
            "path": op,
            "checksum": _hashlib.md5(
                body.encode("utf-8", "surrogateescape")).hexdigest(),
            **({"table": obj.table} if obj.table else {}),
        })


def _run_dump(spark: SparkSession, source: str, cfg: DumpConfig,
              manifest: Manifest, job: str, write_table,
              plan_table, plan_top: dict | None = None):
    """The one dump driver behind ``dump`` and ``dump_incremental`` — the
    reference's single ``start_dump`` orchestration
    (mydumper_start_dump.c:1039-1560), in three phases:

    1. (sequential) open the source and record its consistency position,
       name every admitted table's outputs, capture table DDL and schema
       objects; under --dry-run return the plan here;
    2. (pooled) per table: the --disk-limits/--throttle gates, the
       source read, the P11 schema-only entry or the entry point's
       ``write_table(key, db_rec, meta, df, out_name) -> (entry,
       profile|None)`` over the transformed frame;
    3. (sequential) merge in catalog order — manifest and profile content
       are byte-identical to a dump_threads=1 run — then the fence's
       full-window check and the manifest write.

    Planning stays sequential so output names and the manifest are
    deterministic regardless of thread interleaving; the capture
    connection is used only there, so it needs no locking. Tables run
    concurrently from a driver thread pool (``dump_threads``) — the
    reference's worker-thread-per-table model (mydumper_working_thread.c).
    ``plan_table(key, tt)`` and ``plan_top`` add the entry point's own
    --dry-run fields."""
    import json as _json

    from mydumper_spark.catalog import JdbcCatalog
    from mydumper_spark.sinks.exec_sink import (
        FilenameRegistry,
        masquerade_table_name,
    )
    from mydumper_spark.sinks.manifest import build_entry

    manifest.compact = cfg.compact
    manifest.use_savepoints = cfg.use_savepoints
    with _open_source(spark, source, cfg) as (cat, fence, dialect):
        if fence is not None:
            # reference [source] section: the binlog/GTID position the
            # dump is consistent at (mydumper_start_dump.c:774-808)
            manifest.source_info["executed_gtid_set"] = fence.gtid
            manifest.source_info["fence_attempts"] = str(fence.attempts)
        if cfg.tidb_snapshot is not None:
            # TiDB: the pinned MVCC timestamp IS the consistency record — a
            # consumer must see WHICH snapshot the dump reads as-of.
            # Recorded unconditionally, next to any fence record: a
            # mysql-scheme URL with a connection_factory builds a fence AND
            # may pin a snapshot
            manifest.source_info["tidb_snapshot"] = cfg.tidb_snapshot
        capture = cfg.capture_ddl and isinstance(cat, JdbcCatalog)
        capture_conn = None
        try:
            # --- phase 1 (sequential): plan work items + capture source
            # DDL (driver-plane catalog metadata: a few tiny queries per
            # table, optionally one shared SHOW CREATE TABLE connection)
            fnames = FilenameRegistry()
            plan = _plan_tables(cat, cfg)
            # db_rec is set exactly when the dump spans several databases
            multi_db = any(db_rec is not None for _, db_rec, _, _ in plan)
            os.makedirs(cfg.output_dir, exist_ok=True)
            if capture:
                from mydumper_spark.sources.ddl_capture import (
                    capture_table_ddl,
                )
                from mydumper_spark.sources.server_detect import ServerProduct

                product = dialect.product if dialect else ServerProduct.UNKNOWN
                if cfg.connection_factory is not None:
                    try:
                        capture_conn = cfg.connection_factory()
                    except Exception:
                        pass  # DDL is composed from the catalog instead
            work = []
            for key, db_rec, meta, tt in plan:
                out_name = (
                    masquerade_table_name(key)
                    if cfg.masquerade_filenames
                    # weird-name safety (specific_16); multi-db dumps keep
                    # the reference's db.table composition (segments
                    # sanitized independently) so fmt="sql" chunk files
                    # route through myloader's filename parser
                    else fnames.filename_for_qualified(meta.database,
                                                       meta.name)
                    if multi_db
                    else fnames.filename_for(key)
                )
                artifact = None
                # a view-as-table restores from the dumped column schema;
                # SHOW CREATE would yield view DDL, wrong to replay as a
                # table
                if capture and not meta.is_view:
                    artifact = capture_table_ddl(
                        lambda sql: cat._q(sql).collect(), product,
                        meta.database, meta.name, conn=capture_conn,
                    )
                work.append((key, db_rec, meta, tt, out_name, artifact))

            # non-table schema objects (views/triggers/routines/events) —
            # captured once per dump, filter-gated, replayed by restore in
            # the POST phase
            schema_objects = _capture_objects(
                cat, dialect, cfg, {item[0] for item in work}, multi_db,
                capture_conn)

            if cfg.dry_run:
                # --dry-run: the plan, never the execution. Phase 1 only
                # touched source METADATA (catalog discovery, DDL
                # capture); object artifacts are written in phase 3, so
                # returning here writes nothing and reads no data.
                return {
                    "dry_run": True,
                    "format": cfg.fmt,
                    "output_dir": cfg.output_dir,
                    **(plan_top or {}),
                    "tables": {
                        key: {
                            "database": db_rec,
                            "output_name": out_name,
                            "row_estimate": meta.row_estimate,
                            **plan_table(key, tt),
                        }
                        for key, db_rec, meta, tt, out_name, _ in work
                    },
                    "objects": [
                        {"kind": obj.kind, "database": obj.database,
                         "name": obj.name}
                        for _, obj in schema_objects
                    ],
                }

            # --- phase 2 (pooled): each table is an independent chain of
            # Spark jobs; pool threads overlap them (FAIR pool "dump" so
            # no one table's stage monopolizes slots under fair
            # scheduling).
            disk_limits = (_parse_disk_limits(cfg.disk_limits)
                           if cfg.disk_limits else None)
            throttle_gate = _build_throttle_gate(cfg)

            def run_table(item):
                key, db_rec, meta, tt, out_name, _ = item
                sc = spark.sparkContext
                sc.setLocalProperty("spark.scheduler.pool", "dump")
                sc.setLocalProperty("spark.job.description", f"{job} {key}")
                if disk_limits is not None:  # --disk-limits: stall, don't fail
                    _wait_for_disk(cfg, *disk_limits)
                if throttle_gate is not None:  # --throttle: hold while loaded
                    throttle_gate.wait()
                df = cat.read(meta, cfg.chunks_per_table)
                if tt is not None and "DATA" not in tt.object_scope:  # P11
                    return build_entry(df.limit(0), key, manifest.algorithm,
                                       path=None, database=db_rec), None
                return write_table(
                    key, db_rec, meta,
                    apply_transform(df, tt, global_where=cfg.global_where),
                    out_name)

            results = thread_map(run_table, work, cfg.dump_threads)

            # --- phase 3 (sequential): merge in catalog order
            profiles: dict[str, list] = {}
            for (key, _, _, _, out_name, artifact), (entry, prof) in zip(
                    work, results):
                _attach_schema_artifact(entry, artifact, out_name,
                                        cfg.output_dir)
                manifest.tables[key] = entry
                if prof is not None:
                    profiles[key] = prof
            _write_object_artifacts(
                manifest, schema_objects, fnames, cfg.output_dir,
                view_dep_engine=cfg.table_engine_for_view_dependency)
            if cfg.profile and profiles:
                with open(os.path.join(cfg.output_dir, "_profile.json"),
                          "w") as f:
                    _json.dump(profiles, f, indent=1)
            if fence is not None:
                # full-window GTID verification: still the fenced position
                # ⇒ no write committed while ANY partition was scanning ⇒
                # all per-partition snapshots observed identical data.
                # Recorded either way — a consumer must be able to see
                # when the fence was only point-in-time (reference
                # --no-locks degraded mode).
                stable = fence.verify_after()
                manifest.source_info["consistency"] = (
                    "gtid-stable" if stable else "writes-during-dump"
                )
                if not stable:
                    import warnings

                    warnings.warn(
                        "gtid_executed advanced during the dump: "
                        "per-partition snapshots may be mutually "
                        "inconsistent (recorded as "
                        "consistency=writes-during-dump in the manifest)",
                        stacklevel=3,
                    )
        finally:
            if capture_conn is not None and hasattr(capture_conn, "close"):
                try:
                    capture_conn.close()
                except Exception:
                    pass
    manifest.finish()
    write_manifest(manifest, cfg.output_dir)
    return manifest


def dump(spark: SparkSession, source_dir: str, cfg: DumpConfig) -> Manifest:
    """Full export: every admitted table, transformed, chunk-planned,
    written, manifest-ed. Chunk plans are computed but the write itself uses
    Spark's native partitioning — the plan is recorded in the manifest for
    restore-side parallelism and for JDBC sources, where it becomes real
    read partitions. Each table's step (pooled by ``_run_dump``): write in
    ``cfg.fmt``, read the written bytes back, checksum, profile, run the
    --exec filters, announce through ``table_done``."""
    from mydumper_spark.sinks.exec_sink import exec_per_file
    from mydumper_spark.sinks.manifest import build_entry

    if bool(cfg.exec_per_thread) != bool(cfg.exec_per_thread_extension):
        # reference m_critical pair, mydumper.c:270-273
        raise ValueError(
            "--exec-per-thread and --exec-per-thread-extension must be "
            "set together")
    if cfg.exec_per_thread:
        if cfg.fmt != "sql":
            raise ValueError(
                "--exec-per-thread filters the reference's text chunk "
                "files (fmt='sql'); parquet/orc/csv containers use their "
                "native codecs (-c / compression options)")
        if cfg.csv_format.compression:
            # reference mydumper.c:281: -c IS exec-per-thread internally
            raise ValueError(
                "--compression and --exec-per-thread are not compatible")
        import re as _re

        if not _re.fullmatch(r"(\.[A-Za-z0-9]{1,10})+",
                             cfg.exec_per_thread_extension):
            # must match the chunk-name pattern (_SQL_CHUNK_RE) or the
            # filtered files become undiscoverable: stream announce and
            # restore routing both parse chunk names by that regex
            raise ValueError(
                "--exec-per-thread-extension must be dot-separated "
                "alphanumeric segments, each 1-10 chars (e.g. .lz4, "
                f".enc.v2); got {cfg.exec_per_thread_extension!r}")
    manifest = Manifest(fmt=cfg.fmt)
    if cfg.exec_per_thread:
        manifest.exec_per_thread_extension = cfg.exec_per_thread_extension
    if cfg.fmt == "csv":
        from dataclasses import asdict as _asdict

        # record the write dialect so verify/restore can re-read the files
        # exactly as written (CsvFormat round-trips through this dict)
        manifest.csv_dialect = _asdict(cfg.csv_format)

    def write_table(key, db_rec, meta, out, out_name):
        pre_rows = None
        if cfg.check_row_count:
            # an INDEPENDENT pre-count (its own scan/pushed COUNT(*)):
            # written rows differing from it means writes slipped into
            # an unfenced dump window (reference m_critical,
            # mydumper_start_dump.c:804)
            from mydumper_spark.planner.chunks import estimate_rows

            pre_rows = estimate_rows(out)
        if (cfg.order_by_primary and meta.primary_key
                and all(c in out.columns for c in meta.primary_key)):
            out = out.sortWithinPartitions(*meta.primary_key)
        path = os.path.join(cfg.output_dir, f"{out_name}.parquet")
        if cfg.fmt == "csv":
            path = os.path.join(cfg.output_dir, f"{out_name}.dat")
            write_csv(out, path, cfg.csv_format, cfg.max_records_per_file)
        elif cfg.fmt == "jsonl":
            path = os.path.join(cfg.output_dir, f"{out_name}.jsonl")
            write_jsonl(out, path, cfg.max_records_per_file,
                        cfg.csv_format.compression)
        elif cfg.fmt == "orc":
            from mydumper_spark.sinks.writers import write_orc

            path = os.path.join(cfg.output_dir, f"{out_name}.orc")
            write_orc(out, path, cfg.max_records_per_file)
        elif cfg.fmt == "sql":
            # K1, the reference's NATIVE format: multi-row INSERT chunk
            # files named {db.}table.NNNNN.sql in the dump root — the
            # exact layout myloader routes by filename
            # (myloader_process_filename.c), so a JDBC-source dump is
            # directly loadable by real myloader. Statements assemble
            # shuffle-free and order-preserving (-k survives);
            # statement_size caps bytes exactly (reference -s).
            import shutil

            from mydumper_spark.sinks.writers import (
                insert_statements_stream,
            )

            complex_cols = [
                f"{c}:{t}" for c, t in out.dtypes
                if t.startswith(("array", "map", "struct"))
            ]
            if complex_cols:
                raise ValueError(
                    "fmt='sql' renders relational rows (the reference "
                    "targets MySQL); nested columns cannot round-trip "
                    f"as SQL literals: {complex_cols}. Dump this table "
                    "as parquet, or project the nested columns away.")
            stmts = insert_statements_stream(
                out, meta.name, cfg.rows_per_statement,
                cfg.complete_insert, cfg.insert_mode,
                cfg.statement_size,
            )
            tmp = os.path.join(cfg.output_dir, f"_{out_name}.sqltmp")
            w = stmts.write.mode("overwrite")
            comp = cfg.csv_format.compression  # -c: .sql.gz/.sql.zst
            ext = {"gzip": ".gz", "zstd": ".zst"}.get(comp or "", "")
            if comp:
                w = w.option("compression", comp)
            if cfg.max_records_per_file:
                # file rotation in ROWS → statements (the writer's
                # record unit); with a byte cap active this is an
                # upper bound, not exact — same trade the reference
                # makes between --rows and --chunk-filesize
                per_file = max(1, -(-int(cfg.max_records_per_file)
                                    // max(1, cfg.rows_per_statement)))
                w = w.option("maxRecordsPerFile", per_file)
            w.text(tmp)
            parts = sorted(
                f for f in os.listdir(tmp)
                if f.startswith("part-") and not f.endswith(".crc"))
            chunks = []
            for i, p in enumerate(parts):
                dst = os.path.join(cfg.output_dir,
                                   f"{out_name}.{i:05d}.sql{ext}")
                os.replace(os.path.join(tmp, p), dst)
                chunks.append(dst)
            shutil.rmtree(tmp)
            if not chunks:
                # empty table still records a data path — always a
                # PLAIN .sql (a zero-byte .gz is not a valid stream)
                chunks = [os.path.join(cfg.output_dir,
                                       f"{out_name}.00000.sql")]
                open(chunks[0], "w").close()
            path = chunks[0]  # manifest records chunk 0; readers
            # discover siblings via sql_chunk_paths
        else:
            write_parquet(out, path, cfg.max_records_per_file)
        sidecar = None
        if cfg.fmt in ("csv", "jsonl", "sql"):
            # schema sidecar (the reference dumps schema files too):
            # these formats are stringly-typed on disk, so the typed
            # read-back, L9 verification and restore need the dumped
            # schema, not inference (a csv dialect rides in the
            # manifest config section)
            sidecar = write_schema_sidecar(cfg.output_dir, out_name,
                                           out.schema)
        if cfg.exec_per_file:
            if cfg.fmt == "sql":
                from mydumper_spark.sinks.manifest import sql_chunk_paths

                for p in sql_chunk_paths(path):  # reference: per FILE
                    exec_per_file(p, cfg.exec_per_file)
            else:
                exec_per_file(path, cfg.exec_per_file)
        # read-back of the written bytes: what checksums and profiles
        # must describe (the files, not the pre-write plan). Runs for
        # EITHER flag — profile without checksum is a valid dump. The
        # frame just written fixes the file schema, so no footer job.
        written = read_dumped_table(
            spark, {"path": path, "spark_schema": out.schema.jsonValue()},
            csv_dialect=manifest.csv_dialect)
        if written is None:
            raise FileNotFoundError(
                f"dump read-back: {path!r} is gone after the write")
        entry = build_entry(written, key, manifest.algorithm, path=path,
                            database=db_rec, checksum=cfg.checksum)
        if pre_rows is not None and entry.rows != pre_rows:
            raise RuntimeError(
                f"check-row-count: row count mismatch for {key}: "
                f"dumped {entry.rows} of {pre_rows} expected")
        prof = None
        if cfg.profile:
            from mydumper_spark.operators.profile import table_profile

            prof = [r.asDict() for r in table_profile(written).collect()]
        if cfg.exec_per_thread:
            # AFTER every consumer of the plain files (checksum +
            # profile jobs both read `written` lazily): pipe each
            # chunk through the filter on a worker pool (the reference
            # filters per writer thread), record chunk0's filtered name
            from mydumper_spark.sinks.exec_sink import exec_filter_files
            from mydumper_spark.sinks.manifest import sql_chunk_paths

            filtered = exec_filter_files(
                sql_chunk_paths(path), cfg.exec_per_thread,
                cfg.exec_per_thread_extension)
            path = filtered[0]
            entry.path = path
        if cfg.table_done is not None:
            # this table is DONE (written + checksummed + profiled):
            # announce its files — data (file or directory of parts)
            # plus the typed-read sidecar where the format has one
            files = []
            if cfg.fmt == "sql":
                from mydumper_spark.sinks.manifest import sql_chunk_paths

                files = sql_chunk_paths(path)  # every sibling chunk
            elif os.path.isdir(path):
                files = sorted(
                    os.path.join(dp, f)
                    for dp, _, fs in os.walk(path) for f in fs)
            elif os.path.exists(path):
                files = [path]
            if sidecar is not None:
                files.append(sidecar)
            cfg.table_done(key, files)
        return entry, prof

    return _run_dump(
        spark, source_dir, cfg, manifest, "dump", write_table,
        lambda key, tt: {"schema_only": bool(
            tt is not None and "DATA" not in tt.object_scope)})


def import_mysqldump(spark: SparkSession, dumpfile: str, out_dir: str,
                     checksum: bool = True) -> Manifest:
    """myloader --mysqldump analogue (myloader_arguments.c:151): convert a
    mysqldump-format .sql file into a first-class dump directory — the
    reference layout plus our manifest — after which EVERY existing
    consumer works on it unchanged: ``verify``, ``restore`` (with -s, -B,
    --no-data, --skip-*, purge modes), drift checks, ``dump --since``
    incremental chains.

    The single-node file is split in one driver-side streaming pass
    (sources/mysqldump_reader.py); rows are then typed, counted and
    checksummed DISTRIBUTED through the line-parallel INSERT parser.
    CREATE TABLE text yields both the Spark schema and the L6/L7
    descriptor (PK/indexes/constraints replay deferred exactly like a
    live-captured dump)."""
    from types import SimpleNamespace

    from mydumper_spark.plans.ddl import (
        descriptor_from_create_table,
        schema_from_create_table,
    )
    from mydumper_spark.sinks.exec_sink import FilenameRegistry
    from mydumper_spark.sinks.manifest import build_entry
    from mydumper_spark.sources.insert_parser import read_insert_sql
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    res = split_mysqldump(dumpfile, out_dir)
    manifest = Manifest(fmt="sql")
    manifest.source_info = {
        "imported_from": "mysqldump",
        "source_file": os.path.abspath(dumpfile),
        "skipped_statements": str(res.skipped_statements),
    }
    for key, t in res.tables.items():
        if t["create_sql"] is None:
            raise ValueError(
                f"mysqldump file has INSERTs for {key!r} but no CREATE "
                "TABLE — cannot type the rows (is the file truncated, or "
                "was it produced with --no-create-info?)")
        schema = schema_from_create_table(t["create_sql"])
        if t["data_path"]:
            df = read_insert_sql(spark, t["data_path"], schema)
        else:  # schema-only table (mysqldump of an empty table)
            df = empty_frame(spark, schema)
            # an empty chunk keeps path-based consumers (verify, restore)
            # on the same route as populated tables
            t["data_path"] = os.path.join(out_dir, f"{key}.00000.sql")
            open(t["data_path"], "w").close()
        write_schema_sidecar(out_dir, key, df.schema)
        entry = build_entry(df, key, manifest.algorithm,
                            path=t["data_path"], database=t["database"],
                            checksum=checksum)
        _attach_schema_artifact(
            entry,
            SimpleNamespace(
                raw_sql=t["create_sql"],
                descriptor=descriptor_from_create_table(t["create_sql"])),
            key, out_dir)
        manifest.tables[key] = entry
    _write_object_artifacts(
        manifest,
        [((f"{o['database']}.{o['name']}" if res.multi_db and o["database"]
           else o["name"]), SimpleNamespace(**o)) for o in res.objects],
        FilenameRegistry(), out_dir)
    manifest.finish()
    write_manifest(manifest, out_dir)
    return manifest


#: genuine-dump object artifacts by filename suffix (mydumper_jobs.c
#: naming); post files hold MANY routines/events in one artifact and are
#: recorded-not-replayed (splitting them is unsafe: routine bodies
#: legitimately contain ';')
_IMPORT_OBJ_SUFFIX = (("-schema-view.sql", "view"),
                      ("-schema-triggers.sql", "trigger"),
                      ("-schema-sequence.sql", "sequence"))


def _split_trigger_artifact(raw: str) -> "list[tuple[str, str]]":
    """A genuine ``db.table-schema-triggers.sql`` holds ALL of one
    table's triggers; split it at TOP-LEVEL CREATE TRIGGER boundaries —
    a trigger body quoting the literal string 'CREATE TRIGGER' (or
    carrying it in a comment) must not split mid-statement, so matches
    inside quotes/comments are rejected by the shared MySQL lexer
    (sources/sqllex.py). Each piece is named by ITS trigger
    (the restore DROP must target the trigger's name, not the table's).
    Falls back to the whole artifact under a parse-proof name when no
    CREATE TRIGGER is found."""
    import re as _re

    from mydumper_spark.sources.sqllex import toplevel

    bounds = [m.start() for m in toplevel(_re.compile(
        r"CREATE\s+(?:DEFINER\s*=\s*\S+\s+)?TRIGGER\b",
        _re.IGNORECASE), raw)]
    if not bounds:
        return [("__unparsed_triggers", raw)]
    out = []
    for i, b in enumerate(bounds):
        stmt = raw[b: bounds[i + 1] if i + 1 < len(bounds) else len(raw)]
        stmt = stmt.strip().rstrip(";").strip()
        m = _re.search(r"TRIGGER\s+(?:`((?:[^`]|``)*)`|(\S+))", stmt,
                       _re.IGNORECASE)
        name = (m.group(1).replace("``", "`") if m and m.group(1)
                else (m.group(2) if m else f"__trigger_{i}"))
        out.append((name, stmt))
    return out


def _read_statement_head(path: str, n: int = 4096,
                         spark: "SparkSession | None" = None) -> str:
    """First bytes of a chunk's LOAD DATA statement file, compression-
    aware: a ``-c`` dump's statement sibling is ``.sql.gz`` or
    ``.sql.zst`` (recent reference builds default -c to zstd) — a plain
    read would hand compressed bytes to the dialect regexes, which then
    fall back to tab defaults SILENTLY (wrong dialect, garbage rows).
    zstd decompresses through the JVM's zstd-jni (util.zstd_read_bytes,
    bounded — no Python zstd module in this environment), so a genuine
    ``-c`` dump imports without a decompress-first step."""
    from mydumper_spark.util import read_text_head

    return read_text_head(path, n, spark=spark)


def import_mydumper_dir(spark: SparkSession, src_dir: str, out_dir: str,
                        checksum: bool = True,
                        parallelism: int = 4) -> Manifest:
    """myloader ``-d <dir>`` analogue: adopt a GENUINE mydumper dump
    directory (metadata + ``db.table-schema.sql`` + ``db.table.NNNNN.sql``
    chunks + view/trigger artifacts, myloader_process_filename.c layout)
    as a first-class dump dir — after which every existing consumer works
    on it unchanged: ``verify``, ``restore`` (with -s, -B, --no-data,
    purge modes), ``diff``, ``dump --since`` chains. The switching user's
    first workflow: their existing backups load without the reference.

    The source directory is never written to; chunk and schema artifacts
    hardlink into ``out_dir`` (same filesystem — free) with a copy
    fallback, rows are typed/counted/checksummed DISTRIBUTED through the
    line-parallel INSERT parser, and the manifest is synthesized. View
    stand-in ``{view}-schema.sql`` files (identified by their sibling
    ``-schema-view.sql``, or metadata ``is_view``) never become tables;
    the real view artifact keeps its reference DROP preamble, which our
    restore strips and re-issues target-qualified. ``db-schema-post.sql``
    routine/event bundles are recorded in ``source_info`` (import
    manually) — one artifact holds many ';'-bodied routines, which a
    one-statement executor cannot replay safely."""
    import shutil as _shutil
    from types import SimpleNamespace

    from mydumper_spark.plans.ddl import (
        descriptor_from_create_table,
        schema_from_create_table,
    )
    from mydumper_spark.sinks.exec_sink import FilenameRegistry
    from mydumper_spark.sinks.manifest import build_entry
    from mydumper_spark.sinks.metadata_file import parse_metadata
    from mydumper_spark.sources.dump_reader import classify, read_dump_table

    src = os.path.abspath(src_dir)
    out = os.path.abspath(out_dir)
    if src == out:
        raise ValueError(
            "import_mydumper_dir: out_dir must differ from src_dir — the "
            "source dump stays pristine (hardlink/copy intake)")
    os.makedirs(out, exist_ok=True)

    def adopt(name: str, link: bool = True) -> str:
        """Hardlink (data chunks — zero-copy) or copy (files a later
        pipeline step may REWRITE: a hardlinked schema artifact shares
        its inode with the source, and _attach_schema_artifact's 'w'
        open would truncate the user's only copy through the link —
        the round-12 review's live repro)."""
        dst = os.path.join(out, name)
        if not os.path.exists(dst):
            if link:
                try:
                    os.link(os.path.join(src, name), dst)
                except OSError:  # cross-device: fall back to a copy
                    _shutil.copy2(os.path.join(src, name), dst)
            else:
                _shutil.copy2(os.path.join(src, name), dst)
        return dst

    meta = None
    for mf in ("metadata", "metadata.partial"):
        mp = os.path.join(src, mf)
        if os.path.exists(mp):
            with open(mp, encoding="utf-8", errors="surrogateescape") as f:
                meta = parse_metadata(f.read())
            break
    meta_flags = {}
    if meta is not None:
        for t in meta.tables:
            meta_flags[f"{t.database}.{t.table}"] = t

    files = sorted(os.listdir(src))
    chunk_tables: set[tuple[str, str]] = set()
    schema_files: dict[tuple[str, str], str] = {}
    objects: list = []            # SimpleNamespace(kind, database, name, …)
    post_files: list[str] = []
    databases: list[str] = []
    chunks_by_table: dict = {}  # (db, table) -> {"sql": [...], "dat": [...]}
    for f in files:
        for suffix, kind in _IMPORT_OBJ_SUFFIX:
            if f.endswith(suffix):
                base = f[: -len(suffix)]
                db, _, name = base.partition(".")
                if not name:  # un-qualified single-schema artifact
                    db, name = "", base
                with open(os.path.join(src, f), encoding="utf-8",
                          errors="surrogateescape") as fh:
                    raw = fh.read().strip()
                if kind == "trigger":
                    # a genuine trigger artifact is named after the
                    # TABLE and can hold MANY CREATE TRIGGER statements
                    # — one object per trigger, under the TRIGGER's own
                    # name, or restore's DROP targets the wrong name and
                    # a DAG retry dies on "already exists"
                    for tname, stmt in _split_trigger_artifact(raw):
                        objects.append(SimpleNamespace(
                            kind="trigger", database=db, name=tname,
                            raw_sql=stmt, table=name, columns=None))
                else:
                    # hostile-named views/sequences carry a placeholder
                    # FILENAME too: the object identity (what restore's
                    # idempotent DROP targets) must be the metadata's
                    # real name, while `fname` keeps the placeholder
                    # for the stand-in-table skip below
                    mt0 = meta_flags.get(f"{db}.{name}")
                    oname = (mt0.real_table_name
                             if mt0 is not None and mt0.real_table_name
                             else name)
                    objects.append(SimpleNamespace(
                        kind=kind, database=db, name=oname, raw_sql=raw,
                        table=None, columns=None, fname=name))
                break
        else:
            c = classify(f)
            if not c:
                if f.endswith("-schema-post.sql") or f.endswith(
                        "-schema-ev-post.sql"):
                    post_files.append(f)
                continue
            kind, g = c
            if kind == "schema_create":
                databases.append(g["db"])
            elif kind == "table_schema":
                schema_files[(g["db"], g["table"])] = f
            elif kind in ("data_sql", "data_dat"):
                chunk_tables.add((g["db"], g["table"]))
                chunks_by_table.setdefault(
                    (g["db"], g["table"]), {"sql": [], "dat": []})[
                    "dat" if kind == "data_dat" else "sql"].append(f)

    # skip sets key on the FILENAME name (placeholder for hostile
    # names): the stand-in/schema files they suppress are named that way
    view_names = {(o.database, getattr(o, "fname", o.name))
                  for o in objects if o.kind == "view"}
    seq_names = {(o.database, getattr(o, "fname", o.name))
                 for o in objects if o.kind == "sequence"}
    multi_db = len({db for db, _ in set(schema_files) | chunk_tables}) > 1

    manifest = Manifest(fmt="sql")
    manifest.source_info = {
        "imported_from": "mydumper_dir",
        "source_dir": src,
        **({"databases": ",".join(sorted(set(databases)))}
           if databases else {}),
        **({"post_files_import_manually": ",".join(sorted(post_files))}
           if post_files else {}),
    }
    # --- phase 1 (sequential prep): classify each table, adopt its
    # files (local hardlink/copy I/O), recover the .dat dialect, and
    # build one work item per data table. All shared-state mutation
    # (objects, seq_names, manifest.csv_dialect) stays here, single-
    # threaded and in sorted order, so the pooled phase below touches
    # nothing shared.
    work_items: list[dict] = []
    for (db, table) in sorted(set(schema_files) | chunk_tables):
        qual = f"{db}.{table}"
        mt = meta_flags.get(qual)
        if (mt is not None and mt.is_sequence
                and (db, table) not in seq_names
                and (db, table) in schema_files):
            # genuine MariaDB sequence: the metadata flags it and its
            # CREATE SEQUENCE DDL lives in the plain -schema.sql
            # artifact (no -sequence suffix in genuine layout) — record
            # it as a POST-phase object, never a data table
            with open(os.path.join(src, schema_files[(db, table)]),
                      encoding="utf-8", errors="surrogateescape") as fh:
                objects.append(SimpleNamespace(
                    kind="sequence", database=db,
                    name=mt.real_table_name or table,
                    raw_sql=fh.read().strip(), table=None, columns=None,
                    fname=table))
            seq_names.add((db, table))
        if ((db, table) in view_names or (db, table) in seq_names
                or (mt is not None and (mt.is_view or mt.is_sequence))):
            continue  # stand-in / sequence state: object, never a table
        # hostile table names (dots, slashes, mydumper_ prefix…) dump
        # under a mydumper_N placeholder FILENAME with the true name in
        # metadata (determine_filename + real_table_name,
        # mydumper_common.c:66-77): the manifest identity — what
        # restore CREATEs — must be the REAL name, while every on-disk
        # read keeps the placeholder (chunk files, sidecars, artifacts)
        real = (mt.real_table_name
                if mt is not None and mt.real_table_name else table)
        key = f"{db}.{real}" if multi_db else real
        sf = schema_files.get((db, table))
        if sf is None:
            raise ValueError(
                f"mydumper dir has data chunks for {qual!r} but no "
                f"{qual}-schema.sql — cannot type the rows")
        # COPY, never link: _attach_schema_artifact rewrites this path
        # in multi-db mode (out_name == the genuine filename) and a
        # hardlink would truncate the source through the shared inode
        adopt(sf, link=False)
        with open(os.path.join(src, sf), encoding="utf-8",
                  errors="surrogateescape") as fh:
            create_sql = fh.read()
        schema = schema_from_create_table(create_sql)
        tchunks = chunks_by_table.get((db, table), {"sql": [], "dat": []})
        sql_chunks = [adopt(f) for f in tchunks["sql"]]
        dat_chunks = [adopt(f) for f in tchunks["dat"]]
        fmt = None
        if dat_chunks:
            # --load-data/--csv dump: rows live in the .dat chunks; the
            # same-numbered .sql siblings hold LOAD DATA statements, not
            # data — an INSERT parse of those would count ZERO rows
            # silently. The statement itself records the dialect
            # (FIELDS/LINES clauses), which the manifest then carries
            # for every later typed read (restore, verify, diff).
            from mydumper_spark.sinks.writers import (
                csvformat_from_load_data,
            )

            stmt = (_read_statement_head(sql_chunks[0], spark=spark)
                    if sql_chunks else "")
            fmt = csvformat_from_load_data(stmt)
            if manifest.csv_dialect is None:
                from dataclasses import asdict as _asdict

                manifest.csv_dialect = _asdict(fmt)
            chunk0 = dat_chunks[0]
        elif sql_chunks:
            chunk0 = sql_chunks[0]
        else:  # schema-only table: record an empty plain chunk
            chunk0 = os.path.join(out, f"{qual}.00000.sql")
            open(chunk0, "w").close()
        work_items.append(dict(
            db=db, qual=qual, key=key, mt=mt, create_sql=create_sql,
            schema=schema, fmt=fmt, chunk0=chunk0,
            # artifact filename stays placeholder-based: the real name
            # may hold filesystem-hostile bytes, and the adopted
            # genuine artifacts already use the placeholder
            out_name=qual if multi_db else table,
            has_dat=bool(dat_chunks),
            has_data=bool(dat_chunks or sql_chunks)))

    # --- phase 2 (pooled): per-table typed read → count/checksum. Each
    # is an independent chain of Spark jobs; the reference loads tables
    # concurrently the same way (myloader_worker_loader_main.c:94-209)
    # — a genuine dump with hundreds of tables must not pay hundreds of
    # SEQUENTIAL job-submission latencies (round-12 verdict #4). The
    # manifest merge below runs sequentially in sorted order, so the
    # result is byte-identical to a serial import.
    def _import_table(item: dict):
        spark.sparkContext.setLocalProperty(
            "spark.job.description", f"import {item['qual']}")
        if item["has_dat"]:
            df = read_dump_table(spark, out, item["qual"],
                                 fmt=item["fmt"], schema=item["schema"])
        elif item["has_data"]:
            df = read_dump_table(spark, out, item["qual"],
                                 schema=item["schema"])
        else:
            df = empty_frame(spark, item["schema"])
        # sidecar named after the chunk prefix (db.table), the name a
        # chunk path's typed read looks up
        write_schema_sidecar(out, item["qual"], df.schema)
        return build_entry(df, item["key"], manifest.algorithm,
                           path=item["chunk0"],
                           database=item["db"] if multi_db else None,
                           checksum=checksum)

    entries = thread_map(_import_table, work_items, parallelism)

    # --- phase 3 (sequential merge, sorted order): truncation check +
    # schema artifact + manifest insertion
    row_mismatches: list[str] = []
    for item, entry in zip(work_items, entries):
        mt, qual = item["mt"], item["qual"]
        # rows are counted even under --no-checksum (build_entry always
        # records them), so the truncation cross-check never gates on
        # the checksum flag — review fix, round 12
        if (mt is not None and mt.rows >= 0
                and mt.rows != entry.rows):
            row_mismatches.append(
                f"{qual}: metadata says {mt.rows}, chunks hold "
                f"{entry.rows}")
        _attach_schema_artifact(
            entry,
            SimpleNamespace(
                raw_sql=item["create_sql"],
                descriptor=descriptor_from_create_table(
                    item["create_sql"])),
            item["out_name"], out)
        manifest.tables[item["key"]] = entry
    if row_mismatches:
        # a truncated/foreign-edited dump must not import silently clean
        manifest.source_info["row_mismatches"] = "; ".join(row_mismatches)
        import warnings as _warnings

        _warnings.warn(
            "import_mydumper_dir: chunk row counts disagree with the "
            f"dump's own metadata — {manifest.source_info['row_mismatches']}")
    _write_object_artifacts(
        manifest,
        [((f"{o.database}.{o.name}" if multi_db and o.database
           else o.name), o) for o in objects],
        FilenameRegistry(), out)
    manifest.finish()
    write_manifest(manifest, out)
    return manifest


def plan_for_table(spark: SparkSession, meta: TableMeta, df: DataFrame,
                   num_chunks: int | None,
                   profile: list[dict] | None = None) -> ChunkPlan:
    """Per-table chunk plan; ``profile`` (a prior dump's ``_profile.json``
    section, catalog.load_profiles) upgrades the chunk-column pick to
    cardinality-driven for PK-less tables (O6)."""
    col = pick_chunk_column(meta, profile=profile)
    if col is None:
        return ChunkPlan(column=None, strategy="none")
    return plan_chunks(df, col, num_chunks)


def restore(
    spark: SparkSession,
    dump_root: str,
    target_root: str,
    purge: PurgeMode = PurgeMode.DROP,
    verify: bool = True,
    parallelism: int = 4,
    jdbc_properties: dict | None = None,
    ddl_executor=None,
    jdbc_num_partitions: int | None = None,
    skip_indexes: bool = False,
    skip_constraints: bool = False,
    skip_post: bool = False,
    target_database: str | None = None,
    resume_file: str | None = None,
    source_database: str | None = None,
    no_data: bool = False,
    phase_threads: dict | None = None,
    quote_character: str | None = None,
    exec_per_thread: str | None = None,
    drop_database: bool = False,
    ignore_errors: bool = False,
    dry_run: bool = False,
    show_warnings: bool = False,
) -> dict:
    """myloader inverse: DAG-ordered parallel load of a dump into either a
    target directory tree (parquet sink) or — when ``target_root`` is a
    ``jdbc:`` URL — a live database: the SCHEMA phase CREATEs each table
    from the dump's schema (via ``ddl_executor``, a callable that runs one
    DDL statement — Spark's JDBC writer cannot execute arbitrary DDL),
    then the DATA phase appends through the K11 JDBC sink, then L9
    recomputes checksums by reading the target back over JDBC. This is the
    reference's full process_schema → data → verify ordering
    (/root/reference/src/myloader/myloader_restore.c, myloader.c:684-730).
    """
    from mydumper_spark.sinks.exec_sink import FilenameRegistry
    from mydumper_spark.sinks.manifest import (
        _DAT_CHUNK_RE,
        _SQL_CHUNK_RE,
        is_sql_chunk,
        materialized_table,
        read_manifest,
        read_schema_sidecar,
        sql_chunk_paths,
    )
    from mydumper_spark.sources.dump_reader import read_dump_table

    jdbc_target = target_root.startswith("jdbc:")
    if target_database is not None and not jdbc_target:
        raise ValueError(
            "target_database (-B) applies to jdbc: targets only — a "
            "parquet target tree is flat; silently ignoring the override "
            "would restore into unexpected paths")
    if drop_database and not jdbc_target:
        raise ValueError(
            "drop_database applies to jdbc: targets only — a parquet "
            "tree has no schema namespace to drop")
    doc = read_manifest(dump_root)
    # myloader -s/--source-db: restore ONE recorded database out of a
    # multi-schema dump. Matching is on the manifest's recorded database
    # (single-namespace dumps record none — -s on those is a usage error,
    # reported with what IS recorded rather than silently restoring zero
    # tables).
    if source_database is not None:
        admitted = {t for t, e in doc["tables"].items()
                    if e.get("database") == source_database}
        if not admitted:
            avail = sorted({str(e.get("database"))
                            for e in doc["tables"].values()})
            raise ValueError(
                f"source_database {source_database!r} matches no dumped "
                f"table; recorded databases: {avail}")
    else:
        admitted = set(doc["tables"])
    # L11 resume: a prior interrupted restore's completed-job log seeds the
    # DAG so finished objects are skipped; the log persists on ANY failure
    # and is removed on full success (a later fresh restore of the same
    # dump must not silently skip everything)
    resume_log: set[str] = set()
    if resume_file and os.path.exists(resume_file):
        import json as _json

        with open(resume_file) as f:
            resume_log = set(_json.load(f))
    # myloader --max-threads-for-schema-creation/-index-creation/
    # -post-actions + --serialized-table-creation: per-phase concurrency
    # ceilings under the global `parallelism`. Keys: "schema", "index",
    # "constraint", "post".
    caps = {}
    for pname, cap in (phase_threads or {}).items():
        if cap is not None:
            caps[Phase[pname.upper()]] = max(1, int(cap))
    dag = LoaderDag(parallelism=parallelism, resume_log=resume_log,
                    phase_caps=caps)
    skip_existing: set[str] = set()
    append_preexisting: set[str] = set()
    if jdbc_target:
        from mydumper_spark.plans.ddl import quote_ident
        from mydumper_spark.sinks.jdbc_sink import JdbcSinkConfig

        scheme = target_root.split(":")[1].lower()
        dialect = "mysql" if scheme in ("mysql", "mariadb") else "ansi"
        if quote_character is not None:
            # myloader -Q/--quote-character: force the identifier quoting
            # style instead of deriving it from the target's URL scheme
            # (e.g. backticks against a MySQL-compatible engine whose JDBC
            # scheme we don't recognize)
            try:
                dialect = {"`": "mysql", '"': "ansi"}[quote_character]
            except KeyError:
                raise ValueError(
                    "quote_character must be ` (backtick) or \" (ANSI "
                    f"double quote), got {quote_character!r}") from None
        sink = JdbcSinkConfig(
            url=target_root,
            num_partitions=jdbc_num_partitions,
            # the Spark write itself always appends (mode from DELETE):
            # purge semantics are executed through ddl_executor below —
            # Spark's "overwrite" would re-issue CREATE on a second
            # connection, which several drivers' cross-connection DDL
            # visibility breaks
            purge=PurgeMode.DELETE,
            extra=dict(jdbc_properties or {}),
        )

        def entry_db_and_name(t: str) -> tuple[str | None, str]:
            """Manifest key → (schema, bare name). The recorded database
            disambiguates a multi-schema key "s1.t" from a single table
            literally NAMED "s1.t" — both are legal and must not conflate.
            ``target_database`` (myloader -B) overrides the schema every
            table lands in — the bare name still derives from the
            RECORDED database (it owns the key prefix)."""
            db = doc["tables"][t].get("database")
            bare = t[len(db) + 1:] if db else t
            return (target_database if target_database is not None else db,
                    bare)

        def target_table(t: str) -> str:
            db, bare = entry_db_and_name(t)
            qt = quote_ident(bare, dialect)
            return f"{quote_ident(db, dialect)}.{qt}" if db else qt

        def read_target(t: str) -> DataFrame:
            return spark.read.jdbc(
                url=target_root, table=target_table(t),
                properties=dict(jdbc_properties or {}),
            )

        if drop_database and resume_log and not dry_run:
            # a RESUMED run must not re-drop: run 1 already replaced the
            # schemas, and re-dropping would destroy its completed tables
            # while the resume log skips recreating them — data silently
            # lost behind a success report
            import warnings

            warnings.warn(
                "drop_database skipped: resuming a prior run whose "
                "schemas were already replaced", stacklevel=2)
        elif drop_database and not dry_run:
            # myloader --drop-database ("executes a DROP DATABASE if the
            # schema database file is found"): drop every schema the
            # restore is about to recreate — whole-namespace replace, the
            # step purge=DROP's per-table drops can't express (stale
            # tables NOT in the dump survive those). MUST run BEFORE
            # the SKIP/APPEND pre-existing probe below: the probe has
            # to see the post-drop target, or SKIP would 'skip' (=
            # lose) tables the drop removed and APPEND would withhold
            # index replay from tables it now creates fresh
            if ddl_executor is None:
                raise ValueError(
                    "drop_database needs ddl_executor (it issues DROP "
                    "SCHEMA statements)")
            dbs = sorted({entry_db_and_name(t)[0] for t in admitted
                          if entry_db_and_name(t)[0]})
            for db in dbs:
                qd = quote_ident(db, dialect)
                ddl_executor(
                    f"DROP DATABASE IF EXISTS {qd}" if dialect == "mysql"
                    else f"DROP SCHEMA IF EXISTS {qd} CASCADE")
        if purge in (PurgeMode.SKIP, PurgeMode.APPEND) and not dry_run:
            # one probe of information_schema.tables (ANSI — MySQL/
            # MariaDB/TiDB/DuckDB, the same surface JdbcCatalog discovery
            # walks) decides which manifest tables already exist on the
            # target. SKIP leaves those untouched (myloader's purge-matrix
            # SKIP: "--skip-existing promises never touch what's there");
            # APPEND uses the same answer the other way around — a table
            # it CREATES fresh must also get its secondary indexes/
            # constraints replayed (reference myloader replays the full
            # dumped CREATE TABLE under IF NOT EXISTS), while a
            # pre-existing table keeps its own. A single-namespace dump
            # records no database, so its tables land in the connection's
            # DEFAULT schema — which no dialect names portably — and match
            # on bare name across schemas: the conservative direction for
            # both modes (skip / don't re-index).
            rows = spark.read.jdbc(
                url=target_root,
                table="(SELECT table_schema, table_name FROM "
                      "information_schema.tables "
                      "WHERE table_type = 'BASE TABLE') AS t",
                properties=dict(jdbc_properties or {}),
            ).collect()
            qualified = {(r["table_schema"], r["table_name"]) for r in rows}
            names = {r["table_name"] for r in rows}
            preexisting: set[str] = set()
            for t in admitted:
                db, bare = entry_db_and_name(t)
                if (db, bare) in qualified or (db is None and bare in names):
                    preexisting.add(t)
            if purge == PurgeMode.SKIP:
                skip_existing = preexisting
            else:
                append_preexisting = preexisting
    else:
        tnames = FilenameRegistry()  # target-side safe names for weird tables

        def _target_name(t: str) -> str:
            # db-qualified entries keep the reference's db.table file
            # composition (segments sanitized independently) — the same
            # naming the dump side uses
            db = doc["tables"][t].get("database")
            if db:
                return tnames.filename_for_qualified(db, t[len(db) + 1:])
            return tnames.filename_for(t)

        target_paths = {
            t: os.path.join(target_root, f"{_target_name(t)}.parquet")
            for t in doc["tables"]
        }
        # table → schema of the frame its DATA job overwrote the path with
        written_schemas: dict = {}
        if purge == PurgeMode.APPEND:
            # parquet-tree analogue of the information_schema probe: a
            # table whose output path already holds data keeps its rows
            # (verify downgrades to unverifiable); a fresh path must
            # verify exactly
            append_preexisting = {
                t for t, p in target_paths.items() if os.path.exists(p)
            }

        def read_target(t: str) -> DataFrame:
            reader = spark.read
            if t in written_schemas:
                reader = reader.schema(written_schemas[t])
            return reader.parquet(target_paths[t])

    def source_df(table: str) -> DataFrame:
        entry = doc["tables"][table]
        # incremental entries hold a DELTA; restores materialize the full
        # state through the parent-manifest chain (K10/P10)
        if entry.get("incremental"):
            return materialized_table(spark, dump_root, table)
        config = doc.get("config", {})
        src = entry.get("path") or ""
        filt_ext = config.get("exec_per_thread_extension")
        if (filt_ext and src.endswith(filt_ext) and is_sql_chunk(src)
                and os.path.exists(src)):
            # dump was written through --exec-per-thread: pipe every chunk
            # back through the user's decode command (myloader
            # --exec-per-thread) into a scratch dir — the dump dir itself
            # stays untouched — and read the decoded chunk 0 from there
            if table not in _ept_scratch:
                if exec_per_thread is None:
                    raise ValueError(
                        "dump chunks carry the --exec-per-thread "
                        f"extension {filt_ext!r}; pass "
                        "exec_per_thread=<decode command> (e.g. "
                        "'lz4 -dc') to read them back")
                import atexit
                import shutil
                import tempfile

                from mydumper_spark.sinks.exec_sink import exec_decode_files

                scratch = tempfile.mkdtemp(prefix="mydumper_ept_")
                atexit.register(shutil.rmtree, scratch, ignore_errors=True)
                # pooled decode, the dump side's exec_filter_files
                # inverse: chunks decode concurrently, not one after
                # another; decoded[0] stays the manifest path
                decoded = exec_decode_files(
                    sql_chunk_paths(src), exec_per_thread, filt_ext, scratch)
                prefix = _SQL_CHUNK_RE.sub("", os.path.basename(src))
                schema = read_schema_sidecar(os.path.dirname(src), prefix)
                if schema is not None:
                    write_schema_sidecar(scratch, prefix, schema)
                _ept_scratch[table] = decoded[0]
            entry = dict(entry, path=_ept_scratch[table])
        # manifest path wins: weird/masqueraded names don't match the
        # table-name-derived default (FilenameRegistry mapping)
        df = read_dumped_table(spark, entry,
                               csv_dialect=config.get("csv_dialect"))
        if df is not None:
            return df
        # name-derived fallback (stale absolute path / missing sidecar):
        # on-disk chunks of an imported hostile-name table keep their
        # mydumper_N placeholder while the manifest key is the REAL
        # name — derive the filename prefix from the recorded chunk
        # path (the path STRING survives a moved dump dir) before
        # falling back to the manifest key. Chunks are FILES
        # (read_dumped_table's rule): an engine csv dump of table
        # t.00001 is the directory t.00001.dat, not chunk 1 of t
        base = os.path.basename(src)
        m = (os.path.isfile(os.path.join(dump_root, base))
             and (_SQL_CHUNK_RE.search(base) or _DAT_CHUNK_RE.search(base)))
        if m:
            prefix = base[: -len(m.group(0))]
            if prefix and prefix != table:
                return read_dump_table(spark, dump_root, prefix)
        return read_dump_table(spark, dump_root, table)

    # --exec-per-thread decode cache: source_df is called up to three
    # times per table (schema phase, data phase, index-phase column
    # check) — decode ONCE per table, reuse the scratch dir; the decoded
    # files must outlive this call (Spark reads them lazily during the
    # DATA/verify jobs), so cleanup registers at process exit
    _ept_scratch: dict[str, str] = {}

    skipped_ddl: dict[str, list[str]] = {}
    for t, entry in doc["tables"].items():
        if t not in admitted:
            continue  # -s/--source-db: out-of-scope schema
        if t in skip_existing:
            continue  # L3 SKIP: the target already has it — untouched
        schema_only = entry.get("path") is None and entry["rows"] == 0
        if jdbc_target:
            def make_schema_action(table=t, skip=schema_only,
                                   schema_def=entry.get("schema_def")):
                def action():
                    from mydumper_spark.plans.ddl import create_table_ddl

                    if skip:
                        # P11 schema-only export carries no data files to
                        # derive a column schema from — record, don't abort
                        return
                    if ddl_executor is None:
                        raise ValueError(
                            "jdbc: restore target needs ddl_executor to run "
                            "CREATE TABLE (L7 SCHEMA phase)"
                        )
                    schema = source_df(table).schema
                    db, bare = entry_db_and_name(table)
                    # PK from the captured source DDL goes INLINE in the
                    # CREATE (split_create_table's "PK stays" rule);
                    # secondary indexes/constraints arrive in the INDEX/
                    # CONSTRAINT phases after data (L6 --optimize-keys).
                    # Gated on the DUMPED columns: a dump transform may
                    # have projected a PK column away, and a PK clause on
                    # a missing column fails the whole CREATE
                    pk = (schema_def or {}).get("primary_key") or None
                    if pk and not all(c in schema.fieldNames() for c in pk):
                        pk = None
                    if db:  # reproduce the source layout, not a flat name
                        ddl_executor(
                            f"CREATE SCHEMA IF NOT EXISTS "
                            f"{quote_ident(db, dialect)}"
                        )
                    qt = target_table(table)
                    if purge == PurgeMode.DROP:
                        ddl_executor(f"DROP TABLE IF EXISTS {qt}")
                        ddl_executor(create_table_ddl(
                            bare, schema, dialect, database=db,
                            primary_key=pk))
                    elif purge in (PurgeMode.TRUNCATE, PurgeMode.DELETE,
                                   PurgeMode.APPEND):
                        # keep an existing table (grants/triggers survive,
                        # myloader_restore_job.c:120-160); data clearing
                        # happens in the data action (APPEND never clears)
                        ddl_executor(create_table_ddl(
                            bare, schema, dialect, if_not_exists=True,
                            database=db, primary_key=pk))
                    else:  # FAIL: bare CREATE — an existing table aborts
                        ddl_executor(create_table_ddl(
                            bare, schema, dialect, database=db,
                            primary_key=pk))
                return action

            def make_data_action(table=t):
                def action():
                    from mydumper_spark.sinks.jdbc_sink import write_jdbc

                    # DELETE-then-append makes the action idempotent: the
                    # DAG retries failed jobs, and a re-run of a partially
                    # committed append would otherwise duplicate rows.
                    # --append-if-not-exist keeps pre-existing rows by
                    # contract, so it cannot have that protection (the
                    # reference shares the hazard — it just replays
                    # INSERTs)
                    if purge != PurgeMode.APPEND:
                        ddl_executor(f"DELETE FROM {target_table(table)}")
                    write_jdbc(source_df(table), sink, target_table(table))
                return action
        else:
            def make_schema_action(table=t):
                return lambda: None

            def make_data_action(table=t):
                def action():
                    df = source_df(table)
                    df.write.mode(purge.spark_mode).parquet(
                        target_paths[table]
                    )
                    if purge.spark_mode == "overwrite":
                        # the path now holds exactly this frame: verify
                        # reads it back without a footer job. Appended
                        # paths may mix in older files, so they infer.
                        written_schemas[table] = df.schema
                return action

        dag.add(LoadJob(table=t, phase=Phase.SCHEMA, action=make_schema_action()))
        if schema_only:
            continue  # P11 schema-only export: nothing to load
        if not no_data:  # myloader --no-data: schema/index/post only
            dag.add(
                LoadJob(
                    table=t,
                    phase=Phase.DATA,
                    action=make_data_action(),
                    size_hint=entry["rows"],
                )
            )
        # L6/L7: captured secondary indexes + constraints replay AFTER the
        # data phase (the reference's --optimize-keys: bulk-load a bare
        # table, index once — myloader_worker_index.c:107-171). Only for
        # purge modes that CREATE the table fresh (DROP re-creates; FAIL
        # and SKIP reach here only when the table did not exist; APPEND
        # creates fresh exactly when the pre-restore probe found no such
        # table — a pre-existing one keeps its own indexes):
        # TRUNCATE/DELETE keep the existing table, whose own indexes
        # survive — re-issuing CREATE INDEX would collide.
        if (jdbc_target and entry.get("schema_def")
                and (purge in (PurgeMode.DROP, PurgeMode.FAIL,
                               PurgeMode.SKIP)
                     or (purge == PurgeMode.APPEND
                         and t not in append_preexisting))):
            from mydumper_spark.plans.ddl import (
                prune_descriptor, restore_statements,
            )

            # prune against the DUMPED columns: indexes/constraints on
            # transform-dropped columns become skip notes, not target errors
            # (schema-only entries never reach here — the `continue` above)
            avail = set(source_df(t).schema.names)
            pruned, prune_notes = prune_descriptor(entry["schema_def"], avail)
            stmts = restore_statements(target_table(t), pruned, dialect)
            if prune_notes or stmts["skipped"]:
                skipped_ddl[t] = prune_notes + stmts["skipped"]

            def make_ddl_action(statements):
                def action():
                    for s in statements:
                        ddl_executor(s)
                return action

            # --skip-indexes / --skip-constraints (myloader flags): a
            # user loading into a pre-indexed staging table opts out of
            # the deferred DDL phases
            if stmts["index"] and not skip_indexes:
                dag.add(LoadJob(table=t, phase=Phase.INDEX,
                                action=make_ddl_action(stmts["index"])))
            if stmts["constraint"] and not skip_constraints:
                dag.add(LoadJob(table=t, phase=Phase.CONSTRAINT,
                                action=make_ddl_action(stmts["constraint"])))
    # non-table schema objects (views/triggers/routines/events) replay in
    # the POST phase — after every table's data and indexes, the
    # reference's post-worker routing (myloader_worker_post.c:1-129): a
    # view may reference any table, a trigger must not fire mid-load.
    skipped_objects: list[str] = []
    multi_schema = any(e.get("database") for e in doc["tables"].values())
    post_objects = [] if skip_post else doc.get("objects", [])
    # DATABASE-QUALIFIED job keys: the DAG keys its phase queue and resume
    # log by this string (loader_dag.py remaining/resume_log), so two
    # same-named objects in different schemas (db1.v + db2.v — both
    # replayed by the reference, myloader_worker_post.c walks the full
    # queue) must not collapse into one job. Qualification follows the
    # manifest table-key convention: only MULTI-schema dumps qualify —
    # a single-namespace dump's objects all live in the connection's
    # default schema (DuckDB "main", etc.), where the qualifier is noise.
    qualify_objects = multi_schema or len(
        {o.get("database") for o in post_objects if o.get("database")}) > 1
    for obj in post_objects:
        okind, oname = obj["kind"], obj["name"]
        okey = (f"{okind}:{obj['database']}.{oname}"
                if qualify_objects and obj.get("database")
                else f"{okind}:{oname}")
        if (source_database is not None
                and obj.get("database") != source_database
                and okind != "tablespace"):
            continue  # -s: objects of out-of-scope schemas never replay
        if okind == "tablespace":
            # reference parity: myloader ignores the tablespace artifact
            # with an import-manually warning (myloader_process_file_type.c:
            # 139-140) — its DATAFILE paths belong to the SOURCE server's
            # filesystem. Recorded, never replayed.
            skipped_objects.append(
                f"tablespace:{oname} (import manually before restore)")
            continue
        if not jdbc_target:
            # a parquet target tree has no view/trigger engine — recorded,
            # never silently dropped
            skipped_objects.append(okey)
            continue
        if ddl_executor is None:
            skipped_objects.append(okey)
            continue

        def make_post_action(o=obj):
            def action():
                from mydumper_spark.plans.ddl import (
                    quote_ident, retarget_database, skip_definer,
                )

                # surrogateescape, pairing with _write_object_artifacts'
                # byte-faithful write: a non-UTF-8 trigger/view artifact
                # (latin-1 comments in genuine dumps) imports cleanly
                # since round 13 and must not crash HERE at replay
                with open(o["path"], encoding="utf-8",
                          errors="surrogateescape") as f:
                    raw = skip_definer(f.read()).strip()
                # a view artifact opens with the reference preamble
                # DROP TABLE IF EXISTS…; DROP VIEW IF EXISTS…
                # (mydumper_jobs.c:578-579 — ours and genuine dumps
                # alike): strip it, the drops below re-issue it with the
                # TARGET-qualified name ddl_executor needs
                raw = _strip_view_preamble(raw)
                qn = quote_ident(o["name"], dialect)
                if target_database is not None:  # myloader -B: everything
                    qn = f"{quote_ident(target_database, dialect)}.{qn}"
                    if o.get("database"):
                        # the verbatim artifact references the SOURCE
                        # schema (its own name and its body) — retarget
                        raw = retarget_database(
                            raw, o["database"], target_database, dialect)
                elif multi_schema and o.get("database"):
                    qn = f"{quote_ident(o['database'], dialect)}.{qn}"
                # idempotent replay (the DAG retries failed jobs): drop the
                # prior incarnation, then the captured DDL verbatim
                drop_kw = {"view": "VIEW", "trigger": "TRIGGER",
                           "event": "EVENT",
                           "sequence": "SEQUENCE"}.get(o["kind"])
                if drop_kw is None:  # routine: PROCEDURE vs FUNCTION is
                    drop_kw = ("FUNCTION" if raw.upper().startswith(
                        "CREATE FUNCTION") else "PROCEDURE")
                if o["kind"] == "view":
                    # the name may exist as the stand-in dependency TABLE
                    # (a foreign dump's {view}-schema.sql replayed as a
                    # table) or as a prior VIEW — never both, and engines
                    # (DuckDB, MySQL) error on a type-mismatched DROP
                    # even with IF EXISTS, so at most ONE of the pair can
                    # legitimately fail. Both failing means a real fault
                    # (connection loss, missing DROP privilege) — re-raise
                    # it rather than letting CREATE fail with a
                    # misleading "already exists"
                    errs = []
                    for stmt in (f"DROP TABLE IF EXISTS {qn}",
                                 f"DROP VIEW IF EXISTS {qn}"):
                        try:
                            ddl_executor(stmt)
                        except Exception as e:
                            errs.append(e)
                    if len(errs) == 2:
                        raise errs[-1]
                else:
                    ddl_executor(f"DROP {drop_kw} IF EXISTS {qn}")
                if o["kind"] == "sequence":
                    # CREATE SEQUENCE + the SETVAL position statement ride
                    # in one artifact, ';\n'-separated (never split other
                    # kinds: routine bodies legitimately contain ';')
                    for stmt in raw.split(";\n"):
                        if stmt.strip():
                            ddl_executor(stmt.strip())
                else:
                    ddl_executor(raw)
            return action

        dag.add(LoadJob(table=okey, phase=Phase.POST,
                        action=make_post_action()))
    if dry_run:
        # reference --dry-run ("skips the connection to the database"):
        # the full phase plan from the dump's own metadata, zero
        # execution, target never contacted. Because the target is never
        # contacted, the SKIP/APPEND pre-existing probe CANNOT run — the
        # plan over-approximates those modes (every table listed; a real
        # run may skip some), and says so instead of implying otherwise.
        plan: dict[str, list[str]] = {}
        for j in sorted(dag.jobs, key=lambda j: (j.phase, j.table)):
            plan.setdefault(j.phase.name.lower(), []).append(j.table)
        out: dict = {"dry_run": True, "plan": plan}
        if purge in (PurgeMode.SKIP, PurgeMode.APPEND):
            out["note"] = (
                f"purge={purge.value}: the pre-existing-table probe needs "
                "a target connection, which dry-run never opens — the "
                "plan lists every table; a real run may skip/append-"
                "preserve some")
        if skip_existing:
            out["skipped_existing"] = sorted(skip_existing)
        if skipped_objects:
            out["skipped_objects"] = skipped_objects
        return out
    try:
        dag.run(fail_fast=not ignore_errors)
    except BaseException:
        if resume_file:
            import json as _json

            with open(resume_file, "w") as f:
                _json.dump(sorted(dag.resume_log), f)
        raise
    else:
        if resume_file:
            if any(not v.ok for v in dag.results.values()):
                # ignore_errors let the run FINISH with failures: persist
                # the completed-job log anyway so a re-run against a fixed
                # target skips everything that already landed (the same
                # contract the exception path gives)
                import json as _json

                with open(resume_file, "w") as f:
                    _json.dump(sorted(dag.resume_log), f)
            elif os.path.exists(resume_file):
                os.remove(resume_file)
    results = {"load": {k[0]: v.ok for k, v in dag.results.items() if k[1] == Phase.DATA}}
    if skip_existing:
        # visible, not silent: which tables --skip-existing left alone
        results["skipped_existing"] = sorted(skip_existing)
    ddl_phases = {
        phase.name.lower(): {
            k[0]: v.ok for k, v in dag.results.items() if k[1] == phase
        }
        for phase in (Phase.INDEX, Phase.CONSTRAINT, Phase.POST)
    }
    if any(ddl_phases.values()) or skipped_ddl or skipped_objects:
        # per-table skip notes and schema-OBJECT skips live in separate
        # fields: skipped_ddl is keyed by table name, so a table literally
        # named "objects" must not collide with the object list
        results["ddl"] = {
            **{k: v for k, v in ddl_phases.items() if v},
            **({"skipped": skipped_ddl} if skipped_ddl else {}),
            **({"skipped_objects": skipped_objects}
               if skipped_objects else {}),
        }
    if verify and not no_data:  # --no-data loaded nothing to checksum
        # L9: recompute checksums on the *target* and compare to the
        # manifest, with the algorithm the dump recorded
        from mydumper_spark.functions.checksum import table_checksum
        from mydumper_spark.sinks.manifest import manifest_algorithm

        algo = manifest_algorithm(doc)
        # ignore_errors: a table whose load failed is a verify FAILURE by
        # definition — reading the (absent/partial) target back to hash it
        # would just throw and abort the remaining verifications
        failed_data = {k[0] for k, v in dag.results.items()
                       if k[1] == Phase.DATA and not v.ok}
        to_check = [
            (t, entry) for t, entry in doc["tables"].items()
            if t in admitted  # -s/--source-db: out-of-scope schema
            # SKIP left whatever data was already there — comparing it
            # to the manifest would flag a deliberate non-action
            and t not in skip_existing
            # schema-only (same predicate as schema_only above)
            and not (entry.get("path") is None and entry["rows"] == 0)
        ]

        def verify_table(item: tuple[str, dict]) -> bool | None:
            t, entry = item
            if t in failed_data:
                return False
            # --append-if-not-exist keeps pre-existing target rows, so a
            # mismatch on a table the probe found ALREADY THERE is
            # expected — indistinguishable from corruption, reported as
            # unverifiable (None), never as a hard failure. A table APPEND
            # created fresh started empty and must verify exactly.
            append_unverifiable = (purge == PurgeMode.APPEND
                                   and t in append_preexisting)
            if entry.get("data_checksum") is None:
                # dump ran with checksum=False — verify row count only (a
                # plain count, NOT table_checksum: hashing every row of the
                # target to then read only .rows would double verify cost)
                ok = read_target(t).count() == entry["rows"]
            else:
                cs = table_checksum(read_target(t), algorithm=algo)
                ok = (cs["checksum"] == entry["data_checksum"]
                      and cs["rows"] == entry["rows"])
            return None if (not ok and append_unverifiable) else ok

        # tables verify concurrently, like the DATA phase that loaded them
        checked = thread_map(verify_table, to_check, parallelism)
        results["verify"] = {t: ok for (t, _), ok in zip(to_check, checked)}
    # --show-warnings (myloader_arguments.c:145 / myloader_restore.c:530):
    # the reference surfaces per-INSERT SQL warnings from the server; the
    # Spark-side analogues of "the load finished but something was
    # imperfect" are collected here either way, and the flag promotes them
    # to real warnings.warn emissions.
    warn_lines = []
    for t, ok in results.get("load", {}).items():
        if not ok:
            warn_lines.append(
                f"table {t}: data load FAILED"
                + (" (continued past: --ignore-errors)" if ignore_errors
                   else ""))
    for t, ok in results.get("verify", {}).items():
        if ok is False and results.get("load", {}).get(t, True):
            # loaded fine but the target hash disagrees with the
            # manifest — detected corruption, the condition most worth
            # shouting about (load failures are reported above)
            warn_lines.append(
                f"table {t}: checksum MISMATCH against the manifest")
        elif ok is None:
            warn_lines.append(
                f"table {t}: checksum unverifiable — APPEND onto a "
                f"pre-existing table mixes prior rows into the hash")
    for t in results.get("skipped_existing", ()):
        warn_lines.append(f"table {t}: left untouched (--skip-existing)")
    ddl_skips = results.get("ddl", {}).get("skipped", {})
    for t, notes in (ddl_skips.items()
                     if isinstance(ddl_skips, dict) else ()):
        joined = "; ".join(notes) if isinstance(notes, list) else notes
        warn_lines.append(f"table {t}: DDL skipped — {joined}")
    if warn_lines:
        results["warnings"] = warn_lines
        if show_warnings:
            import warnings as _warnings

            for line in warn_lines:
                _warnings.warn(f"restore: {line}", stacklevel=2)
    return results


def dump_incremental(
    spark: SparkSession,
    source_dir: str,
    cfg: DumpConfig,
    parent_dir: str,
) -> Manifest:
    """``dump --since <parent>``: emit only the rows added or changed since
    the parent dump, plus each table's deleted-key set — the honest Spark
    answer to the reference's ``--updated-since`` / daemon snapshot ring
    (P10/K10, mydumper_daemon_thread.c:33-146), but row-accurate instead of
    table-mtime-coarse.

    Per table with a usable PK: the parent's state (chain-materialized) and
    the live source reduce to (pk, digest) and full-outer join — change
    traffic is keys + 8-byte digests (operators/diff.py), never unchanged
    payloads. The delta file carries added+changed rows; ``-deletes``
    carries vanished keys; the manifest entry records the FULL-state
    checksum (what a restore must reproduce), lineage points at the parent
    manifest. Tables without a PK (or new tables) fall back to a full
    re-dump, recorded as mode=full. Incremental dumps are parquet-only.

    Everything else is ``dump``'s driver (``_run_dump``): the same table
    plan, output names, consistency record, source DDL and schema objects
    (an incremental restore replays the same SCHEMA/INDEX/CONSTRAINT/POST
    phases a full restore gets), and the same pooled per-table phase."""
    import hashlib as _hashlib

    from pyspark.sql import functions as F

    from mydumper_spark.operators.diff import snapshot_diff
    from mydumper_spark.sinks.manifest import (
        apply_delta,
        build_entry,
        materialized_table,
        read_manifest,
    )

    if cfg.fmt != "parquet":
        raise ValueError("incremental dumps support fmt='parquet' only")
    parent_doc = read_manifest(parent_dir)
    if cfg.exec_per_thread or cfg.exec_per_thread_extension:
        raise ValueError(
            "incremental dumps are parquet-only; --exec-per-thread "
            "filters fmt='sql' chunk files")
    manifest = Manifest(fmt="parquet")
    manifest.parent_manifest = os.path.abspath(parent_dir)
    with open(os.path.join(parent_dir, "_manifest.json"), "rb") as f:
        manifest.source_info["parent_manifest_md5"] = _hashlib.md5(
            f.read()).hexdigest()

    def write_table(key, db_rec, meta, cur, out_name):
        # per table: diff → delta/deletes write → reconstruction checksum
        parent_entry = parent_doc["tables"].get(key)
        # a PARTIAL composite PK is not a key: diffing on the surviving
        # subset would explode the full-outer join and corrupt the
        # reconstruction — only an intact PK qualifies for delta mode
        pk = (list(meta.primary_key)
              if meta.primary_key
              and all(c in cur.columns for c in meta.primary_key)
              else [])
        if parent_entry is None or not pk or parent_entry.get("path") is None:
            # new table / no PK / schema-only parent: full re-dump
            path = os.path.join(cfg.output_dir, f"{out_name}.parquet")
            write_parquet(cur, path, cfg.max_records_per_file)
            entry = build_entry(spark.read.schema(cur.schema).parquet(path),
                                key, manifest.algorithm, path=path,
                                database=db_rec, checksum=cfg.checksum)
            return entry, None
        old = materialized_table(spark, parent_dir, key)
        d = snapshot_diff(old, cur, pk).localCheckpoint(eager=True)
        adds = d.where(
            F.col("status").isin("added", "changed")).select(*pk)
        dels = d.where(F.col("status") == "deleted").select(*pk)
        # no forced broadcast: the changed-key set is unbounded (a bulk
        # UPDATE touches the whole table) — AQE picks broadcast when the
        # delta really is a sliver and a shuffled join when it is not
        path = os.path.join(cfg.output_dir, f"{out_name}.delta.parquet")
        delta = cur.join(adds, pk, "left_semi")
        write_parquet(delta, path, cfg.max_records_per_file)
        del_path = os.path.join(cfg.output_dir,
                                f"{out_name}.deletes.parquet")
        write_parquet(dels, del_path)
        counts = {
            row["status"]: row["count"]
            for row in d.groupBy("status").count().collect()
        }
        # the entry checksums the RECONSTRUCTED state (parent ⊎ the delta
        # and deletes read back from disk, with the schemas just written),
        # not the source scan — a bad delta write fails verify
        delta = spark.read.schema(delta.schema).parquet(path)
        dels = spark.read.schema(dels.schema).parquet(del_path)
        entry = build_entry(apply_delta(old, delta, dels, pk), key,
                            manifest.algorithm, path=path, database=db_rec,
                            checksum=cfg.checksum)
        entry.incremental = {
            "pk": pk,
            "delete_path": del_path,
            # what materialized_table reads these files back with
            "delta_schema": delta.schema.jsonValue(),
            "delete_schema": dels.schema.jsonValue(),
            "added": int(counts.get("added", 0)),
            "changed": int(counts.get("changed", 0)),
            "deleted": int(counts.get("deleted", 0)),
            "parent_rows": parent_entry["rows"],
        }
        return entry, None

    return _run_dump(
        spark, source_dir, cfg, manifest, "dump-incremental", write_table,
        lambda key, tt: {"in_parent": key in parent_doc["tables"]},
        {"incremental_parent": manifest.parent_manifest})


def source_drift(spark: SparkSession, dump_root: str, source: str,
                 cfg: DumpConfig | None = None) -> dict[str, dict]:
    """Drift detection — "has the source changed since this dump?": for
    every table the manifest checksummed, recompute the checksum over the
    LIVE source with the manifest's recorded algorithm and compare. The
    daemon's natural companion (take a snapshot only when something
    drifted) and the exact answer the reference's mtime-coarse
    ``--updated-since`` approximates (mydumper_working_thread.c freshness
    gate): a checksum IS a full source scan, so this costs one read of the
    source — use ``TableFilters.updated_since_days`` for the cheap
    heuristic and this for the proof.

    ``cfg`` must carry the same global_where/per_table transforms the dump
    ran with (the manifest records their OUTPUT's checksum, not the raw
    table's) — same contract as re-running the dump CLI with the same
    flags. Returns {table: {"in_sync": bool|None, ...}}; tables now absent
    from the source report in_sync=None with a reason, as do entries
    dumped without checksums."""
    from mydumper_spark.functions.checksum import table_checksum
    from mydumper_spark.sinks.manifest import manifest_algorithm, read_manifest

    cfg = cfg or DumpConfig(output_dir=dump_root)
    doc = read_manifest(dump_root)
    algo = manifest_algorithm(doc)
    out: dict[str, dict] = {}
    with _open_source(spark, source, cfg) as (cat, _fence, _dialect):
        plan = {key: (meta, tt) for key, _, meta, tt in _plan_tables(cat, cfg)}
        for t, entry in doc["tables"].items():
            if entry.get("data_checksum") is None:
                out[t] = {"in_sync": None,
                          "reason": "dump ran without checksums"}
                continue
            if t not in plan:
                out[t] = {"in_sync": None,
                          "reason": "table absent from source"}
                continue
            meta, tt = plan[t]
            df = apply_transform(cat.read(meta, cfg.chunks_per_table), tt,
                                 global_where=cfg.global_where)
            cs = table_checksum(df, algorithm=algo)
            out[t] = {
                "in_sync": (cs["checksum"] == entry["data_checksum"]
                            and cs["rows"] == entry["rows"]),
                "dump": {"rows": entry["rows"],
                         "checksum": entry["data_checksum"]},
                "source": {"rows": cs["rows"], "checksum": cs["checksum"]},
            }
    return out
