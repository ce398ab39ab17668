"""Command-line interface — the mydumper/myloader CLI surface, Spark-first.

Option names follow the reference (/root/reference/src/mydumper/
mydumper_arguments.c, myloader_arguments.c) where a Spark equivalent exists:

    python -m mydumper_spark dump --source DIR|jdbc:URL -o DIR
        [--where SQL] [--regex RE] [--omit-from-file F] [--tables-list a,b]
        [--ignore-engines e1,e2] [--defaults-file F]
        [--format parquet|csv|jsonl|orc|sql] [--rows N] [--threads N]
        [-s BYTES] [--rows-per-statement N] [--complete-insert]
        [--insert-ignore|--replace]
        [--no-checksum] [--exec CMD] [--since PARENT] [--tidb-snapshot TS]
        [--clear] [-k] [-Y] [-W|--views-as-tables] [--stream [--no-delete]]
    python -m mydumper_spark restore -d DIR --target DIR|jdbc:URL
        [--threads N] [--drop-table|--truncate|--skip-existing|
         --append-if-not-exist] [--no-checksum] [-B DB] [--skip-indexes]
        [--skip-constraints] [--skip-post] [--stream [--mysqldump]]
        [--resume] [-s DB]
        [--no-data] [--max-threads-for-{schema-creation,index-creation,
        post-actions} N] [--serialized-table-creation] [-Q CHAR]
    python -m mydumper_spark import-mysqldump FILE -o DIR
    python -m mydumper_spark verify -d DIR [--source DIR|jdbc:URL]
    python -m mydumper_spark daemon --source … -o RING --iterations N
        [--snapshot-interval S] [--snapshot-count M] [--incremental]
        [--only-if-drifted]
    python -m mydumper_spark diff --old DIR --new DIR
    python -m mydumper_spark prepare / prepare-stream / embcurate …
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _session(threads: int | None):
    from mydumper_spark.session import get_session

    master = f"local[{threads}]" if threads else None
    return get_session("mydumper-spark-cli", master=master)


def _parse_props(pairs: list[str] | None) -> dict[str, str]:
    """K=V option list → dict, with a usage error (exit 2) instead of a
    raw ValueError traceback on a malformed entry."""
    out: dict[str, str] = {}
    for kv in pairs or []:
        if "=" not in kv:
            build_parser().error(
                f"--jdbc-property expects K=V, got {kv!r}"
            )
        k, v = kv.split("=", 1)
        out[k] = v
    return out


def persist_and_count(df, counts: dict, key: str, cached: list):
    """Materialize a pipeline stage once: persist, record the row count, and
    track the handle for end-of-run unpersist. The persist is what keeps each
    stage count from re-running the whole upstream lineage (dedup included) —
    downstream stages read the cache instead."""
    df = df.persist()
    cached.append(df)
    counts[key] = df.count()
    return df


def _build_dump_config(args: argparse.Namespace, output_dir: str):
    """Assemble a DumpConfig from CLI args — shared by `dump` and `daemon`
    (the daemon's parser defines only a subset; missing knobs default)."""
    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.config import parse_defaults_file, parse_skiplist_file
    from mydumper_spark.engine import DumpConfig
    from mydumper_spark.sinks.writers import CsvFormat

    filters = TableFilters()
    per_table = {}
    global_where = getattr(args, "where", None)
    if getattr(args, "defaults_file", None):
        parsed = parse_defaults_file(args.defaults_file)
        filters = parsed["filters"]
        per_table = parsed["per_table"]
        global_where = global_where or parsed["global_where"]
    if getattr(args, "regex", None):
        filters.regex = args.regex
    if getattr(args, "omit_from_file", None):
        filters.skiplist = parse_skiplist_file(args.omit_from_file)
    if getattr(args, "tables_list", None):
        # bare names match any schema (admits() checks name OR db.name), so
        # -T customer works for both parquet ("default") and JDBC sources
        filters.tables_list = set(args.tables_list.split(","))
    if getattr(args, "ignore_engines", None):
        filters.ignore_engines = set(args.ignore_engines.split(","))

    jdbc_props = _parse_props(getattr(args, "jdbc_property", None))
    return DumpConfig(
        output_dir=output_dir,
        filters=filters,
        global_where=global_where,
        per_table=per_table,
        chunks_per_table=getattr(args, "chunks", None),
        fmt=getattr(args, "format", "parquet"),
        csv_format=CsvFormat(compression=getattr(args, "compress", None)),
        max_records_per_file=getattr(args, "rows", None),
        checksum=not getattr(args, "no_checksum", False),
        exec_per_file=getattr(args, "exec_cmd", None),
        exec_per_thread=getattr(args, "exec_per_thread", None),
        exec_per_thread_extension=getattr(
            args, "exec_per_thread_extension", None),
        masquerade_filenames=getattr(args, "masquerade_filename", False),
        jdbc_properties=jdbc_props,
        profile=getattr(args, "profile", False),
        tidb_snapshot=getattr(args, "tidb_snapshot", None),
        all_tablespaces=getattr(args, "all_tablespaces", False),
        order_by_primary=getattr(args, "order_by_primary", False),
        no_views=getattr(args, "no_views", False),
        views_as_tables=getattr(args, "views_as_tables", False),
        rows_per_statement=getattr(args, "rows_per_statement", 1000),
        statement_size=getattr(args, "statement_size", None),
        complete_insert=getattr(args, "complete_insert", False),
        insert_mode=("REPLACE" if getattr(args, "replace", False)
                     else "INSERT IGNORE"
                     if getattr(args, "insert_ignore", False) else "INSERT"),
        check_row_count=getattr(args, "check_row_count", False),
        disk_limits=getattr(args, "disk_limits", None),
        throttle=getattr(args, "throttle", None),
        dry_run=getattr(args, "dry_run", False),
        skip_triggers=getattr(args, "skip_triggers", False),
        skip_routines=getattr(args, "skip_routines", False),
        skip_events=getattr(args, "skip_events", False),
        compact=getattr(args, "compact", False),
        use_savepoints=getattr(args, "use_savepoints", False),
        table_engine_for_view_dependency=getattr(
            args, "table_engine_for_view_dependency", "MEMORY"),
    )


def cmd_dump(args: argparse.Namespace) -> int:
    from mydumper_spark.engine import dump

    if getattr(args, "clear", False):
        import shutil as _shutil

        # reference --clear: empty the output dir before dumping (a stale
        # table file from a prior run must not coexist with a new manifest)
        _shutil.rmtree(args.outputdir, ignore_errors=True)
    cfg = _build_dump_config(args, args.outputdir)
    spark = _session(args.threads)
    streamed: set[str] = set()
    stream_count = [0]
    if getattr(args, "stream", False) and not getattr(args, "since", None):
        # reference --stream pushes each file AS ITS TABLE COMPLETES so
        # the consumer's restore overlaps the producer's dump
        # (mydumper_stream.c:34-157) — wire the engine's per-table
        # completion callback straight into the framer. Pool threads call
        # it concurrently; one lock serializes the byte stream.
        import sys as _sys
        import threading as _threading

        from mydumper_spark.streaming.protocol import write_frame

        _lock = _threading.Lock()
        _out = _sys.stdout.buffer

        def _table_done(key, files, _root=args.outputdir):
            with _lock:
                for p in files:
                    with open(p, "rb") as f:
                        payload = f.read()
                    write_frame(_out, os.path.relpath(p, _root), payload)
                    streamed.add(os.path.abspath(p))
                    stream_count[0] += 1
                _out.flush()
                if not args.no_delete:
                    # default --stream deletes after send — but only after
                    # the WHOLE table framed (a reader of a half-deleted
                    # parquet dir would see a torn table)
                    for p in files:
                        os.remove(p)

        cfg.table_done = _table_done
    if getattr(args, "since", None):
        from mydumper_spark.engine import dump_incremental

        manifest = dump_incremental(spark, args.source, cfg, args.since)
    else:
        manifest = dump(spark, args.source, cfg)
    if getattr(args, "dry_run", False):
        print(json.dumps(manifest))  # the PLAN dict, not a Manifest
        return 0
    if getattr(args, "stream", False):
        # post-dump sweep: whatever the overlap path didn't already send —
        # schema/object artifacts, profile, the manifests (INI metadata
        # dead last, the
        # reference's final-metadata ordering). The JSON summary moves to
        # stderr so stdout stays pure protocol bytes. Incremental dumps
        # (--since) take this path for everything.
        import sys as _sys

        from mydumper_spark.streaming.protocol import stream_directory

        n = stream_directory(_sys.stdout.buffer, args.outputdir,
                             delete=not args.no_delete, exclude=streamed)
        _sys.stdout.buffer.flush()
        print(json.dumps({"streamed_files": n + stream_count[0],
                          "dumped_tables": len(manifest.tables)}),
              file=_sys.stderr)
        return 0
    print(
        json.dumps(
            {
                "dumped_tables": len(manifest.tables),
                "rows": {t: e.rows for t, e in sorted(manifest.tables.items())},
                **({"incremental_since": args.since}
                   if getattr(args, "since", None) else {}),
                "outputdir": args.outputdir,
            }
        )
    )
    return 0


def cmd_daemon(args: argparse.Namespace) -> int:
    """Reference daemon mode (``--daemon --snapshot-interval
    --snapshot-count``, mydumper_daemon_thread.c:33-146): periodic dumps
    into a ring of ``snapshot_count`` slot directories under the output
    root, round-robin, with ``LAST_DUMP`` repointed at the newest complete
    snapshot — a consumer always reads a finished dump, never a partial.

    ``--incremental`` makes every non-first snapshot a delta against
    LAST_DUMP (P10), with the chain-safety rule the ring layout forces:
    when the slot being overwritten is still an ANCESTOR of the live
    chain, the snapshot runs as a FULL dump instead — recycling an
    ancestor would leave LAST_DUMP unrestorable. (With count=2 that means
    alternating full/incremental; deeper rings amortize better.)

    ``--iterations`` bounds the loop — the testable/cron-able form of the
    reference's run-forever daemon (run the bounded form from cron/systemd
    for forever; checkpointless by design, the ring state file is the only
    cursor).

    Crash-safety protocol: every snapshot dumps into a ``.wip-<slot>``
    temp dir under the ring and is atomically renamed into its slot only
    AFTER the dump succeeds. The recycled slot's previous contents are
    deleted in the instant between dump completion and the rename — never
    before — so a crash at ANY point leaves every slot either fully intact
    or fully replaced. This is what makes wrapping onto a live-chain
    ancestor slot safe: until the replacement full dump has completed, the
    ancestor (and with it the whole chain LAST_DUMP resolves through) is
    untouched on disk.

    ``--only-if-drifted`` closes the drift loop: before each non-first
    snapshot, recompute the source's checksums against the manifest
    LAST_DUMP points at (engine.source_drift — the exact answer the
    reference's mtime-coarse ``--updated-since`` freshness gate
    approximates) and SKIP the snapshot when everything is in_sync. The
    cost is one full source scan; the saving is the dump's write path,
    checksum read-back and a ring slot — on a mostly-idle source the ring
    stops churning slots that would be byte-identical anyway.
    """
    import shutil as _shutil
    import time as _time

    from mydumper_spark.engine import dump, dump_incremental, source_drift
    from mydumper_spark.sinks.manifest import read_manifest, rebase_manifest_paths

    if args.snapshot_count < 2:
        build_parser().error(
            "--snapshot-count must be >= 2: a 1-slot ring overwrites the "
            "snapshot LAST_DUMP points at while consumers may be reading it")
    spark = _session(args.threads)
    ring = os.path.abspath(args.outputdir)
    os.makedirs(ring, exist_ok=True)
    state_file = os.path.join(ring, ".ring_state")
    link = os.path.join(ring, "LAST_DUMP")
    snapshots = []
    for it in range(args.iterations):
        idx = 0
        if os.path.exists(state_file):
            with open(state_file) as f:
                idx = (int(f.read().strip() or 0) + 1) % args.snapshot_count
        slot = os.path.join(ring, str(idx))
        last = os.path.realpath(link) if os.path.islink(link) else None
        if getattr(args, "only_if_drifted", False) and last:
            # drift gate: skip the snapshot when the live source still
            # checksums to what LAST_DUMP recorded (None = unverifiable —
            # e.g. a table appeared/vanished — counts as drift: snapshot)
            drift = source_drift(spark, last, args.source,
                                 _build_dump_config(args, last))
            if drift and all(r.get("in_sync") for r in drift.values()):
                snapshots.append({"slot": None, "mode": "skipped_in_sync"})
                if it + 1 < args.iterations and args.snapshot_interval > 0:
                    _time.sleep(args.snapshot_interval)
                continue
        if last and os.path.realpath(slot) == last:
            # crash window: a prior run wrote the state file but died
            # before repointing LAST_DUMP, so the naive next slot IS the
            # one consumers read. Never recycle that — advance once more
            # and overwrite the orphaned (completed-but-unlinked) slot.
            idx = (idx + 1) % args.snapshot_count
            slot = os.path.join(ring, str(idx))
        # walk the live chain from LAST_DUMP: overwriting an ancestor
        # slot would orphan every later delta
        chain = set()
        cur = last
        while cur and os.path.exists(os.path.join(cur, "_manifest.json")):
            chain.add(os.path.realpath(cur))
            cur = read_manifest(cur).get("parent_manifest")
            cur = os.path.realpath(cur) if cur else None
        mode = "full"
        # dump into a temp dir, NOT the slot: the slot being recycled may
        # be a live-chain ancestor (count=2 wraps onto one every cycle),
        # and clearing it before the replacement completes would leave
        # LAST_DUMP resolving through a destroyed parent for the whole
        # dump window — and forever, on a crash
        wip = os.path.join(ring, f".wip-{idx}")
        _shutil.rmtree(wip, ignore_errors=True)  # crashed-run leftovers
        cfg = _build_dump_config(args, wip)
        if (args.incremental and last and last != os.path.realpath(slot)
                and os.path.realpath(slot) not in chain):
            dump_incremental(spark, args.source, cfg, last)
            mode = "incremental"
        else:
            dump(spark, args.source, cfg)
        # the dump is complete — rewrite the manifest's artifact paths to
        # their post-rename locations, then clear the recycled slot (stale
        # artifacts from its previous incarnation must not coexist with
        # the new manifest) and swap the finished snapshot in. The
        # remaining crash window is two filesystem metadata ops, down from
        # the whole dump duration; a crash inside it self-heals on the
        # next run (state unadvanced → same slot recomputed → the chain
        # rule sees the fresh full manifest and re-dumps full).
        rebase_manifest_paths(wip, wip, slot)
        _shutil.rmtree(slot, ignore_errors=True)
        os.rename(wip, slot)
        with open(state_file, "w") as f:
            f.write(str(idx))
        # repoint ONLY after the dump completed — crash mid-dump leaves
        # LAST_DUMP at the previous good snapshot (the reference contract)
        if os.path.islink(link) or os.path.exists(link):
            os.remove(link)
        os.symlink(slot, link)
        snapshots.append({"slot": slot, "mode": mode})
        if it + 1 < args.iterations and args.snapshot_interval > 0:
            _time.sleep(args.snapshot_interval)
    print(json.dumps({"iterations": args.iterations,
                      "snapshots": snapshots,
                      "last_dump": os.path.realpath(link)}))
    return 0


def cmd_restore(args: argparse.Namespace) -> int:
    from mydumper_spark.engine import restore
    from mydumper_spark.plans.loader_dag import PurgeMode

    if getattr(args, "stream", False) and getattr(args, "mysqldump", False):
        # reference myloader --stream --mysqldump ("It expect a mysqldump
        # format when stream is used", myloader_arguments.c:151): stdin is
        # a RAW mysqldump script, not the framed wire protocol — spool it
        # (the splitter needs seekable sequential reads) and convert into
        # the dump dir; the normal restore then runs on the conversion
        import shutil as _shutil
        import sys as _sys
        import tempfile as _tempfile

        from mydumper_spark.engine import import_mysqldump

        with _tempfile.NamedTemporaryFile(suffix=".sql",
                                          delete=False) as tf:
            _shutil.copyfileobj(_sys.stdin.buffer, tf)
            spool = tf.name
        try:
            m = import_mysqldump(_session(args.threads), spool,
                                 args.directory,
                                 checksum=not args.no_checksum)
        finally:
            os.unlink(spool)
        print(json.dumps({"imported_tables": len(m.tables)}),
              file=_sys.stderr)
    elif getattr(args, "stream", False):
        # reference myloader --stream: reassemble the framed dump from
        # stdin into the dump dir first, then the normal restore runs on
        # it (myloader_stream.c)
        import sys as _sys

        from mydumper_spark.streaming.protocol import restore_directory

        n = restore_directory(_sys.stdin.buffer, args.directory)
        print(json.dumps({"received_files": n}), file=_sys.stderr)
    purge = PurgeMode.DROP if args.drop_table else (
        PurgeMode.TRUNCATE if args.truncate else (
            PurgeMode.SKIP if args.skip_existing else (
                PurgeMode.APPEND
                if getattr(args, "append_if_not_exist", False)
                else PurgeMode.FAIL
            )
        )
    )
    jdbc_props = _parse_props(args.jdbc_property)
    ddl_executor = None
    parallelism = args.threads or 4
    jdbc_partitions = args.jdbc_partitions
    if args.target.startswith("jdbc:duckdb:"):
        # the one engine whose client ships in this environment; other
        # servers need engine.restore(ddl_executor=...) with their client
        # (e.g. mysql-connector) — Spark's JDBC writer can't run bare DDL
        db_path = args.target[len("jdbc:duckdb:"):]

        def ddl_executor(sql, _p=db_path):
            import duckdb

            con = duckdb.connect(_p)
            con.execute(sql)
            con.execute("CHECKPOINT")
            con.close()

        # DuckDB is single-writer across processes: concurrent DATA-phase
        # jobs (python DELETE vs another table's in-flight JVM write) would
        # fight over the file lock, so serialize (MySQL-family keeps full
        # parallelism)
        parallelism = 1
        jdbc_partitions = 1

    spark = _session(args.threads)
    results = restore(
        spark,
        args.directory,
        args.target,
        purge=purge,
        verify=not args.no_checksum,
        parallelism=parallelism,
        jdbc_properties=jdbc_props,
        ddl_executor=ddl_executor,
        jdbc_num_partitions=jdbc_partitions,
        skip_indexes=getattr(args, "skip_indexes", False),
        skip_constraints=getattr(args, "skip_constraints", False),
        skip_post=getattr(args, "skip_post", False),
        target_database=getattr(args, "database", None),
        resume_file=(os.path.join(args.directory, ".restore_resume.json")
                     if getattr(args, "resume", False) else None),
        source_database=getattr(args, "source_db", None),
        no_data=getattr(args, "no_data", False),
        phase_threads={
            "schema": (1 if getattr(args, "serialized_table_creation",
                                    False)
                       else getattr(args, "max_threads_schema", None)),
            "index": getattr(args, "max_threads_index", None),
            "post": getattr(args, "max_threads_post", None),
        },
        quote_character=getattr(args, "quote_character", None),
        exec_per_thread=getattr(args, "exec_per_thread", None),
        drop_database=getattr(args, "drop_database", False),
        ignore_errors=getattr(args, "ignore_errors", False),
        dry_run=getattr(args, "dry_run", False),
        show_warnings=getattr(args, "show_warnings", False),
    )
    print(json.dumps(results))
    if results.get("dry_run"):
        return 0  # nothing executed, nothing to grade
    # verify None = honestly unverifiable (e.g. --append-if-not-exist onto
    # a non-empty table) — only a hard False fails the exit code
    ok = (all(results["load"].values())
          and all(v is not False
                  for v in results.get("verify", {}).values()))
    if not ok and getattr(args, "ignore_errors", False):
        # myloader --ignore-errors: failures were warnings, not criticals —
        # the failure map is in the printed results, the exit code is 0
        return 0
    return 0 if ok else 1


def cmd_verify(args: argparse.Namespace) -> int:
    from mydumper_spark.sinks.manifest import verify_manifest

    spark = _session(args.threads)
    if getattr(args, "source", None):
        # drift detection: manifest checksums vs the LIVE source right now
        from mydumper_spark.engine import DumpConfig, source_drift

        cfg = DumpConfig(
            output_dir=args.directory,
            global_where=getattr(args, "where", None),
            jdbc_properties=_parse_props(getattr(args, "jdbc_property",
                                                 None)),
        )
        results = source_drift(spark, args.directory, args.source, cfg)
        print(json.dumps(results))
        return 0 if all(r.get("in_sync") for r in results.values()) else 1
    results = verify_manifest(spark, args.directory)
    print(json.dumps(results))
    return 0 if all(r.get("ok") for r in results.values()) else 1


def cmd_import_mysqldump(args: argparse.Namespace) -> int:
    from mydumper_spark.engine import import_mysqldump

    spark = _session(args.threads)
    m = import_mysqldump(spark, args.file, args.outputdir,
                         checksum=not getattr(args, "no_checksum", False))
    print(json.dumps({
        "tables": {k: e.rows for k, e in m.tables.items()},
        "objects": [f"{o['kind']}:{o['name']}" for o in m.objects],
        "skipped_statements":
            int(m.source_info.get("skipped_statements", "0")),
    }))
    return 0


def cmd_import_dump_dir(args: argparse.Namespace) -> int:
    from mydumper_spark.engine import import_mydumper_dir

    spark = _session(args.threads)
    # -t doubles as the table-level import concurrency, the reference's
    # myloader --threads semantics (myloader_worker_loader_main.c)
    m = import_mydumper_dir(spark, args.dir, args.outputdir,
                            checksum=not getattr(args, "no_checksum",
                                                 False),
                            parallelism=args.threads or 4)
    print(json.dumps({
        "tables": {k: e.rows for k, e in m.tables.items()},
        "objects": [f"{o['kind']}:{o['name']}" for o in m.objects],
        **({"row_mismatches": m.source_info["row_mismatches"]}
           if "row_mismatches" in m.source_info else {}),
    }))
    return 0


def cmd_diff(args: argparse.Namespace) -> int:
    """Table-by-table diff between two dump directories: per-table counts of
    added/deleted/changed primary keys (operators/diff.py). The PK column is
    taken from --pk (table=col,...) or defaults to the first column."""
    from mydumper_spark.operators.diff import snapshot_diff
    from mydumper_spark.sources.dump_reader import read_dump_dir

    spark = _session(args.threads)
    old_tables = read_dump_dir(spark, args.old)
    new_tables = read_dump_dir(spark, args.new)
    pk_map = dict(kv.split("=") for kv in args.pk.split(",")) if args.pk else {}
    out: dict[str, dict] = {}
    for t in sorted(set(old_tables) | set(new_tables)):
        if t not in old_tables:
            out[t] = {"table_added": True}
            continue
        if t not in new_tables:
            out[t] = {"table_deleted": True}
            continue
        pk = pk_map.get(t, old_tables[t].columns[0])
        d = snapshot_diff(old_tables[t], new_tables[t], [pk])
        counts = {r["status"]: r["n"] for r in d.groupBy("status").count().withColumnRenamed("count", "n").collect()}
        out[t] = {s: int(counts.get(s, 0)) for s in ("added", "deleted", "changed")}
    print(json.dumps(out))
    return 0


def cmd_prepare(args: argparse.Namespace) -> int:
    """Training-data preparation pipeline over a documents parquet: exact or
    MinHash dedup → optional corpus-wide line/block dedup → repetition gate
    → quality floor → decontamination against an eval parquet → optional
    token-window chunking → parquet out.
    Stage order mirrors cost: cheap per-row gates run after dedup shrinks
    the corpus, the broadcast decontamination runs on survivors only, and
    chunking (the only row-multiplying stage) runs last."""
    from pyspark.sql import functions as F

    from mydumper_spark.operators.contamination import (
        decontaminate, repetition_metrics,
    )
    from mydumper_spark.operators.corpus import (
        chunk_documents,
        dedup_lines_global,
        dedup_token_blocks_global,
    )
    from mydumper_spark.operators.dedup import exact_dedup, minhash_dedup
    from mydumper_spark.operators.text import quality_score

    if args.pack_tokens and not args.chunk_tokens:
        build_parser().error(
            "--pack-tokens requires --chunk-tokens (sequences are packed "
            "from token-window chunks)"
        )
    spark = _session(args.threads)
    df = spark.read.parquet(args.source)
    counts = {"input": df.count()}

    # Each counted stage is persist()ed before its count so the count is a
    # cache materialization, not a recomputation — without this, the dedup
    # lineage (the expensive stage) would re-run once per downstream count
    # plus once for the final write. ~4× the pipeline at corpus scale.
    cached: list = []

    def _stage(d, key):
        return persist_and_count(d, counts, key, cached)

    if args.dedup == "exact":
        df = exact_dedup(df)
    elif args.dedup == "minhash":
        df = minhash_dedup(
            df,
            jaccard_threshold=args.jaccard_threshold,
            arbiter=args.dedup_arbiter,
        )
    # sub-document dedup: rewrite text with corpus-wide duplicate lines /
    # aligned token blocks removed (first occurrence survives); non-text
    # columns carry through on doc_id. LEFT join + coalesce to the original
    # text: the block path emits no row for token-less documents, and an
    # inner join would silently drop them — a dedup stage must never change
    # the document SET, only document text.
    def _rewrite_text(d, cleaned):
        return (
            d.withColumnRenamed("text", "__orig_text")
            .join(cleaned.select("doc_id", "clean_text"), "doc_id", "left")
            .withColumn("text", F.coalesce("clean_text", "__orig_text"))
            .drop("clean_text", "__orig_text")
        )

    # C4 cleaning REWRITES text to the retained lines and DROPS pages that
    # fail the page gate. It must run BEFORE the token-level dedup stages:
    # block/substring dedup rebuild text with single spaces (tokens() splits
    # on \s+ including \n), so running C4 after them would see one-line
    # pages and drop the whole corpus. C4-paper order anyway: line cleaning
    # first, dedup on the cleaned text.
    if args.c4:
        from mydumper_spark.operators.corpus import c4_line_filter

        c = c4_line_filter(df).where("page_ok = 1")
        df = (
            df.withColumnRenamed("text", "__orig_text")
            .join(c.select("doc_id", "clean_text"), "doc_id")
            .withColumn("text", F.col("clean_text"))
            .drop("clean_text", "__orig_text")
        )
        df = _stage(df, "after_c4")
    if args.line_dedup:
        df = _rewrite_text(df, dedup_lines_global(df))
    if args.block_dedup_tokens:
        df = _rewrite_text(
            df, dedup_token_blocks_global(df, block_tokens=args.block_dedup_tokens)
        )
    if args.substring_dedup_tokens:
        from mydumper_spark.operators.corpus import exact_substring_dedup

        df = _rewrite_text(
            df, exact_substring_dedup(df, k=args.substring_dedup_tokens)
        )
    df = _stage(df, "after_dedup")

    # labels for the ML gate come from the PRE-gate frame: after the
    # gopher gate every surviving doc has gopher_pass=1, and a
    # single-class fit degenerates to "accept everything"
    ml_label_src = df
    df = _apply_hygiene_gates(df, args)
    if args.ml_quality_gate is not None:
        # FineWeb-Edu distillation: the rule gate labels, a linear model
        # learns, and the whole corpus is scored by the pure-expression
        # path — soft scores where the rule gate is binary
        from mydumper_spark.operators.classifier import (
            score_quality, train_quality_classifier,
        )
        from mydumper_spark.operators.text import gopher_quality

        sw = (args.gopher_stopwords.split(",")
              if args.gopher_stopwords else None)
        labeled = ml_label_src.join(
            gopher_quality(ml_label_src, stopwords=sw)
            .selectExpr("doc_id", "gopher_pass AS label"), "doc_id")
        model = train_quality_classifier(labeled)
        keep = score_quality(
            df, model, threshold=args.ml_quality_gate
        ).where("quality_pass = 1").select("doc_id")
        df = df.join(keep, "doc_id", "left_semi")
    if args.lm_gate_ppm is not None:
        # CCNet-style LM gate: train the bigram LM on the trusted slice
        # (--lm-ref-source, or an external --lm-ref parquet) and keep docs
        # whose mean in-domain transition probability clears the bar
        from mydumper_spark.operators.text import (
            ngram_lm_score, train_bigram_lm,
        )

        if args.lm_ref:
            ref = spark.read.parquet(args.lm_ref)
        elif args.lm_ref_source:
            ref = df.where(F.col("source") == args.lm_ref_source)
        else:
            raise SystemExit(
                "--lm-gate-ppm needs --lm-ref (parquet) or "
                "--lm-ref-source (in-corpus slice) as the trusted corpus")
        lm = train_bigram_lm(ref)
        keep = ngram_lm_score(df, lm).where(
            F.col("lm_score_ppm") >= args.lm_gate_ppm).select("doc_id")
        df = df.join(keep, "doc_id", "left_semi")
    if args.min_quality is not None:
        q = quality_score(df).where(
            F.col("quality") >= args.min_quality
        ).select("doc_id")
        df = df.join(q, "doc_id", "left_semi")
    if args.min_novelty is not None:
        from mydumper_spark.operators.text import ngram_novelty

        nov = ngram_novelty(df).where(
            F.col("novelty_ppm") >= args.min_novelty
        ).select("doc_id")
        df = df.join(nov, "doc_id", "left_semi")
    df = _stage(df, "after_quality")

    if args.decontaminate_eval:
        ev = spark.read.parquet(args.decontaminate_eval).selectExpr(
            "doc_id AS eval_id", "text"
        )
        df = decontaminate(df, ev, min_shared=args.min_shared)
    df = _stage(df, "after_decontamination")

    # corpus-shaping stages: per-source caps, then target-domain selection
    # (both operate on the cleaned corpus — selecting before hygiene would
    # waste budget on docs the gates were about to drop)
    if args.cap_per_source:
        from mydumper_spark.operators.sampling import cap_per_group

        df = cap_per_group(df, "source", n=args.cap_per_source)
    if args.dsir_target:
        from mydumper_spark.operators.text import dsir_select

        tgt = spark.read.parquet(args.dsir_target)
        keep = dsir_select(df, tgt, n=args.dsir_top).select("doc_id")
        df = df.join(keep, "doc_id", "left_semi")
    if args.cap_per_source or args.dsir_target:
        df = _stage(df, "after_selection")
    if args.token_budget:
        # final budgeting: fill --token-budget whitespace tokens with the
        # best docs by the integer quality composite (hierarchical cutoff,
        # never a global-sort window — operators/sampling.budget_select).
        # Runs LAST among doc-level stages: budgeting before hygiene would
        # spend budget on docs the gates were about to drop.
        from mydumper_spark.operators.sampling import budget_select
        from mydumper_spark.operators.text import quality_score, token_count

        scored = quality_score(df).select(
            "doc_id",
            (F.col("quality") * 10_000_000).cast("bigint").alias("__q_e7"),
            token_count(F.col("text")).cast("bigint").alias("__toks"),
        )
        sel = budget_select(scored, "__q_e7", "__toks",
                            budget=args.token_budget)
        df = df.join(sel.select("doc_id"), "doc_id", "left_semi")
        df = _stage(df, "after_token_budget")

    out = df
    if args.chunk_tokens:
        out = chunk_documents(
            df, max_tokens=args.chunk_tokens, overlap=args.chunk_overlap
        )
        if args.pack_tokens:
            from mydumper_spark.operators.corpus import pack_sequences

            out = pack_sequences(out, budget_tokens=args.pack_tokens)
    if args.shuffle_seed is not None:
        from mydumper_spark.operators.sampling import shuffle_corpus

        # shuffle on the natural unit id: packed sequences individually,
        # otherwise documents (a doc's chunks stay adjacent — sequence-
        # level shuffling is what packing is for)
        unit = "seq_id" if (args.chunk_tokens and args.pack_tokens) else "doc_id"
        out = shuffle_corpus(out, id_col=unit, seed=args.shuffle_seed,
                             n_shards=args.shuffle_shards)
    out.write.mode("overwrite").parquet(args.outputdir)
    for d in cached:
        d.unpersist()
    counts["output_rows"] = spark.read.parquet(args.outputdir).count()
    print(json.dumps(counts))
    return 0


def _apply_hygiene_gates(df, args):
    """The gopher/repetition/blocklist gate wiring shared by `prepare` and
    `prepare-stream` — one place to fix a gate, both commands get it."""
    from mydumper_spark.operators.contamination import repetition_metrics
    from mydumper_spark.operators.text import gopher_quality

    if getattr(args, "blocklist", None):
        from mydumper_spark.operators.corpus import blocklist_filter

        with open(args.blocklist) as f:
            entries = [ln.strip() for ln in f if ln.strip()]
        keep = blocklist_filter(df, entries).where(
            "blocked = 0").select("doc_id")
        df = df.join(keep, "doc_id", "left_semi")
    if getattr(args, "gopher_gate", False):
        sw = (args.gopher_stopwords.split(",")
              if args.gopher_stopwords else None)
        keep = gopher_quality(df, stopwords=sw).where(
            "gopher_pass = 1").select("doc_id")
        df = df.join(keep, "doc_id", "left_semi")
    if getattr(args, "repetition_gate", False):
        keep = repetition_metrics(df).where(
            "passes_repetition").select("doc_id")
        df = df.join(keep, "doc_id", "left_semi")
    return df


def _migrate_legacy_fp_store(fp_dir: str) -> int:
    """Upgrade a pre-round-8 (flat, append-only) fingerprint store in
    place: move root-level part files into a ``batch=-1`` sentinel
    partition. Spark's partition discovery REJECTS a directory mixing
    root-level data files with ``batch=`` partition dirs ("Conflicting
    directory structures detected"), so a resumed legacy checkpoint would
    fail permanently on its second post-upgrade batch without this.
    ``batch=-1`` never collides with a real (non-negative) micro-batch id,
    so the legacy fingerprints read as prior state in every batch — the
    exact semantics the old flat store had. Returns files migrated."""
    import shutil as _shutil

    if not os.path.isdir(fp_dir):
        return 0
    root_files = [
        f for f in os.listdir(fp_dir)
        if os.path.isfile(os.path.join(fp_dir, f))
        and not f.startswith((".", "_"))
    ]
    if not root_files:
        return 0
    legacy = os.path.join(fp_dir, "batch=-1")
    os.makedirs(legacy, exist_ok=True)
    for f in root_files:
        _shutil.move(os.path.join(fp_dir, f), os.path.join(legacy, f))
    # the flat writer's _SUCCESS marker is ignored by discovery but has no
    # business at the root of a partitioned store
    marker = os.path.join(fp_dir, "_SUCCESS")
    if os.path.isfile(marker):
        os.remove(marker)
    return len(root_files)


def cmd_prepare_stream(args: argparse.Namespace) -> int:
    """Streaming twin of `prepare` for rolling corpus intake: Structured
    Streaming over a growing parquet directory, per-micro-batch hygiene
    gates (stateless maps — semantically exact per batch) plus
    cross-batch exact dedup via the fingerprint store (the
    exact_dedup_incremental composition the streaming tests pin). Runs
    with availableNow: each invocation drains what has landed since the
    checkpoint and exits — re-running resumes incrementally, so cron-style
    ingest needs no resident process.

    Crash-safety by idempotence, not ordering: each batch OVERWRITES its
    own `batch=<id>` output partition, AND its own `_fps/batch=<id>`
    fingerprint partition; when building the `known` set the current
    batch's own partition is excluded. A checkpoint replay after a crash
    at ANY point therefore reproduces — never duplicates and never
    empties — the batch: even if the crashed attempt already landed its
    fingerprints, the replay doesn't see them as prior state, so the
    anti-join can't erase the batch against itself."""
    import json as _json

    spark = _session(args.threads)
    schema = spark.read.parquet(args.source).schema
    stream = spark.readStream.schema(schema)
    if args.max_files_per_trigger:
        stream = stream.option("maxFilesPerTrigger",
                               args.max_files_per_trigger)
    stream = stream.parquet(args.source)
    fp_dir = os.path.join(args.checkpoint, "_fps")
    if args.exact_dedup:
        _migrate_legacy_fp_store(fp_dir)

    lm = None
    if args.lm_gate_ppm is not None:
        if not args.lm_ref:
            raise SystemExit(
                "--lm-gate-ppm on a stream needs --lm-ref (an external "
                "trusted parquet; an in-corpus slice is undefined on a "
                "growing stream)")
        from mydumper_spark.operators.text import train_bigram_lm

        # train ONCE, localCheckpoint the three LM tables: foreachBatch
        # would otherwise recompute the training aggregates every batch
        lm = tuple(d.localCheckpoint(eager=True)
                   for d in train_bigram_lm(spark.read.parquet(args.lm_ref)))

    def _batch(df, batch_id):
        from mydumper_spark.operators.dedup import exact_dedup_incremental

        from pyspark.sql import functions as F

        df = _apply_hygiene_gates(df, args)
        if lm is not None:
            from mydumper_spark.operators.text import ngram_lm_score

            keep = ngram_lm_score(df, lm).where(
                F.col("lm_score_ppm") >= args.lm_gate_ppm).select("doc_id")
            df = df.join(keep, "doc_id", "left_semi")
        if args.exact_dedup:
            if os.path.isdir(fp_dir):
                # partition discovery yields a `batch` column; exclude this
                # batch's own partition so a replayed batch never anti-joins
                # against fingerprints its crashed attempt already landed
                known = spark.read.parquet(fp_dir)
                if "batch" in known.columns:
                    known = known.where(F.col("batch") != int(batch_id))
                known = known.select("fp")  # legacy flat stores were
                # migrated into batch=-1 before the stream started, so the
                # partition column is always present post-upgrade
            else:  # genuinely the first batch; a corrupt store still raises
                from mydumper_spark.util import empty_frame

                known = empty_frame(spark, "fp string")
            survivors, _all_fps = exact_dedup_incremental(df, known)
            df = survivors.persist()  # two writes below share one compute
        df.write.mode("overwrite").parquet(
            os.path.join(args.outputdir, f"batch={int(batch_id)}"))
        if args.exact_dedup:
            # OVERWRITE this batch's own fingerprint partition (replay-safe:
            # the partition content is a pure function of the batch input)
            from mydumper_spark.operators.text import fingerprint

            df.select(
                fingerprint(F.col("text")).alias("fp")
            ).write.mode("overwrite").parquet(
                os.path.join(fp_dir, f"batch={int(batch_id)}"))
            df.unpersist()

    q = (
        stream.writeStream.foreachBatch(_batch)
        .option("checkpointLocation", os.path.join(args.checkpoint, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out_rows = spark.read.parquet(args.outputdir).count()
    print(_json.dumps({"output_rows": int(out_rows)}))
    return 0


def cmd_embcurate(args: argparse.Namespace) -> int:
    """Embedding-corpus curation: SemDeDup semantic dedup (GEMM path) →
    semantic decontamination against an eval embedding set → optional
    persisted IVF-PQ index build (trained centroids + codebooks). The
    similarity stack as one pipeline command — the embedding-side sibling
    of `prepare`."""
    import json as _json
    import os as _os

    from mydumper_spark.operators.similarity import (
        embedding_decontaminate,
        semantic_dedup_batch,
        train_ivf_centroids,
        train_pq_codebooks,
        write_ivf_pq_index,
    )

    spark = _session(args.threads)
    df = spark.read.parquet(args.source)
    counts = {"input": df.count()}
    if args.dedup_threshold is not None:
        df = semantic_dedup_batch(
            df, threshold=args.dedup_threshold, n_cells=args.cells
        )
        df = df.persist()
        counts["after_semantic_dedup"] = df.count()
    if args.decontaminate_eval:
        ev = spark.read.parquet(args.decontaminate_eval)
        df = embedding_decontaminate(
            df, ev, threshold=args.decontaminate_threshold
        )
        df = df.persist()
        counts["after_decontamination"] = df.count()
    df.write.mode("overwrite").parquet(args.outputdir)
    counts["output_rows"] = spark.read.parquet(args.outputdir).count()
    if args.index_dir:
        cents = train_ivf_centroids(df, n_cells=args.cells)
        cbs = train_pq_codebooks(df, m=args.pq_m, ksub=args.pq_ksub)
        write_ivf_pq_index(df, args.index_dir, cbs, cents)
        with open(_os.path.join(args.index_dir, "_index_meta.json"), "w") as f:
            _json.dump({"centroids": cents, "codebooks": cbs,
                        "m": args.pq_m, "ksub": args.pq_ksub}, f)
        counts["index"] = args.index_dir
    print(_json.dumps(counts))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mydumper_spark")
    sub = p.add_subparsers(dest="command", required=True)

    d = sub.add_parser("dump", help="parallel consistent export (mydumper)")
    d.add_argument("--source", required=True, help="source dir (or JDBC url)")
    d.add_argument("-o", "--outputdir", required=True)
    d.add_argument("--jdbc-property", action="append", metavar="K=V",
                   help="JDBC connection property (user=, password=, driver=...); "
                        "repeatable; only used with a jdbc: --source")
    d.add_argument("--chunks", type=int, default=None,
                   help="JDBC read partitions per table (S2; one SELECT per chunk)")
    d.add_argument("--tidb-snapshot", default=None, metavar="TS",
                   help="pin every partition to one TiDB MVCC timestamp/"
                        "TSO (SET SESSION tidb_snapshot per connection — "
                        "the S11 mechanism on TiDB)")
    d.add_argument("--where", help="global row predicate (P1)")
    d.add_argument("-x", "--regex", help="table regex filter (P6)")
    d.add_argument("-O", "--omit-from-file", help="skiplist file (P7)")
    d.add_argument("-T", "--tables-list", help="explicit tables (P8)")
    d.add_argument("-i", "--ignore-engines", help="engine filter (P9)")
    d.add_argument("--defaults-file", help="INI config with per-table sections")
    d.add_argument("--format", default="parquet",
                   choices=["parquet", "csv", "jsonl", "orc", "sql"])
    d.add_argument("-c", "--compress", default=None, choices=[None, "gzip", "zstd"])
    d.add_argument("-r", "--rows", type=int, help="max records per output file (K5)")
    d.add_argument("-s", "--statement-size", type=int, metavar="BYTES",
                   help="with --format sql: cap each INSERT statement at "
                        "this many bytes (reference -s; composes with "
                        "--rows-per-statement)")
    d.add_argument("--rows-per-statement", type=int, default=1000,
                   help="with --format sql: rows per INSERT statement "
                        "(default 1000)")
    d.add_argument("--complete-insert", action="store_true",
                   help="with --format sql: emit the column list in every "
                        "INSERT (reference --complete-insert)")
    ins = d.add_mutually_exclusive_group()
    ins.add_argument("--insert-ignore", action="store_true",
                     help="with --format sql: write INSERT IGNORE "
                          "statements (reference --insert-ignore)")
    ins.add_argument("--replace", action="store_true",
                     help="with --format sql: write REPLACE statements "
                          "(reference --replace)")
    d.add_argument("--check-row-count", action="store_true",
                   help="independently pre-count each table and fail the "
                        "dump on a written-row mismatch (reference flag)")
    d.add_argument("--disk-limits", metavar="PAUSE:RESUME",
                   help="pause dumping while free space at the output dir "
                        "is under PAUSE MB; resume at RESUME MB "
                        "(reference --disk-limits)")
    d.add_argument("--dry-run", action="store_true",
                   help="plan only: print admitted tables, output names "
                        "and row estimates; read no data, write nothing "
                        "(reference --dry-run)")
    d.add_argument("--throttle", metavar="[MAX_US:]VAR=VALUE",
                   help="hold dump submissions while a source status "
                        "variable exceeds VALUE (SHOW GLOBAL STATUS LIKE "
                        "VAR; bare VALUE means Threads_running; reference "
                        "--throttle grammar incl. the optional max-sleep-"
                        "microseconds head)")
    d.add_argument("--skip-triggers", action="store_true",
                   help="don't capture trigger DDL (inverse of the "
                        "reference's -G opt-in; we capture by default)")
    d.add_argument("--skip-routines", action="store_true",
                   help="don't capture routine DDL (inverse of -R)")
    d.add_argument("--compact", action="store_true",
                   help="accepted and manifest-recorded for reference "
                        "parity; a no-op here — the reference flag only "
                        "suppresses the per-chunk SQL_MODE header, which "
                        "these chunks never carry")
    d.add_argument("--use-savepoints", action="store_true",
                   help="accepted and recorded; Spark dumps hold no long "
                        "per-table transaction, so there is nothing for "
                        "savepoints to shrink (reference --use-savepoints)")
    d.add_argument("--table-engine-for-view-dependency", default="MEMORY",
                   metavar="ENGINE",
                   help="engine for the stand-in CREATE TABLE written per "
                        "view so foreign myloader resolves dependencies "
                        "(reference flag; default MEMORY)")
    d.add_argument("--skip-events", action="store_true",
                   help="don't capture event DDL (inverse of -E)")
    d.add_argument("-t", "--threads", type=int)
    d.add_argument("--no-checksum", action="store_true")
    d.add_argument("-E", "--exec", dest="exec_cmd", help="run CMD per finished file (K9)")
    d.add_argument("--exec-per-thread", metavar="CMD",
                   help="pipe every finished sql chunk through CMD "
                        "(stdin→stdout filter, e.g. 'lz4 -c'); requires "
                        "--exec-per-thread-extension (reference pair)")
    d.add_argument("--exec-per-thread-extension", metavar=".EXT",
                   help="filename extension the filtered chunks carry "
                        "(e.g. .lz4)")
    d.add_argument("--masquerade-filename", action="store_true", help="hash table names in output paths (T13)")
    d.add_argument("-Y", "--all-tablespaces", action="store_true",
                   help="dump general InnoDB tablespace DDL (reference -Y; "
                        "off by default — server-level objects)")
    d.add_argument("--clear", action="store_true",
                   help="empty the output directory before dumping "
                        "(reference --clear)")
    d.add_argument("-k", "--order-by-primary", action="store_true",
                   help="PK-sort rows within each output partition "
                        "(reference -k; O1)")
    d.add_argument("-W", "--no-views", action="store_true",
                   help="skip view DDL capture (reference -W)")
    d.add_argument("--views-as-tables", action="store_true",
                   help="dump each view's ROWS as a table instead of its "
                        "DDL (reference --views-as-tables)")
    d.add_argument("--since", metavar="PARENT_DUMP_DIR",
                   help="incremental dump: emit only rows added/changed "
                        "since this parent dump (P10/K10 daemon analogue); "
                        "deleted keys recorded per table")
    d.add_argument("--stream", action="store_true",
                   help="frame each table's files onto stdout AS ITS DUMP "
                        "COMPLETES (reference wire protocol, restore "
                        "overlaps dump); pipe into `restore --stream`")
    d.add_argument("--no-delete", action="store_true",
                   help="with --stream: keep the local files after "
                        "streaming (reference --stream=NO_DELETE)")
    d.add_argument("--profile", action="store_true",
                   help="write per-table per-column stats to _profile.json")
    d.set_defaults(fn=cmd_dump)

    r = sub.add_parser("restore", help="DAG-scheduled parallel load (myloader)")
    r.add_argument("-d", "--directory", required=True)
    r.add_argument("--target", required=True,
                   help="target dir, or a jdbc: URL for a live database")
    r.add_argument("--jdbc-property", action="append", metavar="K=V",
                   help="JDBC connection property; repeatable")
    r.add_argument("--jdbc-partitions", type=int, default=None,
                   help="per-table connection cap for a jdbc: target (L2)")
    r.add_argument("-t", "--threads", type=int)
    r.add_argument("--drop-table", action="store_true", help="purge mode DROP (L3)")
    r.add_argument("--truncate", action="store_true",
                   help="purge mode TRUNCATE (L3): keep tables, re-fill data")
    r.add_argument("--skip-existing", action="store_true",
                   help="purge mode SKIP (L3): leave tables that already "
                        "exist on the target untouched (jdbc targets probe "
                        "information_schema.tables)")
    r.add_argument("--append-if-not-exist", action="store_true",
                   help="purge mode APPEND (myloader flag): CREATE TABLE "
                        "IF NOT EXISTS, keep pre-existing rows, append the "
                        "dump's rows; checksum mismatches report as "
                        "unverifiable, not failures")
    r.add_argument("--no-checksum", action="store_true")
    r.add_argument("--stream", action="store_true",
                   help="reassemble a framed dump from stdin into -d first "
                        "(myloader --stream), then restore it")
    r.add_argument("--mysqldump", action="store_true",
                   help="with --stream: stdin is a RAW mysqldump script "
                        "instead of the framed wire protocol (myloader "
                        "--mysqldump); it converts into -d, then restores")
    r.add_argument("--resume", action="store_true",
                   help="L11: skip objects a previous interrupted restore "
                        "of this dump already completed (state in "
                        "<dump>/.restore_resume.json, written on failure, "
                        "removed on success)")
    r.add_argument("-s", "--source-db", default=None, metavar="DB",
                   help="restore only this recorded database out of a "
                        "multi-schema dump (myloader -s); its views/"
                        "triggers/routines come along, other schemas' "
                        "don't")
    r.add_argument("--no-data", action="store_true",
                   help="restore schema, indexes, constraints and post "
                        "objects but load no rows (myloader --no-data)")
    r.add_argument("--max-threads-for-schema-creation", type=int,
                   dest="max_threads_schema", metavar="N",
                   help="cap SCHEMA-phase concurrency under --threads "
                        "(myloader flag; DDL storms contend on metadata "
                        "locks)")
    r.add_argument("--max-threads-for-index-creation", type=int,
                   dest="max_threads_index", metavar="N",
                   help="cap INDEX-phase concurrency (myloader flag)")
    r.add_argument("--max-threads-for-post-actions", type=int,
                   dest="max_threads_post", metavar="N",
                   help="cap POST-phase concurrency (myloader flag)")
    r.add_argument("--serialized-table-creation", action="store_true",
                   help="create tables one at a time (myloader flag; "
                        "equivalent to --max-threads-for-schema-creation 1)")
    r.add_argument("--exec-per-thread", metavar="CMD",
                   help="decode command for a dump written with "
                        "--exec-per-thread (stdin→stdout, e.g. 'lz4 -dc')"
                        " — myloader's flag of the same name")
    r.add_argument("--drop-database", action="store_true",
                   help="DROP each recorded schema before restoring it "
                        "(whole-namespace replace; myloader flag)")
    r.add_argument("--ignore-errors", action="store_true",
                   help="continue past failed tables; failures are "
                        "reported in the results map and warn instead of "
                        "failing the exit code (myloader --ignore-errors)")
    r.add_argument("--dry-run", action="store_true",
                   help="build and print the full phase plan without "
                        "executing anything (reference --dry-run)")
    r.add_argument("--show-warnings", action="store_true",
                   help="emit a warning per imperfect-load condition "
                        "(failed/skipped/unverifiable tables) in addition "
                        "to the results map (myloader --show-warnings)")
    r.add_argument("-Q", "--quote-character", default=None, metavar="CHAR",
                   help="force identifier quoting for replayed DDL: ` "
                        "(backtick) or \" (ANSI) — myloader -Q; default "
                        "derives from the target URL scheme")
    r.set_defaults(fn=cmd_restore)

    v = sub.add_parser("verify", help="recompute checksums vs manifest (L9)")
    v.add_argument("-d", "--directory", required=True)
    v.add_argument("--source", default=None,
                   help="drift detection: compare the manifest's checksums "
                        "against this LIVE source (dir or jdbc: url) "
                        "instead of the dumped files — 'has the source "
                        "changed since this dump?' (full source scan; "
                        "exit 1 on any drift)")
    v.add_argument("--where", default=None,
                   help="with --source: the same global --where the dump "
                        "ran with (the manifest checksums its OUTPUT)")
    v.add_argument("--jdbc-property", action="append", metavar="K=V")
    v.add_argument("-t", "--threads", type=int)
    v.set_defaults(fn=cmd_verify)

    im = sub.add_parser(
        "import-mysqldump",
        help="convert a mysqldump-format .sql file into a dump directory "
             "(myloader --mysqldump): restore/verify/-s/-B/--no-data all "
             "work on the result")
    im.add_argument("file", help="mysqldump .sql file")
    im.add_argument("-o", "--outputdir", required=True)
    im.add_argument("--no-checksum", action="store_true")
    im.add_argument("-t", "--threads", type=int)
    im.set_defaults(fn=cmd_import_mysqldump)

    idd = sub.add_parser(
        "import-dump-dir",
        help="adopt a GENUINE mydumper dump directory (metadata + "
             "db.table-schema.sql + NNNNN.sql chunks) as a first-class "
             "dump dir — zero-copy (hardlink) intake; restore/verify/"
             "diff/--since all work on the result")
    idd.add_argument("dir", help="mydumper dump directory")
    idd.add_argument("-o", "--outputdir", required=True)
    idd.add_argument("--no-checksum", action="store_true")
    idd.add_argument("-t", "--threads", type=int)
    idd.set_defaults(fn=cmd_import_dump_dir)

    f = sub.add_parser("diff", help="added/deleted/changed rows between two dumps")
    f.add_argument("--old", required=True, help="older dump directory")
    f.add_argument("--new", required=True, help="newer dump directory")
    f.add_argument("--pk", help="per-table pk override: table=col[,table=col...]")
    f.add_argument("-t", "--threads", type=int)
    f.set_defaults(fn=cmd_diff)

    pp = sub.add_parser(
        "prepare", help="training-data pipeline: dedup → gates → decontaminate → chunk"
    )
    pp.add_argument("--source", required=True, help="documents parquet path")
    pp.add_argument("-o", "--outputdir", required=True)
    pp.add_argument("--dedup", default="exact", choices=["none", "exact", "minhash"])
    pp.add_argument("--jaccard-threshold", type=float, default=0.8)
    pp.add_argument("--dedup-arbiter", default="min_id",
                    choices=["min_id", "quality"],
                    help="near-dup survivor rule: earliest id or highest quality")
    pp.add_argument("--line-dedup", action="store_true",
                    help="corpus-wide duplicate-line removal (C4 rule) after doc dedup")
    pp.add_argument("--block-dedup-tokens", type=int, default=None,
                    help="corpus-wide aligned token-block dedup at this block size")
    pp.add_argument("--substring-dedup-tokens", type=int, default=None,
                    help="sliding-window exact substring dedup (ExactSubstr) "
                         "at this k-gram size — catches shifted duplicates "
                         "aligned blocks miss")
    pp.add_argument("--c4", action="store_true",
                    help="C4 line cleaning: keep terminal-punct ≥5-word "
                         "lines, drop pages failing the ≥3-line / lorem-"
                         "ipsum / brace gate")
    pp.add_argument("--gopher-gate", action="store_true",
                    help="drop docs failing the Gopher rule family (word "
                         "count, word length, symbol/bullet ratios, "
                         "stop-word presence)")
    pp.add_argument("--gopher-stopwords", default=None,
                    help="comma-separated stop-word set for the Gopher "
                         "gate (default: the paper's English set; localize "
                         "per language)")
    pp.add_argument("--ml-quality-gate", type=float, default=None,
                    metavar="PROB",
                    help="train a linear classifier on the Gopher-gate "
                         "labels (feature-hashed text) and drop docs "
                         "scoring below PROB — soft ML scores where the "
                         "rule gate is binary")
    pp.add_argument("--repetition-gate", action="store_true",
                    help="drop docs failing the dup-3gram/dup-line gates")
    pp.add_argument("--lm-gate-ppm", type=int, default=None, metavar="PPM",
                    help="CCNet-style LM gate: drop docs whose bigram-LM "
                         "score (mean in-domain transition probability, "
                         "ppm) is below PPM; the LM trains on --lm-ref / "
                         "--lm-ref-source")
    pp.add_argument("--lm-ref", default=None,
                    help="parquet of trusted reference docs the LM gate "
                         "trains on (the CCNet Wikipedia role)")
    pp.add_argument("--lm-ref-source", default=None, metavar="SOURCE",
                    help="train the LM gate on this in-corpus source "
                         "slice instead of an external parquet")
    pp.add_argument("--blocklist", default=None,
                    help="file of blocklist entries (one per line; "
                         "whitespace in an entry makes it a phrase) — "
                         "the C4 badwords gate, applied with the other "
                         "hygiene gates")
    pp.add_argument("--min-quality", type=float, default=None,
                    help="drop docs below this quality_score")
    pp.add_argument("--min-novelty", type=int, default=None,
                    help="drop docs whose novel-3gram share (ppm) is below "
                         "this — a boilerplate filter")
    pp.add_argument("--decontaminate-eval", default=None,
                    help="parquet of eval docs (doc_id, text) to scrub against")
    pp.add_argument("--min-shared", type=int, default=3,
                    help="shared-shingle threshold for contamination")
    pp.add_argument("--cap-per-source", type=int, default=None,
                    help="keep at most N docs per source (hash lottery)")
    pp.add_argument("--dsir-target", default=None,
                    help="parquet of target-domain docs (doc_id, text): keep "
                         "the docs most target-like by DSIR importance")
    pp.add_argument("--dsir-top", type=int, default=1000,
                    help="how many docs --dsir-target keeps")
    pp.add_argument("--token-budget", type=int, default=None,
                    help="final stage: keep only the best docs (integer "
                         "quality composite, ties on doc_id) whose "
                         "whitespace tokens fit this budget")
    pp.add_argument("--chunk-tokens", type=int, default=None,
                    help="emit token-window chunks of this size instead of docs")
    pp.add_argument("--chunk-overlap", type=int, default=8)
    pp.add_argument("--pack-tokens", type=int, default=None,
                    help="pack chunks into sequences of this token budget "
                         "(requires --chunk-tokens)")
    pp.add_argument("--shuffle-seed", type=int, default=None,
                    help="deterministic training-order shuffle with this seed")
    pp.add_argument("--shuffle-shards", type=int, default=None,
                    help="range-sharded shuffle (read shards in order = "
                         "global order); omit for a total sort")
    pp.add_argument("-t", "--threads", type=int)
    pp.set_defaults(fn=cmd_prepare)

    dd = sub.add_parser(
        "daemon",
        help="periodic snapshot dumps into a ring of slot dirs with "
             "LAST_DUMP repointing (reference --daemon mode)",
    )
    dd.add_argument("--source", required=True, help="source dir (or JDBC url)")
    dd.add_argument("-o", "--outputdir", required=True,
                    help="ring root: slots 0..count-1 + LAST_DUMP live here")
    dd.add_argument("--snapshot-interval", type=float, default=60.0,
                    metavar="SECONDS",
                    help="sleep between snapshots (reference "
                         "--snapshot-interval is minutes; seconds here)")
    dd.add_argument("--snapshot-count", type=int, default=2,
                    help="ring size (reference --snapshot-count, default 2)")
    dd.add_argument("--iterations", type=int, required=True,
                    help="bounded run: take this many snapshots and exit "
                         "(run from cron/systemd for forever)")
    dd.add_argument("--incremental", action="store_true",
                    help="non-first snapshots dump only rows added/changed "
                         "since LAST_DUMP; a snapshot recycling a chain "
                         "ancestor slot runs full automatically")
    dd.add_argument("--only-if-drifted", action="store_true",
                    help="before each non-first snapshot, checksum the live "
                         "source against LAST_DUMP's manifest and skip the "
                         "snapshot when everything is in sync (the exact "
                         "form of the reference's --updated-since "
                         "freshness gate)")
    dd.add_argument("--jdbc-property", action="append", metavar="K=V")
    dd.add_argument("-T", "--tables-list", default=None)
    dd.add_argument("-x", "--regex", default=None)
    dd.add_argument("-t", "--threads", type=int)
    dd.set_defaults(fn=cmd_daemon)

    ps = sub.add_parser(
        "prepare-stream",
        help="streaming prepare: drain a growing corpus dir through gates "
             "+ cross-batch dedup (availableNow; re-run to resume)",
    )
    ps.add_argument("--source", required=True,
                    help="parquet directory being appended to")
    ps.add_argument("-o", "--outputdir", required=True)
    ps.add_argument("--checkpoint", required=True,
                    help="checkpoint root (stream offsets + dedup state)")
    ps.add_argument("--gopher-gate", action="store_true")
    ps.add_argument("--gopher-stopwords", default=None)
    ps.add_argument("--repetition-gate", action="store_true")
    ps.add_argument("--blocklist", default=None,
                    help="file of blocklist entries (one per line; "
                         "whitespace in an entry makes it a phrase) — "
                         "the C4 badwords gate")
    ps.add_argument("--lm-gate-ppm", type=int, default=None, metavar="PPM",
                    help="CCNet-style LM gate per micro-batch; the LM "
                         "trains ONCE on --lm-ref before the stream starts")
    ps.add_argument("--lm-ref", default=None,
                    help="parquet of trusted reference docs for the LM "
                         "gate (required with --lm-gate-ppm: an in-corpus "
                         "slice is undefined on a growing stream)")
    ps.add_argument("--exact-dedup", action="store_true",
                    help="cross-batch first-occurrence doc dedup via the "
                         "fingerprint store")
    ps.add_argument("--max-files-per-trigger", type=int, default=None)
    ps.add_argument("-t", "--threads", type=int)
    ps.set_defaults(fn=cmd_prepare_stream)

    ec = sub.add_parser(
        "embcurate",
        help="embedding curation: semantic dedup → decontaminate → ANN index",
    )
    ec.add_argument("--source", required=True, help="embeddings parquet "
                    "(vec_id, embedding)")
    ec.add_argument("-o", "--outputdir", required=True)
    ec.add_argument("--dedup-threshold", type=float, default=None,
                    help="SemDeDup cosine threshold (omit to skip dedup)")
    ec.add_argument("--cells", type=int, default=8,
                    help="IVF cells for dedup clustering and the index")
    ec.add_argument("--decontaminate-eval", default=None,
                    help="eval embeddings parquet to scrub near-matches of")
    ec.add_argument("--decontaminate-threshold", type=float, default=0.95)
    ec.add_argument("--index-dir", default=None,
                    help="also build a persisted IVF-PQ index here "
                         "(trained centroids + codebooks, metadata JSON)")
    ec.add_argument("--pq-m", type=int, default=8)
    ec.add_argument("--pq-ksub", type=int, default=16)
    ec.add_argument("-t", "--threads", type=int)
    ec.set_defaults(fn=cmd_embcurate)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
