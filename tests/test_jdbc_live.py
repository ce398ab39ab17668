"""Executed JDBC source/sink paths against a live DuckDB database file.

Round-3 verdict: S1/S2/K11 were options-assembly-tested only ("no live DB in
env"). A DuckDB JDBC driver jar IS cached locally, so these tests drive the
real ``spark.read.jdbc`` / ``write.jdbc`` execution of the engine's chunk
plans and option builders end-to-end: plan chunks → one JDBC partition per
predicate → reassembled result equals the plain scan; restore-side append
write → read-back roundtrip.

Skipped wholesale when no driver jar is discoverable (the honest fallback —
nothing is stubbed).

DuckDB JDBC 1.0 quirks the tests respect (not engine limitations):
- connections don't share uncommitted DDL, so Spark's CREATE-then-INSERT
  overwrite mode fails; the restore design pre-creates schema in its DDL
  phase anyway (plans/loader_dag.py L7), so we exercise append-into-existing.
- single-writer: writes use one partition (JdbcSinkConfig num_partitions=1).
"""

from __future__ import annotations

import os

import pytest

from mydumper_spark.session import discover_jdbc_jars

JARS = discover_jdbc_jars()
pytestmark = pytest.mark.skipif(
    not JARS, reason="no JDBC driver jar cached locally"
)

DRIVER_PROPS = {"driver": "org.duckdb.DuckDBDriver"}


@pytest.fixture(scope="module")
def duck_db(spark, sf_dir, tmp_path_factory):
    """A DuckDB database file holding the customer fixture + an empty
    restore target (created and closed before Spark touches it)."""
    import duckdb

    path = str(tmp_path_factory.mktemp("jdbc") / "live.duckdb")
    con = duckdb.connect(path)
    con.execute(
        f"CREATE TABLE customer AS SELECT * FROM read_parquet('{sf_dir}/customer.parquet')"
    )
    con.execute("CREATE TABLE cust_restore AS SELECT * FROM customer LIMIT 0")
    con.execute("CHECKPOINT")
    con.close()
    return path


@pytest.fixture(scope="module")
def jdbc_url(duck_db):
    return f"jdbc:duckdb:{duck_db}"


def test_s1_full_scan_live(spark, jdbc_url, customer):
    from mydumper_spark.sources.jdbc_source import (
        JdbcSourceConfig, build_jdbc_reader_args,
    )

    cfg = JdbcSourceConfig(url=jdbc_url, consistent_snapshot=False,
                           extra=DRIVER_PROPS)
    args = build_jdbc_reader_args(cfg, "customer")
    df = spark.read.jdbc(**args)
    assert df.count() == customer.count()
    assert set(df.columns) == set(customer.columns)


def test_s1_projection_pushdown_live(spark, jdbc_url, customer):
    from mydumper_spark.sources.jdbc_source import (
        JdbcSourceConfig, build_jdbc_reader_args,
    )

    cfg = JdbcSourceConfig(url=jdbc_url, consistent_snapshot=False,
                           extra=DRIVER_PROPS)
    args = build_jdbc_reader_args(
        cfg, "customer", select=["c_custkey", "c_name"], where="c_custkey <= 50"
    )
    df = spark.read.jdbc(**args)
    assert df.columns == ["c_custkey", "c_name"]
    assert df.count() == customer.where("c_custkey <= 50").count()


def test_s2_chunked_scan_live(spark, jdbc_url, customer):
    """Chunk plan from stats → one JDBC partition per chunk → union equals
    the full table (the reference's roundtrip-checksum property, executed)."""
    from mydumper_spark.planner.chunks import plan_integer_chunks
    from mydumper_spark.sources.jdbc_source import (
        JdbcSourceConfig, build_jdbc_reader_args,
    )

    plan = plan_integer_chunks(customer, "c_custkey", num_chunks=4)
    cfg = JdbcSourceConfig(url=jdbc_url, consistent_snapshot=False,
                           extra=DRIVER_PROPS)
    args = build_jdbc_reader_args(cfg, "customer", plan=plan)
    df = spark.read.jdbc(**args)
    assert df.rdd.getNumPartitions() == plan.num_chunks
    assert df.count() == customer.count()
    # chunks are disjoint and covering: distinct key count survives
    assert df.select("c_custkey").distinct().count() == customer.count()


def test_s2_predicate_scan_live(spark, jdbc_url, customer):
    """String-strategy plans ship explicit predicates (one per partition)."""
    from mydumper_spark.planner.chunks import plan_string_chunks
    from mydumper_spark.sources.jdbc_source import (
        JdbcSourceConfig, build_jdbc_reader_args,
    )

    plan = plan_string_chunks(customer, "c_name", num_chunks=4)
    cfg = JdbcSourceConfig(url=jdbc_url, consistent_snapshot=False,
                           extra=DRIVER_PROPS)
    args = build_jdbc_reader_args(cfg, "customer", plan=plan)
    assert "predicates" in args
    df = spark.read.jdbc(**args)
    assert df.count() == customer.count()


def test_k11_restore_write_live(spark, jdbc_url, customer):
    """Restore-side write: JdbcSinkConfig options drive a real append into
    the pre-created target (DDL phase first, data phase second — the L7
    ordering), then read back and compare."""
    from mydumper_spark.sinks.jdbc_sink import JdbcSinkConfig

    cfg = JdbcSinkConfig(url=jdbc_url, batchsize=500, num_partitions=1)
    props = {**cfg.properties(), **DRIVER_PROPS}
    # rewriteBatchedStatements is a MySQL Connector/J knob; DuckDB ignores it
    src = customer.limit(120).coalesce(1)
    src.write.mode("append").jdbc(url=jdbc_url, table="cust_restore",
                                  properties=props)
    back = spark.read.jdbc(url=jdbc_url, table="cust_restore",
                           properties=DRIVER_PROPS)
    assert back.count() == 120
    a = {r["c_custkey"] for r in src.select("c_custkey").collect()}
    b = {r["c_custkey"] for r in back.select("c_custkey").collect()}
    assert a == b


def test_server_detect_live(spark, jdbc_url):
    """The dialect probe executes against the live engine."""
    from mydumper_spark.sources.server_detect import (
        ServerProduct, detect_via_jdbc,
    )

    d = detect_via_jdbc(spark, jdbc_url, DRIVER_PROPS)
    assert d.product is ServerProduct.DUCKDB
    assert d.major >= 1
    assert d.snapshot_strategy == "none"
    assert not d.is_mysql_like


# -- dump() over a live JDBC source (S10 discovery + S1/S2 scans wired) ------


@pytest.fixture()
def dump_db(spark, sf_dir, tmp_path):
    """A fresh DuckDB file per test (the module fixture is shared with the
    restore-append test, which mutates it)."""
    import duckdb

    path = str(tmp_path / "dump_src.duckdb")
    con = duckdb.connect(path)
    con.execute(
        f"CREATE TABLE customer AS SELECT * FROM read_parquet('{sf_dir}/customer.parquet')"
    )
    con.execute(
        f"CREATE TABLE nation AS SELECT * FROM read_parquet('{sf_dir}/nation.parquet')"
    )
    con.execute("CHECKPOINT")
    con.close()
    return f"jdbc:duckdb:{path}"


def test_dump_from_jdbc_live(spark, dump_db, customer, tmp_path):
    """Full S10→S1 lifecycle over JDBC: discover via information_schema,
    scan, write parquet, manifest + checksum verify — the dump CLI's
    ``--source jdbc:...`` path, live. DuckDB's snapshot strategy is 'none',
    so no fence runs and no [source] position is recorded."""
    from mydumper_spark.engine import DumpConfig, dump
    from mydumper_spark.sinks.manifest import verify_manifest

    out = str(tmp_path / "jdump")
    cfg = DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS))
    manifest = dump(spark, dump_db, cfg)
    assert set(manifest.tables) == {"customer", "nation"}
    assert manifest.tables["customer"].rows == customer.count()
    assert manifest.source_info == {}
    results = verify_manifest(spark, out)
    assert all(r["ok"] for r in results.values())


def test_dump_from_jdbc_chunked_live(spark, dump_db, customer, tmp_path):
    """chunks_per_table becomes real JDBC read partitions (S2): one server
    SELECT per integer-range chunk, result identical to the plain scan."""
    from mydumper_spark.engine import DumpConfig, dump

    out = str(tmp_path / "jdump_chunked")
    cfg = DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS),
                     chunks_per_table=4, checksum=True)
    manifest = dump(spark, dump_db, cfg)
    assert manifest.tables["customer"].rows == customer.count()
    back = spark.read.parquet(f"{out}/customer.parquet")
    assert back.select("c_custkey").distinct().count() == customer.count()


def test_dump_pathological_table_names_roundtrip(spark, tmp_path):
    """The specific_16 corpus: tables named ``a.b`` / ``t%`` / ``a/b`` dump
    through the FilenameRegistry's mydumper_<N> mapping
    (/root/reference/src/mydumper/mydumper_common.c:66-90) and restore back
    with original names + verified checksums — name→file mapping lives in
    the manifest, identifier quoting in the JDBC scan."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    path = str(tmp_path / "weird.duckdb")
    con = duckdb.connect(path)
    con.execute('CREATE TABLE "a.b" AS SELECT range AS id, range*2 AS v FROM range(50)')
    con.execute('CREATE TABLE "t%" AS SELECT range AS id FROM range(20)')
    con.execute('CREATE TABLE "a/b" AS SELECT range AS id FROM range(10)')
    con.execute("CHECKPOINT")
    con.close()
    out = str(tmp_path / "weird_dump")
    cfg = DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS))
    manifest = dump(spark, f"jdbc:duckdb:{path}", cfg)
    assert set(manifest.tables) == {"a.b", "t%", "a/b"}
    assert manifest.tables["a.b"].rows == 50
    # every output file got a safe generated name, none contain the raw name
    import os

    files = set(os.listdir(out))
    assert not any("%" in f or "/" in f for f in files)
    data_files = {f for f in files if not f.endswith("-schema.sql")}
    assert sum(f.startswith("mydumper_") for f in data_files) == 3
    # the captured DDL artifacts are safe-named through the same registry
    schema_files = files - data_files
    assert len(schema_files) == 3
    assert all(f.startswith("mydumper_") for f in schema_files)
    target = str(tmp_path / "weird_restore")
    results = restore(spark, out, target)
    assert results["load"] == {"a.b": True, "t%": True, "a/b": True}
    assert all(results["verify"].values())


def test_restore_into_jdbc_target_live(spark, sf_dir, tmp_path):
    """The myloader job proper, live: dump (parquet source) → restore into
    a live DuckDB over JDBC — SCHEMA phase CREATEs each table from the
    dump's schema via the injected ddl_executor, DATA phase appends through
    the K11 sink, L9 verify recomputes checksums by reading the TARGET
    back over JDBC. parallelism=1 / num_partitions=1 respects DuckDB's
    single-writer model (a MySQL target lifts both)."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "dump")
    cfg = DumpConfig(
        output_dir=out,
        filters=__import__("mydumper_spark.catalog", fromlist=["TableFilters"])
        .TableFilters(tables_list={"default.customer", "default.nation"}),
    )
    dump(spark, sf_dir, cfg)
    target = str(tmp_path / "target.duckdb")

    def ddl_executor(sql):
        con = duckdb.connect(target)
        con.execute(sql)
        con.execute("CHECKPOINT")
        con.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}",
        parallelism=1,
        jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor,
        jdbc_num_partitions=1,
    )
    assert results["load"] == {"customer": True, "nation": True}
    assert results["verify"] == {"customer": True, "nation": True}
    # the data really lives in the database, typed
    con = duckdb.connect(target)
    n = con.execute('SELECT count(*) FROM "customer"').fetchone()[0]
    con.close()
    assert n == spark.read.parquet(f"{sf_dir}/customer.parquet").count()


def test_cli_restore_into_jdbc_target_live(spark, sf_dir, tmp_path):
    """`restore --target jdbc:duckdb:...` end-to-end from the CLI: the
    duckdb client ships here, so the CLI wires the ddl_executor itself."""
    import json
    import os
    import subprocess
    import sys

    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump

    out = str(tmp_path / "dump_cli")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, filters=TableFilters(tables_list={"default.nation"})))
    target = str(tmp_path / "cli_target.duckdb")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH="/root/repo")
    r = subprocess.run(
        [sys.executable, "-m", "mydumper_spark", "restore",
         "-d", out, "--target", f"jdbc:duckdb:{target}",
         "--jdbc-property", "driver=org.duckdb.DuckDBDriver",
         "--jdbc-partitions", "1", "-t", "1"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads(r.stdout.strip().splitlines()[-1])
    assert res["load"] == {"nation": True}
    assert res["verify"] == {"nation": True}
    con = duckdb.connect(target)
    assert con.execute('SELECT count(*) FROM "nation"').fetchone()[0] == 25
    con.close()


def test_restore_jdbc_purge_modes_rerun(spark, sf_dir, tmp_path):
    """Re-running a restore against the same live target must honor purge:
    DROP re-creates and re-fills (no duplicates — the checksum verify
    proves it), FAIL aborts on the existing table, SKIP probes
    information_schema.tables and leaves the existing table untouched
    (myloader's purge matrix, myloader_restore_job.c:120-160)."""
    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore
    from mydumper_spark.plans.loader_dag import PurgeMode

    out = str(tmp_path / "dump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, filters=TableFilters(tables_list={"default.nation"})))
    target = str(tmp_path / "t.duckdb")
    url = f"jdbc:duckdb:{target}"

    def ddl_executor(sql):
        con = duckdb.connect(target)
        con.execute(sql)
        con.execute("CHECKPOINT")
        con.close()

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              ddl_executor=ddl_executor, jdbc_num_partitions=1)
    r1 = restore(spark, out, url, purge=PurgeMode.DROP, **kw)
    assert r1["verify"] == {"nation": True}
    # second run with DROP: table exists — must still verify clean
    r2 = restore(spark, out, url, purge=PurgeMode.DROP, **kw)
    assert r2["verify"] == {"nation": True}
    con = duckdb.connect(target)
    assert con.execute('SELECT count(*) FROM "nation"').fetchone()[0] == 25
    con.close()
    # FAIL on an existing table aborts
    with pytest.raises(RuntimeError):
        restore(spark, out, url, purge=PurgeMode.FAIL, **kw)
    # SKIP: the existing table is probed and left completely alone — no
    # DDL, no data action, no verify row for it (the target's content is
    # a deliberate non-action, not a mismatch)
    con = duckdb.connect(target)
    con.execute("INSERT INTO nation SELECT 990 + range, 'marker' || range, "
                "0 FROM range(3)")  # drift the target so a reload shows
    con.execute("CHECKPOINT")
    con.close()
    r3 = restore(spark, out, url, purge=PurgeMode.SKIP, **kw)
    assert r3["skipped_existing"] == ["nation"]
    assert r3["load"] == {} and r3.get("verify", {}) == {}
    con = duckdb.connect(target)
    assert con.execute('SELECT count(*) FROM "nation"').fetchone()[0] == 28
    con.close()
    # SKIP on an empty target behaves like a normal first restore
    target2 = str(tmp_path / "t2.duckdb")

    def ddl_executor2(sql):
        con = duckdb.connect(target2)
        con.execute(sql)
        con.execute("CHECKPOINT")
        con.close()

    kw2 = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
               ddl_executor=ddl_executor2, jdbc_num_partitions=1)
    r4 = restore(spark, out, f"jdbc:duckdb:{target2}",
                 purge=PurgeMode.SKIP, **kw2)
    assert "skipped_existing" not in r4
    assert r4["verify"] == {"nation": True}


def test_restore_jdbc_target_requires_ddl_executor(spark, sf_dir, tmp_path):
    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "dump2")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, filters=TableFilters(tables_list={"default.nation"})))
    with pytest.raises(RuntimeError, match="ddl_executor"):
        restore(spark, out, "jdbc:duckdb:/tmp/nope.duckdb", parallelism=1,
                jdbc_properties=dict(DRIVER_PROPS))


def test_dump_jdbc_fence_wired_end_to_end(spark, dump_db, tmp_path):
    """dump() RUNS the S11 fence before planning when the dialect is
    MySQL-family (injected here — the data connection stays DuckDB), and
    records the fenced GTID position in the manifest's [source] info, which
    survives to the reference-format metadata file."""
    import os

    from mydumper_spark.engine import DumpConfig, dump
    from mydumper_spark.sinks.manifest import read_manifest
    from mydumper_spark.sources.server_detect import ServerDialect, ServerProduct
    from tests.test_chunks import _Factory, _ProbeConn

    control = _ProbeConn(["uuid:1-7", "uuid:1-8", "uuid:1-8", "uuid:1-8"])
    workers = [_ProbeConn(["x"]), _ProbeConn(["x"])]
    fac = _Factory([control] + workers)
    out = str(tmp_path / "jdump_fenced")
    cfg = DumpConfig(
        output_dir=out,
        jdbc_properties=dict(DRIVER_PROPS),
        connection_factory=fac,
        fence_workers=2,
        dialect=ServerDialect(product=ServerProduct.MYSQL, major=8,
                              secondary=0, revision=30),
    )
    manifest = dump(spark, dump_db, cfg)
    # fence ran (with a retry) BEFORE any scan, over the injected conns
    assert [c is control for c in fac.made[:1]] == [True]
    assert all(sum("CONSISTENT SNAPSHOT" in s for s in w.log) == 2
               for w in workers)
    assert manifest.source_info["executed_gtid_set"] == "uuid:1-8"
    assert manifest.source_info["fence_attempts"] == "2"
    # full-window verification: GTID still the fenced value at dump end →
    # consistency recorded; fence transactions released (final ROLLBACK)
    assert manifest.source_info["consistency"] == "gtid-stable"
    assert all(w.log[-1] == "ROLLBACK" for w in workers)
    doc = read_manifest(out)
    assert doc["source"]["executed_gtid_set"] == "uuid:1-8"
    with open(os.path.join(out, "metadata")) as f:
        assert 'executed_gtid_set = "uuid:1-8"' in f.read()
    # the dump itself still succeeded over the (DuckDB) data connection,
    # ENGINE-probe fallback included
    assert "customer" in manifest.tables


def test_dump_incremental_jdbc_fence_records_consistency(
        spark, dump_db, tmp_path):
    """An incremental dump runs the same S11 fence as a full dump and
    records the same consistency position next to its lineage: GTID,
    fence attempts and the full-window check, with the fence workers
    released."""
    from mydumper_spark.engine import DumpConfig, dump, dump_incremental
    from mydumper_spark.sources.server_detect import ServerDialect, ServerProduct
    from tests.test_chunks import _Factory, _ProbeConn

    def fenced(out):
        control = _ProbeConn(["uuid:1-7", "uuid:1-8", "uuid:1-8", "uuid:1-8"])
        workers = [_ProbeConn(["x"]), _ProbeConn(["x"])]
        return workers, DumpConfig(
            output_dir=str(tmp_path / out),
            jdbc_properties=dict(DRIVER_PROPS),
            connection_factory=_Factory([control] + workers),
            fence_workers=2,
            dialect=ServerDialect(product=ServerProduct.MYSQL, major=8,
                                  secondary=0, revision=30),
        )

    _, base_cfg = fenced("base")
    dump(spark, dump_db, base_cfg)
    workers, cfg = fenced("child")
    child = dump_incremental(spark, dump_db, cfg, base_cfg.output_dir)
    info = child.source_info
    assert info["executed_gtid_set"] == "uuid:1-8"
    assert info["fence_attempts"] == "2"
    assert info["consistency"] == "gtid-stable"
    assert len(info["parent_manifest_md5"]) == 32
    assert all(w.log[-1] == "ROLLBACK" for w in workers)


def test_dump_multi_schema_same_table_name_no_collision(spark, tmp_path):
    """Two schemas holding same-named tables must not collide: manifest
    keys qualify with the schema and each table keeps its own data (the
    bare-name collision silently overwrote one with the other)."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    path = str(tmp_path / "multi.duckdb")
    con = duckdb.connect(path)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.t AS SELECT range AS id FROM range(30)")
    con.execute("CREATE TABLE s2.t AS SELECT range AS id FROM range(70)")
    con.execute("CHECKPOINT")
    con.close()
    out = str(tmp_path / "mdump")
    manifest = dump(spark, f"jdbc:duckdb:{path}",
                    DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))
    assert set(manifest.tables) == {"s1.t", "s2.t"}
    assert manifest.tables["s1.t"].rows == 30
    assert manifest.tables["s2.t"].rows == 70
    assert manifest.tables["s1.t"].database == "s1"
    results = restore(spark, out, str(tmp_path / "mrestore"))
    assert results["verify"] == {"s1.t": True, "s2.t": True}
    # restore into a live DB reproduces the SCHEMA LAYOUT (s1.t / s2.t),
    # not flat tables literally named "s1.t"
    target = str(tmp_path / "mtarget.duckdb")

    def ddl_executor(sql):
        con = duckdb.connect(target)
        con.execute(sql)
        con.execute("CHECKPOINT")
        con.close()

    r2 = restore(spark, out, f"jdbc:duckdb:{target}", parallelism=1,
                 jdbc_properties=dict(DRIVER_PROPS),
                 ddl_executor=ddl_executor, jdbc_num_partitions=1)
    assert r2["verify"] == {"s1.t": True, "s2.t": True}
    con = duckdb.connect(target)
    layout = dict(con.execute(
        "SELECT table_schema || '.' || table_name, "
        "(SELECT count(*) FROM information_schema.tables) "
        "FROM information_schema.tables WHERE table_schema IN ('s1','s2')"
    ).fetchall())
    n1 = con.execute('SELECT count(*) FROM s1.t').fetchone()[0]
    n2 = con.execute('SELECT count(*) FROM s2.t').fetchone()[0]
    con.close()
    assert set(layout) == {"s1.t", "s2.t"}
    assert (n1, n2) == (30, 70)


def test_dump_jdbc_fence_flags_writes_during_dump(spark, dump_db, tmp_path):
    """If gtid_executed has advanced by dump end, the manifest must record
    consistency=writes-during-dump and a warning must fire — the fence is
    honest about the degraded (reference --no-locks) guarantee."""
    import warnings as _warnings

    from mydumper_spark.engine import DumpConfig, dump
    from mydumper_spark.sources.server_detect import ServerDialect, ServerProduct
    from tests.test_chunks import _Factory, _ProbeConn

    # fence settles at 1-7 immediately; the post-dump probe sees 1-9
    control = _ProbeConn(["uuid:1-7", "uuid:1-7", "uuid:1-9"])
    fac = _Factory([control, _ProbeConn(["x"]), _ProbeConn(["x"])])
    cfg = DumpConfig(
        output_dir=str(tmp_path / "out"),
        jdbc_properties=dict(DRIVER_PROPS),
        connection_factory=fac,
        fence_workers=2,
        dialect=ServerDialect(product=ServerProduct.MYSQL, major=8,
                              secondary=0, revision=30),
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        manifest = dump(spark, dump_db, cfg)
    assert manifest.source_info["consistency"] == "writes-during-dump"
    assert any("advanced during the dump" in str(w.message) for w in caught)


def test_ddl_capture_and_replay_roundtrip_live(spark, tmp_path):
    """Round-7 parity gap closed, live: a DB→dump→DB round-trip preserves
    KEYS, not just rows. The source table carries a PK, a UNIQUE and a
    secondary index; dump captures them (`-schema.sql` artifact + manifest
    descriptor, mydumper_jobs.c:128-344), restore re-creates the PK inline
    in the CREATE and replays the secondary index + unique AFTER the data
    phase (L6 --optimize-keys, myloader_worker_index.c:107-171)."""
    import json
    import os

    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "keys_src.duckdb")
    con = duckdb.connect(src)
    con.execute(
        "CREATE TABLE invoices ("
        "inv_id INTEGER PRIMARY KEY, "
        "ext_ref VARCHAR UNIQUE, "
        "cust INTEGER NOT NULL, "
        "amount DOUBLE)"
    )
    con.execute("CREATE INDEX idx_cust ON invoices(cust)")
    con.execute(
        "INSERT INTO invoices SELECT range, 'r' || range, range % 7, "
        "range * 1.5 FROM range(200)"
    )
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "keys_dump")
    manifest = dump(spark, f"jdbc:duckdb:{src}",
                    DumpConfig(output_dir=out,
                               jdbc_properties=dict(DRIVER_PROPS)))
    entry = manifest.tables["invoices"]
    # raw artifact: the server's own DDL text, checksummed in the manifest
    assert entry.schema_sql_path and os.path.exists(entry.schema_sql_path)
    raw = open(entry.schema_sql_path).read()
    assert "PRIMARY KEY" in raw and "idx_cust" in raw
    assert entry.schema_def["primary_key"] == ["inv_id"]
    assert [u["columns"] for u in entry.schema_def["uniques"]] == [["ext_ref"]]
    assert {ix["name"] for ix in entry.schema_def["indexes"]} == {"idx_cust"}
    doc = json.load(open(os.path.join(out, "_manifest.json")))
    assert doc["tables"]["invoices"]["schema_def"]["primary_key"] == ["inv_id"]

    target = str(tmp_path / "keys_target.duckdb")
    applied = []

    def ddl_executor(sql):
        applied.append(sql)
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}",
        parallelism=1,
        jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor,
        jdbc_num_partitions=1,
    )
    assert results["load"] == {"invoices": True}
    assert results["verify"] == {"invoices": True}
    assert results["ddl"]["index"] == {"invoices": True}
    # phase order: every CREATE INDEX was issued after the data DELETE
    # (the data phase's first statement) — deferred, not inline
    delete_pos = next(i for i, s in enumerate(applied)
                      if s.startswith("DELETE FROM"))
    index_pos = [i for i, s in enumerate(applied)
                 if s.startswith(("CREATE INDEX", "CREATE UNIQUE INDEX"))]
    assert index_pos and all(i > delete_pos for i in index_pos)

    con = duckdb.connect(target)
    ctypes = dict(con.execute(
        "SELECT constraint_type, count(*) FROM duckdb_constraints() "
        "WHERE table_name = 'invoices' GROUP BY 1").fetchall())
    idx = con.execute(
        "SELECT index_name, is_unique FROM duckdb_indexes() "
        "WHERE table_name = 'invoices'").fetchall()
    n = con.execute("SELECT count(*) FROM invoices").fetchone()[0]
    con.close()
    assert n == 200
    assert ctypes.get("PRIMARY KEY") == 1
    names = {name for name, _ in idx}
    assert "idx_cust" in names
    assert any(uq for _, uq in idx)  # the unique key survived as unique


def test_incremental_dump_carries_ddl_live(spark, tmp_path):
    """An incremental dump captures source DDL exactly as a full dump
    does: entries carry schema_def + a `-schema.sql` artifact, schema
    objects (views) are captured, and a restore OF THE INCREMENTAL replays
    the secondary index after data and the view in POST — a JDBC restore
    of an incremental dump must not silently produce bare key-less tables
    a full-dump restore of the same source would have keyed."""
    import json
    import os

    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, dump_incremental, restore

    src = str(tmp_path / "inc_ddl_src.duckdb")
    con = duckdb.connect(src)
    con.execute(
        "CREATE TABLE ledger (ledger_id INTEGER PRIMARY KEY, acct INTEGER, "
        "amt DOUBLE)")
    con.execute("CREATE INDEX idx_acct ON ledger(acct)")
    con.execute(
        "INSERT INTO ledger SELECT range, range % 5, range * 2.0 "
        "FROM range(100)")
    con.execute("CREATE VIEW acct_totals AS "
                "SELECT acct, sum(amt) AS total FROM ledger GROUP BY acct")
    con.execute("CHECKPOINT")
    con.close()

    base = str(tmp_path / "inc_ddl_base")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=base, jdbc_properties=dict(DRIVER_PROPS)))

    con = duckdb.connect(src)
    con.execute("INSERT INTO ledger VALUES (100, 1, 7.0), (101, 2, 9.0)")
    con.execute("DELETE FROM ledger WHERE ledger_id = 0")
    con.execute("CHECKPOINT")
    con.close()

    inc = str(tmp_path / "inc_ddl_delta")
    m = dump_incremental(
        spark, f"jdbc:duckdb:{src}",
        DumpConfig(output_dir=inc, jdbc_properties=dict(DRIVER_PROPS)),
        base)
    entry = m.tables["ledger"]
    assert entry.incremental and entry.incremental["added"] == 2
    # the DDL rode along: descriptor, raw artifact, and the view object
    assert entry.schema_def["primary_key"] == ["ledger_id"]
    assert {ix["name"] for ix in entry.schema_def["indexes"]} == {"idx_acct"}
    assert entry.schema_sql_path and os.path.exists(entry.schema_sql_path)
    doc = json.load(open(os.path.join(inc, "_manifest.json")))
    assert doc["tables"]["ledger"]["schema_def"]["primary_key"] == ["ledger_id"]
    assert [o["kind"] for o in doc.get("objects", [])] == ["view"]

    target = str(tmp_path / "inc_ddl_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, inc, f"jdbc:duckdb:{target}",
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor, jdbc_num_partitions=1,
    )
    assert results["load"] == {"ledger": True}
    assert results["ddl"]["index"] == {"ledger": True}
    assert results["ddl"]["post"] == {"view:acct_totals": True}

    con = duckdb.connect(target)
    n = con.execute("SELECT count(*) FROM ledger").fetchone()[0]
    idx = {name for name, _ in con.execute(
        "SELECT index_name, is_unique FROM duckdb_indexes() "
        "WHERE table_name = 'ledger'").fetchall()}
    vtot = con.execute(
        "SELECT count(*) FROM acct_totals").fetchone()[0]
    con.close()
    assert n == 101 and "idx_acct" in idx and vtot == 5


def test_view_dump_restore_roundtrip_live(spark, tmp_path):
    """Views survive a DB→dump→DB round-trip: the dump captures the view's
    server-native DDL as a `-schema-view.sql` artifact (mydumper_jobs.c:
    392-520) recorded in the manifest `objects` section, and restore
    replays it in the POST phase — after every table's data — so the view
    resolves against loaded tables (myloader_worker_post.c:1-129)."""
    import json
    import os

    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "view_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE sales (id INTEGER PRIMARY KEY, region VARCHAR, "
                "amount DOUBLE)")
    con.execute("INSERT INTO sales SELECT range, 'r' || (range % 3), "
                "range * 2.5 FROM range(90)")
    con.execute("CREATE VIEW region_totals AS SELECT region, "
                "sum(amount) AS total, count(*) AS n FROM sales "
                "GROUP BY region")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "view_dump")
    manifest = dump(spark, f"jdbc:duckdb:{src}",
                    DumpConfig(output_dir=out,
                               jdbc_properties=dict(DRIVER_PROPS)))
    # the view is NOT a data table — it must not appear in tables
    assert set(manifest.tables) == {"sales"}
    views = [o for o in manifest.objects if o["kind"] == "view"]
    assert [v["name"] for v in views] == ["region_totals"]
    art = open(views[0]["path"]).read()
    # reference preamble (mydumper_jobs.c:578-579): foreign myloader
    # replays the stand-in CREATE TABLE first; without these drops the
    # real CREATE VIEW fails with "Table already exists"
    assert art.startswith("DROP TABLE IF EXISTS `region_totals`;\n"
                          "DROP VIEW IF EXISTS `region_totals`;\n"
                          "CREATE VIEW")
    assert "region_totals" in art
    doc = json.load(open(os.path.join(out, "_manifest.json")))
    assert doc["objects"][0]["name"] == "region_totals"
    assert doc["objects"][0]["checksum"]

    target = str(tmp_path / "view_target.duckdb")
    applied = []

    def ddl_executor(sql):
        applied.append(sql)
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}",
        parallelism=1,
        jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor,
        jdbc_num_partitions=1,
    )
    assert results["load"] == {"sales": True}
    assert results["verify"] == {"sales": True}
    assert results["ddl"]["post"] == {"view:region_totals": True}
    # POST ordering: the CREATE VIEW was issued after the data phase
    delete_pos = next(i for i, s in enumerate(applied)
                      if s.startswith("DELETE FROM"))
    view_pos = next(i for i, s in enumerate(applied)
                    if s.startswith("CREATE VIEW"))
    assert view_pos > delete_pos

    con = duckdb.connect(target)
    rows = dict(con.execute(
        "SELECT region, n FROM region_totals ORDER BY region").fetchall())
    con.close()
    assert rows == {"r0": 30, "r1": 30, "r2": 30}


def test_view_standin_dependency_table_live(spark, tmp_path):
    """--table-engine-for-view-dependency (round 11; mydumper_jobs.c:
    520-545, default MEMORY): alongside the real CREATE VIEW artifact the
    dump writes a stand-in `{view}-schema.sql` CREATE TABLE with the
    view's columns and the configured engine, so foreign myloader can
    resolve view dependencies before the real view replays. Our own
    restore ignores the stand-in (the DAG orders views natively) — pinned
    by the existing roundtrip tests."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump

    src = str(tmp_path / "standin_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE t (id int, v varchar)")
    con.execute("INSERT INTO t VALUES (1, 'a')")
    con.execute("CREATE VIEW vt AS SELECT id, v FROM t")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "standin_default")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))
    standin = open(os.path.join(out, "vt-schema.sql")).read()
    assert standin.startswith("CREATE TABLE IF NOT EXISTS `vt`(")
    assert "`id` INTEGER" in standin and "`v` VARCHAR" in standin
    assert standin.rstrip().endswith("ENGINE=MEMORY;")
    # the real view DDL is a separate artifact, opening with the
    # stand-in-clearing preamble (mydumper_jobs.c:578-579)
    assert open(os.path.join(out, "vt-schema-view.sql")).read().startswith(
        "DROP TABLE IF EXISTS `vt`;\nDROP VIEW IF EXISTS `vt`;\n"
        "CREATE VIEW")

    out2 = str(tmp_path / "standin_custom")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out2, jdbc_properties=dict(DRIVER_PROPS),
                    table_engine_for_view_dependency="InnoDB"))
    assert open(os.path.join(out2, "vt-schema.sql")).read().rstrip().endswith(
        "ENGINE=InnoDB;")

    # the preamble's consumer scenario, live: a loader that replayed the
    # stand-in first holds a TABLE named vt — the POST-phase view replay
    # must clear it (DROP TABLE) before CREATE VIEW, or it fails with
    # "already exists" (the exact foreign-myloader regression)
    from mydumper_spark.engine import restore

    target = str(tmp_path / "standin_target.duckdb")
    con = duckdb.connect(target)
    con.execute("CREATE TABLE vt (id INTEGER, v VARCHAR)")  # the stand-in
    con.execute("CHECKPOINT")
    con.close()

    def ddl_executor(sql):
        c = duckdb.connect(target)
        try:
            c.execute(sql)
            c.execute("CHECKPOINT")
        finally:
            c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}", parallelism=1,
        jdbc_properties=dict(DRIVER_PROPS), ddl_executor=ddl_executor,
        jdbc_num_partitions=1)
    assert results["ddl"]["post"] == {"view:vt": True}
    con = duckdb.connect(target)
    assert con.execute("SELECT id, v FROM vt").fetchall() == [(1, "a")]
    is_view = con.execute(
        "SELECT count(*) FROM duckdb_views() WHERE view_name = 'vt'"
    ).fetchone()[0]
    con.close()
    assert is_view == 1  # vt is the VIEW again, not the stand-in table


def test_view_on_view_restore_order_independent_live(spark, tmp_path):
    """POST-phase dependency handling, live: a view chain whose CAPTURE
    order is the reverse of its CREATE order (the dependent view sorts
    first — manifest objects sort by name) must still restore: the failed
    CREATE requeues behind the phase and lands on a later pass once its
    base view exists (myloader_worker_post.c CREATE-order retry). Three
    levels deep, worst-case order, parallelism=1."""
    import json
    import os

    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "vchain_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE fact (id INTEGER PRIMARY KEY, grp VARCHAR, "
                "v DOUBLE)")
    con.execute("INSERT INTO fact SELECT range, 'g' || (range % 4), "
                "range * 1.25 FROM range(80)")
    # names chosen so alphabetical (= manifest) order is the exact REVERSE
    # of dependency order: a_top → m_mid → z_base
    con.execute("CREATE VIEW z_base AS SELECT grp, sum(v) AS total, "
                "count(*) AS n FROM fact GROUP BY grp")
    con.execute("CREATE VIEW m_mid AS SELECT grp, total / n AS avg_v "
                "FROM z_base")
    con.execute("CREATE VIEW a_top AS SELECT count(*) AS n_groups, "
                "sum(avg_v) AS s FROM m_mid")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "vchain_dump")
    manifest = dump(spark, f"jdbc:duckdb:{src}",
                    DumpConfig(output_dir=out,
                               jdbc_properties=dict(DRIVER_PROPS)))
    doc = json.load(open(os.path.join(out, "_manifest.json")))
    # the hazard is real: the dependent views precede their bases on disk
    assert [o["name"] for o in doc["objects"]] == ["a_top", "m_mid", "z_base"]
    assert set(manifest.tables) == {"fact"}

    target = str(tmp_path / "vchain_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}",
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor, jdbc_num_partitions=1,
    )
    assert results["load"] == {"fact": True}
    assert results["ddl"]["post"] == {
        "view:a_top": True, "view:m_mid": True, "view:z_base": True}

    con = duckdb.connect(target)
    n_groups = con.execute("SELECT n_groups FROM a_top").fetchone()[0]
    base_rows = con.execute("SELECT count(*) FROM z_base").fetchone()[0]
    con.close()
    assert n_groups == 4 and base_rows == 4


def test_restore_ddl_retry_composes_with_replay_live(spark, tmp_path):
    """L8 retry × L6 DDL replay, live: the INDEX phase's first CREATE
    INDEX statement fails once (transient target error); the LoadJob's
    retry policy re-runs the whole action, the second attempt succeeds,
    and verify stays green — a transient DDL hiccup must not abort the
    restore or leave the index missing."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "retry_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE t_retry (id INTEGER PRIMARY KEY, "
                "grp INTEGER, v DOUBLE)")
    con.execute("CREATE INDEX idx_grp ON t_retry(grp)")
    con.execute("INSERT INTO t_retry SELECT range, range % 9, range * 0.5 "
                "FROM range(150)")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "retry_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    target = str(tmp_path / "retry_target.duckdb")
    index_attempts = {"n": 0}

    def ddl_executor(sql):
        if sql.lstrip().upper().startswith("CREATE INDEX"):
            index_attempts["n"] += 1
            if index_attempts["n"] == 1:
                raise RuntimeError("transient: target briefly unavailable")
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}",
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor, jdbc_num_partitions=1,
    )
    assert index_attempts["n"] == 2          # failed once, retried, landed
    assert results["load"] == {"t_retry": True}
    assert results["ddl"]["index"] == {"t_retry": True}
    assert results["verify"] == {"t_retry": True}

    con = duckdb.connect(target)
    idx = {name for name, _ in con.execute(
        "SELECT index_name, is_unique FROM duckdb_indexes() "
        "WHERE table_name = 't_retry'").fetchall()}
    n = con.execute("SELECT count(*) FROM t_retry").fetchone()[0]
    con.close()
    assert "idx_grp" in idx and n == 150


def test_restore_resume_after_failure_live(spark, sf_dir, tmp_path):
    """L11 resume, user-facing: run 1 fails mid-DATA (one table's target
    errors past the retry budget) and persists the completed-job log; run
    2 with resume_file skips everything run 1 finished — the completed
    table's data phase never re-executes — finishes the failed table, and
    removes the log on success. Verify green over both tables."""
    import os

    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "resume_dump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.nation",
                                          "default.region"})))
    target = str(tmp_path / "resume_t.duckdb")
    resume_file = os.path.join(out, ".restore_resume.json")
    region_broken = {"on": True}
    applied: list[str] = []

    def ddl_executor(sql):
        applied.append(sql)
        if region_broken["on"] and sql.startswith('DELETE FROM "region"'):
            raise RuntimeError("transient target failure on region")
        con = duckdb.connect(target)
        con.execute(sql)
        con.execute("CHECKPOINT")
        con.close()

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              ddl_executor=ddl_executor, jdbc_num_partitions=1,
              resume_file=resume_file)
    with pytest.raises(RuntimeError, match="load failed"):
        restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    assert os.path.exists(resume_file)
    # nation (larger, runs first) completed and is in the log
    import json as _json

    log = set(_json.load(open(resume_file)))
    assert "nation:DATA" in log and "region:DATA" not in log

    region_broken["on"] = False
    applied.clear()
    results = restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    assert results["load"] == {"nation": True, "region": True}
    assert results["verify"] == {"nation": True, "region": True}
    # nation's data phase did NOT re-run; region's did
    assert not any(s.startswith('DELETE FROM "nation"') for s in applied)
    assert any(s.startswith('DELETE FROM "region"') for s in applied)
    assert not os.path.exists(resume_file)   # removed on success


def test_restore_source_db_and_no_data_live(spark, tmp_path):
    """myloader -s/--source-db and --no-data, live: a two-schema dump
    restores only the selected schema (its view comes along, the other
    schema's table and view never land); --no-data creates keyed tables
    with zero rows and no verify section; -s with an unknown name is a
    loud error listing what IS recorded."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "sdb_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.t1 (id INTEGER PRIMARY KEY, v DOUBLE)")
    con.execute("CREATE INDEX idx_v ON s1.t1(v)")
    con.execute("INSERT INTO s1.t1 SELECT range, range * 0.5 FROM range(40)")
    con.execute("CREATE VIEW s1.v1 AS SELECT sum(v) AS s FROM s1.t1")
    con.execute("CREATE TABLE s2.t2 AS SELECT range AS id FROM range(9)")
    con.execute("CREATE VIEW s2.v2 AS SELECT count(*) AS n FROM s2.t2")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "sdb_dump")
    manifest = dump(spark, f"jdbc:duckdb:{src}",
                    DumpConfig(output_dir=out,
                               jdbc_properties=dict(DRIVER_PROPS)))
    assert set(manifest.tables) == {"s1.t1", "s2.t2"}

    target = str(tmp_path / "sdb_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              ddl_executor=ddl_executor, jdbc_num_partitions=1)
    results = restore(spark, out, f"jdbc:duckdb:{target}",
                      source_database="s1", **kw)
    assert results["load"] == {"s1.t1": True}
    assert results["verify"] == {"s1.t1": True}
    assert results["ddl"]["post"] == {"view:s1.v1": True}

    con = duckdb.connect(target)
    n = con.execute("SELECT count(*) FROM s1.t1").fetchone()[0]
    s2_tables = con.execute(
        "SELECT count(*) FROM information_schema.tables "
        "WHERE table_schema = 's2'").fetchone()[0]
    con.close()
    assert n == 40 and s2_tables == 0

    # unknown -s fails loudly with the recorded databases
    with pytest.raises(ValueError, match="s1"):
        restore(spark, out, f"jdbc:duckdb:{target}",
                source_database="nope", **kw)

    # --no-data: schema + indexes land, zero rows, no verify section
    target2 = str(tmp_path / "sdb_nodata.duckdb")

    def ddl_executor2(sql):
        c = duckdb.connect(target2)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    r2 = restore(spark, out, f"jdbc:duckdb:{target2}",
                 parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
                 ddl_executor=ddl_executor2, jdbc_num_partitions=1,
                 no_data=True)
    assert r2["load"] == {} and "verify" not in r2
    con = duckdb.connect(target2)
    n1 = con.execute("SELECT count(*) FROM s1.t1").fetchone()[0]
    n2 = con.execute("SELECT count(*) FROM s2.t2").fetchone()[0]
    idx = {name for name, _ in con.execute(
        "SELECT index_name, is_unique FROM duckdb_indexes() "
        "WHERE table_name = 't1'").fetchall()}
    con.close()
    assert n1 == 0 and n2 == 0 and "idx_v" in idx


def test_restore_records_objects_skipped_on_parquet_target(spark, tmp_path):
    """A parquet target tree has no view engine: captured objects are
    recorded as skipped in the restore result, never silently dropped."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "vskip_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE t1 (a INTEGER PRIMARY KEY)")
    con.execute("INSERT INTO t1 SELECT range FROM range(10)")
    con.execute("CREATE VIEW v1 AS SELECT a * 2 AS b FROM t1")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "vskip_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))
    results = restore(spark, out, str(tmp_path / "vskip_target"),
                      parallelism=1)
    assert results["load"] == {"t1": True}
    # objects ride a reserved field, not the table-keyed skip map — a
    # dumped table literally named "objects" must not collide with them
    assert results["ddl"]["skipped_objects"] == ["view:v1"]
    assert "skipped" not in results["ddl"]


def test_views_as_tables_and_no_views_live(spark, tmp_path):
    """--views-as-tables (reference flag): the view's ROWS dump like a
    table — entry with rows, no -schema-view.sql object, no table-DDL
    artifact (SHOW CREATE on a view yields view DDL) — and a restore
    materializes it as a plain table. --no-views: the view vanishes from
    the dump entirely. Default: DDL object only, no data entry."""
    import json
    import os

    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "vat_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE base (id INTEGER PRIMARY KEY, amt DOUBLE)")
    con.execute("INSERT INTO base SELECT range, range * 1.5 FROM range(50)")
    con.execute("CREATE VIEW big_amt AS SELECT id, amt FROM base "
                "WHERE amt > 30")
    con.execute("CHECKPOINT")
    con.close()
    url = f"jdbc:duckdb:{src}"

    # default: view captured as a POST DDL object, not a data table
    dflt = str(tmp_path / "vat_default")
    m0 = dump(spark, url, DumpConfig(output_dir=dflt,
                                     jdbc_properties=dict(DRIVER_PROPS)))
    assert set(m0.tables) == {"base"}
    assert [o["kind"] for o in m0.objects] == ["view"]

    # --views-as-tables: rows dump, no view object, no schema artifact
    vat = str(tmp_path / "vat_data")
    m1 = dump(spark, url, DumpConfig(output_dir=vat, views_as_tables=True,
                                     jdbc_properties=dict(DRIVER_PROPS)))
    assert set(m1.tables) == {"base", "big_amt"}
    assert m1.tables["big_amt"].rows == 29  # amt > 30 ⇔ id >= 21
    assert m1.tables["big_amt"].schema_def is None
    assert m1.tables["big_amt"].schema_sql_path is None
    assert m1.objects == []
    doc = json.load(open(os.path.join(vat, "_manifest.json")))
    assert "objects" not in doc

    results = restore(spark, vat, str(tmp_path / "vat_tgt"), parallelism=1)
    assert results["load"] == {"base": True, "big_amt": True}
    assert all(results["verify"].values())

    # --no-views: neither data nor DDL
    nv = str(tmp_path / "vat_none")
    m2 = dump(spark, url, DumpConfig(output_dir=nv, no_views=True,
                                     jdbc_properties=dict(DRIVER_PROPS)))
    assert set(m2.tables) == {"base"} and m2.objects == []


def test_restore_phase_skip_flags_live(spark, tmp_path):
    """myloader --skip-indexes/--skip-constraints/--skip-post: the deferred
    DDL phases and POST objects stay un-replayed on request; data still
    loads and verifies."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "skip_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE tt (tt_id INTEGER PRIMARY KEY, v INTEGER)")
    con.execute("CREATE INDEX idx_v ON tt(v)")
    con.execute("INSERT INTO tt SELECT range, range % 9 FROM range(80)")
    con.execute("CREATE VIEW v_tt AS SELECT v, count(*) c FROM tt GROUP BY v")
    con.execute("CHECKPOINT")
    con.close()
    out = str(tmp_path / "skip_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    target = str(tmp_path / "skip_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}", parallelism=1,
        jdbc_properties=dict(DRIVER_PROPS), ddl_executor=ddl_executor,
        jdbc_num_partitions=1,
        skip_indexes=True, skip_post=True,
    )
    assert results["load"] == {"tt": True}
    assert results["verify"] == {"tt": True}
    ddl = results.get("ddl", {})
    assert "index" not in ddl and "post" not in ddl

    con = duckdb.connect(target)
    idx = {n for n, _ in con.execute(
        "SELECT index_name, is_unique FROM duckdb_indexes() "
        "WHERE table_name = 'tt'").fetchall()}
    views = con.execute(
        "SELECT count(*) FROM duckdb_views() WHERE NOT internal"
    ).fetchone()[0]
    con.close()
    assert "idx_v" not in idx and views == 0


def test_restore_into_alternative_database_live(spark, tmp_path):
    """myloader -B: every table (and POST object) lands in the override
    schema instead of the recorded one; data verifies by reading the
    override location back."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "bdb_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA app")
    con.execute("CREATE TABLE app.items "
                "(item_id INTEGER PRIMARY KEY, v INTEGER)")
    con.execute("INSERT INTO app.items SELECT range, range FROM range(30)")
    con.execute("CREATE VIEW app.v_items AS SELECT count(*) c FROM app.items")
    con.execute("CHECKPOINT")
    con.close()
    out = str(tmp_path / "bdb_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    target = str(tmp_path / "bdb_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}", parallelism=1,
        jdbc_properties=dict(DRIVER_PROPS), ddl_executor=ddl_executor,
        jdbc_num_partitions=1, target_database="staging",
    )
    assert all(results["load"].values())
    assert all(results["verify"].values())

    con = duckdb.connect(target)
    n = con.execute("SELECT count(*) FROM staging.items").fetchone()[0]
    vc = con.execute("SELECT c FROM staging.v_items").fetchone()[0]
    schemas = {r[0] for r in con.execute(
        "SELECT schema_name FROM duckdb_tables()").fetchall()}
    con.close()
    assert n == 30 and vc == 30
    assert "app" not in schemas  # nothing leaked into the recorded schema


def test_sql_format_reference_layout_live(spark, tmp_path):
    """fmt="sql" over a multi-schema JDBC source writes the reference's
    exact file layout — db.table.NNNNN.sql data chunks that myloader's
    filename router recognizes (myloader_process_filename.c), alongside
    -schema.sql DDL and the INI metadata — and restores live into a second
    database with checksums green."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore
    from mydumper_spark.sources.dump_reader import classify

    src = str(tmp_path / "sqlfmt_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA a; CREATE SCHEMA b")
    con.execute("CREATE TABLE a.t (id INTEGER PRIMARY KEY, v VARCHAR)")
    con.execute(
        "INSERT INTO a.t SELECT range, 'x' || range FROM range(25)")
    con.execute("CREATE TABLE b.t AS SELECT range AS id FROM range(7)")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "sqlfmt_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, fmt="sql",
                    jdbc_properties=dict(DRIVER_PROPS)))
    data_files = sorted(f for f in os.listdir(out)
                        if f.endswith(".sql") and ".00" in f)
    assert data_files == ["a.t.00000.sql", "b.t.00000.sql"]
    # myloader's router would accept these names
    for f in data_files:
        kind, parts = classify(f)
        assert kind == "data_sql" and parts["table"] == "t"
    assert os.path.exists(os.path.join(out, "metadata"))  # INI for myloader
    with open(os.path.join(out, "a.t.00000.sql")) as fh:
        assert fh.readline().startswith("INSERT INTO `t` VALUES (0,'x0'),")

    target = str(tmp_path / "sqlfmt_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(spark, out, f"jdbc:duckdb:{target}", parallelism=1,
                      jdbc_properties=dict(DRIVER_PROPS),
                      ddl_executor=ddl_executor, jdbc_num_partitions=1)
    assert results["verify"] == {"a.t": True, "b.t": True}
    con = duckdb.connect(target)
    vals = con.execute("SELECT count(*), max(v) FROM a.t").fetchone()
    nb = con.execute("SELECT count(*) FROM b.t").fetchone()[0]
    con.close()
    assert vals == (25, "x9") and nb == 7


def test_restore_append_if_not_exist_live(spark, sf_dir, tmp_path):
    """myloader --append-if-not-exist, live: pre-existing rows survive and
    the dump's rows append on top; verify reports the inevitable checksum
    mismatch as unverifiable (None) — never as failure; on an EMPTY fresh
    table the checksum genuinely verifies."""
    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore
    from mydumper_spark.plans.loader_dag import PurgeMode

    out = str(tmp_path / "app_dump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.region"})))

    target = str(tmp_path / "app_target.duckdb")
    con = duckdb.connect(target)
    con.execute("CREATE TABLE region (r_regionkey INTEGER PRIMARY KEY, "
                "r_name VARCHAR, r_comment VARCHAR)")
    con.execute("INSERT INTO region VALUES (99, 'PRE', 'existing row')")
    con.execute("CHECKPOINT")
    con.close()

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              ddl_executor=ddl_executor, jdbc_num_partitions=1)
    results = restore(spark, out, f"jdbc:duckdb:{target}",
                      purge=PurgeMode.APPEND, **kw)
    assert results["load"] == {"region": True}
    assert results["verify"]["region"] is None  # honest: can't verify
    con = duckdb.connect(target)
    n, pre = con.execute(
        "SELECT count(*), sum(CASE WHEN r_name='PRE' THEN 1 END) "
        "FROM region").fetchone()
    con.close()
    assert n == 6 and pre == 1  # 5 dumped + 1 pre-existing, none purged

    # fresh empty target: APPEND verifies green (nothing pre-existing)
    target2 = str(tmp_path / "app_fresh.duckdb")

    def ddl_executor2(sql):
        c = duckdb.connect(target2)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    r2 = restore(spark, out, f"jdbc:duckdb:{target2}",
                 purge=PurgeMode.APPEND, parallelism=1,
                 jdbc_properties=dict(DRIVER_PROPS),
                 ddl_executor=ddl_executor2, jdbc_num_partitions=1)
    assert r2["verify"] == {"region": True}


def test_restore_quote_character_override_live(spark, sf_dir, tmp_path):
    """myloader -Q: forcing backtick quoting against a target whose scheme
    would default to ANSI flips the quoting of every replayed CREATE
    (observed through a recording executor under --no-data — DuckDB
    itself rejects backticks, which is exactly why a user pointing at a
    backtick-dialect server behind an unrecognized scheme needs -Q);
    an unsupported character is a loud usage error."""
    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "qdump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.region"})))

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              jdbc_num_partitions=1, no_data=True)

    def run(qc):
        seen = []
        restore(spark, out, "jdbc:duckdb:" + str(tmp_path / "q.duckdb"),
                ddl_executor=seen.append, quote_character=qc, **kw)
        return [s for s in seen if s.startswith("CREATE TABLE")]

    assert any("`region`" in s for s in run("`"))     # forced backtick
    assert any('"region"' in s for s in run('"'))     # forced ANSI
    assert any('"region"' in s for s in run(None))    # scheme default

    with pytest.raises(ValueError, match="quote_character"):
        run("[")


def test_restore_multi_schema_same_named_views_both_replay_live(
        spark, tmp_path):
    """POST-phase job keys are database-qualified: two schemas each holding
    a view NAMED the same (s1.v + s2.v) must BOTH replay — the reference
    walks the full post queue (myloader_worker_post.c), and a bare-name key
    silently dropped one of them while the restore reported success."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "dupobj_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.t AS SELECT range AS id FROM range(12)")
    con.execute("CREATE TABLE s2.t AS SELECT range AS id FROM range(34)")
    con.execute("CREATE VIEW s1.v AS SELECT count(*) AS n FROM s1.t")
    con.execute("CREATE VIEW s2.v AS SELECT count(*) AS n FROM s2.t")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "dupobj_dump")
    manifest = dump(spark, f"jdbc:duckdb:{src}",
                    DumpConfig(output_dir=out,
                               jdbc_properties=dict(DRIVER_PROPS)))
    assert sorted((o["database"], o["name"]) for o in manifest.objects
                  if o["kind"] == "view") == [("s1", "v"), ("s2", "v")]

    target = str(tmp_path / "dupobj_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}",
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor, jdbc_num_partitions=1,
    )
    assert results["ddl"]["post"] == {"view:s1.v": True, "view:s2.v": True}

    con = duckdb.connect(target)
    n1 = con.execute("SELECT n FROM s1.v").fetchone()[0]
    n2 = con.execute("SELECT n FROM s2.v").fetchone()[0]
    con.close()
    assert (n1, n2) == (12, 34)


def test_restore_resume_keeps_same_named_objects_apart_live(spark, tmp_path):
    """L11 resume × qualified POST keys: run 1 lands s1.v, fails s2.v past
    the retry budget, persists the resume log; run 2 must SKIP s1.v (its
    qualified key is in the log) yet still replay s2.v — a bare-name
    resume key would wrongly skip both."""
    import os

    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "dupres_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.t AS SELECT range AS id FROM range(5)")
    con.execute("CREATE TABLE s2.t AS SELECT range AS id FROM range(7)")
    con.execute("CREATE VIEW s1.v AS SELECT count(*) AS n FROM s1.t")
    con.execute("CREATE VIEW s2.v AS SELECT count(*) AS n FROM s2.t")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "dupres_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    target = str(tmp_path / "dupres_target.duckdb")
    resume_file = os.path.join(out, ".restore_resume.json")
    s2_broken = {"on": True}
    applied: list[str] = []

    def ddl_executor(sql):
        applied.append(sql)
        if s2_broken["on"] and sql.lstrip().startswith("CREATE VIEW s2."):
            raise RuntimeError("transient target failure on s2.v")
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              ddl_executor=ddl_executor, jdbc_num_partitions=1,
              resume_file=resume_file)
    with pytest.raises(RuntimeError):
        restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    assert os.path.exists(resume_file)

    s2_broken["on"] = False
    applied.clear()
    results = restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    # s1.v completed in run 1 — its qualified key skips; s2.v replays
    assert not any(s.lstrip().startswith("CREATE VIEW s1.")
                   for s in applied)
    assert any(s.lstrip().startswith("CREATE VIEW s2.") for s in applied)
    assert results["ddl"]["post"]["view:s2.v"] is True
    assert not os.path.exists(resume_file)

    con = duckdb.connect(target)
    n1 = con.execute("SELECT n FROM s1.v").fetchone()[0]
    n2 = con.execute("SELECT n FROM s2.v").fetchone()[0]
    con.close()
    assert (n1, n2) == (5, 7)


def test_restore_append_replays_indexes_on_fresh_table_live(spark, tmp_path):
    """--append-if-not-exist index parity: when APPEND CREATES the table
    (nothing pre-existing), the captured secondary indexes/constraints
    replay exactly as DROP/FAIL/SKIP would (reference myloader replays the
    full dumped CREATE TABLE under IF NOT EXISTS); when the table already
    exists, its own indexes are kept and no CREATE INDEX is issued."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore
    from mydumper_spark.plans.loader_dag import PurgeMode

    src = str(tmp_path / "appix_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE TABLE ledger (id INTEGER PRIMARY KEY, "
                "acct INTEGER, v DOUBLE)")
    con.execute("CREATE INDEX idx_acct ON ledger(acct)")
    con.execute("INSERT INTO ledger SELECT range, range % 7, range * 0.25 "
                "FROM range(60)")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "appix_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    # fresh target: APPEND creates the table → indexes must replay
    target = str(tmp_path / "appix_fresh.duckdb")
    duckdb.connect(target).close()  # file exists, no tables
    applied: list[str] = []

    def ddl_executor(sql):
        applied.append(sql)
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}", purge=PurgeMode.APPEND,
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor, jdbc_num_partitions=1,
    )
    assert results["ddl"]["index"] == {"ledger": True}
    assert results["verify"] == {"ledger": True}  # fresh ⇒ exact verify
    con = duckdb.connect(target)
    idx = {name for name, in con.execute(
        "SELECT index_name FROM duckdb_indexes() "
        "WHERE table_name = 'ledger'").fetchall()}
    con.close()
    assert "idx_acct" in idx

    # pre-existing target table: no index replay, verify unverifiable
    target2 = str(tmp_path / "appix_pre.duckdb")
    con = duckdb.connect(target2)
    con.execute("CREATE TABLE ledger (id INTEGER PRIMARY KEY, "
                "acct INTEGER, v DOUBLE)")
    con.execute("INSERT INTO ledger VALUES (999, 1, 0.0)")
    con.execute("CHECKPOINT")
    con.close()
    applied2: list[str] = []

    def ddl_executor2(sql):
        applied2.append(sql)
        c = duckdb.connect(target2)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    r2 = restore(
        spark, out, f"jdbc:duckdb:{target2}", purge=PurgeMode.APPEND,
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor2, jdbc_num_partitions=1,
    )
    assert not any(s.startswith("CREATE INDEX") for s in applied2)
    assert "index" not in r2.get("ddl", {})
    assert r2["verify"]["ledger"] is None
    con = duckdb.connect(target2)
    n = con.execute("SELECT count(*) FROM ledger").fetchone()[0]
    con.close()
    assert n == 61  # 60 appended + 1 pre-existing


def test_sql_format_masquerade_multischema_composed_live(spark, tmp_path):
    """The three newest surfaces composed in one path: a multi-schema JDBC
    source dumped as fmt="sql" WITH --masquerade-filename (hashed chunk
    names; the manifest carries the mapping), then restored live through
    -s/--source-db into a fresh target — filenames route by MANIFEST path,
    never by name derivation, so hashing must not break chunk discovery,
    schema routing, or checksum verification."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "mmx_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.t (id INTEGER PRIMARY KEY, v VARCHAR)")
    con.execute("INSERT INTO s1.t SELECT range, 'a''b;' || range "
                "FROM range(40)")
    con.execute("CREATE TABLE s2.t AS SELECT range AS id FROM range(9)")
    con.execute("CHECKPOINT")
    con.close()

    out = str(tmp_path / "mmx_dump")
    manifest = dump(spark, f"jdbc:duckdb:{src}",
                    DumpConfig(output_dir=out, fmt="sql",
                               masquerade_filenames=True,
                               jdbc_properties=dict(DRIVER_PROPS)))
    # hashed names: no plaintext table name leaks into ANY output filename
    for f in os.listdir(out):
        assert "s1.t" not in f and "s2.t" not in f, f
    p1 = manifest.tables["s1.t"].path
    assert p1.endswith(".00000.sql") and os.path.exists(p1)

    # restore only s1 into a live target: manifest-path routing end to end
    target = str(tmp_path / "mmx_target.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(spark, out, f"jdbc:duckdb:{target}",
                      source_database="s1", parallelism=1,
                      jdbc_properties=dict(DRIVER_PROPS),
                      ddl_executor=ddl_executor, jdbc_num_partitions=1)
    assert results["verify"] == {"s1.t": True}
    con = duckdb.connect(target)
    n, mx = con.execute("SELECT count(*), max(v) FROM s1.t").fetchone()
    s2_tables = con.execute(
        "SELECT count(*) FROM information_schema.tables "
        "WHERE table_schema = 's2'").fetchone()[0]
    con.close()
    assert (n, mx, s2_tables) == (40, "a'b;9", 0)

    # full restore of BOTH schemas to a parquet tree also routes by path
    r2 = restore(spark, out, str(tmp_path / "mmx_tree"))
    assert r2["verify"] == {"s1.t": True, "s2.t": True}


def test_restore_drop_database_replaces_whole_schema_live(spark, tmp_path):
    """myloader --drop-database: the recorded schemas are DROPped wholesale
    before restore — a stale table living in the target schema but NOT in
    the dump disappears (per-table purge=DROP cannot express that), and
    the dump's tables land fresh."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "dropdb_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.t AS SELECT range AS id FROM range(20)")
    con.execute("CREATE TABLE s2.u AS SELECT range AS id FROM range(3)")
    con.execute("CHECKPOINT")
    con.close()
    out = str(tmp_path / "dropdb_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    target = str(tmp_path / "dropdb_target.duckdb")
    con = duckdb.connect(target)
    con.execute("CREATE SCHEMA s1")
    con.execute("CREATE TABLE s1.stale AS SELECT 1 AS x")
    con.execute("CREATE TABLE s1.t AS SELECT 999 AS id")
    con.execute("CHECKPOINT")
    con.close()

    applied = []

    def ddl_executor(sql):
        applied.append(sql)
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}", drop_database=True,
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor, jdbc_num_partitions=1)
    # both recorded schemas drop FIRST, before any CREATE
    assert applied[0] == 'DROP SCHEMA IF EXISTS "s1" CASCADE'
    assert applied[1] == 'DROP SCHEMA IF EXISTS "s2" CASCADE'
    assert results["verify"] == {"s1.t": True, "s2.u": True}
    con = duckdb.connect(target)
    tabs = {t for t, in con.execute(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 's1'").fetchall()}
    n = con.execute("SELECT count(*) FROM s1.t").fetchone()[0]
    con.close()
    assert tabs == {"t"} and n == 20  # stale gone, old rows replaced

    # parquet targets have no schema namespace: loud usage error
    with pytest.raises(ValueError, match="jdbc"):
        restore(spark, out, str(tmp_path / "tree"), drop_database=True)


def test_restore_ignore_errors_continues_past_failed_table_live(
        spark, sf_dir, tmp_path):
    """myloader --ignore-errors: one table's target fails past the retry
    budget; the restore CONTINUES, loads the other table, reports the
    failure in the results map (load False, verify False) instead of
    raising."""
    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "ign_dump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.region",
                                          "default.nation"})))
    target = str(tmp_path / "ign_target.duckdb")

    def ddl_executor(sql):
        if '"region"' in sql:
            raise RuntimeError("region target permanently broken")
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    results = restore(
        spark, out, f"jdbc:duckdb:{target}", ignore_errors=True,
        parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
        ddl_executor=ddl_executor, jdbc_num_partitions=1)
    assert results["load"]["nation"] is True
    assert results["load"]["region"] is False
    assert results["verify"]["nation"] is True
    assert results["verify"]["region"] is False
    con = duckdb.connect(target)
    n = con.execute("SELECT count(*) FROM nation").fetchone()[0]
    con.close()
    assert n == 25


def test_restore_ignore_errors_persists_resume_log_live(
        spark, sf_dir, tmp_path):
    """ignore_errors lets a run FINISH with failures — the resume log must
    persist (same contract as the exception path) so a re-run against a
    fixed target skips completed work and only redoes the failed table."""
    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "ignres_dump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.region",
                                          "default.nation"})))
    target = str(tmp_path / "ignres_t.duckdb")
    resume_file = os.path.join(out, ".restore_resume.json")
    broken = {"on": True}
    applied: list[str] = []

    def ddl_executor(sql):
        applied.append(sql)
        if broken["on"] and '"region"' in sql:
            raise RuntimeError("region target down")
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              ddl_executor=ddl_executor, jdbc_num_partitions=1,
              resume_file=resume_file, ignore_errors=True)
    r1 = restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    assert r1["load"] == {"nation": True, "region": False}
    assert os.path.exists(resume_file)  # failures happened: log persisted

    broken["on"] = False
    applied.clear()
    r2 = restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    # nation completed in run 1: nothing for it re-executes
    assert not any('"nation"' in s for s in applied)
    assert r2["load"] == {"nation": True, "region": True}
    assert r2["verify"] == {"nation": True, "region": True}
    assert not os.path.exists(resume_file)  # clean run: log removed


def test_restore_drop_database_not_rerun_on_resume_live(spark, tmp_path):
    """--drop-database × --resume: run 1 drops+replaces the schemas, loads
    one table, then fails; the RESUMED run 2 must NOT re-drop (that would
    destroy run 1's completed table while the resume log skips recreating
    it) — both tables end up intact."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore

    src = str(tmp_path / "dbr_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.a AS SELECT range AS id FROM range(50)")
    con.execute("CREATE TABLE s2.b AS SELECT range AS id FROM range(8)")
    con.execute("CHECKPOINT")
    con.close()
    out = str(tmp_path / "dbr_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    target = str(tmp_path / "dbr_target.duckdb")
    resume_file = os.path.join(out, ".restore_resume.json")
    b_broken = {"on": True}
    drops: list[str] = []

    def ddl_executor(sql):
        if sql.startswith("DROP SCHEMA"):
            drops.append(sql)
        if b_broken["on"] and '"b"' in sql and sql.startswith("DELETE"):
            raise RuntimeError("s2.b target down")
        c = duckdb.connect(target)
        c.execute(sql)
        c.execute("CHECKPOINT")
        c.close()

    kw = dict(parallelism=1, jdbc_properties=dict(DRIVER_PROPS),
              ddl_executor=ddl_executor, jdbc_num_partitions=1,
              resume_file=resume_file, drop_database=True)
    with pytest.raises(RuntimeError):
        restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    assert len(drops) == 2 and os.path.exists(resume_file)

    b_broken["on"] = False
    with pytest.warns(UserWarning, match="drop_database skipped"):
        results = restore(spark, out, f"jdbc:duckdb:{target}", **kw)
    assert len(drops) == 2  # run 2 issued NO new drops
    assert results["verify"] == {"s1.a": True, "s2.b": True}
    con = duckdb.connect(target)
    na = con.execute("SELECT count(*) FROM s1.a").fetchone()[0]
    nb = con.execute("SELECT count(*) FROM s2.b").fetchone()[0]
    con.close()
    assert (na, nb) == (50, 8)  # run 1's table SURVIVED the resume


def test_drop_database_runs_before_preexisting_probe_live(spark, tmp_path):
    """--drop-database × SKIP/APPEND ordering: the drop runs BEFORE the
    pre-existing-table probe, so a table the drop removes is NOT 'skipped'
    (SKIP would silently lose it) and IS treated as created-fresh under
    APPEND (secondary indexes replay, verify is exact)."""
    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, restore
    from mydumper_spark.plans.loader_dag import PurgeMode

    src = str(tmp_path / "dbp_src.duckdb")
    con = duckdb.connect(src)
    con.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
    con.execute("CREATE TABLE s1.t (id INTEGER PRIMARY KEY, g INTEGER)")
    con.execute("CREATE INDEX idx_g ON s1.t(g)")
    con.execute("INSERT INTO s1.t SELECT range, range % 5 FROM range(30)")
    con.execute("CREATE TABLE s2.u AS SELECT range AS id FROM range(4)")
    con.execute("CHECKPOINT")
    con.close()
    out = str(tmp_path / "dbp_dump")
    dump(spark, f"jdbc:duckdb:{src}",
         DumpConfig(output_dir=out, jdbc_properties=dict(DRIVER_PROPS)))

    def make_target(path):
        c = duckdb.connect(path)
        c.execute("CREATE SCHEMA s1; CREATE SCHEMA s2")
        c.execute("CREATE TABLE s1.t AS SELECT 777 AS id, 0 AS g")
        c.execute("CREATE TABLE s2.u AS SELECT 777 AS id")
        c.execute("CHECKPOINT")
        c.close()

    def executor_for(path):
        def ddl_executor(sql):
            c = duckdb.connect(path)
            c.execute(sql)
            c.execute("CHECKPOINT")
            c.close()
        return ddl_executor

    # SKIP: with the drop first, nothing pre-exists — nothing is skipped
    t1 = str(tmp_path / "dbp_skip.duckdb")
    make_target(t1)
    r1 = restore(spark, out, f"jdbc:duckdb:{t1}", drop_database=True,
                 purge=PurgeMode.SKIP, parallelism=1,
                 jdbc_properties=dict(DRIVER_PROPS),
                 ddl_executor=executor_for(t1), jdbc_num_partitions=1)
    assert "skipped_existing" not in r1
    assert r1["verify"] == {"s1.t": True, "s2.u": True}
    con = duckdb.connect(t1)
    n = con.execute("SELECT count(*) FROM s1.t").fetchone()[0]
    stale = con.execute(
        "SELECT count(*) FROM s1.t WHERE id = 777").fetchone()[0]
    con.close()
    assert (n, stale) == (30, 0)

    # APPEND: dropped ⇒ created fresh ⇒ indexes replay + exact verify
    t2 = str(tmp_path / "dbp_app.duckdb")
    make_target(t2)
    r2 = restore(spark, out, f"jdbc:duckdb:{t2}", drop_database=True,
                 purge=PurgeMode.APPEND, parallelism=1,
                 jdbc_properties=dict(DRIVER_PROPS),
                 ddl_executor=executor_for(t2), jdbc_num_partitions=1)
    assert r2["ddl"]["index"] == {"s1.t": True}
    assert r2["verify"] == {"s1.t": True, "s2.u": True}  # exact, not None
    con = duckdb.connect(t2)
    idx = {name for name, in con.execute(
        "SELECT index_name FROM duckdb_indexes() "
        "WHERE table_name = 't'").fetchall()}
    con.close()
    assert "idx_g" in idx
