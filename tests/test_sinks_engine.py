"""Sinks, manifest, loader DAG, engine dump→restore roundtrip, streaming."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mydumper_spark.engine import DumpConfig, dump, restore
from mydumper_spark.catalog import TableFilters
from mydumper_spark.functions.checksum import table_checksum
from mydumper_spark.plans.loader_dag import (
    LoaderDag,
    LoadJob,
    Phase,
    PurgeMode,
    split_create_table,
)
from mydumper_spark.sinks.manifest import Manifest, read_manifest, verify_manifest, write_manifest
from mydumper_spark.sinks.writers import (
    CsvFormat,
    insert_statements,
    write_csv,
    write_load_data,
)
from mydumper_spark.sources.dump_reader import classify, read_dump_dir, read_dump_table


# -- writers -----------------------------------------------------------------


def test_csv_roundtrip_with_dialect(spark, customer, tmp_path):
    fmt = CsvFormat(fields_terminated_by="|", fields_enclosed_by="'", header=True)
    path = str(tmp_path / "c.dat")
    write_csv(customer, path, fmt)
    back = (
        spark.read.option("sep", "|").option("quote", "'").option("header", "true")
        .option("nullValue", "\\N")
        .schema(customer.schema)
        .csv(path)
    )
    assert table_checksum(back) == table_checksum(customer)


def test_csv_file_rotation(customer, tmp_path):
    path = str(tmp_path / "rot.dat")
    write_csv(customer.repartition(1), path, max_records_per_file=40)
    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) >= customer.count() // 40  # K5 rotation happened


def test_insert_statements(spark, customer):
    stmts = insert_statements(customer.limit(10), "customer", rows_per_statement=4)
    rows = [r["statement"] for r in stmts.collect()]
    assert all(r.startswith("INSERT INTO `customer`") and r.endswith(";") for r in rows)
    assert sum(r.count("),(") + 1 for r in rows) == 10  # every row rendered


def test_insert_statement_escaping(spark):
    df = spark.createDataFrame([(1, "O'Brien \\ co")], "id int, name string")
    stmt = insert_statements(df, "t").first()["statement"]
    assert "O\\'Brien" in stmt and "\\\\ co" in stmt


def test_load_data_sidecar(spark, customer, tmp_path):
    sql_path = write_load_data(customer.limit(5), str(tmp_path), "customer")
    stmt = open(sql_path).read()
    assert "LOAD DATA LOCAL INFILE" in stmt
    assert "`c_custkey`" in stmt
    assert "IGNORE" not in stmt           # no header written, no clause


def test_load_data_sidecar_header_emits_ignore_lines(spark, customer,
                                                     tmp_path):
    """header=True writes column names atop every part file, so the
    statement must carry the reference's IGNORE 1 LINES clause
    (mydumper_write.c:531-532) — without it a MySQL load ingests the
    header as a data row. The dialect recovery round-trips it."""
    from mydumper_spark.sinks.writers import csvformat_from_load_data

    sql_path = write_load_data(
        customer.limit(5), str(tmp_path), "customer",
        fmt=CsvFormat(header=True))
    stmt = open(sql_path).read()
    assert "IGNORE 1 LINES (`c_custkey`" in stmt
    assert csvformat_from_load_data(stmt).header is True


# -- manifest ----------------------------------------------------------------


def test_manifest_roundtrip(spark, customer, tmp_path):
    m = Manifest()
    path = str(tmp_path / "customer.parquet")
    customer.write.parquet(path)
    m.add_table(spark.read.parquet(path), "customer", path)
    m.finish()
    write_manifest(m, str(tmp_path))
    doc = read_manifest(str(tmp_path))
    assert doc["tables"]["customer"]["rows"] == customer.count()
    res = verify_manifest(spark, str(tmp_path))
    assert res["customer"]["ok"]
    # INI twin exists (reference format parity)
    assert "[`default`.`customer`]" in open(tmp_path / "_manifest.ini").read()


def test_manifest_detects_tamper(spark, customer, tmp_path):
    m = Manifest()
    path = str(tmp_path / "t.parquet")
    customer.write.parquet(path)
    m.add_table(spark.read.parquet(path), "t", path)
    write_manifest(m, str(tmp_path))
    doc = json.load(open(tmp_path / "_manifest.json"))
    doc["tables"]["t"]["data_checksum"] += 1
    json.dump(doc, open(tmp_path / "_manifest.json", "w"))
    assert not verify_manifest(spark, str(tmp_path))["t"]["ok"]


# -- loader DAG --------------------------------------------------------------


def test_dag_phase_ordering():
    order = []
    dag = LoaderDag()
    for t in ["a", "b"]:
        dag.add(LoadJob(t, Phase.DATA, lambda t=t: order.append(f"data-{t}")))
        dag.add(LoadJob(t, Phase.SCHEMA, lambda t=t: order.append(f"schema-{t}")))
        dag.add(LoadJob(t, Phase.INDEX, lambda t=t: order.append(f"index-{t}")))
    dag.run()
    assert max(i for i, x in enumerate(order) if x.startswith("schema")) < min(
        i for i, x in enumerate(order) if x.startswith("data")
    )
    assert max(i for i, x in enumerate(order) if x.startswith("data")) < min(
        i for i, x in enumerate(order) if x.startswith("index")
    )


def test_dag_largest_first():
    order = []
    dag = LoaderDag()
    dag.add(LoadJob("small", Phase.DATA, lambda: order.append("small"), size_hint=10))
    dag.add(LoadJob("big", Phase.DATA, lambda: order.append("big"), size_hint=1000))
    dag.run()
    assert order == ["big", "small"]


def test_dag_retry_then_fail():
    attempts = {"n": 0}

    def flaky():
        attempts["n"] += 1
        raise RuntimeError("boom")

    dag = LoaderDag()
    dag.add(LoadJob("t", Phase.DATA, flaky, retries=2))
    with pytest.raises(RuntimeError, match="load failed"):
        dag.run()
    assert attempts["n"] == 3  # 1 + 2 retries (L8)


def test_dag_resume_skips_done():
    ran = []
    dag = LoaderDag(resume_log={"t:DATA"})
    dag.add(LoadJob("t", Phase.DATA, lambda: ran.append(1)))
    dag.run()
    assert ran == []  # L11


def test_dag_post_phase_requeues_order_dependent_failures():
    """The POST phase is order-dependent in ways the dump can't see (a
    view on a view, a routine reading a view): a failed POST job requeues
    behind the rest of the phase and the phase loops until a full pass
    makes no progress — the reference's CREATE-order retry
    (myloader_worker_post.c). Here the jobs arrive in the WORST order
    (deepest dependent first): every pass lands exactly one object."""
    created: set[str] = set()

    def make(name: str, needs: str | None):
        def action():
            if needs is not None and needs not in created:
                raise RuntimeError(f"{needs} does not exist")
            created.add(name)
        return action

    dag = LoaderDag()
    # reverse dependency order: c needs b needs a
    dag.add(LoadJob("view:c", Phase.POST, make("c", "b"), retries=0))
    dag.add(LoadJob("view:b", Phase.POST, make("b", "a"), retries=0))
    dag.add(LoadJob("view:a", Phase.POST, make("a", None), retries=0))
    results = dag.run()
    assert created == {"a", "b", "c"}
    assert all(r.ok for r in results.values())


def test_dag_post_phase_genuine_failure_still_fails():
    """Requeue-on-failure must not mask a genuinely broken object: when a
    full pass makes no progress, the failure is final (fail_fast raises;
    fail_fast=False records it and the rest of the phase lands)."""
    created: set[str] = set()

    def ok_action():
        created.add("ok")

    def broken():
        raise RuntimeError("references a table that is not in the dump")

    dag = LoaderDag()
    dag.add(LoadJob("view:broken", Phase.POST, broken, retries=0))
    dag.add(LoadJob("view:ok", Phase.POST, ok_action, retries=0))
    with pytest.raises(RuntimeError, match="load failed"):
        dag.run()
    assert "ok" in created  # the healthy object landed before the verdict

    dag2 = LoaderDag()
    dag2.add(LoadJob("view:broken", Phase.POST, broken, retries=0))
    dag2.add(LoadJob("view:ok", Phase.POST, ok_action, retries=0))
    results = dag2.run(fail_fast=False)
    assert results[("view:ok", Phase.POST)].ok
    assert not results[("view:broken", Phase.POST)].ok


def test_split_create_table():
    ddl = """CREATE TABLE actor (
      actor_id INT NOT NULL,
      name VARCHAR(45) NOT NULL,
      PRIMARY KEY (actor_id),
      KEY idx_name (name),
      CONSTRAINT fk FOREIGN KEY (actor_id) REFERENCES other(id)
    )"""
    bare, keys, constraints = split_create_table(ddl)
    assert "KEY idx_name" not in bare and "PRIMARY KEY" in bare
    assert keys == ["ALTER TABLE actor ADD KEY idx_name (name);"]
    assert len(constraints) == 1 and "FOREIGN KEY" in constraints[0]


# -- engine dump → restore roundtrip ----------------------------------------


def test_dump_restore_roundtrip(spark, sf_dir, tmp_path):
    """The reference's core test property (test_mydumper.sh roundtrip with
    --checksum-all --checksum=fail) on our engine."""
    out = str(tmp_path / "dump")
    cfg = DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.region", "default.nation", "default.supplier"}),
    )
    manifest = dump(spark, sf_dir, cfg)
    assert set(manifest.tables) == {"region", "nation", "supplier"}
    target = str(tmp_path / "restored")
    results = restore(spark, out, target, purge=PurgeMode.DROP, parallelism=2)
    assert all(results["load"].values())
    assert all(results["verify"].values())


def test_dump_applies_where_and_masquerade(spark, sf_dir, tmp_path):
    from mydumper_spark.operators.transform import TableTransform

    out = str(tmp_path / "dump2")
    cfg = DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.customer"}),
        global_where="c_custkey < 50",
        per_table={
            "customer": TableTransform(
                select_columns=["c_custkey", "c_name"],
                masquerade={"c_name": [("constant", {"value": "X"})]},
            )
        },
    )
    dump(spark, sf_dir, cfg)
    back = spark.read.parquet(os.path.join(out, "customer.parquet"))
    assert back.columns == ["c_custkey", "c_name"]
    assert back.where("c_custkey >= 50").count() == 0
    assert back.select("c_name").distinct().collect()[0][0] == "X"


# -- dump reader -------------------------------------------------------------


def test_filename_classification():
    assert classify("mydb-schema-create.sql")[0] == "schema_create"
    assert classify("mydb.t1-schema.sql")[0] == "table_schema"
    assert classify("mydb.t1.00001.sql")[0] == "data_sql"
    assert classify("mydb.t1.00001.dat")[0] == "data_dat"
    assert classify("metadata.json")[0] == "metadata"
    assert classify("random.txt") is None


def test_read_dump_dir(spark, customer, tmp_path):
    customer.write.parquet(str(tmp_path / "customer.parquet"))
    tables = read_dump_dir(spark, str(tmp_path))
    assert "customer" in tables
    assert tables["customer"].count() == customer.count()


# -- .sql INSERT dump parsing (S12) ------------------------------------------


def test_parse_tuples_unit():
    from mydumper_spark.sources.insert_parser import parse_tuples

    # full statement, escapes, doubled quotes, NULL vs 'NULL', hex, numbers
    tups = parse_tuples(
        "INSERT INTO `t` VALUES (1,'O\\'Brien','a''b',NULL,'NULL',0xDEAD,-1.5E-4);"
    )
    assert tups == [["1", "O'Brien", "a'b", None, "NULL", "0xDEAD", "-1.5E-4"]]
    # control-char escapes round the mysql_real_escape_string matrix
    assert parse_tuples("(2,'l1\\nl2\\tt\\\\x\\Z\\0')") == [["2", "l1\nl2\tt\\x\x1a\x00"]]
    # multiple tuples on one line; continuation lines; trailing comma
    assert parse_tuples("INSERT INTO t VALUES (1,'a'),(2,'b');") == [["1", "a"], ["2", "b"]]
    assert parse_tuples("(3,'c'),") == [["3", "c"]]
    # non-data lines are ignored
    assert parse_tuples("/*!40101 SET NAMES binary*/;") == []
    assert parse_tuples("SET @old := 1;") == []
    assert parse_tuples("") == []
    # VALUES inside a quoted value must not start the tuple scan early
    assert parse_tuples("INSERT INTO `values` VALUES ('VALUES (9)')") == [["VALUES (9)"]]


def test_insert_sql_roundtrip(spark, tmp_path):
    """write_insert_sql → read_dump_table equals the source — the
    reference's own dump-then-load oracle (myloader_restore.c)."""
    from mydumper_spark.sinks.writers import write_insert_sql

    df = spark.createDataFrame(
        [
            (1, "O'Brien \\ co", 3.5, bytearray(b"\x01\xff")),
            (2, "line1\nline2\ttab", None, None),
            (3, None, -0.125, bytearray(b"")),
            (4, "NULL", 1e-4, bytearray(b"\x00")),
        ],
        "id bigint, name string, val double, payload binary",
    )
    write_insert_sql(df, str(tmp_path / "t.sql"), "t", rows_per_statement=2)
    back = read_dump_table(spark, str(tmp_path), "t", schema=df.schema)

    def norm(rows):
        return {
            r["id"]: (
                r["name"],
                r["val"],
                bytes(r["payload"]) if r["payload"] is not None else None,
            )
            for r in rows
        }

    assert norm(back.collect()) == norm(df.collect())


def test_reference_style_sql_chunks(spark, tmp_path):
    """Multi-line per-chunk dump files named db.table.NNNN.sql — the
    reference's primary on-disk format (myloader_process_filename.c)."""
    (tmp_path / "mydb.t1.00001.sql").write_text(
        "/*!40101 SET NAMES binary*/;\n"
        "INSERT INTO `t1` VALUES\n(1,'a''s'),\n(2,'b\\nc'),\n(3,NULL);\n"
    )
    (tmp_path / "mydb.t1.00002.sql").write_text("INSERT INTO `t1` VALUES (4,'d');\n")
    back = read_dump_table(spark, str(tmp_path), "t1", schema="id int, name string")
    got = {r["id"]: r["name"] for r in back.collect()}
    assert got == {1: "a's", 2: "b\nc", 3: None, 4: "d"}


def test_read_dump_table_sql_requires_schema(spark, tmp_path):
    (tmp_path / "mydb.t2.00001.sql").write_text("INSERT INTO `t2` VALUES (1);\n")
    with pytest.raises(ValueError, match="schema"):
        read_dump_table(spark, str(tmp_path), "t2")


# -- streaming ---------------------------------------------------------------


def test_stream_restore_availablenow(spark, customer, tmp_path):
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    customer.write.parquet(landing)
    from mydumper_spark.streaming import stream_restore

    q = stream_restore(spark, landing, target, ckpt, customer.schema, available_now=True)
    q.awaitTermination(120)
    back = spark.read.parquet(target)
    assert back.count() == customer.count()
    assert os.path.exists(os.path.join(target, "_manifest.partial.json"))  # ST4


def test_snapshot_ring(spark, customer, tmp_path):
    from mydumper_spark.streaming import snapshot_dump

    ring = str(tmp_path / "ring")
    s1 = snapshot_dump(customer.limit(5), ring, snapshot_count=2)
    s2 = snapshot_dump(customer.limit(7), ring, snapshot_count=2)
    s3 = snapshot_dump(customer.limit(9), ring, snapshot_count=2)
    assert s1.endswith("/0") and s2.endswith("/1") and s3.endswith("/0")
    last = os.path.join(ring, "LAST_DUMP")
    assert os.path.islink(last)
    assert spark.read.parquet(os.path.realpath(last)).count() == 9


def test_sessionize_batch(spark, sf_dir):
    from mydumper_spark.streaming import sessionize_stream

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":  # legacy INT64-nanos fixture
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    out = sessionize_stream(ev, gap="30 minutes")
    assert out.count() > 0
    r = out.first()
    assert r["n_events"] >= 1 and r["session_start"] <= r["session_end"]


def test_jdbc_sink_options():
    from mydumper_spark.plans.loader_dag import PurgeMode
    from mydumper_spark.sinks.jdbc_sink import JdbcSinkConfig, replication_section

    cfg = JdbcSinkConfig(
        url="jdbc:mysql://h/db", user="u", batchsize=500,
        num_partitions=8, purge=PurgeMode.TRUNCATE,
    )
    props = cfg.properties()
    assert props["batchsize"] == "500"
    assert props["numPartitions"] == "8"
    assert props["truncate"] == "true"  # TRUNCATE != DROP (no re-grant churn)
    assert props["rewriteBatchedStatements"] == "true"
    assert cfg.purge.spark_mode == "overwrite"
    # DROP must NOT set truncate (it really drops)
    assert "truncate" not in JdbcSinkConfig(url="x", purge=PurgeMode.DROP).properties()
    sec = replication_section(binlog_file="bin.0001", binlog_pos=4)
    assert sec == {"file": "bin.0001", "position": 4}


def test_purge_modes_distinct():
    from mydumper_spark.plans.loader_dag import PurgeMode

    assert len({m.value for m in PurgeMode}) == 6
    assert PurgeMode.TRUNCATE is not PurgeMode.DROP
    assert PurgeMode.DELETE.spark_mode == "append"
    assert PurgeMode.SKIP.spark_mode == "ignore"
    assert PurgeMode.APPEND.spark_mode == "append"  # --append-if-not-exist


def test_load_data_clickhouse_dialect(spark, tmp_path):
    from mydumper_spark.sinks.writers import write_load_data

    df = spark.range(3).selectExpr("id", "concat('v', id) AS v")
    sql_path = write_load_data(df, str(tmp_path), "t1", dialect="clickhouse")
    stmt = open(sql_path).read()
    assert stmt.startswith("INSERT INTO `t1` FROM INFILE") and "FORMAT CSV" in stmt


def test_streaming_stateful_dedup(spark, tmp_path):
    """Cross-batch state: a fingerprint seen in batch 1 must not re-emit in
    batch 2 — the property no stateless micro-batch pipeline has."""
    import time

    from mydumper_spark.streaming.stateful import streaming_exact_dedup

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "fp string, doc_id long"
    ).write.mode("append").parquet(landing)

    def run_once():
        rows = []
        stream = spark.readStream.schema("fp string, doc_id long").parquet(landing)
        q = (
            streaming_exact_dedup(stream)
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["fp"]: r for r in rows}

    out1 = run_once()
    assert set(out1) == {"a", "b"}
    assert out1["a"]["n_duplicates"] == 1 and out1["b"]["n_duplicates"] == 0

    # batch 2: one repeat ("a") + one new ("c") — only "c" may emit
    spark.createDataFrame(
        [("a", 9), ("c", 4)], "fp string, doc_id long"
    ).write.mode("append").parquet(landing)
    out2 = run_once()
    assert "c" in out2 and out2["c"]["doc_id"] == 4
    assert out2.get("a", out1["a"])["doc_id"] == out1["a"]["doc_id"]  # no re-emit of a


def test_streaming_line_dedup(spark, tmp_path):
    """Cross-batch line-value dedup: a line first seen in batch 1 is
    swallowed when any later document repeats it; new lines still emit."""
    from mydumper_spark.streaming.stateful import streaming_line_dedup

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, "alpha\nshared line"), (2, "shared line\nbeta")],
        "doc_id long, text string",
    ).write.mode("append").parquet(landing)

    def run_once():
        rows = []
        stream = spark.readStream.schema("doc_id long, text string").parquet(landing)
        q = (
            streaming_line_dedup(stream)
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["line"]: r for r in rows}

    out1 = run_once()
    assert set(out1) == {"alpha", "shared line", "beta"}
    # in-batch arbiter: the smallest (doc_id, pos) wins and dups count
    assert out1["shared line"]["doc_id"] == 1
    assert out1["shared line"]["n_duplicates"] == 1

    # batch 2: repeats of old lines are swallowed; the new line emits
    spark.createDataFrame(
        [(3, "shared line\nalpha\nbrand new")], "doc_id long, text string"
    ).write.mode("append").parquet(landing)
    out2 = run_once()
    assert "brand new" in out2 and out2["brand new"]["doc_id"] == 3
    assert out2.get("shared line", out1["shared line"])["doc_id"] == 1


def test_streaming_minhash_buckets_cross_batch(spark, tmp_path):
    """Streaming LSH intake: a near-dup arriving in a LATER batch sees the
    original as prior_doc on its colliding buckets; an unrelated doc's
    probes are all-NULL (novel); state survives between runs."""
    from mydumper_spark.streaming.stateful import streaming_minhash_buckets

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "sleepy")
    far = "completely unrelated words about spark engines and parquet files " * 3
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(1, base)], "doc_id long, text string"
    ).write.mode("append").parquet(landing)

    def run_once():
        rows = []
        stream = spark.readStream.schema("doc_id long, text string").parquet(landing)
        q = (
            streaming_minhash_buckets(stream, num_hashes=16, bands=8)
            .writeStream.foreachBatch(lambda b, _id: rows.extend(b.collect()))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = {}
        for r in rows:
            out.setdefault(r["doc_id"], []).append(r["prior_doc"])
        return out

    out1 = run_once()
    assert set(out1) == {1}
    assert all(p is None for p in out1[1])        # opened every bucket
    spark.createDataFrame(
        [(2, near), (3, far)], "doc_id long, text string"
    ).write.mode("append").parquet(landing)
    out2 = run_once()
    # the near-dup collides with doc 1 on at least one band; the unrelated
    # doc is novel on every band
    assert any(p == 1 for p in out2[2]), out2
    assert all(p is None for p in out2[3]), out2


def test_read_dump_table_dat_dialect_resolution(spark, tmp_path):
    """Convention-based .dat reads resolve their CSV dialect correctly
    (round 11): a dir WITH a manifest honors its recorded csv_dialect
    (escaped_data=True round-trips), while a manifest-less dir means a
    legacy raw-form dump — consecutive backslash pairs keep their bytes'
    meaning instead of being silently halved by the dataclass default."""
    import json as _json

    import shutil

    df = spark.createDataFrame(
        [(1, "a\\\\b"), (2, "c\\d"), (3, None)], "id int, s string")

    # current engine dump: manifest records the escaped dialect
    out = str(tmp_path / "cur")
    src = str(tmp_path / "src")
    df.write.parquet(os.path.join(src, "t.parquet"))
    dump(spark, src, DumpConfig(output_dir=out, fmt="csv"))
    back = read_dump_table(spark, out, "t")
    assert {r["id"]: r["s"] for r in back.collect()} == {
        1: "a\\\\b", 2: "c\\d", 3: None}
    assert _json.load(open(os.path.join(out, "_manifest.json")))[
        "config"]["csv_dialect"]["escaped_data"] is True

    # legacy dir: same files, manifest stripped → raw-form read (no
    # halving); the written .dat bytes carry DOUBLED backslashes, so the
    # raw read surfaces them doubled — the legacy contract is "bytes mean
    # what they say", not "guess the writer's escaping"
    legacy = str(tmp_path / "legacy")
    shutil.copytree(out, legacy)
    os.remove(os.path.join(legacy, "_manifest.json"))
    raw = read_dump_table(spark, legacy, "t")
    assert {r["id"]: r["s"] for r in raw.collect()} == {
        1: "a\\\\\\\\b", 2: "c\\\\d", 3: None}


def test_reference_style_sql_gz_chunks(spark, tmp_path):
    """Compressed per-chunk dumps (reference -c/--compress → .sql.gz) read
    transparently through Spark's built-in gzip codec."""
    import gzip

    (tmp_path / "mydb.tz.00001.sql.gz").write_bytes(
        gzip.compress(b"INSERT INTO `tz` VALUES\n(1,'a'),\n(2,'b\\nc');\n")
    )
    (tmp_path / "mydb.tz.00002.sql.gz").write_bytes(
        gzip.compress(b"INSERT INTO `tz` VALUES (3,NULL);\n")
    )
    back = read_dump_table(spark, str(tmp_path), "tz", schema="id int, name string")
    got = {r["id"]: r["name"] for r in back.collect()}
    assert got == {1: "a", 2: "b\nc", 3: None}


def test_reference_metadata_roundtrip(tmp_path):
    """Reference-format metadata file: write → parse recovers every field
    (the GKeyFile body + comment timestamps myloader requires,
    myloader.c:162-164)."""
    from mydumper_spark.sinks.metadata_file import (
        DumpMetadata, TableMeta, read_metadata, write_metadata,
    )

    meta = DumpMetadata(
        started_at="2026-08-13 10:00:00",
        finished_at="2026-08-13 10:05:00",
        local_infile=True,
        sql_mode="NO_AUTO_VALUE_ON_ZERO",
        source={"executed_gtid_set": "uuid:1-100", "file": "binlog.000042", "pos": "1337"},
        tables=[
            TableMeta("shop", "orders", rows=15000, data_checksum="abc123",
                      schema_checksum="def456"),
            TableMeta("shop", "seq_ids", rows=1, is_sequence=True),
        ],
    )
    p = tmp_path / "metadata"
    write_metadata(str(p), meta)
    text = p.read_text()
    assert text.startswith("# Started dump at: 2026-08-13 10:00:00\n")
    assert "[`shop`.`orders`]" in text and "rows = 15000" in text

    back = read_metadata(str(p))
    assert back.started_at == meta.started_at
    assert back.finished_at == meta.finished_at
    assert back.local_infile and back.sql_mode == "NO_AUTO_VALUE_ON_ZERO"
    assert back.source == {"executed_gtid_set": "uuid:1-100",
                           "file": "binlog.000042", "pos": "1337"}
    assert [(t.database, t.table, t.rows) for t in back.tables] == [
        ("shop", "orders", 15000), ("shop", "seq_ids", 1),
    ]
    assert back.tables[0].data_checksum == "abc123"
    assert back.tables[1].is_sequence


def test_parse_genuine_mydumper_metadata():
    """Parse a verbatim snippet in the reference's own emitted shape
    (mydumper_start_dump.c:1161,1176-1183,774-797; working_thread.c:535-548)."""
    from mydumper_spark.sinks.metadata_file import parse_metadata

    text = """# Started dump at: 2024-01-15 03:00:01
[config]
quote-character = BACKTICK
local-infile = 1

[myloader_session_variables]
SQL_MODE='NO_AUTO_VALUE_ON_ZERO' /*!40101

[source]
# Channel_Name = '' # It can be use to setup replication FOR CHANNEL
# executed_gtid_set = "3e11fa47-71ca-11e1-9e33-c80aa9429562:1-5"
# SOURCE_LOG_FILE = "mysql-bin.000003"
# SOURCE_LOG_POS = 73

[`mydb`.`t1`]
real_table_name=t1
rows = 42
data_checksum = 12345

# Finished dump at: 2024-01-15 03:02:11
"""
    m = parse_metadata(text)
    assert m.started_at == "2024-01-15 03:00:01"
    assert m.finished_at == "2024-01-15 03:02:11"
    assert m.source["executed_gtid_set"].startswith("3e11fa47")
    assert m.source["file"] == "mysql-bin.000003" and m.source["pos"] == "73"
    assert m.tables[0].rows == 42 and m.tables[0].data_checksum == "12345"


def test_stream_interval_join(spark, tmp_path):
    """Watermarked stream-stream interval join (availableNow): pairs within
    the window come out; state expiry condition is accepted by the planner
    (both sides watermarked, both event times bounded)."""
    import datetime as dt

    from mydumper_spark.streaming.stream import stream_interval_join

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    clicks = spark.createDataFrame(
        [(1, 10, base), (2, 10, base + dt.timedelta(hours=3)), (3, 20, base)],
        "click_id long, user_id long, ts timestamp",
    )
    buys = spark.createDataFrame(
        [
            (101, 10, base + dt.timedelta(minutes=30)),   # joins click 1
            (102, 10, base + dt.timedelta(hours=5)),      # 2h after click 2 → outside the 1h window
            (103, 20, base - dt.timedelta(minutes=5)),    # before the click → no
        ],
        "buy_id long, user_id long, ts timestamp",
    )
    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    clicks.write.parquet(cdir)
    buys.write.parquet(bdir)
    cs = spark.readStream.schema(clicks.schema).parquet(cdir)
    bs = spark.readStream.schema(buys.schema).parquet(bdir)
    joined = stream_interval_join(
        cs, bs, on=["user_id"], left_ts="ts", right_ts="ts", max_delay="1 hour"
    )
    q = (
        joined.writeStream.format("memory").queryName("ivj")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r["click_id"], r["buy_id"]) for r in spark.sql("select * from ivj").collect()}
    assert got == {(1, 101)}
    # static frames take the same code path (no watermark branch)
    static = stream_interval_join(
        clicks, buys, on=["user_id"], left_ts="ts", right_ts="ts", max_delay="1 hour"
    )
    assert {(r["click_id"], r["buy_id"]) for r in static.collect()} == {(1, 101)}


def test_sql_dump_schema_from_sidecar(spark, tmp_path):
    """A reference-style dump dir (schema file + data chunks) reads with NO
    explicit schema: the CREATE TABLE sidecar drives the typed parse."""
    (tmp_path / "mydb.ts-schema.sql").write_text(
        "CREATE TABLE `ts` (\n"
        "  `id` bigint unsigned NOT NULL,\n"
        "  `name` varchar(64) DEFAULT NULL,\n"
        "  `bal` decimal(12,2),\n"
        "  `flag` tinyint(1),\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
    )
    (tmp_path / "mydb.ts.00001.sql").write_text(
        "INSERT INTO `ts` VALUES (1,'a',10.50,1),(2,NULL,-3.25,0);\n"
    )
    back = read_dump_table(spark, str(tmp_path), "ts")
    assert [f.dataType.simpleString() for f in back.schema.fields] == [
        "decimal(20,0)", "string", "decimal(12,2)", "boolean",
    ]
    rows = {int(r["id"]): (r["name"], str(r["bal"]), r["flag"]) for r in back.collect()}
    assert rows == {1: ("a", "10.50", True), 2: (None, "-3.25", False)}


def test_schema_from_create_table_types():
    from mydumper_spark.plans.ddl import schema_from_create_table

    ddl = """CREATE TABLE `t` (
      `a` int unsigned,
      `b` mediumtext,
      `c` datetime DEFAULT CURRENT_TIMESTAMP,
      `d` varbinary(255),
      `e` enum('x','y') NOT NULL,
      KEY `k` (`a`)
    )"""
    assert schema_from_create_table(ddl) == (
        "`a` bigint, `b` string, `c` timestamp, `d` binary, `e` string"
    )


def test_create_table_ddl_dialects():
    """The restore-side inverse: Spark schema → CREATE TABLE per target
    dialect, with identifier quoting that survives pathological names."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from mydumper_spark.plans.ddl import create_table_ddl

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("bal", T.DoubleType(), True),
        T.StructField("emb", T.ArrayType(T.FloatType()), True),
        T.StructField("amt", T.DecimalType(12, 2), True),
    ])
    ansi = create_table_ddl("a.b", schema, "ansi")
    assert ansi == (
        'CREATE TABLE "a.b" (\n  "id" BIGINT NOT NULL,\n  "name" VARCHAR,'
        '\n  "bal" DOUBLE,\n  "emb" FLOAT[],\n  "amt" DECIMAL(12,2)\n)'
    )
    mysql = create_table_ddl("t`x", schema, "mysql")
    assert mysql.startswith("CREATE TABLE `t``x` (\n  `id` BIGINT NOT NULL")
    assert "`name` TEXT" in mysql and "`emb` JSON" in mysql
    with _pytest.raises(ValueError, match="no ansi SQL type"):
        create_table_ddl("m", T.StructType(
            [T.StructField("m", T.MapType(T.StringType(), T.LongType()))]), "ansi")


def test_dump_with_profile(spark, sf_dir, tmp_path):
    """dump(profile=True) writes _profile.json with per-table per-column
    stats derived from the WRITTEN data."""
    import json as _json
    import os as _os

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump

    out = str(tmp_path / "pdump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, profile=True,
        filters=TableFilters(tables_list={"default.nation"})))
    doc = _json.load(open(_os.path.join(out, "_profile.json")))
    cols = {r["column_name"]: r for r in doc["nation"]}
    assert cols["n_nationkey"]["n_rows"] == 25
    assert abs(cols["n_nationkey"]["n_distinct"] - 25) <= 2  # HLL ±5%
    assert cols["n_name"]["n_nulls"] == 0
    assert cols["n_nationkey"]["min_str"] == "0"


def test_dump_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """fmt=jsonl: one JSON object per line + a schema sidecar; checksums
    recorded from the written files; restore reads back TYPED via the
    sidecar and verifies clean — corpus-interchange format, reference
    roundtrip property intact."""
    out = str(tmp_path / "jdump")
    cfg = DumpConfig(
        output_dir=out, fmt="jsonl",
        filters=TableFilters(tables_list={"default.nation", "default.region"}),
    )
    manifest = dump(spark, sf_dir, cfg)
    assert manifest.tables["nation"].rows == 25
    assert os.path.exists(os.path.join(out, "nation.schema.json"))
    first = open([os.path.join(out, "nation.jsonl", f)
                  for f in os.listdir(os.path.join(out, "nation.jsonl"))
                  if f.startswith("part-")][0]).readline()
    assert first.startswith("{") and "n_nationkey" in first
    results = restore(spark, out, str(tmp_path / "restored"))
    assert all(results["load"].values())
    assert all(results["verify"].values())


# -- round 7: DDL descriptor capture/replay, parallel dump, format-aware
# -- verification


def test_descriptor_from_genuine_mydumper_schema_file():
    """A genuine reference-style schema artifact (the SHOW CREATE TABLE
    text mydumper writes to db.table-schema.sql, mydumper_jobs.c:274)
    parses into the full key/constraint descriptor — PK, composite unique,
    secondary keys with prefix lengths, FK, check."""
    from mydumper_spark.plans.ddl import (
        descriptor_from_create_table, schema_from_create_table,
    )

    ddl = """CREATE TABLE `film` (
  `film_id` smallint unsigned NOT NULL AUTO_INCREMENT,
  `title` varchar(128) NOT NULL,
  `language_id` tinyint unsigned NOT NULL,
  `rental_rate` decimal(4,2) NOT NULL DEFAULT '4.99',
  `description` text,
  PRIMARY KEY (`film_id`),
  UNIQUE KEY `uq_title_lang` (`title`,`language_id`),
  KEY `idx_title` (`title`(64)),
  KEY `idx_fk_language_id` (`language_id`),
  CONSTRAINT `fk_film_language` FOREIGN KEY (`language_id`) REFERENCES `language` (`language_id`) ON DELETE RESTRICT ON UPDATE CASCADE,
  CONSTRAINT `chk_rate` CHECK ((`rental_rate` >= 0))
) ENGINE=InnoDB AUTO_INCREMENT=1001 DEFAULT CHARSET=utf8mb4;"""
    d = descriptor_from_create_table(ddl)
    assert d["primary_key"] == ["film_id"]
    assert d["uniques"] == [
        {"name": "uq_title_lang", "columns": ["title", "language_id"]}]
    assert {ix["name"]: ix["columns"] for ix in d["indexes"]} == {
        "idx_title": ["title"], "idx_fk_language_id": ["language_id"]}
    assert d["foreign_keys"][0]["ref_table"] == "language"
    assert d["foreign_keys"][0]["columns"] == ["language_id"]
    assert d["checks"] and d["checks"][0]["name"] == "chk_rate"
    # the column-type parser still reads the same artifact (shared file)
    assert "`film_id` int" in schema_from_create_table(ddl)


def test_restore_statements_phase_and_dialects():
    """Descriptor → phase-ordered DDL: uniques/keys as post-data CREATE
    INDEX on any dialect; FK/CHECK alters only where the target's ALTER
    surface has them (mysql), surfaced as skipped elsewhere."""
    from mydumper_spark.plans.ddl import restore_statements

    desc = {
        "primary_key": ["id"],
        "uniques": [{"name": "u", "columns": ["a", "b"]}],
        "indexes": [{"name": "i", "columns": ["c"], "unique": False}],
        "foreign_keys": [{"name": "fk", "columns": ["a"],
                          "ref_table": "p", "ref_columns": ["id"]}],
        "checks": [{"name": "ck", "expr": "a > 0"}],
    }
    ansi = restore_statements('"t"', desc, "ansi")
    assert ansi["index"] == [
        'CREATE UNIQUE INDEX "u" ON "t" ("a", "b")',
        'CREATE INDEX "i" ON "t" ("c")',
    ]
    assert ansi["constraint"] == [] and len(ansi["skipped"]) == 2
    my = restore_statements("`t`", desc, "mysql")
    assert my["skipped"] == [] and len(my["constraint"]) == 2
    assert "FOREIGN KEY (`a`) REFERENCES `p` (`id`)" in my["constraint"][0]
    assert "CHECK (a > 0)" in my["constraint"][1]


def test_parallel_dump_manifest_identical_and_overlapping(spark, sf_dir, tmp_path):
    """dump_threads>1 submits per-table jobs concurrently (the reference's
    N worker threads across tables) and the manifest tables section is
    byte-identical to the sequential run — parallelism changes wall time,
    never content."""
    import json as _json
    import threading
    import time as _time

    import mydumper_spark.engine as eng
    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump

    tables = {"default.region", "default.nation", "default.customer",
              "default.supplier", "default.part", "default.orders",
              "default.events", "default.documents"}
    spans: list[tuple[str, float, float]] = []
    real = eng.write_parquet

    def tracked(df, path, *a, **kw):
        t0 = _time.monotonic()
        real(df, path, *a, **kw)
        spans.append((threading.current_thread().name, t0, _time.monotonic()))

    eng.write_parquet = tracked
    try:
        par = str(tmp_path / "par")
        dump(spark, sf_dir, DumpConfig(
            output_dir=par, filters=TableFilters(tables_list=set(tables)),
            dump_threads=4))
        assert len(spans) == 8
        # concurrency proof: >1 pool thread used AND at least one pair of
        # write intervals overlaps in wall time
        assert len({s[0] for s in spans}) > 1
        ordered = sorted(spans, key=lambda s: s[1])
        assert any(a[2] > b[1] for a, b in zip(ordered, ordered[1:]))
        seq = str(tmp_path / "seq")
        dump(spark, sf_dir, DumpConfig(
            output_dir=seq, filters=TableFilters(tables_list=set(tables)),
            dump_threads=1))
    finally:
        eng.write_parquet = real
    dp = _json.load(open(f"{par}/_manifest.json"))["tables"]
    ds = _json.load(open(f"{seq}/_manifest.json"))["tables"]
    # identical content modulo the output root prefix in paths
    canon = lambda d, root: _json.dumps(  # noqa: E731
        {t: {**e, "path": e["path"].replace(root, "<out>")}
         for t, e in d.items()}, sort_keys=True)
    assert canon(dp, par) == canon(ds, seq)
    assert list(dp) == list(ds)  # O5 ordering independent of thread timing


def test_verify_manifest_jsonl_dump(spark, sf_dir, tmp_path):
    """ADVICE r6: `verify` on a fmt=jsonl dump must re-read via the schema
    sidecar and verify clean — not crash on a parquet footer read."""
    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump
    from mydumper_spark.sinks.manifest import verify_manifest

    out = str(tmp_path / "jv")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="jsonl",
        filters=TableFilters(tables_list={"default.nation"})))
    res = verify_manifest(spark, out)
    assert res["nation"]["ok"] is True
    # tamper: flip one byte in a data value (same file length — Spark's
    # file-status cache pins the listed size) → checksum mismatch, not crash
    import glob as _glob

    part = _glob.glob(f"{out}/nation.jsonl/part-*.json")[0]
    text = open(part).read()
    assert "NATION_7" in text
    with open(part, "w") as f:
        f.write(text.replace("NATION_7", "NATIQN_7", 1))
    crc = f"{os.path.dirname(part)}/.{os.path.basename(part)}.crc"
    if os.path.exists(crc):
        os.remove(crc)  # hadoop local-fs checksum sidecar would trip first
    res2 = verify_manifest(spark, out)
    assert res2["nation"]["ok"] is False


def test_verify_manifest_csv_verifies(spark, sf_dir, tmp_path):
    """CSV dumps verify end-to-end: the dump writes a schema sidecar and
    records its dialect in the manifest config, so L9 recomputes the
    checksum from the typed read-back — the reference verifies its native
    csv format too (checksum.c:202-302). A corrupted data file must FAIL
    verification, and a pre-sidecar dump still reports ok=None honestly."""
    import glob
    import os

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump
    from mydumper_spark.sinks.manifest import verify_manifest

    out = str(tmp_path / "cv")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="csv",
        filters=TableFilters(tables_list={"default.nation"})))
    assert os.path.exists(os.path.join(out, "nation.schema.json"))
    res = verify_manifest(spark, out)
    assert res["nation"]["ok"] is True

    # tamper with one data file: the checksum must catch it (drop the
    # hadoop-local .crc sidecar too, so it's OUR checksum that fails —
    # a real HDFS/S3 dump has no such local-FS safety net)
    part = sorted(glob.glob(os.path.join(out, "nation.dat", "part-*")))[0]
    crc = os.path.join(os.path.dirname(part),
                       "." + os.path.basename(part) + ".crc")
    if os.path.exists(crc):
        os.remove(crc)
    lines = open(part).read().splitlines(keepends=True)
    with open(part, "w") as f:
        f.writelines(lines[1:])  # drop a row
    res2 = verify_manifest(spark, out)
    assert res2["nation"]["ok"] is False

    # pre-sidecar dump (sidecar missing): honest ok=None, not a crash
    os.remove(os.path.join(out, "nation.schema.json"))
    res3 = verify_manifest(spark, out)
    assert res3["nation"]["ok"] is None
    assert "re-read" in res3["nation"]["reason"]

    # data path gone (moved or deleted): ok=None with its own reason
    import shutil

    shutil.rmtree(os.path.join(out, "nation.dat"))
    res4 = verify_manifest(spark, out)
    assert res4["nation"]["ok"] is None
    assert "does not exist" in res4["nation"]["reason"]
    assert "re-read" not in res4["nation"]["reason"]


def test_dump_profile_without_checksum(spark, sf_dir, tmp_path):
    """ADVICE r6: `--profile --no-checksum` must still write _profile.json
    (profile collection was nested under the checksum flag); the manifest
    records rows with data_checksum null, and verify reports ok=None."""
    import json as _json
    import os as _os

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump
    from mydumper_spark.sinks.manifest import verify_manifest

    out = str(tmp_path / "pnc")
    m = dump(spark, sf_dir, DumpConfig(
        output_dir=out, profile=True, checksum=False,
        filters=TableFilters(tables_list={"default.nation"})))
    doc = _json.load(open(_os.path.join(out, "_profile.json")))
    cols = {r["column_name"]: r for r in doc["nation"]}
    assert cols["n_nationkey"]["n_rows"] == 25
    assert m.tables["nation"].rows == 25
    assert m.tables["nation"].data_checksum is None
    res = verify_manifest(spark, out)
    assert res["nation"]["ok"] is None


def test_streaming_minhash_pairs_matches_batch(spark, tmp_path):
    """The composed streaming near-dup pipeline (stateful LSH intake →
    foreachBatch exact verify) accumulated over micro-batches equals the
    batch minhash_lsh_pairs verdicts on the same corpus with the same
    parameters — same shingles, banding and exact Jaccard; only candidate
    generation differs."""
    from mydumper_spark.operators.dedup import minhash_lsh_pairs
    from mydumper_spark.streaming.stateful import streaming_minhash_pairs

    mk = lambda s: (s + " ") * 4  # noqa: E731
    docs = [
        (1, mk("the quick brown fox jumps over the lazy dog tonight")),
        (2, mk("the quick brown fox jumps over the sleepy dog tonight")),
        (3, mk("spark engines shuffle parquet row groups across many executors")),
        (4, mk("spark engines shuffle parquet row groups across many executor")),
        (5, mk("completely different text about cooking pasta with basil")),
    ]
    landing = str(tmp_path / "nd_landing")
    ckpt = str(tmp_path / "nd_ckpt")
    collected: list = []

    def feed(rows):
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("append").parquet(landing)

    def run_once():
        stream = spark.readStream.schema("doc_id long, text string") \
            .parquet(landing)
        writer = streaming_minhash_pairs(
            stream,
            store=lambda: spark.read.parquet(landing),
            on_pairs=lambda df, _id: collected.extend(df.collect()),
            num_hashes=16, bands=8, jaccard_threshold=0.5,
        )
        q = writer.option("checkpointLocation", ckpt) \
            .trigger(availableNow=True).start()
        q.awaitTermination(120)

    feed(docs[:2])   # batch 1: first pair together (in-batch collision)
    run_once()
    feed([docs[2]])  # batch 2: anchor of the second pair
    run_once()
    feed(docs[3:])   # batch 3: its near-dup + an unrelated doc
    run_once()

    stream_pairs = {(r["id_a"], r["id_b"], r["jaccard"]) for r in collected}
    batch_pairs = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(
            spark.createDataFrame(docs, "doc_id long, text string"),
            num_hashes=16, bands=8, jaccard_threshold=0.5,
        ).collect()
    }
    assert stream_pairs == batch_pairs
    assert {(a, b) for a, b, _ in batch_pairs} == {(1, 2), (3, 4)}


def test_incremental_dump_restore_roundtrip(spark, sf_dir, tmp_path):
    """P10/K10 incremental mode: full dump → source mutates (adds, changes,
    deletes) → `dump --since parent` emits only the delta + deleted keys →
    restore of the incremental dump reproduces the MUTATED source exactly,
    checksums green; a second-generation incremental chains through the
    first."""
    import json as _json

    from mydumper_spark.engine import DumpConfig, dump, dump_incremental, restore
    from mydumper_spark.sinks.manifest import materialized_table, verify_manifest

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    src1 = str(tmp_path / "src1")
    nation.write.parquet(f"{src1}/nation.parquet")
    base = str(tmp_path / "base_dump")
    dump(spark, src1, DumpConfig(output_dir=base))

    # mutate: delete keys 0-2, change 3's name, add 100-101
    mutated = (
        nation.where("n_nationkey >= 3")
        .withColumn("n_name", F.when(F.col("n_nationkey") == 3,
                                     F.lit("CHANGED")).otherwise(F.col("n_name")))
        .unionByName(spark.createDataFrame(
            [(100, "ATLANTIS", 0), (101, "ELBONIA", 1)],
            nation.schema))
    )
    src2 = str(tmp_path / "src2")
    mutated.write.parquet(f"{src2}/nation.parquet")
    inc = str(tmp_path / "inc_dump")
    m = dump_incremental(spark, src2, DumpConfig(output_dir=inc), base)

    entry = m.tables["nation"]
    assert entry.incremental["added"] == 2
    assert entry.incremental["changed"] == 1
    assert entry.incremental["deleted"] == 3
    assert entry.rows == mutated.count()
    # the delta file holds ONLY added+changed rows — the incremental point
    assert spark.read.parquet(entry.path).count() == 3
    doc = _json.load(open(f"{inc}/_manifest.json"))
    assert doc["parent_manifest"] == base
    # dump-dir verification reconstructs through the chain
    assert verify_manifest(spark, inc)["nation"]["ok"] is True

    target = str(tmp_path / "inc_restore")
    results = restore(spark, inc, target)
    assert results["load"] == {"nation": True}
    assert results["verify"] == {"nation": True}
    got = spark.read.parquet(f"{target}/nation.parquet")
    assert got.count() == mutated.count()
    assert got.where("n_nationkey = 3").first()["n_name"] == "CHANGED"
    assert got.where("n_nationkey < 3").count() == 0
    assert got.where("n_nationkey >= 100").count() == 2

    # second generation: one more change chains through the first delta
    mut2 = mutated.where("n_nationkey != 100")
    src3 = str(tmp_path / "src3")
    mut2.write.parquet(f"{src3}/nation.parquet")
    inc2 = str(tmp_path / "inc2_dump")
    m2 = dump_incremental(spark, src3, DumpConfig(output_dir=inc2), inc)
    assert m2.tables["nation"].incremental["deleted"] == 1
    assert verify_manifest(spark, inc2)["nation"]["ok"] is True
    ids = {r["n_nationkey"]
           for r in materialized_table(spark, inc2, "nation").collect()}
    assert 100 not in ids and 101 in ids and len(ids) == mut2.count()


def test_capture_schema_objects_mysql_composed():
    """MySQL-family capture without a direct connection composes replayable
    DDL from the information_schema catalogs (views/triggers/routines/
    events); with a connection, SHOW CREATE text wins verbatim. Fake query/
    conn stand in for the absent live server (same pattern as the fence
    tests) — the catalog SQL shapes are the ANSI/MySQL documented ones."""
    from mydumper_spark.sources.schema_objects import capture_schema_objects
    from mydumper_spark.sources.server_detect import ServerProduct

    def query(sql):
        if "information_schema.views" in sql:
            return [{"db": "shop", "name": "v_orders",
                     "body": "select `o`.`id` from `orders` `o`"}]
        if "information_schema.triggers" in sql:
            return [{"db": "shop", "name": "trg_audit", "timing": "AFTER",
                     "ev": "INSERT", "tbl": "orders",
                     "body": "INSERT INTO audit VALUES (NEW.id)"}]
        if "information_schema.routines" in sql:
            return [{"db": "shop", "name": "order_total", "rtype": "FUNCTION",
                     "body": "RETURN (SELECT sum(amt) FROM orders)",
                     "ret": "decimal"},
                    {"db": "shop", "name": "purge_old", "rtype": "PROCEDURE",
                     "body": "DELETE FROM orders WHERE ts < NOW()",
                     "ret": None}]
        if "information_schema.parameters" in sql:
            if "'order_total'" in sql:
                return [{"pos": 0, "mode": None, "pname": None,
                         "dt": "decimal"}]
            return [{"pos": 1, "mode": "IN", "pname": "days", "dt": "int"}]
        if "information_schema.events" in sql:
            return [{"db": "shop", "name": "nightly",
                     "body": "CALL purge_old(30)", "etype": "RECURRING",
                     "iv": "1", "ifld": "DAY", "at": None}]
        raise AssertionError(f"unexpected catalog query: {sql}")

    objs = capture_schema_objects(query, ServerProduct.MYSQL)
    by_kind = {}
    for o in objs:
        by_kind.setdefault(o.kind, []).append(o)
    assert [o.name for o in by_kind["view"]] == ["v_orders"]
    assert by_kind["view"][0].raw_sql == (
        "CREATE VIEW `v_orders` AS select `o`.`id` from `orders` `o`;")
    trg = by_kind["trigger"][0]
    assert trg.table == "orders"
    assert trg.raw_sql == ("CREATE TRIGGER `trg_audit` AFTER INSERT ON "
                           "`orders` FOR EACH ROW "
                           "INSERT INTO audit VALUES (NEW.id);")
    routines = {o.name: o.raw_sql for o in by_kind["routine"]}
    assert routines["order_total"].startswith(
        "CREATE FUNCTION `order_total`() RETURNS decimal")
    assert "RETURN (SELECT sum(amt) FROM orders)" in routines["order_total"]
    assert routines["purge_old"].startswith(
        "CREATE PROCEDURE `purge_old`(IN `days` int)")
    assert by_kind["event"][0].raw_sql == (
        "CREATE EVENT `nightly` ON SCHEDULE EVERY 1 DAY DO "
        "CALL purge_old(30);")

    # a direct connection upgrades raw to the server's own SHOW CREATE text
    class Conn:
        def execute(self, stmt):
            assert stmt.startswith("SHOW CREATE")
            return [("x", "SHOW RAW 1", "SHOW RAW 2", "SHOW RAW 3")]

    objs2 = capture_schema_objects(query, ServerProduct.MYSQL, conn=Conn())
    raws = {(o.kind, o.name): o.raw_sql for o in objs2}
    assert raws[("view", "v_orders")] == "SHOW RAW 1"
    assert raws[("trigger", "trg_audit")] == "SHOW RAW 2"
    assert raws[("event", "nightly")] == "SHOW RAW 3"

    # non-mysql, non-duckdb products probe only the ANSI views catalog;
    # a source without it degrades to no objects, never an error
    def no_catalog(sql):
        raise RuntimeError("no such catalog")

    assert capture_schema_objects(no_catalog, ServerProduct.UNKNOWN) == []


def test_capture_tablespaces_version_routed():
    """General InnoDB tablespaces (mydumper_jobs.c:127-182): the catalog
    pair is version-routed (5.7 INNODB_SYS_*, 8.x INNODB_*), the artifact
    is the composed CREATE TABLESPACE, and unsupported products/versions
    capture nothing. Fake query stands in for the absent live MySQL."""
    from mydumper_spark.sources.schema_objects import capture_schema_objects
    from mydumper_spark.sources.server_detect import (
        ServerDialect, ServerProduct,
    )

    def query(sql):
        if "INNODB_TABLESPACES" in sql:
            assert "INNODB_DATAFILES" in sql and "SPACE_TYPE='General'" in sql
            return [{"name": "ts1", "path": "./ts1.ibd", "bs": 8192}]
        if "INNODB_SYS_TABLESPACES" in sql:
            return [{"name": "old_ts", "path": "./old.ibd", "bs": 4096}]
        raise RuntimeError("no such catalog")  # views etc. degrade

    v8 = ServerDialect(ServerProduct.MYSQL, major=8, secondary=0)
    objs = capture_schema_objects(query, ServerProduct.MYSQL, dialect=v8)
    ts = [o for o in objs if o.kind == "tablespace"]
    assert [o.name for o in ts] == ["ts1"]
    assert ts[0].raw_sql == ("CREATE TABLESPACE `ts1` ADD DATAFILE "
                             "'./ts1.ibd' FILE_BLOCK_SIZE = 8192 "
                             "ENGINE=INNODB;")

    v57 = ServerDialect(ServerProduct.MYSQL, major=5, secondary=7)
    old = [o for o in capture_schema_objects(
        query, ServerProduct.MYSQL, dialect=v57) if o.kind == "tablespace"]
    assert [o.name for o in old] == ["old_ts"]

    # MariaDB doesn't support general tablespaces (server_detect.c:74);
    # neither does a 5.6 server — the catalog is never even probed
    maria = ServerDialect(ServerProduct.MARIADB, major=10, secondary=6)
    assert [o for o in capture_schema_objects(
        query, ServerProduct.MARIADB, dialect=maria)
        if o.kind == "tablespace"] == []
    v56 = ServerDialect(ServerProduct.MYSQL, major=5, secondary=6)
    assert [o for o in capture_schema_objects(
        query, ServerProduct.MYSQL, dialect=v56)
        if o.kind == "tablespace"] == []

    # engine default mirrors the reference: --all-tablespaces OFF ⇒ the
    # engine passes dialect=None and the catalog is never probed
    assert [o for o in capture_schema_objects(
        query, ServerProduct.MYSQL, dialect=None)
        if o.kind == "tablespace"] == []


def test_restore_skips_tablespace_objects(spark, sf_dir, tmp_path):
    """myloader parity (myloader_process_file_type.c:139-140): a dump
    carrying a tablespace artifact restores its tables normally, but the
    tablespace itself is recorded as import-manually — its DATAFILE paths
    belong to the source server's filesystem — never replayed, never
    silently dropped."""
    import json as _json
    import os as _os

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "tsdump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, filters=TableFilters(tables_list={"default.nation"})))
    # splice a tablespace object into the manifest (no live MySQL to
    # capture one from; the artifact shape is what capture produces)
    art = _os.path.join(out, "ts1-schema-create-tablespace.sql")
    with open(art, "w") as f:
        f.write("CREATE TABLESPACE `ts1` ADD DATAFILE './ts1.ibd' "
                "FILE_BLOCK_SIZE = 8192 ENGINE=INNODB;\n")
    mpath = _os.path.join(out, "_manifest.json")
    doc = _json.load(open(mpath))
    doc["objects"] = [{"kind": "tablespace", "database": "", "name": "ts1",
                       "path": art, "checksum": "x"}]
    with open(mpath, "w") as f:
        _json.dump(doc, f)

    results = restore(spark, out, str(tmp_path / "ts_target"), parallelism=1)
    assert results["load"] == {"nation": True}
    assert results["ddl"]["skipped_objects"] == [
        "tablespace:ts1 (import manually before restore)"]


def test_dump_orc_roundtrip(spark, sf_dir, tmp_path):
    """fmt=orc: self-describing columnar files (no sidecar), checksums
    recorded from the written bytes, manifest verify reads .orc directly,
    restore loads and verifies clean — the Hive/Trino interchange format."""
    from mydumper_spark.sinks.manifest import verify_manifest

    out = str(tmp_path / "odump")
    cfg = DumpConfig(
        output_dir=out, fmt="orc",
        filters=TableFilters(tables_list={"default.nation", "default.region"}),
    )
    manifest = dump(spark, sf_dir, cfg)
    assert manifest.tables["nation"].rows == 25
    assert os.path.isdir(os.path.join(out, "nation.orc"))
    assert not os.path.exists(os.path.join(out, "nation.schema.json"))
    typed = spark.read.orc(os.path.join(out, "nation.orc"))
    assert dict(typed.dtypes)["n_nationkey"] in ("bigint", "int")

    ver = verify_manifest(spark, out)
    assert all(v["ok"] for v in ver.values()), ver
    results = restore(spark, out, str(tmp_path / "restored"))
    assert all(results["load"].values())
    assert all(results["verify"].values())


def test_prune_descriptor_drops_entries_on_missing_columns():
    """Keys/indexes/constraints referencing transform-dropped columns are
    pruned into skip notes instead of failing the target-side DDL."""
    from mydumper_spark.plans.ddl import prune_descriptor

    desc = {
        "primary_key": ["id"],
        "uniques": [{"name": "uq", "columns": ["a", "gone"]}],
        "indexes": [{"name": "ix_ok", "columns": ["a"], "unique": False},
                    {"name": "ix_bad", "columns": ["gone"], "unique": False}],
        "foreign_keys": [{"name": "fk", "columns": ["gone"],
                          "ref_table": "r", "ref_columns": ["x"]}],
        "checks": [{"name": "ck_ok", "expr": "(`a` > 0)"},
                   {"name": "ck_bad", "expr": "(`gone` > 0)"}],
    }
    pruned, notes = prune_descriptor(desc, {"a", "b"})
    assert pruned["primary_key"] == []
    assert pruned["uniques"] == []
    assert [ix["name"] for ix in pruned["indexes"]] == ["ix_ok"]
    assert pruned["foreign_keys"] == []
    assert [c["name"] for c in pruned["checks"]] == ["ck_ok"]
    assert len(notes) == 5
    # untouched descriptor passes through identically
    same, no_notes = prune_descriptor(desc, {"id", "a", "gone"})
    assert no_notes == [] and same["primary_key"] == ["id"]


def test_descriptor_round_trips_subparts_types_and_fk_actions():
    """SUB_PART prefix lengths, FULLTEXT type, and FK referential actions
    survive parse → compose → restore-statement rendering (the silent-
    degradation trio from the round-7 review)."""
    from mydumper_spark.plans.ddl import (
        descriptor_from_create_table, restore_statements,
    )

    ddl = """CREATE TABLE `t` (
  `id` int NOT NULL,
  `txt` text,
  `body` text,
  PRIMARY KEY (`id`),
  KEY `ix_prefix` (`txt`(32)),
  FULLTEXT KEY `ft_body` (`body`),
  CONSTRAINT `fk1` FOREIGN KEY (`id`) REFERENCES `p` (`id`) ON DELETE CASCADE ON UPDATE SET NULL
) ENGINE=InnoDB;"""
    d = descriptor_from_create_table(ddl)
    ixs = {ix["name"]: ix for ix in d["indexes"]}
    assert ixs["ix_prefix"]["sub_parts"] == [32]
    assert ixs["ft_body"]["type"] == "FULLTEXT"
    fk = d["foreign_keys"][0]
    assert fk["on_delete"] == "CASCADE" and fk["on_update"] == "SET NULL"

    my = restore_statements("`t`", d, dialect="mysql")
    assert any("(`txt`(32))" in s for s in my["index"])
    assert any(s.startswith("CREATE FULLTEXT INDEX") for s in my["index"])
    assert any("ON DELETE CASCADE ON UPDATE SET NULL" in s
               for s in my["constraint"])

    ansi = restore_statements('"t"', d, dialect="ansi")
    # FULLTEXT skipped, prefix dropped-with-note, FK skipped (no ALTER ADD)
    assert not any("FULLTEXT" in s for s in ansi["index"])
    assert any("prefix length" in s for s in ansi["skipped"])
    assert any("fulltext" in s for s in ansi["skipped"])


def test_admits_database_gates_schema_scoped_objects():
    """Routines/events ride the db-level gate: special schemas are out
    unless included, -B restricts, db-level skiplist entries apply."""
    from mydumper_spark.catalog import TableFilters

    f = TableFilters(databases={"app"})
    assert f.admits_database("app")
    assert not f.admits_database("other")
    assert not f.admits_database("sys")
    g = TableFilters(skiplist={"legacy"})
    assert g.admits_database("app") and not g.admits_database("legacy")
    assert not TableFilters().admits_database("information_schema")


def test_incremental_partial_pk_falls_back_to_full_dump(spark, sf_dir, tmp_path):
    """A transform that drops part of a composite PK must NOT delta-diff on
    the surviving subset (non-unique key = corrupted reconstruction) — the
    table full-dumps instead, and P11 schema-only scope is honored."""
    from mydumper_spark.config import TableTransform
    from mydumper_spark.engine import dump_incremental

    parent = str(tmp_path / "parent")
    dump(spark, sf_dir, DumpConfig(
        output_dir=parent,
        filters=TableFilters(tables_list={"default.lineitem",
                                          "default.region"}),
    ))
    inc = str(tmp_path / "inc")
    cfg = DumpConfig(
        output_dir=inc,
        filters=TableFilters(tables_list={"default.lineitem",
                                          "default.region"}),
        per_table={
            # lineitem PK is (l_orderkey, l_linenumber): drop one half
            "lineitem": TableTransform(select_columns=[
                "l_orderkey", "l_quantity"]),
            "region": TableTransform(object_scope={"SCHEMA"}),
        },
    )
    m = dump_incremental(spark, sf_dir, cfg, parent)
    li = m.tables["lineitem"]
    assert not li.incremental, "partial PK must force a full dump"
    assert li.path and li.path.endswith(".parquet")
    assert "delta" not in os.path.basename(li.path)
    rg = m.tables["region"]
    assert rg.path is None and rg.rows == 0  # P11: no data leaked


def test_capture_mysql_subparts_types_and_fk_actions():
    """The MySQL information_schema capture records SUB_PART prefix
    lengths, non-BTREE index types, and FK referential actions — driven
    through a fake query function shaped like the JDBC rows."""
    from mydumper_spark.sources.ddl_capture import _capture_mysql

    def fake_query(sql: str):
        s = " ".join(sql.lower().split())
        if "table_constraints" in s:
            return [{"cname": "PRIMARY", "ctype": "PRIMARY KEY",
                     "col": "id", "pos": 1}]
        if "referential_constraints" in s:
            return [{"cname": "fk_lang", "ur": "CASCADE", "dr": "SET NULL"}]
        if "key_column_usage" in s:
            return [{"cname": "fk_lang", "col": "lang_id", "pos": 1,
                     "rschema": "app",
                     "rtable": "language", "rcol": "language_id"},
                    {"cname": "fk_ext", "col": "ext_id", "pos": 1,
                     "rschema": "shared",
                     "rtable": "language", "rcol": "language_id"}]
        if "information_schema.statistics" in s:
            return [
                {"iname": "PRIMARY", "nu": 0, "pos": 1, "col": "id",
                 "subp": None, "itype": "BTREE"},
                {"iname": "ix_prefix", "nu": 1, "pos": 1, "col": "txt",
                 "subp": 32, "itype": "BTREE"},
                {"iname": "ft_body", "nu": 1, "pos": 1, "col": "body",
                 "subp": None, "itype": "FULLTEXT"},
            ]
        raise AssertionError(f"unexpected query: {sql}")

    art = _capture_mysql(fake_query, "app", "t")
    d = art.descriptor
    assert d["primary_key"] == ["id"]
    ixs = {ix["name"]: ix for ix in d["indexes"]}
    assert ixs["ix_prefix"]["sub_parts"] == [32]
    assert "sub_parts" not in ixs["ft_body"]
    assert ixs["ft_body"]["type"] == "FULLTEXT"
    assert "type" not in ixs["ix_prefix"]          # BTREE is the default
    fks = {f["name"]: f for f in d["foreign_keys"]}
    fk = fks["fk_lang"]
    assert fk["on_update"] == "CASCADE" and fk["on_delete"] == "SET NULL"
    # same-db reference stays bare; CROSS-db reference carries its schema
    # (an unqualified REFERENCES would bind to the wrong database)
    assert fk["ref_table"] == "language"
    assert fks["fk_ext"]["ref_table"] == "shared.language"
    # the composed -schema.sql artifact renders all of it faithfully
    assert "`txt`(32)" in art.raw_sql
    assert "FULLTEXT KEY `ft_body`" in art.raw_sql
    assert "ON DELETE SET NULL ON UPDATE CASCADE" in art.raw_sql
    assert "REFERENCES `shared`.`language`" in art.raw_sql


def test_capture_sequences_mariadb_composed_and_verbatim():
    """MariaDB sequence capture (reference SHOW CREATE SEQUENCE + SETVAL,
    mydumper_jobs.c:640-690): without a connection the DDL composes from
    the sequence's own state row and the position statement rides along;
    with a connection SHOW CREATE wins verbatim. Only MariaDB probes the
    catalog; sequences pass the table name gates."""
    from mydumper_spark.sources.schema_objects import capture_schema_objects
    from mydumper_spark.sources.server_detect import ServerProduct

    def query(sql):
        s = sql.lower()
        if "information_schema.views" in s:
            return []
        if "table_type = 'sequence'" in s:
            return [{"db": "shop", "name": "order_seq"}]
        if "next_not_cached_value" in s:
            return [{"nv": 1042, "minv": 1, "maxv": 9223372036854775806,
                     "sv": 1, "inc": 1, "cs": 1000, "cyc": 0}]
        if ("information_schema.triggers" in s
                or "information_schema.routines" in s
                or "information_schema.events" in s):
            return []
        raise AssertionError(f"unexpected catalog query: {sql}")

    objs = capture_schema_objects(query, ServerProduct.MARIADB)
    seqs = [o for o in objs if o.kind == "sequence"]
    assert len(seqs) == 1
    raw = seqs[0].raw_sql
    assert raw.startswith("CREATE SEQUENCE `order_seq` START WITH 1")
    assert "NOCYCLE" in raw and "CACHE 1000" in raw
    assert raw.endswith("DO SETVAL(`order_seq`, 1042, 0)")

    class Conn:
        def execute(self, stmt):
            assert stmt.startswith("SHOW CREATE SEQUENCE")
            return [("order_seq",
                     "CREATE SEQUENCE `order_seq` start with 1 increment by 1")]

    objs2 = capture_schema_objects(query, ServerProduct.MARIADB, conn=Conn())
    raw2 = [o for o in objs2 if o.kind == "sequence"][0].raw_sql
    assert raw2.startswith("CREATE SEQUENCE `order_seq` start with 1")
    assert "DO SETVAL(`order_seq`, 1042, 0)" in raw2

    # non-MariaDB family members never probe the sequence catalog
    def strict_query(sql):
        assert "sequence" not in sql.lower(), sql
        return []
    capture_schema_objects(strict_query, ServerProduct.MYSQL)


def test_tidb_snapshot_pins_every_partition():
    """--tidb-snapshot: every Spark JDBC partition's sessionInitStatement
    becomes SET SESSION tidb_snapshot (the reference set_tidb_snapshot,
    mydumper_common.c:436) — replacing the REPEATABLE-READ init, quoted
    safely; without the flag the default init stands."""
    from mydumper_spark.sources.jdbc_source import (
        CONSISTENT_SNAPSHOT_INIT, JdbcSourceConfig,
    )

    base = JdbcSourceConfig(url="jdbc:mysql://h/db", consistent_snapshot=True)
    assert base.properties()["sessionInitStatement"] == CONSISTENT_SNAPSHOT_INIT

    pinned = JdbcSourceConfig(
        url="jdbc:mysql://h/db", consistent_snapshot=True,
        tidb_snapshot="2026-08-14 12:00:00")
    init = pinned.properties()["sessionInitStatement"]
    assert init == "SET SESSION tidb_snapshot = '2026-08-14 12:00:00'"

    quoted = JdbcSourceConfig(url="jdbc:mysql://h/db",
                              tidb_snapshot="o'clock")
    assert "''" in quoted.properties()["sessionInitStatement"]


def test_source_drift_detection(spark, sf_dir, tmp_path):
    """source_drift answers "has the source changed since this dump?":
    in sync right after the dump; a mutated source table reports
    in_sync=False; a dropped table reports None with a reason; the
    comparison honors the manifest's recorded checksum algorithm."""
    import shutil

    import duckdb

    from mydumper_spark.engine import DumpConfig, dump, source_drift

    src = tmp_path / "drift_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", src / "nation.parquet")
    shutil.copy(f"{sf_dir}/region.parquet", src / "region.parquet")
    out = str(tmp_path / "drift_dump")
    dump(spark, str(src), DumpConfig(output_dir=out))

    res = source_drift(spark, out, str(src))
    assert res["nation"]["in_sync"] is True
    assert res["region"]["in_sync"] is True

    # mutate nation (drop a row), remove region entirely
    duckdb.sql(
        f"COPY (SELECT * FROM '{src}/nation.parquet' WHERE n_nationkey <> 3)"
        f" TO '{src}/nation.parquet' (FORMAT PARQUET)")
    (src / "region.parquet").unlink()
    res2 = source_drift(spark, out, str(src))
    assert res2["nation"]["in_sync"] is False
    assert res2["nation"]["source"]["rows"] == 24
    assert res2["region"]["in_sync"] is None
    assert "absent" in res2["region"]["reason"]


def test_dump_table_done_fires_per_table_during_dump(spark, sf_dir, tmp_path):
    """The --stream overlap hook: cfg.table_done is invoked once per table
    the moment THAT table's files are complete — i.e. strictly before the
    dump-wide manifest exists (the manifest is the last thing dump()
    writes), which is what lets a piped consumer restore tables while the
    producer is still dumping others. Announced files are real and on
    disk at announcement time."""
    import shutil

    from mydumper_spark.engine import DumpConfig, dump

    src = tmp_path / "cb_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", src / "nation.parquet")
    shutil.copy(f"{sf_dir}/region.parquet", src / "region.parquet")
    out = str(tmp_path / "cb_dump")
    seen: list[tuple] = []

    def table_done(key, files):
        seen.append((key, list(files),
                     os.path.exists(os.path.join(out, "_manifest.json")),
                     all(os.path.exists(p) for p in files)))

    dump(spark, str(src), DumpConfig(output_dir=out, table_done=table_done))
    assert {k for k, *_ in seen} == {"nation", "region"}
    for key, files, manifest_existed, all_present in seen:
        assert not manifest_existed      # announced BEFORE dump-wide finish
        assert files and all_present
        assert all(f"{key}.parquet" in p for p in files)


def test_source_drift_with_views_as_tables_flag(spark, sf_dir, tmp_path):
    """Regression: source_drift with views_as_tables=True used to raise
    NameError (JdbcCatalog referenced without the function-local import
    its sibling dump/dump_incremental have) before ever reaching the
    catalog — the flag must simply no-op on a parquet source."""
    import shutil

    from mydumper_spark.engine import DumpConfig, dump, source_drift

    src = tmp_path / "vat_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/region.parquet", src / "region.parquet")
    out = str(tmp_path / "vat_dump")
    dump(spark, str(src), DumpConfig(output_dir=out))
    res = source_drift(spark, out, str(src),
                       DumpConfig(output_dir=out, views_as_tables=True))
    assert res["region"]["in_sync"] is True


def test_incremental_over_csv_parent(spark, sf_dir, tmp_path):
    """An incremental chain may bottom out in a csv-format full dump: the
    chain materialization must read the parent through its schema sidecar
    + recorded dialect (typed), so the delta diff and the reconstruction
    checksum stay exact."""
    import shutil

    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, dump_incremental
    from mydumper_spark.sinks.manifest import materialized_table, verify_manifest

    src = tmp_path / "csvinc_src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/nation.parquet", src / "nation.parquet")
    base = str(tmp_path / "csvinc_base")
    dump(spark, str(src), DumpConfig(
        output_dir=base, fmt="csv",
        filters=TableFilters(tables_list={"default.nation"})))

    duckdb.sql(
        f"COPY (SELECT * FROM '{src}/nation.parquet' WHERE n_nationkey <> 7"
        " UNION ALL SELECT 99, 'NEWLAND', 1)"
        f" TO '{src}/nation.parquet' (FORMAT PARQUET)")
    inc = str(tmp_path / "csvinc_delta")
    m = dump_incremental(spark, str(src), DumpConfig(
        output_dir=inc,
        filters=TableFilters(tables_list={"default.nation"})), base)
    rec = m.tables["nation"].incremental
    assert rec and rec["added"] == 1 and rec["deleted"] == 1
    assert all(r["ok"] for r in verify_manifest(spark, inc).values())
    full = materialized_table(spark, inc, "nation")
    keys = {r["n_nationkey"] for r in full.select("n_nationkey").collect()}
    assert 99 in keys and 7 not in keys and full.count() == 25


def test_parallel_incremental_manifest_identical(spark, sf_dir, tmp_path):
    """dump_incremental got dump()'s pooled phase-2 in round 8: the
    incremental manifest (entries, delta stats, lineage) must be
    byte-identical between dump_threads=4 and the sequential run —
    parallelism changes wall time, never content."""
    import json as _json
    import shutil

    import duckdb

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, dump_incremental

    src = tmp_path / "pinc_src"
    src.mkdir()
    for t in ("nation", "region", "supplier", "customer"):
        shutil.copy(f"{sf_dir}/{t}.parquet", src / f"{t}.parquet")
    filt = TableFilters(tables_list={
        "default.nation", "default.region", "default.supplier",
        "default.customer"})
    base = str(tmp_path / "pinc_base")
    dump(spark, str(src), DumpConfig(output_dir=base, filters=filt))

    duckdb.sql(f"COPY (SELECT * FROM '{src}/nation.parquet' "
               "WHERE n_nationkey <> 5) TO "
               f"'{src}/nation.parquet' (FORMAT PARQUET)")
    duckdb.sql(f"COPY (SELECT * FROM '{src}/customer.parquet' "
               "UNION ALL SELECT * FROM "
               f"'{src}/customer.parquet' LIMIT 1 OFFSET 0) TO "
               f"'{src}/tmp.parquet' (FORMAT PARQUET)")

    par = str(tmp_path / "pinc_par")
    dump_incremental(spark, str(src),
                     DumpConfig(output_dir=par, filters=filt,
                                dump_threads=4), base)
    seq = str(tmp_path / "pinc_seq")
    dump_incremental(spark, str(src),
                     DumpConfig(output_dir=seq, filters=filt,
                                dump_threads=1), base)
    dp = _json.load(open(f"{par}/_manifest.json"))
    ds = _json.load(open(f"{seq}/_manifest.json"))

    def canon(doc, root):
        tables = {
            t: {**e,
                "path": (e["path"] or "").replace(root, "<out>") or None,
                **({"incremental": {**e["incremental"],
                                    "delete_path": e["incremental"]
                                    ["delete_path"].replace(root, "<out>")}}
                   if e.get("incremental") else {})}
            for t, e in doc["tables"].items()
        }
        return _json.dumps(tables, sort_keys=True)

    assert canon(dp, par) == canon(ds, seq)
    assert list(dp["tables"]) == list(ds["tables"])
    assert dp["tables"]["nation"]["incremental"]["deleted"] == 1


def test_dump_order_by_primary_sorts_within_files(spark, sf_dir, tmp_path):
    """-k/--order-by-primary (O1): rows inside each written file are
    PK-ascending — the reference's per-chunk ORDER BY pk — without any
    global range exchange."""
    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump

    out = str(tmp_path / "obp")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, order_by_primary=True,
        filters=TableFilters(tables_list={"default.orders"})))
    import glob

    import duckdb

    for part in glob.glob(f"{out}/orders.parquet/part-*.parquet"):
        keys = [r[0] for r in duckdb.sql(
            f"SELECT o_orderkey FROM read_parquet('{part}')").fetchall()]
        assert keys == sorted(keys), part


def test_restore_database_override_rejects_parquet_target(spark, sf_dir, tmp_path):
    """-B on a parquet target is a usage error, not a silent no-op."""
    import pytest

    from mydumper_spark.catalog import TableFilters
    from mydumper_spark.engine import DumpConfig, dump, restore

    out = str(tmp_path / "breject")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, filters=TableFilters(tables_list={"default.region"})))
    with pytest.raises(ValueError, match="jdbc: targets only"):
        restore(spark, out, str(tmp_path / "tree"),
                target_database="staging")


def test_sql_format_dump_roundtrip_exact(spark, sf_dir, tmp_path):
    """fmt="sql" (the reference's NATIVE format): dump writes chunk files
    {table}.NNNNN.sql of multi-row INSERTs, the manifest checksums verify
    against a typed re-read through the INSERT parser, restore reproduces
    the source exactly, and --insert-ignore/--complete-insert shape the
    statement text (mydumper_write.c)."""
    import re

    out = str(tmp_path / "sqldump")
    cfg = DumpConfig(
        output_dir=out, fmt="sql", rows_per_statement=100,
        max_records_per_file=300, complete_insert=True,
        insert_mode="INSERT IGNORE",
        filters=TableFilters(tables_list={"default.orders", "default.nation"}),
    )
    dump(spark, sf_dir, cfg)
    chunks = sorted(f for f in os.listdir(out) if f.endswith(".sql")
                    and not f.endswith("-schema.sql"))
    assert all(re.search(r"\.\d{5}\.sql$", f) for f in chunks)
    # rotation: orders at sf0.001 is 1500 rows → 15 statements, ≤3/file
    assert sum(1 for f in chunks if f.startswith("orders.")) >= 5
    with open(os.path.join(out, "nation.00000.sql")) as f:
        first = f.readline()
    assert first.startswith("INSERT IGNORE INTO `nation` (`n_nationkey`,")
    v = verify_manifest(spark, out)
    assert all(r["ok"] for r in v.values()), v
    target = str(tmp_path / "sqlrestored")
    results = restore(spark, out, target, parallelism=2)
    assert all(results["load"].values()) and all(results["verify"].values())
    orig = spark.read.parquet(f"{sf_dir}/orders.parquet")
    back = spark.read.parquet(os.path.join(target, "orders.parquet"))
    assert orig.schema == back.schema
    assert orig.exceptAll(back).count() == 0
    assert back.exceptAll(orig).count() == 0


def test_sql_format_statement_size_byte_cap(spark, tmp_path):
    """-s/--statement-size caps every emitted statement by BYTES exactly
    (at least one tuple per statement), losing no rows."""
    from mydumper_spark.sinks.writers import insert_statements_stream
    from mydumper_spark.sources.insert_parser import read_insert_sql

    df = spark.range(200).select(
        F.col("id").cast("int").alias("id"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
    )
    stmts = insert_statements_stream(
        df, "t", rows_per_statement=10_000, statement_size=120)
    lines = [r["statement"] for r in stmts.collect()]
    assert len(lines) > 5  # the byte cap actually split
    assert all(len(line.encode()) <= 120 for line in lines)
    p = str(tmp_path / "stmt_cap.sql")
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    back = read_insert_sql(spark, p, df.schema)
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_sql_format_preserves_order_by_primary(spark, sf_dir, tmp_path):
    """-k/--order-by-primary survives fmt="sql": statement assembly is
    shuffle-free and order-preserving, so tuples inside each chunk file
    stay PK-sorted (the groupBy/collect_list path would scramble them)."""
    from mydumper_spark.sources.insert_parser import parse_tuples

    out = str(tmp_path / "sqlsorted")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="sql", order_by_primary=True,
        rows_per_statement=37,
        filters=TableFilters(tables_list={"default.customer"})))
    for f in os.listdir(out):
        if f.startswith("customer.") and f.endswith(".sql"):
            with open(os.path.join(out, f)) as fh:
                keys = [int(t[0]) for line in fh for t in parse_tuples(line)]
            assert keys == sorted(keys), f


def test_sql_format_rejects_nested_columns(spark, sf_dir, tmp_path):
    """Nested columns cannot round-trip as SQL literals — loud error, not
    silent corruption (the reference's format targets relational MySQL)."""
    with pytest.raises(ValueError, match="nested columns"):
        dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "sqlbad"), fmt="sql",
            filters=TableFilters(tables_list={"default.embeddings"})))


def test_sql_format_escaping_full_path(spark, tmp_path):
    """Hostile strings (quotes, backslashes, newlines, NUL, literal
    "NULL", unicode, empty vs NULL) survive the ENGINE-level dump→verify→
    restore cycle in fmt="sql", not just the unit-level parser inversion."""
    src = str(tmp_path / "nasty_src")
    rows = [
        (1, "it's", b"\x00\xff"),
        (2, 'back\\slash and "dquote"', None),
        (3, "line\nbreak\tand\rcr", b""),
        (4, "NULL", b"\x1a"),
        (5, None, b"ok"),
        (6, "", b"\x27\x5c"),
        (7, "émoji ☃ ligne", b"\x00" * 4),
    ]
    df = spark.createDataFrame(rows, "id int, s string, b binary")
    df.coalesce(1).write.mode("overwrite").parquet(f"{src}/nasty.parquet")
    out = str(tmp_path / "nasty_dump")
    dump(spark, src, DumpConfig(output_dir=out, fmt="sql"))
    v = verify_manifest(spark, out)
    assert all(r["ok"] for r in v.values()), v
    target = str(tmp_path / "nasty_back")
    results = restore(spark, out, target)
    assert all(results["verify"].values())
    back = spark.read.parquet(f"{target}/nasty.parquet")
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0


def test_check_row_count_and_disk_limits(spark, sf_dir, tmp_path, monkeypatch):
    """--check-row-count re-counts independently and hard-fails on a
    mismatch; --disk-limits stalls the writer under the pause threshold
    and resumes at the resume threshold (reference semantics, probe
    injected)."""
    from mydumper_spark import engine as eng

    out = str(tmp_path / "crc")
    # green path: steady source → counts agree
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, check_row_count=True,
        filters=TableFilters(tables_list={"default.region"})))

    # mismatch path: make the written read-back disagree with the pre-count
    real = eng.read_dumped_table

    def tampered(spark_, entry, csv_dialect=None):
        return real(spark_, entry, csv_dialect=csv_dialect).limit(3)

    monkeypatch.setattr(eng, "read_dumped_table", tampered)
    with pytest.raises(RuntimeError, match="row count mismatch"):
        dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "crc2"), check_row_count=True,
            filters=TableFilters(tables_list={"default.region"})))
    monkeypatch.undo()

    # disk-limits: first two probes under pause, third above resume
    probes = iter([50 << 20, 400 << 20, 600 << 20])
    seen = []

    def free():
        v = next(probes)
        seen.append(v)
        return v

    with pytest.warns(UserWarning, match="disk-limits"):
        dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "dl"), disk_limits="100:500",
            disk_free_fn=free, dump_threads=1,
            filters=TableFilters(tables_list={"default.region"})))
    assert seen == [50 << 20, 400 << 20, 600 << 20]  # stalled until ≥500MB

    # malformed / never-resuming specs are loud usage errors
    with pytest.raises(ValueError, match="disk-limits"):
        dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "dl2"), disk_limits="500:100",
            filters=TableFilters(tables_list={"default.region"})))


def test_dag_per_phase_concurrency_caps():
    """myloader --max-threads-for-schema-creation / --serialized-table-
    creation: the SCHEMA phase respects its own ceiling while DATA keeps
    the full width (per-phase caps, not one global knob)."""
    import threading
    import time as _time

    peak = {"SCHEMA": 0, "DATA": 0}
    cur = {"SCHEMA": 0, "DATA": 0}
    lock = threading.Lock()

    def act(phase):
        def run():
            with lock:
                cur[phase] += 1
                peak[phase] = max(peak[phase], cur[phase])
            _time.sleep(0.05)
            with lock:
                cur[phase] -= 1
        return run

    dag = LoaderDag(parallelism=4, phase_caps={Phase.SCHEMA: 1})
    for t in ("a", "b", "c", "d"):
        dag.add(LoadJob(t, Phase.SCHEMA, act("SCHEMA")))
        dag.add(LoadJob(t, Phase.DATA, act("DATA")))
    results = dag.run()
    assert all(r.ok for r in results.values())
    assert peak["SCHEMA"] == 1  # serialized
    assert peak["DATA"] >= 2    # full width untouched


def test_sql_format_gzip_compression_roundtrip(spark, sf_dir, tmp_path):
    """-c gzip with --format sql writes .sql.gz chunks (the reference's
    default combo); verify and restore decompress transparently through
    Spark's codec; empty tables stay PLAIN .sql (a zero-byte .gz is not a
    valid stream)."""
    import gzip

    from mydumper_spark.sinks.writers import CsvFormat

    out = str(tmp_path / "sqlgz")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="sql", csv_format=CsvFormat(compression="gzip"),
        filters=TableFilters(tables_list={"default.nation"})))
    chunks = [f for f in os.listdir(out) if f.endswith(".sql.gz")]
    assert chunks == ["nation.00000.sql.gz"]
    with gzip.open(os.path.join(out, chunks[0]), "rt") as f:
        assert f.readline().startswith("INSERT INTO `nation` VALUES")
    v = verify_manifest(spark, out)
    assert v["nation"]["ok"] is True
    target = str(tmp_path / "sqlgz_restored")
    results = restore(spark, out, target)
    assert results["verify"] == {"nation": True}
    orig = spark.read.parquet(f"{sf_dir}/nation.parquet")
    back = spark.read.parquet(os.path.join(target, "nation.parquet"))
    assert back.exceptAll(orig).count() == 0 and orig.exceptAll(back).count() == 0


def test_dump_object_capture_skip_gates(tmp_path):
    """--skip-triggers/--skip-routines/--skip-events gate per-kind object
    capture (the honest inverse of the reference's -G/-R/-E opt-ins: our
    default captures everything)."""
    from types import SimpleNamespace

    from mydumper_spark.catalog import JdbcCatalog
    from mydumper_spark.engine import _capture_objects
    from mydumper_spark.sources.server_detect import ServerProduct

    def query(sql):
        if "information_schema.views" in sql:
            return [{"db": "shop", "name": "v1", "body": "select 1"}]
        if "information_schema.triggers" in sql:
            return [{"db": "shop", "name": "trg", "timing": "AFTER",
                     "ev": "INSERT", "tbl": "orders", "body": "SET @x=1"}]
        if "information_schema.routines" in sql:
            return [{"db": "shop", "name": "p1", "rtype": "PROCEDURE",
                     "body": "SET @y=1", "ret": None}]
        if "information_schema.parameters" in sql:
            return []
        if "information_schema.events" in sql:
            return [{"db": "shop", "name": "ev1", "body": "CALL p1()",
                     "etype": "RECURRING", "iv": "1", "ifld": "DAY",
                     "at": None}]
        raise AssertionError(sql)

    class Q:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    cat = JdbcCatalog.__new__(JdbcCatalog)
    cat._q = lambda sql: Q(query(sql))
    dialect = SimpleNamespace(product=ServerProduct.MYSQL)

    def kinds(**flags):
        cfg = DumpConfig(output_dir=str(tmp_path / "unused"), **flags)
        return {o.kind for _, o in _capture_objects(
            cat, dialect, cfg, {"orders"}, False, None)}

    assert kinds() == {"view", "trigger", "routine", "event"}
    assert kinds(skip_triggers=True) == {"view", "routine", "event"}
    assert kinds(skip_routines=True, skip_events=True) == {"view", "trigger"}


def test_throttle_holds_and_resumes_dump(spark, sf_dir, tmp_path):
    """--throttle (reference [max_us:]Variable=value): the dump pool holds
    new table submissions while the probed source metric exceeds the
    threshold, with the reference's adaptive sleep (doubling while over,
    halving on recovery), and resumes once under. Probe injected — the
    same seam pattern as --disk-limits."""
    from mydumper_spark.engine import _parse_throttle

    # grammar, reference common_options.c:122-146
    assert _parse_throttle("Threads_running=10") == ("Threads_running", 10, 60.0)
    assert _parse_throttle("25") == ("Threads_running", 25, 60.0)
    assert _parse_throttle("20000:Innodb_row_lock_waits=3") == (
        "Innodb_row_lock_waits", 3, 0.02)
    with pytest.raises(ValueError, match="throttle"):
        _parse_throttle("abc:x=1")
    with pytest.raises(ValueError, match="throttle"):
        _parse_throttle("Threads_running=lots")

    # loaded → loaded → recovered: two holds, then the table dumps
    probes = iter([42, 17, 4])
    seen = []

    def probe():
        v = next(probes)
        seen.append(v)
        return v

    out = str(tmp_path / "thr")
    with pytest.warns(UserWarning, match="throttle"):
        manifest = dump(spark, sf_dir, DumpConfig(
            output_dir=out, throttle="10", throttle_probe_fn=probe,
            dump_threads=1,
            filters=TableFilters(tables_list={"default.region"})))
    assert seen == [42, 17, 4]          # held twice, resumed at 4 <= 10
    assert manifest.tables["region"].rows == 5

    # no probe and no connection_factory is a loud usage error, not a
    # silent no-throttle dump
    with pytest.raises(ValueError, match="throttle"):
        dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "thr2"), throttle="10",
            filters=TableFilters(tables_list={"default.region"})))


def test_throttle_gate_adaptive_sleep():
    """The gate's sleep doubles from 10ms while the metric stays over the
    threshold, caps at max_sleep, and halves on each recovery — the
    reference monitor's exact schedule (common.c:1806-1826)."""
    from mydumper_spark.engine import _ThrottleGate

    vals = iter([100, 100, 100, 1, 100, 1])
    gate = _ThrottleGate(lambda: next(vals), threshold=10,
                         max_sleep_s=0.02)
    import time as _time

    t0 = _time.time()
    gate.wait()                          # 3 holds: 0.01 + 0.02 + 0.02(cap)
    elapsed = _time.time() - t0
    assert 0.04 <= elapsed < 1.0
    assert gate.sleep == 0.01            # halved once on recovery
    gate.wait()                          # one hold: doubles back to 0.02
    assert gate.sleep == 0.01            # 0.02 held once, halved on exit


def test_exec_per_thread_filter_roundtrip(spark, sf_dir, tmp_path):
    """--exec-per-thread/--exec-per-thread-extension (reference
    mydumper.c:270-298): every finished sql chunk pipes through an
    arbitrary stdin→stdout filter and carries the extension; the manifest
    records the extension; restore without the decode command is a loud
    error; restore WITH it (myloader --exec-per-thread) round-trips
    exactly. gzip stands in for the arbitrary filter — invoked through
    the generic pipe, not the native codec path."""
    import gzip as _gzip
    import os

    out = str(tmp_path / "ept")
    manifest = dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="sql",
        exec_per_thread="gzip -c", exec_per_thread_extension=".filtgz",
        filters=TableFilters(tables_list={"default.region"})))
    entry = manifest.tables["region"]
    assert entry.path.endswith(".00000.sql.filtgz")
    assert os.path.exists(entry.path)
    assert not os.path.exists(entry.path[: -len(".filtgz")])  # original gone
    # the bytes really went through the filter
    head = _gzip.open(entry.path, "rt").read(30)
    assert head.upper().startswith("INSERT INTO")
    import json as _json

    doc = _json.load(open(os.path.join(out, "_manifest.json")))
    assert doc["config"]["exec_per_thread_extension"] == ".filtgz"

    # without the decode command: loud, mentions the extension
    with pytest.raises(Exception, match="filtgz"):
        restore(spark, out, str(tmp_path / "nofilt"), parallelism=1)

    # with it: full round-trip, checksums verify
    results = restore(spark, out, str(tmp_path / "restored"),
                      parallelism=1, exec_per_thread="gzip -dc")
    assert results["verify"] == {"region": True}
    got = spark.read.parquet(
        str(tmp_path / "restored" / "region.parquet"))
    assert got.count() == 5

    # config hygiene: the reference's m_critical pairs
    with pytest.raises(ValueError, match="together"):
        dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "e2"), fmt="sql",
            exec_per_thread="gzip -c",
            filters=TableFilters(tables_list={"default.region"})))
    with pytest.raises(ValueError, match="not compatible"):
        from mydumper_spark.sinks.writers import CsvFormat

        dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "e3"), fmt="sql",
            exec_per_thread="gzip -c", exec_per_thread_extension=".gz",
            csv_format=CsvFormat(compression="gzip"),
            filters=TableFilters(tables_list={"default.region"})))


def test_sql_format_replace_mode_roundtrip(spark, sf_dir, tmp_path):
    """--replace (reference mydumper_working_thread.h:22-24's third
    statement shape): the dump emits REPLACE INTO statements and the S12
    parser reads them back typed — checksums verify and restore
    reproduces the source exactly, same as INSERT/INSERT IGNORE."""
    out = str(tmp_path / "repldump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="sql", insert_mode="REPLACE",
        filters=TableFilters(tables_list={"default.region"})))
    with open(os.path.join(out, "region.00000.sql")) as f:
        assert f.readline().startswith("REPLACE INTO `region` VALUES")
    v = verify_manifest(spark, out)
    assert all(r["ok"] for r in v.values()), v
    target = str(tmp_path / "replrestored")
    results = restore(spark, out, target, parallelism=1)
    assert results["verify"] == {"region": True}
    orig = spark.read.parquet(f"{sf_dir}/region.parquet")
    back = spark.read.parquet(os.path.join(target, "region.parquet"))
    assert orig.exceptAll(back).count() == 0
    assert back.exceptAll(orig).count() == 0


def test_dump_and_restore_dry_run(spark, sf_dir, tmp_path):
    """--dry-run (reference common_options.c): dump returns the PLAN —
    admitted tables, resolved output names, row estimates, object
    inventory — and writes nothing; restore builds the full phase DAG,
    returns it as a plan, and never touches the target."""
    out = str(tmp_path / "dr")
    plan = dump(spark, sf_dir, DumpConfig(
        output_dir=out, dry_run=True,
        filters=TableFilters(tables_list={"default.region",
                                          "default.nation"})))
    assert plan["dry_run"] is True
    assert set(plan["tables"]) == {"region", "nation"}
    assert plan["tables"]["region"]["output_name"] == "region"
    # nothing written — not even a manifest
    assert not os.path.exists(os.path.join(out, "_manifest.json"))
    assert not any(f.endswith(".parquet")
                   for f in (os.listdir(out) if os.path.exists(out) else []))

    # a real dump, then a dry-run restore: plan only, target untouched
    dump(spark, sf_dir, DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.region",
                                          "default.nation"})))
    target = str(tmp_path / "dr_target")
    r = restore(spark, out, target, dry_run=True)
    assert r["dry_run"] is True
    assert sorted(r["plan"]["data"]) == ["nation", "region"]
    assert sorted(r["plan"]["schema"]) == ["nation", "region"]
    assert not os.path.exists(target)


def test_throttle_probe_failure_disables_not_wedges(spark, sf_dir, tmp_path):
    """A broken throttle probe must not wedge or fail the dump (reference
    traces 'Invalid query' and keeps going, common.c:1828): warn once,
    disable throttling, dump completes."""
    calls = {"n": 0}

    def broken_probe():
        calls["n"] += 1
        raise RuntimeError("monitor connection lost")

    with pytest.warns(UserWarning, match="disabling throttle"):
        manifest = dump(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "tpf"), throttle="10",
            throttle_probe_fn=broken_probe, dump_threads=1,
            filters=TableFilters(tables_list={"default.region",
                                              "default.nation"})))
    assert set(manifest.tables) == {"region", "nation"}
    assert calls["n"] == 1  # dead after the first failure, not per table


def test_strip_view_preamble_hostile_identifiers():
    """The restore-side preamble strip consumes backtick-quoted segments
    atomically (review fix, round 12): a view name containing ';' or
    doubled backticks must not truncate the strip mid-name and leave a
    garbage fragment prepended to the CREATE VIEW handed to the
    executor."""
    from mydumper_spark.engine import _strip_view_preamble

    assert _strip_view_preamble(
        "DROP TABLE IF EXISTS `v`;\nDROP VIEW IF EXISTS `v`;\n"
        "CREATE VIEW `v` AS SELECT 1") == "CREATE VIEW `v` AS SELECT 1"
    # hostile: ';' inside the quoted identifier
    assert _strip_view_preamble(
        "DROP TABLE IF EXISTS `a;b`;\nDROP VIEW IF EXISTS `a;b`;\n"
        "CREATE VIEW `a;b` AS SELECT 1") == "CREATE VIEW `a;b` AS SELECT 1"
    # hostile: doubled backticks and a stray unquoted token
    assert _strip_view_preamble(
        "DROP VIEW IF EXISTS `x``;y`;\nCREATE VIEW `x``;y` AS SELECT 2"
    ) == "CREATE VIEW `x``;y` AS SELECT 2"
    # no preamble: untouched
    assert _strip_view_preamble(
        "CREATE VIEW v AS SELECT 1") == "CREATE VIEW v AS SELECT 1"
    # a DROP inside the view BODY is not a preamble and survives
    body = "CREATE VIEW v AS SELECT 'DROP TABLE IF EXISTS t;' AS s"
    assert _strip_view_preamble(body) == body


def test_compact_and_use_savepoints_flags(spark, sf_dir, tmp_path):
    """--compact (mydumper_arguments.c:226) must NOT touch the metadata
    twin: the reference's flag only suppresses the per-chunk SQL_MODE
    header (mydumper_common.c:411,422) while the metadata Started/
    Finished lines are written unconditionally (mydumper_start_dump.c:
    1161,1181) — round 11 trimmed them, which lost foreign myloader's
    SQL_MODE session restoration (round-12 fix). --use-savepoints is
    accepted and RECORDED (Spark dumps hold no long per-table transaction
    for savepoints to shrink — the S11 fence covers what they buy). Both
    land in the manifest config (round 11)."""
    import json as _json

    from mydumper_spark.sinks.metadata_file import parse_metadata

    out = str(tmp_path / "compactd")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, compact=True, use_savepoints=True,
        filters=TableFilters(tables_list={"default.region"})))
    text = open(os.path.join(out, "metadata")).read()
    assert text.startswith("# Started dump at")  # unaffected by compact
    assert "# Finished dump at" in text
    meta = parse_metadata(text)
    assert [t.table for t in meta.tables] == ["region"]
    assert meta.tables[0].rows == 5
    cfgdoc = _json.load(
        open(os.path.join(out, "_manifest.json")))["config"]
    assert cfgdoc["compact"] is True
    assert cfgdoc["use_savepoints"] is True

    # default: headers present, flags unrecorded (absent, not false)
    out2 = str(tmp_path / "verbose")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out2,
        filters=TableFilters(tables_list={"default.region"})))
    text2 = open(os.path.join(out2, "metadata")).read()
    assert text2.startswith("# Started dump at")
    cfgdoc2 = _json.load(
        open(os.path.join(out2, "_manifest.json")))["config"]
    assert "compact" not in cfgdoc2 and "use_savepoints" not in cfgdoc2


def test_restore_show_warnings(spark, sf_dir, tmp_path):
    """--show-warnings (myloader_arguments.c:145): imperfect-load
    conditions are always collected into results['warnings'] and the flag
    promotes them to warnings.warn emissions (round 11)."""
    import warnings as _warnings

    out = str(tmp_path / "swdump")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out,
        filters=TableFilters(tables_list={"default.region"})))
    target = str(tmp_path / "swtarget")
    clean = restore(spark, out, target, parallelism=1)
    assert clean["verify"] == {"region": True}
    assert "warnings" not in clean  # a perfect load stays quiet

    # second restore with APPEND onto the now-populated target: the
    # checksum goes honestly unverifiable — an imperfect-load condition
    # worth surfacing
    from mydumper_spark.plans.loader_dag import PurgeMode

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        res = restore(spark, out, target, parallelism=1,
                      purge=PurgeMode.APPEND, show_warnings=True)
    assert res["verify"] == {"region": None}
    assert any("unverifiable" in w for w in res["warnings"])
    assert any("unverifiable" in str(w.message) for w in caught)

    # without the flag: collected, not emitted
    with _warnings.catch_warnings(record=True) as caught2:
        _warnings.simplefilter("always")
        res2 = restore(spark, out, target, parallelism=1,
                       purge=PurgeMode.APPEND)
    assert any("unverifiable" in w for w in res2["warnings"])
    assert not any("unverifiable" in str(w.message) for w in caught2)

    # checksum MISMATCH (loaded fine, hash disagrees with the manifest —
    # simulated by corrupting the recorded checksum): the most serious
    # condition must surface through --show-warnings too
    import json as _json

    mpath = os.path.join(out, "_manifest.json")
    doc = _json.load(open(mpath))
    doc["tables"]["region"]["data_checksum"] = "0"
    with open(mpath, "w") as f:
        _json.dump(doc, f)
    with _warnings.catch_warnings(record=True) as caught3:
        _warnings.simplefilter("always")
        res3 = restore(spark, out, str(tmp_path / "swtarget2"),
                       parallelism=1, show_warnings=True)
    assert res3["verify"] == {"region": False}
    assert any("checksum MISMATCH" in w for w in res3["warnings"])
    assert any("checksum MISMATCH" in str(w.message) for w in caught3)


def test_exec_per_thread_multi_chunk_parallel(spark, sf_dir, tmp_path):
    """A multi-chunk table's --exec-per-thread filter runs on a worker
    pool (round 11; the reference filters per writer thread): every chunk
    is re-extensioned, the manifest path is chunk0's filtered name, at
    least two filter processes overlapped in time, and the restore
    round-trips."""
    import json as _json
    import os

    log = str(tmp_path / "spans.log")
    script = str(tmp_path / "slowfilt.py")
    with open(script, "w") as f:
        f.write(
            "import sys, time, os\n"
            "t0 = time.monotonic()\n"
            "data = sys.stdin.buffer.read()\n"
            "time.sleep(0.4)\n"
            "sys.stdout.buffer.write(data)\n"
            "sys.stdout.buffer.flush()\n"
            f"with open({log!r}, 'a') as lg:\n"
            "    lg.write(f'{t0} {time.monotonic()}\\n')\n")
    out = str(tmp_path / "eptmc")
    # rows_per_statement=100 × maxRecordsPerFile=400 rows → 4 statements
    # per file → orders(1500 rows at sf0.001) rotates into ≥4 chunks
    manifest = dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="sql", rows_per_statement=100,
        max_records_per_file=400,
        exec_per_thread=f"python3 {script}",
        exec_per_thread_extension=".filt",
        filters=TableFilters(tables_list={"default.orders"})))
    entry = manifest.tables["orders"]
    assert entry.path.endswith(".00000.sql.filt")
    chunks = sorted(f for f in os.listdir(out)
                    if f.startswith("orders.") and ".sql" in f)
    n_chunks = len([c for c in chunks if c.endswith(".filt")])
    assert n_chunks >= 4
    assert not [c for c in chunks if c.endswith(".sql")]  # originals gone

    # at least two filter invocations overlapped (pooled, not serial)
    spans = [tuple(map(float, ln.split())) for ln in open(log)]
    assert len(spans) == n_chunks
    overlap = any(
        a0 < b1 and b0 < a1
        for i, (a0, a1) in enumerate(spans)
        for (b0, b1) in spans[i + 1:])
    assert overlap, f"filters ran serially: {spans}"

    results = restore(spark, out, str(tmp_path / "eptmc_r"),
                      parallelism=1, exec_per_thread="cat")
    assert results["verify"] == {"orders": True}
    got = spark.read.parquet(str(tmp_path / "eptmc_r" / "orders.parquet"))
    orig = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert got.count() == orig.count()

    # restore twin (round 12): the DECODE side pools too — a slow decode
    # command's per-chunk spans must overlap, not serialize on the driver
    open(log, "w").close()  # reuse the span logger for decode spans
    results2 = restore(spark, out, str(tmp_path / "eptmc_r2"),
                       parallelism=1,
                       exec_per_thread=f"python3 {script}")
    assert results2["verify"] == {"orders": True}
    dspans = [tuple(map(float, ln.split())) for ln in open(log)]
    assert len(dspans) == n_chunks
    doverlap = any(
        a0 < b1 and b0 < a1
        for i, (a0, a1) in enumerate(dspans)
        for (b0, b1) in dspans[i + 1:])
    assert doverlap, f"decodes ran serially: {dspans}"


def test_incremental_dump_gates_throttle_and_rejects_exec_per_thread(
        spark, sf_dir, tmp_path):
    """dump_incremental shares --disk-limits/--throttle backpressure with
    dump (one gate implementation, _build_throttle_gate) and rejects the
    fmt='sql'-only --exec-per-thread loudly instead of ignoring it."""
    from mydumper_spark.engine import dump_incremental

    base = str(tmp_path / "inc_base")
    dump(spark, sf_dir, DumpConfig(
        output_dir=base,
        filters=TableFilters(tables_list={"default.region"})))

    probes = iter([42, 3])
    seen = []

    def probe():
        v = next(probes)
        seen.append(v)
        return v

    with pytest.warns(UserWarning, match="throttle"):
        m = dump_incremental(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "inc_thr"), throttle="10",
            throttle_probe_fn=probe, dump_threads=1,
            filters=TableFilters(tables_list={"default.region"})), base)
    assert seen == [42, 3] and "region" in m.tables

    with pytest.raises(ValueError, match="parquet-only"):
        dump_incremental(spark, sf_dir, DumpConfig(
            output_dir=str(tmp_path / "inc_ept"),
            exec_per_thread="gzip -c", exec_per_thread_extension=".gz",
            filters=TableFilters(tables_list={"default.region"})), base)


def test_dump_incremental_dry_run(spark, sf_dir, tmp_path):
    """--since × --dry-run: the incremental plan (which tables would diff
    against which parent entries) with zero data reads and zero writes —
    previously this combination ran the full incremental dump."""
    from mydumper_spark.engine import dump_incremental

    base = str(tmp_path / "idr_base")
    dump(spark, sf_dir, DumpConfig(
        output_dir=base,
        filters=TableFilters(tables_list={"default.region"})))
    out = str(tmp_path / "idr_out")
    plan = dump_incremental(spark, sf_dir, DumpConfig(
        output_dir=out, dry_run=True,
        filters=TableFilters(tables_list={"default.region",
                                          "default.nation"})), base)
    assert plan["dry_run"] is True
    assert plan["tables"]["region"]["in_parent"] is True
    assert plan["tables"]["nation"]["in_parent"] is False
    assert not any(f.startswith("region") or f.startswith("nation")
                   for f in os.listdir(out))  # no delta files written


def test_restore_dry_run_notes_unprobed_skip(spark, sf_dir, tmp_path):
    """dry-run never connects to the target, so the SKIP/APPEND
    pre-existing probe cannot run — the plan must SAY so instead of
    implying the skip decisions were real."""
    from mydumper_spark.plans.loader_dag import PurgeMode

    out = str(tmp_path / "drn")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, filters=TableFilters(tables_list={"default.region"})))
    r = restore(spark, out, str(tmp_path / "drn_t"), dry_run=True,
                purge=PurgeMode.APPEND)
    assert "probe" in r["note"] and "append" in r["note"]


def test_exec_per_thread_extension_charset_validated(spark, sf_dir, tmp_path):
    """An extension the chunk-name regex can't parse (underscores, >10
    chars) must fail at dump START — downstream it would break stream
    announce and make the dump unrestorable."""
    for bad in (".enc_v2", ".toolongext1", "enc", ".."):
        with pytest.raises(ValueError, match="extension"):
            dump(spark, sf_dir, DumpConfig(
                output_dir=str(tmp_path / "x"), fmt="sql",
                exec_per_thread="gzip -c", exec_per_thread_extension=bad,
                filters=TableFilters(tables_list={"default.region"})))
    # multi-segment alnum extensions are legal (.enc.v2)
    m = dump(spark, sf_dir, DumpConfig(
        output_dir=str(tmp_path / "ok"), fmt="sql",
        exec_per_thread="gzip -c", exec_per_thread_extension=".enc.v2",
        filters=TableFilters(tables_list={"default.region"})))
    assert m.tables["region"].path.endswith(".00000.sql.enc.v2")


def test_exec_per_thread_restore_decodes_once_per_table(
        spark, sf_dir, tmp_path, monkeypatch):
    """source_df runs up to three times per table (schema, data, index
    phases): the decode must run ONCE per chunk, not once per call."""
    from mydumper_spark.sinks import exec_sink

    out = str(tmp_path / "eptc")
    dump(spark, sf_dir, DumpConfig(
        output_dir=out, fmt="sql",
        exec_per_thread="gzip -c", exec_per_thread_extension=".fgz",
        filters=TableFilters(tables_list={"default.region"})))

    calls = {"n": 0}
    real = exec_sink.exec_decode_file

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(exec_sink, "exec_decode_file", counting)
    results = restore(spark, out, str(tmp_path / "eptc_t"),
                      parallelism=1, exec_per_thread="gzip -dc")
    assert results["verify"] == {"region": True}
    assert calls["n"] == 1  # one chunk, decoded exactly once


def test_read_dump_table_db_aware_chunk_matching(spark, tmp_path):
    """Reference-layout chunks for SAME-NAMED tables in two databases must
    never silently union: a bare name is a loud ambiguity error, the
    qualified 'db.table' name reads exactly its own chunks; read_dump_dir
    groups chunks per table (not one bogus table per chunk) and discovers
    .sql tables."""
    root = tmp_path
    (root / "a.users-schema.sql").write_text(
        "CREATE TABLE `users` (\n  `id` int NOT NULL,\n  `v` varchar(10)\n);")
    (root / "b.users-schema.sql").write_text(
        "CREATE TABLE `users` (\n  `id` int NOT NULL,\n  `v` varchar(10)\n);")
    (root / "a.users.00000.sql").write_text(
        "INSERT INTO `users` VALUES (1,'a1'),(2,'a2');\n")
    (root / "a.users.00001.sql").write_text(
        "INSERT INTO `users` VALUES (3,'a3');\n")
    (root / "b.users.00000.sql").write_text(
        "INSERT INTO `users` VALUES (9,'b9');\n")

    with pytest.raises(ValueError, match="ambiguous"):
        read_dump_table(spark, str(root), "users")
    a = read_dump_table(spark, str(root), "a.users")
    assert sorted((r["id"], r["v"]) for r in a.collect()) == [
        (1, "a1"), (2, "a2"), (3, "a3")]
    b = read_dump_table(spark, str(root), "b.users")
    assert [(r["id"], r["v"]) for r in b.collect()] == [(9, "b9")]

    tables = read_dump_dir(spark, str(root))
    assert set(tables) == {"a.users", "b.users"}
    assert tables["a.users"].count() == 3 and tables["b.users"].count() == 1

    # chunked reference .dat: grouped per table, typed via the DDL sidecar
    root2 = tmp_path / "dat"
    root2.mkdir()
    (root2 / "d.t-schema.sql").write_text(
        "CREATE TABLE `t` (\n  `id` int NOT NULL,\n  `v` varchar(10)\n);")
    (root2 / "d.t.00000.dat").write_text('1,"x"\n2,"y"\n')
    (root2 / "d.t.00001.dat").write_text('3,"z"\n')
    tables2 = read_dump_dir(spark, str(root2))
    assert set(tables2) == {"d.t"}
    assert sorted((r["id"], r["v"]) for r in tables2["d.t"].collect()) == [
        (1, "x"), (2, "y"), (3, "z")]


def test_stream_restore_rerun_is_idempotent(spark, customer, tmp_path):
    """foreachBatch is at-least-once: a replayed micro-batch must OVERWRITE
    its own batch partition, never append duplicates — re-running the whole
    restore over the same landing dir (fresh checkpoint = every batch
    replays) leaves the row count unchanged."""
    from mydumper_spark.streaming import stream_restore

    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    customer.write.parquet(landing)
    q = stream_restore(spark, landing, target, str(tmp_path / "ck1"),
                       customer.schema, available_now=True)
    q.awaitTermination(120)
    n1 = spark.read.parquet(target).count()
    assert n1 == customer.count()
    q2 = stream_restore(spark, landing, target, str(tmp_path / "ck2"),
                        customer.schema, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(target).count() == n1  # replay ≠ duplicates


def test_snapshot_ring_symlink_is_cwd_independent(spark, customer, tmp_path):
    """LAST_DUMP's target is relative to the LINK'S directory (the bare
    slot index), never a CWD-dependent path: the old os.symlink(slot, …)
    with a relative ring_root produced ring/LAST_DUMP → ring/ring/0
    (dangling). Pin the link target itself and that it resolves from ANY
    working directory."""
    from mydumper_spark.streaming import snapshot_dump

    ring = str(tmp_path / "ring")
    snapshot_dump(customer.limit(3), ring, snapshot_count=2)
    last = os.path.join(ring, "LAST_DUMP")
    assert os.path.islink(last)
    assert os.readlink(last) == "0"  # bare index, not a path
    here = os.getcwd()
    try:
        os.chdir("/")  # resolution must not depend on the process CWD
        assert os.path.isdir(os.path.realpath(last))
    finally:
        os.chdir(here)
    assert spark.read.parquet(os.path.realpath(last)).count() == 3


def test_split_create_table_single_line():
    """Compact one-line DDL: head and tail are the same line — the split
    must return the statement once, not duplicated."""
    bare, keys, cons = split_create_table("CREATE TABLE t (a int)")
    assert bare == "CREATE TABLE t (a int)"
    assert keys == [] and cons == []


def test_loader_dag_duplicate_job_is_loud():
    """Two jobs under one (table, phase) key would silently shadow each
    other in the phase queue — adding the second is a loud error."""
    dag = LoaderDag()
    dag.add(LoadJob("t", Phase.DATA, lambda: None))
    dag.add(LoadJob("t", Phase.INDEX, lambda: None))  # other phase: fine
    with pytest.raises(ValueError, match="duplicate load job"):
        dag.add(LoadJob("t", Phase.DATA, lambda: None))


def test_unique_key_prefix_lengths_roundtrip():
    """UNIQUE KEY prefix lengths (`txt`(32) on TEXT) survive into the
    descriptor and the mysql-dialect CREATE UNIQUE INDEX — without them
    MySQL rejects TEXT/BLOB unique keys (error 1170); non-mysql dialects
    record the drop as a skip note."""
    from mydumper_spark.plans.ddl import (
        descriptor_from_create_table, restore_statements,
    )

    ddl = (
        "CREATE TABLE `t` (\n"
        "  `id` int NOT NULL,\n"
        "  `txt` text,\n"
        "  PRIMARY KEY (`id`),\n"
        "  UNIQUE KEY `uq_txt` (`txt`(32)),\n"
        "  KEY `k_txt` (`txt`(16))\n"
        ") ENGINE=InnoDB;"
    )
    desc = descriptor_from_create_table(ddl)
    assert desc["uniques"][0]["sub_parts"] == [32]
    my = restore_statements("`t`", desc, "mysql")
    assert any("`uq_txt` ON `t` (`txt`(32))" in s for s in my["index"])
    an = restore_statements('"t"', desc, "ansi")
    assert any("uq_txt" in s and "(32)" not in s for s in an["index"])
    assert any("unique uq_txt" in s for s in an["skipped"])


def test_streaming_verify_drops_self_pairs(spark):
    """An at-least-once redelivery can propose (doc, doc) when a document
    re-probes a bucket it already anchors — the verifier must drop
    self-pairs instead of emitting a bogus (x, x, 1.0) near-duplicate."""
    from mydumper_spark.streaming.stateful import exact_verify_candidates

    store = spark.createDataFrame(
        [(7, "the quick brown fox jumps"), (8, "the quick brown fox jumped")],
        "doc_id long, text string")
    cand = spark.createDataFrame(
        [(7, 7), (8, 7), (9, None)], "doc_id long, prior_doc long")
    pairs = exact_verify_candidates(cand, store, jaccard_threshold=0.1)
    rows = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    assert (7, 7) not in rows
    assert rows == [(7, 8)]


def test_insert_parser_binary_forms_and_introducers(spark):
    """Both reference binary wire forms decode (mydumper_write.c:386-388,
    684-699): --hex-blob 0xHEX exactly, and the quoted `_binary '…'` form
    via latin-1 re-encode — previously EVERY binary value went through
    unhex, silently corrupting quoted forms; charset introducers must not
    leak into the value text."""
    from mydumper_spark.sources.insert_parser import (
        parse_tuples, read_insert_sql,
    )

    # introducer prefixes are grammar, not value content
    assert parse_tuples("(1,_binary 'abc')") == [["1", "abc"]]
    assert parse_tuples("(2,_utf8mb4'héllo')") == [["2", "héllo"]]

    import os
    p = os.path.join(str(spark.conf.get("spark.sql.warehouse.dir"))
                     .removeprefix("file:"), "bin_forms.sql")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    with open(p, "w") as f:
        f.write("INSERT INTO `t` VALUES "
                "(1,0xDEADBEEF),(2,_binary 'abc'),(3,NULL),"
                "(4,_binary 'a\\tb');\n")
    df = read_insert_sql(spark, p, "id int, payload binary")
    got = {r["id"]: (bytes(r["payload"]) if r["payload"] is not None
                     else None)
           for r in df.collect()}
    assert got == {1: b"\xde\xad\xbe\xef", 2: b"abc", 3: None,
                   4: b"a\tb"}


def test_insert_parser_quoted_binary_byte_faithful(spark, tmp_path):
    """Foreign-dump binary intake is honest (round 11): a stock reference
    dump (no --hex-blob) emits binary as quoted `_binary '…'` with raw
    bytes >0x7F on the wire (mydumper_write.c:684-699). The latin-1 line
    reader + parse_tuples' was-quoted bit make that form round-trip
    byte-exactly, kill the quoted-'0x41' hex ambiguity, and keep UTF-8
    text columns readable alongside."""
    from mydumper_spark.sources.insert_parser import (
        parse_tuples, read_insert_sql,
    )

    # was-quoted bit: quoted '0x41' is literal text, unquoted 0x41 is hex
    assert parse_tuples("(1,'0x41',0x41)", with_quoted=True) == [
        [("1", False), ("0x41", True), ("0x41", False)]]

    p = str(tmp_path / "foreign_bin.sql")
    # raw wire bytes: invalid-UTF8 binary (\xff\xfe\x01), an escaped
    # quote+backslash inside binary, a multibyte UTF-8 text column, and
    # the '0x41' literal-text trap — exactly what mysql_real_escape_string
    # emits (only \0 \n \r \\ ' " \x1a are escaped; high bytes are raw)
    raw = (b"INSERT INTO `t` VALUES "
           b"(1,_binary '\xff\xfe\x01ab','caf\xc3\xa9'),"
           b"(2,_binary 'q\\'b\\\\s\x80','t\xe2\x82\xac'),"
           b"(3,'0x41','plain'),"
           b"(4,0x41FF,NULL);\n")
    with open(p, "wb") as f:
        f.write(raw)
    df = read_insert_sql(spark, p, "id int, payload binary, txt string")
    got = {r["id"]: ((bytes(r["payload"]) if r["payload"] is not None
                      else None), r["txt"])
           for r in df.collect()}
    expected = {
        1: (b"\xff\xfe\x01ab", "café"),
        2: (b"q'b\\s\x80", "t€"),
        3: (b"0x41", "plain"),   # quoted ⇒ literal bytes, never unhexed
        4: (b"\x41\xff", None),  # unquoted 0xHEX ⇒ the hex wire form
    }
    assert got == expected

    # same bytes through a reference -c compressed chunk (.sql.gz): the
    # latin-1 line reader must compose with the codec transparently
    import gzip as _gzip

    pz = str(tmp_path / "mydb.t.00001.sql.gz")
    with open(pz, "wb") as f:
        f.write(_gzip.compress(raw))
    dfz = read_insert_sql(spark, pz, "id int, payload binary, txt string")
    gotz = {r["id"]: ((bytes(r["payload"]) if r["payload"] is not None
                       else None), r["txt"])
            for r in dfz.collect()}
    assert gotz == expected


def test_mysqldump_split_binary_byte_faithful(spark, tmp_path):
    """The driver-side mysqldump split passes raw binary bytes through
    byte-for-byte (surrogateescape in/out), so a foreign mysqldump with
    quoted high-byte binary survives split → line-parallel parse →
    typed DataFrame."""
    from mydumper_spark.sources.insert_parser import read_insert_sql
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    p = str(tmp_path / "foreign.sql")
    # the INSERT line as mysqldump emits it: \0 escaped, \xff raw
    raw = (b"CREATE DATABASE `bdb`;\nUSE `bdb`;\n"
           b"CREATE TABLE `bt` (`id` int, `b` blob);\n"
           b"INSERT INTO `bt` VALUES (1,_binary '\xff\\0ok'),(2,NULL);\n")
    with open(p, "wb") as f:
        f.write(raw)
    out = str(tmp_path / "split")
    os.makedirs(out, exist_ok=True)
    res = split_mysqldump(p, out)
    entry = res.tables["bdb.bt"]
    with open(entry["data_path"], "rb") as f:
        assert b"\xff\\0ok" in f.read()  # bytes survived the split
    df = read_insert_sql(spark, entry["data_path"], "id int, b binary")
    got = {r["id"]: (bytes(r["b"]) if r["b"] is not None else None)
           for r in df.collect()}
    assert got == {1: b"\xff\x00ok", 2: None}


def test_foreign_binary_intake_randomized(spark, tmp_path):
    """Round-11 fuzz program: randomized FOREIGN-dump intake over the
    exact wire form a stock mydumper (no --hex-blob) emits for binary —
    `_binary '<mysql_real_escape_string bytes>'` with raw high bytes
    (mydumper_write.c:684-699: only \\0 \\n \\r \\\\ ' \" \\x1a escape;
    everything else, including invalid-UTF8, is verbatim). Renders the
    dump byte-for-byte the reference way, reads through the latin-1
    binary-safe path, and compares value-exact — including the quoted
    '0xHEX'-spelling trap, empty binary (the reference's bare '' form),
    NULLs, and a gzip round."""
    import gzip as _gzip
    import random

    from mydumper_spark.sources.insert_parser import read_insert_sql

    esc = {0x00: b"\\0", 0x0A: b"\\n", 0x0D: b"\\r", 0x5C: b"\\\\",
           0x27: b"\\'", 0x22: b'\\"', 0x1A: b"\\Z"}

    def mysql_escape(bs: bytes) -> bytes:
        return b"".join(esc.get(b, bytes([b])) for b in bs)

    rng = random.Random(1111)
    texts = ["", "plain", "q'q", 'd"d', "back\\slash", "nl\nnl", "t\tt",
             "café € 漢", "\\N", "0x41", "sub\x1ame"]
    for rnd in range(4):
        rows = []
        for i in range(rng.randrange(40, 120)):
            if rng.random() < 0.15:
                b = None
            elif rng.random() < 0.15:
                b = bytes()  # reference emits bare ''
            elif rng.random() < 0.2:
                # the trap: bytes that SPELL a hex token must stay text
                b = b"0x" + bytes(rng.choice(b"0123456789abcdefABCDEF")
                                  for _ in range(rng.randrange(0, 8)))
            else:
                b = bytes(rng.randrange(256)
                          for _ in range(rng.randrange(1, 40)))
            t = rng.choice(texts) if rng.random() < 0.9 else None
            rows.append((i, b, t))
        # render the INSERT the reference way, raw bytes on the wire
        line = bytearray(b"INSERT INTO `t` VALUES ")
        for j, (i, b, t) in enumerate(rows):
            if j:
                line += b","
            line += b"(%d," % i
            if b is None:
                line += b"NULL"
            elif len(b) == 0:
                line += b"''"
            else:
                line += b"_binary '" + mysql_escape(b) + b"'"
            line += b","
            if t is None:
                line += b"NULL"
            else:
                line += b"'" + mysql_escape(t.encode("utf-8")) + b"'"
            line += b")"
        line += b";\n"
        p = str(tmp_path / (f"fb{rnd}.sql" + (".gz" if rnd == 3 else "")))
        payload = _gzip.compress(bytes(line)) if rnd == 3 else bytes(line)
        with open(p, "wb") as f:
            f.write(payload)
        df = read_insert_sql(spark, p, "id int, b binary, t string")
        got = {r["id"]: ((bytes(r["b"]) if r["b"] is not None else None),
                         r["t"])
               for r in df.collect()}
        want = {i: (b, t) for i, b, t in rows}
        bad = [(k, got.get(k), want[k]) for k in want
               if got.get(k) != want[k]]
        assert not bad, f"round {rnd}: first mismatches {bad[:3]}"


def test_sql_format_roundtrip_randomized_hostile_types(spark, tmp_path):
    """Seeded randomized fmt="sql" dump→verify→restore roundtrip over the
    full fidelity matrix at once: NUL/SUB/newline/quote/backslash/emoji
    strings, random binary, decimals, timestamps, dates, booleans, exact
    binary-fraction doubles, NULLs everywhere — across INSERT/IGNORE/
    REPLACE modes, statement/file rotation and gzip. The fixed-case tests
    sample this matrix one axis at a time; real dumps compose all of it
    in one file."""
    import datetime
    import decimal
    import random
    import string as _string

    from pyspark.sql import types as T

    rng = random.Random(3)
    hostile = ["", "NULL", "a'b", 'a"b', "a\\b", "line\nbreak", "tab\there",
               "nul\x00byte", "\x1a sub", "ключ émile 中文", "0x41", "),(",
               "'; DROP TABLE x; --", "\\'", "\r\n", "🙂emoji"]
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("big", T.LongType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("d", T.DecimalType(12, 2)),
        T.StructField("ts", T.TimestampType()),
        T.StructField("dt", T.DateType()),
        T.StructField("flag", T.BooleanType()),
        T.StructField("f", T.DoubleType()),
    ])

    def rand_row(i):
        return (
            i,
            rng.choice([None, rng.randint(-2**62, 2**62)]),
            (rng.choice([None] + hostile) if rng.random() < 0.7 else
             "".join(rng.choices(_string.printable, k=rng.randint(0, 30)))),
            rng.choice([None, bytes(rng.getrandbits(8)
                                    for _ in range(rng.randint(0, 12)))]),
            rng.choice([None,
                        decimal.Decimal(rng.randint(-10**10, 10**10)) / 100]),
            rng.choice([None, datetime.datetime(2020, 1, 1)
                        + datetime.timedelta(seconds=rng.randint(0, 10**8))]),
            rng.choice([None, datetime.date(2020, 1, 1)
                        + datetime.timedelta(days=rng.randint(0, 3000))]),
            rng.choice([None, True, False]),
            # exact binary fractions: float fidelity without repr ties
            rng.choice([None, float(rng.randint(-1000, 1000)) / 8]),
        )

    for trial in range(2):
        rows = [rand_row(i) for i in range(rng.randint(50, 150))]
        src = str(tmp_path / f"src{trial}")
        spark.createDataFrame(rows, schema).write.parquet(
            os.path.join(src, "t.parquet"))
        out = str(tmp_path / f"dump{trial}")
        cfg = DumpConfig(
            output_dir=out, fmt="sql",
            rows_per_statement=rng.choice([1, 7, 100]),
            max_records_per_file=rng.choice([37, 1000]),
            complete_insert=rng.random() < 0.5,
            insert_mode=rng.choice(["INSERT", "INSERT IGNORE", "REPLACE"]),
            csv_format=CsvFormat(
                compression=rng.choice([None, "gzip"])),
        )
        dump(spark, src, cfg)
        v = verify_manifest(spark, out)
        assert all(r["ok"] for r in v.values()), (trial, v)
        tgt = str(tmp_path / f"rest{trial}")
        restore(spark, out, tgt, parallelism=2)
        orig = spark.read.parquet(os.path.join(src, "t.parquet"))
        back = spark.read.parquet(os.path.join(tgt, "t.parquet"))
        assert orig.schema == back.schema
        assert orig.exceptAll(back).count() == 0
        assert back.exceptAll(orig).count() == 0


def test_exec_per_thread_stream_restore_campaign(spark, tmp_path):
    """Seeded campaign over the round-10 seam no prior fuzz drove
    end-to-end: --exec-per-thread filtered chunks crossing the --stream
    wire protocol, then restore-side decode (round 11). Each round:
    hostile-value table → fmt=sql multi-chunk dump piped through a filter
    (gzip, and a self-inverse XOR whose output is dense in high bytes and
    embedded fake frame markers) → stream_directory frames → restore from
    the re-materialized dir WITH the inverse command → value-exact
    compare."""
    import io
    import random

    from mydumper_spark.streaming.protocol import (
        restore_directory, stream_directory,
    )

    xor = str(tmp_path / "xorfilt.py")
    with open(xor, "w") as f:
        # XOR 0x5A is self-inverse (encode == decode command) and maps
        # the SQL text's '\n-- ' framing-marker bytes into high bytes —
        # and vice versa: ordinary text XORs INTO byte runs that spell
        # fake frame markers, actively attacking the wire parser
        f.write("import sys\n"
                "data = sys.stdin.buffer.read()\n"
                "sys.stdout.buffer.write(bytes(b ^ 0x5A for b in data))\n")

    hostile = ["", "a'b", 'a"b', "a\\b", "line\nbreak", "tab\there",
               "\\N", "0x41", "-- filename 99", "é€漢", None]
    rng = random.Random(1107)
    filters = [("gzip -c", "gzip -dc", ".gz"),
               (f"python3 {xor}", f"python3 {xor}", ".xor")]
    for rnd in range(3):
        cmd, inv, ext = filters[rnd % len(filters)]
        rows = [(i, rng.choice(hostile), rng.randrange(10**6))
                for i in range(rng.randrange(120, 400))]
        df = spark.createDataFrame(rows, "id int, s string, v bigint")
        src = str(tmp_path / f"c{rnd}_src")
        df.write.parquet(os.path.join(src, "t.parquet"))
        out = str(tmp_path / f"c{rnd}_dump")
        dump(spark, src, DumpConfig(
            output_dir=out, fmt="sql",
            rows_per_statement=rng.choice([7, 50]),
            max_records_per_file=rng.choice([60, 150]),
            exec_per_thread=cmd, exec_per_thread_extension=ext))
        # wire crossing: frame every file (filtered chunks are binary,
        # gzip/XOR bytes freely contain fake "\n-- name size" markers)
        buf = io.BytesIO()
        n = stream_directory(buf, out)
        recv = str(tmp_path / f"c{rnd}_recv")
        assert restore_directory(io.BytesIO(buf.getvalue()), recv) == n
        target = str(tmp_path / f"c{rnd}_tgt")
        results = restore(spark, recv, target, parallelism=1,
                          exec_per_thread=inv)
        assert results["verify"] == {"t": True}, f"round {rnd}"
        back = spark.read.parquet(os.path.join(target, "t.parquet"))
        assert back.exceptAll(df).count() == 0
        assert df.exceptAll(back).count() == 0


def test_csv_dialect_fidelity_hostile_values(spark, tmp_path):
    """The csv dump dialect must round-trip the three classes the
    univocity defaults silently corrupt: whitespace-padded strings (the
    writer TRIMS by default), values containing the line terminator (the
    reader splits rows without multiLine), and literal text equal to the
    NULL sentinel '\\N' (null substitution happens after unquoting, so
    only the reference's backslash-doubling — CsvFormat.escaped_data —
    preserves it). NULL vs '' vs '\\N'-text stay three distinct values."""
    from mydumper_spark.sinks.manifest import read_dumped_table

    vals = [" pad ", "\\N", "line\nbreak", 'a"b', "a\\b", "", None,
            "\r\n", "NULL", "tab\there"]
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, s string")
    df.write.parquet(os.path.join(src, "t.parquet"))
    out = str(tmp_path / "d")
    dump(spark, src, DumpConfig(output_dir=out, fmt="csv"))
    import json as _json

    with open(os.path.join(out, "_manifest.json")) as f:
        doc = _json.load(f)
    entry = doc["tables"]["t"]
    back = read_dumped_table(
        spark, entry, csv_dialect=doc["config"]["csv_dialect"])
    got = {r["id"]: r["s"] for r in back.collect()}
    assert got == {i: v for i, v in enumerate(vals)}
    # restore reproduces the same set
    tgt = str(tmp_path / "r")
    restore(spark, out, tgt)
    rt = {r["id"]: r["s"] for r in
          spark.read.parquet(os.path.join(tgt, "t.parquet")).collect()}
    assert rt == {i: v for i, v in enumerate(vals)}


def test_csv_legacy_manifest_reads_raw_form(spark, tmp_path):
    """A manifest whose csv_dialect predates escaped_data must read the
    LEGACY raw bytes (no backslash halving): doubled backslashes written
    by an old dump keep both characters."""
    from mydumper_spark.sinks.manifest import read_dumped_table
    from mydumper_spark.sinks.writers import CsvFormat, write_csv

    path = str(tmp_path / "t.dat")
    df = spark.createDataFrame([(1, "a\\\\b")], "id int, s string")
    write_csv(df, path, CsvFormat(escaped_data=False))
    import json as _json

    sidecar = str(tmp_path / "t.schema.json")
    with open(sidecar, "w") as f:
        _json.dump(df.schema.jsonValue(), f)
    entry = {"path": path}
    # dialect dict WITHOUT the escaped_data key — the legacy manifest form
    back = read_dumped_table(spark, entry, csv_dialect={
        "fields_terminated_by": ",", "fields_enclosed_by": '"',
        "fields_escaped_by": "\\", "lines_terminated_by": "\n",
        "header": False, "null_value": "\\N", "compression": None})
    assert back.collect()[0]["s"] == "a\\\\b"


def test_read_dumped_table_engine_dat_named_like_a_chunk(spark, tmp_path):
    """An engine csv dump of table `00001` in database `t` is the Spark
    directory t.00001.dat, not chunk 1 of a reference-layout table `t`:
    its typed read returns only its own rows, never those of the sibling
    table dumped as t.00002.dat."""
    import dataclasses

    from mydumper_spark.sinks.manifest import read_dumped_table
    from mydumper_spark.sinks.writers import CsvFormat, write_csv

    fmt = CsvFormat()
    for name, ids in (("t.00001", [1, 2]), ("t.00002", [3])):
        df = spark.createDataFrame([(i, f"r{i}") for i in ids],
                                   "id int, s string")
        write_csv(df, str(tmp_path / f"{name}.dat"), fmt)
        (tmp_path / f"{name}.schema.json").write_text(df.schema.json())
    back = read_dumped_table(spark, {"path": str(tmp_path / "t.00001.dat")},
                             csv_dialect=dataclasses.asdict(fmt))
    assert back is not None
    assert sorted(tuple(r) for r in back.collect()) == [(1, "r1"), (2, "r2")]


def test_restore_moved_csv_dump_of_table_named_like_a_chunk(spark, tmp_path):
    """A moved csv dump (stale absolute path in the manifest) of table
    ``t.00001`` restores that table from the Spark directory t.00001.dat
    in the dump root: the name-derived fallback takes a chunk prefix only
    from a chunk FILE, never from a table named like one."""
    import dataclasses

    from mydumper_spark.sinks.manifest import build_entry, write_schema_sidecar
    from mydumper_spark.sinks.writers import CsvFormat, write_csv

    root = str(tmp_path / "moved")
    fmt = CsvFormat()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    write_csv(df, os.path.join(root, "t.00001.dat"), fmt)
    write_schema_sidecar(root, "t.00001", df.schema)
    m = Manifest(fmt="csv")
    m.csv_dialect = dataclasses.asdict(fmt)
    m.tables["t.00001"] = build_entry(df, "t.00001", m.algorithm,
                                      path="/moved/away/t.00001.dat")
    write_manifest(m, root)
    results = restore(spark, root, str(tmp_path / "target"))
    assert results["load"] == {"t.00001": True}
    assert results["verify"] == {"t.00001": True}


def test_incremental_chain_randomized_mutations(spark, tmp_path):
    """Seeded random mutation history through a THREE-generation
    incremental chain: each generation applies random deletes, changes
    and adds, dumps --since its parent, and the final restore's
    chain-materialized state must equal the final source exactly (the
    fixed-case roundtrip tests one hand-written mutation set; real
    histories compose the three mutation kinds arbitrarily, including
    re-adding previously-deleted keys)."""
    import random

    from mydumper_spark.engine import dump_incremental

    rng = random.Random(31)
    state = {i: (rng.choice(["a'b", "x", "ключ", ""]), rng.randint(0, 10**6))
             for i in range(rng.randint(20, 80))}

    def write_state(tag):
        p = str(tmp_path / f"src_{tag}")
        spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in state.items()],
            "id bigint, s string, n bigint",
        ).write.mode("overwrite").parquet(os.path.join(p, "t.parquet"))
        return p

    parent = str(tmp_path / "dump0")
    dump(spark, write_state(0), DumpConfig(output_dir=parent))
    for gen in range(1, 4):
        for k in rng.sample(list(state), k=min(len(state), rng.randint(0, 8))):
            del state[k]
        for k in rng.sample(list(state), k=min(len(state), rng.randint(0, 8))):
            s, n = state[k]
            state[k] = (s + "!", n + 1)
        top = max(state) if state else 0
        for j in range(rng.randint(0, 6)):
            state[top + 1 + j] = ("new", rng.randint(0, 100))
        inc = str(tmp_path / f"dump{gen}")
        dump_incremental(spark, write_state(gen),
                         DumpConfig(output_dir=inc), parent)
        parent = inc
    tgt = str(tmp_path / "tgt")
    res = restore(spark, parent, tgt)
    assert all(res["verify"].values()), res["verify"]
    got = {r["id"]: (r["s"], r["n"]) for r in
           spark.read.parquet(os.path.join(tgt, "t.parquet")).collect()}
    assert got == state
