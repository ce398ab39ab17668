"""myloader --mysqldump analogue: convert a mysqldump-format .sql file into
a first-class dump directory (reference layout + manifest), then verify and
restore it through the normal paths."""

from __future__ import annotations

import json
import os

import pytest

from mydumper_spark.engine import import_mysqldump, restore
from mydumper_spark.sinks.manifest import read_manifest, verify_manifest

#: a faithful mysqldump 8.0 excerpt: version-gated session SETs, CREATE
#: DATABASE with gated IF NOT EXISTS, LOCK/UNLOCK, extended INSERTs with
#: hostile values, an empty table, a view STAND-IN (/*!50001 CREATE TABLE)
#: followed by the real CREATE VIEW, and a DELIMITER-wrapped trigger
MYSQLDUMP = r"""-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)
/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;
/*!40103 SET TIME_ZONE='+00:00' */;

CREATE DATABASE /*!32312 IF NOT EXISTS*/ `shop` /*!40100 DEFAULT CHARACTER SET utf8mb4 */;

USE `shop`;

DROP TABLE IF EXISTS `customer`;
/*!40101 SET @saved_cs_client     = @@character_set_client */;
CREATE TABLE `customer` (
  `id` int unsigned NOT NULL AUTO_INCREMENT,
  `name` varchar(50) NOT NULL,
  `balance` decimal(10,2) DEFAULT NULL,
  `joined` datetime DEFAULT NULL,
  `note` text,
  PRIMARY KEY (`id`),
  KEY `idx_name` (`name`)
) ENGINE=InnoDB AUTO_INCREMENT=4 DEFAULT CHARSET=utf8mb4;

LOCK TABLES `customer` WRITE;
/*!40000 ALTER TABLE `customer` DISABLE KEYS */;
INSERT INTO `customer` VALUES (1,'Alice; \'quoted\'',100.50,'2024-01-02 03:04:05','line\nbreak'),(2,'Bob (paren, comma)',NULL,NULL,NULL),(3,'NULL',0.00,'2023-12-31 23:59:59','semi;colon');
/*!40000 ALTER TABLE `customer` ENABLE KEYS */;
UNLOCK TABLES;

DROP TABLE IF EXISTS `orders`;
CREATE TABLE `orders` (
  `oid` bigint NOT NULL,
  `cust` int DEFAULT NULL,
  `total` double DEFAULT NULL,
  PRIMARY KEY (`oid`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;

LOCK TABLES `orders` WRITE;
INSERT INTO `orders` VALUES (10,1,9.99),(11,2,0);
INSERT INTO `orders` VALUES (12,3,-5.25);
UNLOCK TABLES;

DROP TABLE IF EXISTS `emptytab`;
CREATE TABLE `emptytab` (
  `x` int DEFAULT NULL
) ENGINE=InnoDB;

DROP TABLE IF EXISTS `big_spenders`;
/*!50001 DROP VIEW IF EXISTS `big_spenders`*/;
/*!50001 CREATE TABLE `big_spenders` (
 `id` tinyint NOT NULL,
 `name` tinyint NOT NULL
) ENGINE=MyISAM */;

DELIMITER ;;
/*!50003 CREATE*/ /*!50017 DEFINER=`root`@`localhost`*/ /*!50003 TRIGGER `trg_bal` BEFORE INSERT ON `customer` FOR EACH ROW BEGIN SET NEW.balance = IFNULL(NEW.balance, 0); END */;;
DELIMITER ;

/*!50001 DROP TABLE IF EXISTS `big_spenders`*/;
/*!50001 CREATE ALGORITHM=UNDEFINED DEFINER=`root`@`localhost` SQL SECURITY DEFINER VIEW `big_spenders` AS select `customer`.`id` AS `id`,`customer`.`name` AS `name` from `customer` where (`customer`.`balance` > 50) */;

/*!40103 SET TIME_ZONE=@OLD_TIME_ZONE */;

-- Dump completed on 2026-08-15 10:00:00
"""


@pytest.fixture()
def converted(spark, tmp_path):
    src = tmp_path / "dump.sql"
    src.write_text(MYSQLDUMP)
    out = str(tmp_path / "converted")
    manifest = import_mysqldump(spark, str(src), out)
    return manifest, out


def test_import_mysqldump_tables_and_objects(spark, converted):
    manifest, out = converted
    assert {k: e.rows for k, e in manifest.tables.items()} == {
        "shop.customer": 3, "shop.orders": 3, "shop.emptytab": 0}
    # view stand-in never becomes a table; the real view is an object
    objs = {(o["kind"], o["name"]) for o in manifest.objects}
    assert objs == {("trigger", "trg_bal"), ("view", "big_spenders")}
    # object DDL is replayable: no version-gate debris (/*!NNNNN or */)
    for o in manifest.objects:
        with open(o["path"]) as f:
            raw = f.read()
        assert "/*!" not in raw and "*/" not in raw, raw
    # reference layout on disk: db.table.NNNNN.sql + db.table-schema.sql
    # + db-schema-create.sql + INI metadata
    names = set(os.listdir(out))
    assert {"shop.customer.00000.sql", "shop.customer-schema.sql",
            "shop-schema-create.sql", "metadata"} <= names
    # the imported dump is a first-class dump: checksums verify
    v = verify_manifest(spark, out)
    assert v["shop.customer"]["ok"] and v["shop.orders"]["ok"]
    # an empty table has no rows to checksum (engine-wide convention:
    # zero-row checksums record None) — unverifiable, never False
    assert v["shop.emptytab"]["ok"] is not False
    # indexes/PK survived into the replayable descriptor (L6/L7 inputs)
    doc = read_manifest(out)
    sd = doc["tables"]["shop.customer"]["schema_def"]
    assert sd["primary_key"] == ["id"]
    assert [i["name"] for i in sd["indexes"]] == ["idx_name"]


def test_import_mysqldump_restores_exact_values(spark, converted):
    import datetime
    from decimal import Decimal

    _, out = converted
    target = out + "_restored"
    results = restore(spark, out, target)
    assert all(results["load"].values()) and all(results["verify"].values())
    # parquet target has no trigger/view engine: recorded, never dropped
    # (database-qualified — the same key convention as POST-phase jobs)
    assert set(results["ddl"]["skipped_objects"]) == {
        "trigger:shop.trg_bal", "view:shop.big_spenders"}
    rows = (spark.read.parquet(os.path.join(target, "shop.customer.parquet"))
            .orderBy("id").collect())
    assert [r["name"] for r in rows] == [
        "Alice; 'quoted'", "Bob (paren, comma)", "NULL"]
    assert rows[0]["balance"] == Decimal("100.50")
    assert rows[0]["joined"] == datetime.datetime(2024, 1, 2, 3, 4, 5)
    assert rows[0]["note"] == "line\nbreak"
    assert rows[1]["balance"] is None and rows[1]["note"] is None
    assert rows[2]["name"] == "NULL"  # the STRING, not SQL NULL


def test_import_mysqldump_no_create_info_is_loud(spark, tmp_path):
    src = tmp_path / "nocreate.sql"
    src.write_text("USE `d`;\nINSERT INTO `t` VALUES (1),(2);\n")
    with pytest.raises(ValueError, match="no CREATE TABLE"):
        import_mysqldump(spark, str(src), str(tmp_path / "out"))


def test_import_mysqldump_cli(spark, tmp_path, capsys):
    from mydumper_spark.cli import main

    src = tmp_path / "cli.sql"
    src.write_text(MYSQLDUMP)
    out = str(tmp_path / "cliout")
    rc = main(["import-mysqldump", str(src), "-o", out])
    assert rc == 0
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["tables"]["shop.customer"] == 3
    assert sorted(doc["objects"]) == ["trigger:trg_bal",
                                      "view:big_spenders"]


def test_restore_stream_mysqldump_pipe(tmp_path):
    """myloader --stream --mysqldump, end to end over a real pipe: a raw
    mysqldump script on stdin converts into the dump dir and restores to
    a parquet target in one command."""
    import subprocess
    import sys

    src = tmp_path / "pipe.sql"
    src.write_text(MYSQLDUMP)
    d = str(tmp_path / "converted")
    target = str(tmp_path / "restored")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH="/root/repo")
    with open(src, "rb") as stdin:
        r = subprocess.run(
            [sys.executable, "-m", "mydumper_spark", "restore",
             "-d", d, "--target", target, "--stream", "--mysqldump",
             "--threads", "4"],
            stdin=stdin, capture_output=True, text=True, env=env,
            timeout=600,
        )
    assert r.returncode == 0, r.stderr[-2000:]
    results = json.loads(r.stdout.strip().splitlines()[-1])
    assert results["load"] == {"shop.customer": True, "shop.orders": True,
                               "shop.emptytab": True}
    assert os.path.exists(os.path.join(target, "shop.customer.parquet"))


def test_import_mysqldump_insert_ignore_and_replace(spark, tmp_path):
    """Round-trip statement shapes the splitter did not write itself:
    mysqldump --insert-ignore emits INSERT IGNORE INTO, --replace emits
    REPLACE INTO (reference mydumper_working_thread.h:22-24 carries all
    three shapes) — both must parse to the same typed rows as plain
    INSERT."""
    dump_sql = (
        "USE `d`;\n"
        "CREATE TABLE `t` (\n"
        "  `id` int NOT NULL,\n"
        "  `v` varchar(20) DEFAULT NULL,\n"
        "  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n"
        "INSERT IGNORE INTO `t` VALUES (1,'ig;nored'),(2,NULL);\n"
        "REPLACE INTO `t` VALUES (3,'re\\'placed');\n"
    )
    src = tmp_path / "shapes.sql"
    src.write_text(dump_sql)
    out = str(tmp_path / "shapes_out")
    manifest = import_mysqldump(spark, str(src), out)
    assert manifest.tables["d.t"].rows == 3
    target = out + "_restored"
    results = restore(spark, out, target)
    assert results["verify"] == {"d.t": True}
    rows = (spark.read.parquet(os.path.join(target, "d.t.parquet"))
            .orderBy("id").collect())
    assert [(r["id"], r["v"]) for r in rows] == [
        (1, "ig;nored"), (2, None), (3, "re'placed")]


def test_import_mysqldump_multiline_insert_flattens_with_warning(
        spark, tmp_path):
    """An INSERT spanning physical lines (pretty-printed input) flattens
    safely — values escape literal newlines, so joining lines cannot
    corrupt data — and the splitter COUNTS it and warns instead of
    rewriting silently."""
    import warnings as _warnings

    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    dump_sql = (
        "USE `d`;\n"
        "CREATE TABLE `t` (\n"
        "  `id` int NOT NULL,\n"
        "  `v` varchar(40) DEFAULT NULL\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `t`\nVALUES\n(1,'multi\\nline'),\n(2,'plain');\n"
        "INSERT INTO `t` VALUES (3,'oneline');\n"
    )
    src = tmp_path / "pretty.sql"
    src.write_text(dump_sql)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        res = split_mysqldump(str(src), str(tmp_path / "pretty_out"))
    assert res.flattened_inserts == 1
    assert any("flattened" in str(w.message) for w in caught)

    out = str(tmp_path / "pretty_dump")
    manifest = import_mysqldump(spark, str(src), out)
    assert manifest.tables["d.t"].rows == 3
    target = out + "_restored"
    restore(spark, out, target)
    rows = (spark.read.parquet(os.path.join(target, "d.t.parquet"))
            .orderBy("id").collect())
    # the ESCAPED \n survives as a real newline; the physical line breaks
    # between tuples were pure formatting
    assert [(r["id"], r["v"]) for r in rows] == [
        (1, "multi\nline"), (2, "plain"), (3, "oneline")]


def test_split_mysqldump_nonascii_under_c_locale(tmp_path):
    """Non-ASCII INSERT data must split cleanly regardless of the process
    locale (C/POSIX in containers): every output handle opens utf-8
    explicitly, so the split never depends on locale defaults."""
    import subprocess
    import sys

    dump_sql = (
        "USE `d`;\n"
        "CREATE TABLE `t` (\n"
        "  `id` int NOT NULL,\n"
        "  `v` varchar(40) DEFAULT NULL\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `t` VALUES (1,'héllo wörld — 你好'),(2,'ASCII');\n"
    )
    src = tmp_path / "uni.sql"
    src.write_text(dump_sql, encoding="utf-8")
    out = tmp_path / "uni_out"
    # a child process with LC_ALL=C reproduces the cron/daemon environment
    code = (
        "from mydumper_spark.sources.mysqldump_reader import split_mysqldump\n"
        f"r = split_mysqldump({str(src)!r}, {str(out)!r})\n"
        "assert r.tables['d.t']['data_path']\n"
        "print('OK')\n"
    )
    env = dict(os.environ, LC_ALL="C", LANG="C", PYTHONPATH="/root/repo",
               PYTHONIOENCODING="utf-8")
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, env=env, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    data = (out / "d.t.00000.sql").read_bytes().decode("utf-8")
    assert "héllo wörld — 你好" in data


def test_flatten_preserves_in_value_newlines(spark, tmp_path):
    """A REAL newline inside a quoted value (hand-written SQL — mysqldump
    itself always escapes them) must survive the one-statement-per-line
    rewrite: it re-escapes to \\n for the line parser, which restores it
    exactly; formatting newlines between tuples become spaces."""
    from mydumper_spark.sources.mysqldump_reader import _flatten_statement

    flat = _flatten_statement("INSERT INTO `t`\nVALUES\n(1,'a\nb'),\n(2,'c')")
    assert flat == "INSERT INTO `t` VALUES (1,'a\\nb'), (2,'c')"
    # backslash escapes already in the text are not double-processed
    assert _flatten_statement("(1,'x\\ny')") == "(1,'x\\ny')"

    dump_sql = (
        "USE `d`;\n"
        "CREATE TABLE `t` (\n"
        "  `id` int NOT NULL,\n"
        "  `v` varchar(40) DEFAULT NULL\n"
        ") ENGINE=InnoDB;\n"
        "INSERT INTO `t` VALUES (1,'real\nnewline'),\n(2,'plain');\n"
    )
    src = tmp_path / "realnl.sql"
    src.write_text(dump_sql)
    out = str(tmp_path / "realnl_out")
    manifest = import_mysqldump(spark, str(src), out)
    assert manifest.tables["d.t"].rows == 2
    target = out + "_restored"
    restore(spark, out, target)
    rows = (spark.read.parquet(os.path.join(target, "d.t.parquet"))
            .orderBy("id").collect())
    assert [(r["id"], r["v"]) for r in rows] == [
        (1, "real\nnewline"), (2, "plain")]


def test_import_mysqldump_randomized_multischema_hostile(spark, tmp_path):
    """Seeded randomized import: TWO schemas with a same-named table each,
    hostile values (NUL, SUB, newlines, quotes, backslashes, unicode) in
    randomly-batched extended INSERTs — import → restore must reproduce
    each schema's exact row set with no cross-schema bleed (the silent-
    union defect class the db-aware chunk matching fixed)."""
    import random

    from mydumper_spark.engine import import_mysqldump, restore

    esc_map = (("\\", "\\\\"), ("'", "\\'"), ("\x00", "\\0"),
               ("\n", "\\n"), ("\r", "\\r"), ("\x1a", "\\Z"))

    def esc(s):
        for raw, e in esc_map:
            s = s.replace(raw, e)
        return s

    hostile = ["", "NULL", "a'b", 'a"b', "a\\b", "line\nbreak", "),(",
               "ключ 中文", "0x41", ";drop", "\\'", "\r", "\x1a", "nul\x00b"]
    rng = random.Random(5)
    script = ["-- MySQL dump 10.13  Distrib 8.0.36",
              "/*!40101 SET NAMES utf8mb4 */;"]
    expected: dict[tuple[str, str], set] = {}
    for si in range(2):
        db = f"db{si}"
        script += [f"CREATE DATABASE /*!32312 IF NOT EXISTS*/ `{db}`;",
                   f"USE `{db}`;"]
        for t in ("t_shared", f"t_only{si}"):
            script += [f"DROP TABLE IF EXISTS `{t}`;",
                       f"CREATE TABLE `{t}` (\n  `id` bigint NOT NULL,\n"
                       "  `v` text,\n  `num` int DEFAULT NULL,\n"
                       "  PRIMARY KEY (`id`)\n) ENGINE=InnoDB;"]
            rows = [(i, rng.choice([None] + hostile),
                     rng.choice([None, rng.randint(-10**6, 10**6)]))
                    for i in range(rng.randint(3, 25))]
            expected[(db, t)] = set(rows)
            i = 0
            while i < len(rows):
                batch = rows[i:i + rng.randint(1, 7)]
                i += len(batch)
                vals = ",".join(
                    "(%d,%s,%s)" % (
                        r[0],
                        "NULL" if r[1] is None else "'" + esc(r[1]) + "'",
                        "NULL" if r[2] is None else str(r[2]))
                    for r in batch)
                script.append(f"INSERT INTO `{t}` VALUES {vals};")
    src = tmp_path / "fuzz.sql"
    src.write_text("\n".join(script) + "\n", encoding="utf-8")
    out = str(tmp_path / "conv")
    import_mysqldump(spark, str(src), out)
    tgt = str(tmp_path / "tgt")
    restore(spark, out, tgt)
    for (db, t), want in expected.items():
        cands = [p for p in os.listdir(tgt) if p.startswith(f"{db}.{t}")]
        assert cands, (db, t, os.listdir(tgt))
        got = {tuple(r) for r in
               spark.read.parquet(os.path.join(tgt, cands[0])).collect()}
        assert got == want, (db, t, list(got ^ want)[:4])


def test_split_mysqldump_non_utf8_ddl_survives(tmp_path):
    """A latin1-encoded foreign dump whose DDL carries raw non-UTF-8
    bytes (COMMENT 'café' as 0xE9) must split without crashing and keep
    the bytes byte-for-byte (round 11: surrogateescape pairs the input
    read with every artifact write — a strict utf-8 write would raise
    UnicodeEncodeError on the lone surrogate and abort the split)."""
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    p = str(tmp_path / "latin1.sql")
    raw = (b"CREATE DATABASE `ld`;\nUSE `ld`;\n"
           b"CREATE TABLE `t` (`id` int COMMENT 'caf\xe9');\n"
           b"INSERT INTO `t` VALUES (1);\n"
           b"CREATE VIEW `v` AS SELECT id FROM t; -- vue caf\xe9\n")
    with open(p, "wb") as f:
        f.write(raw)
    out = str(tmp_path / "split")
    os.makedirs(out, exist_ok=True)
    res = split_mysqldump(p, out)
    entry = res.tables["ld.t"]
    with open(entry["schema_path"], "rb") as f:
        assert b"caf\xe9" in f.read()  # DDL bytes preserved, not U+FFFD
    assert [o["name"] for o in res.objects] == ["v"]


def test_import_mydumper_dir_end_to_end(spark, tmp_path):
    """import_mydumper_dir (round 12 — the myloader -d analogue): a
    hand-built GENUINE mydumper layout (metadata, db-schema-create.sql,
    db.table-schema.sql, NNNNN.sql INSERT chunks, a view stand-in +
    real view artifact with the reference DROP preamble, a schema-only
    table, a db-schema-post.sql routine bundle) imports zero-copy into a
    first-class dump dir: the stand-in never becomes a table, chunks
    type/count/checksum through the INSERT parser, metadata row counts
    cross-check, and restore replays it into DuckDB — view included."""
    import duckdb

    from mydumper_spark.engine import import_mydumper_dir, restore

    src = tmp_path / "genuine"
    src.mkdir()
    (src / "metadata").write_text(
        "# Started dump at: 2024-01-01 00:00:00\n"
        "[config]\nquote-character = BACKTICK\n\n"
        "[`shop`.`customer`]\nreal_table_name=customer\nrows = 3\n\n"
        "[`shop`.`ld`]\nreal_table_name=ld\nrows = 4\n\n"
        "[`shop`.`empty_t`]\nreal_table_name=empty_t\nrows = 0\n\n"
        "# Finished dump at: 2024-01-01 00:01:00\n")
    (src / "shop-schema-create.sql").write_text(
        "CREATE DATABASE /*!32312 IF NOT EXISTS*/ `shop`;\n")
    (src / "shop.customer-schema.sql").write_text(
        "CREATE TABLE `customer` (\n"
        "  `id` int NOT NULL,\n  `name` varchar(40),\n"
        "  `bal` decimal(10,2),\n  PRIMARY KEY (`id`)\n"
        ") ENGINE=InnoDB;\n")
    (src / "shop.customer.00000.sql").write_text(
        "INSERT INTO `customer` VALUES "
        "(1,'Ann; \\'q\\'',10.50),(2,'Bob',NULL);\n")
    (src / "shop.customer.00001.sql").write_text(
        "INSERT INTO `customer` VALUES (3,'semi;colon',0.00);\n")
    (src / "shop.empty_t-schema.sql").write_text(
        "CREATE TABLE `empty_t` (`k` bigint NOT NULL);\n")
    # view: stand-in CREATE TABLE + real artifact with the DROP preamble
    (src / "shop.rich-schema.sql").write_text(
        "CREATE TABLE IF NOT EXISTS `rich`(\n`id` int,\n`bal` decimal"
        "\n) ENGINE=MEMORY;\n")
    # preamble backticked exactly as mydumper writes it (the strip must
    # consume it); the CREATE body is dialect-neutral so the DuckDB
    # target can replay it (a backticked body is MySQL DDL for a MySQL
    # target — dialect translation of view bodies is out of scope)
    (src / "shop.rich-schema-view.sql").write_text(
        "DROP TABLE IF EXISTS `rich`;\nDROP VIEW IF EXISTS `rich`;\n"
        "CREATE VIEW rich AS SELECT id, bal FROM customer "
        "WHERE bal > 1;\n")
    (src / "shop-schema-post.sql").write_text(
        "CREATE PROCEDURE p1() BEGIN SELECT 1; END;\n")
    # a --load-data table: the same-numbered .sql holds the LOAD DATA
    # statement (NOT rows), the .dat chunks hold tab-separated payload
    # with mysql_real_escape two-char sequences (\n), the escaped
    # terminator (backslash + real tab), escaped backslashes, and \N
    (src / "shop.ld-schema.sql").write_text(
        "CREATE TABLE `ld` (\n  `id` int NOT NULL,\n"
        "  `txt` varchar(60),\n  `amt` decimal(8,2)\n) ENGINE=InnoDB;\n")
    (src / "shop.ld.00000.sql").write_text(
        "LOAD DATA LOCAL INFILE 'shop.ld.00000.dat' REPLACE INTO TABLE "
        "`ld` CHARACTER SET utf8mb4 FIELDS TERMINATED BY '\\t' "
        "ENCLOSED BY '' ESCAPED BY '\\\\' LINES TERMINATED BY '\\n' "
        "(`id`,`txt`,`amt`);\n")
    (src / "shop.ld.00000.dat").write_text(
        "1\tline\\nbreak\t10.50\n"
        "2\ttab\\\there\t0.25\n"
        "3\tback\\\\slash\t\\N\n")
    (src / "shop.ld.00001.dat").write_text("4\tplain\t1.00\n")

    out = str(tmp_path / "adopted")
    m = import_mydumper_dir(spark, str(src), out)
    # tables: data + schema-only; the stand-in is NOT a table
    assert set(m.tables) == {"customer", "empty_t", "ld"}
    assert m.tables["ld"].rows == 4  # both .dat chunks; .sql stmt != rows
    assert m.csv_dialect["fields_terminated_by"] == "\t"
    assert m.csv_dialect["load_data_escapes"] is True
    assert m.tables["customer"].rows == 3
    assert m.tables["customer"].data_checksum
    assert m.tables["empty_t"].rows == 0
    assert [(o["kind"], o["name"]) for o in m.objects] == [("view", "rich")]
    assert "shop-schema-post.sql" in m.source_info[
        "post_files_import_manually"]
    assert "row_mismatches" not in m.source_info
    # zero-copy: adopted chunks are hardlinks of the source files
    assert os.path.samefile(str(src / "shop.customer.00000.sql"),
                            os.path.join(out, "shop.customer.00000.sql"))

    # the adopted dir restores like any native dump — view included
    target = str(tmp_path / "t.duckdb")

    def ddl_executor(sql):
        c = duckdb.connect(target)
        try:
            c.execute(sql)
            c.execute("CHECKPOINT")
        finally:
            c.close()

    results = restore(spark, out, f"jdbc:duckdb:{target}", parallelism=1,
                      jdbc_properties={"driver": "org.duckdb.DuckDBDriver"},
                      ddl_executor=ddl_executor, jdbc_num_partitions=1)
    assert results["load"]["customer"] is True
    assert results["load"]["ld"] is True and results["verify"]["ld"] is True
    assert results["verify"]["customer"] is True
    assert results["ddl"]["post"] == {"view:rich": True}
    con = duckdb.connect(target)
    assert con.execute(
        "SELECT name FROM customer ORDER BY id").fetchall() == [
        ("Ann; 'q'",), ("Bob",), ("semi;colon",)]
    assert con.execute("SELECT count(*) FROM empty_t").fetchone() == (0,)
    ld = dict(con.execute("SELECT id, txt FROM ld ORDER BY id").fetchall())
    assert ld == {1: "line\nbreak", 2: "tab\there", 3: "back\\slash",
                  4: "plain"}
    assert con.execute(
        "SELECT amt FROM ld WHERE id = 3").fetchone() == (None,)
    assert con.execute(
        "SELECT id FROM rich ORDER BY id").fetchall() == [(1,)]
    con.close()
    # source dir untouched (no sidecars, no manifest leaked into it)
    assert sorted(os.listdir(str(src))) == [
        "metadata", "shop-schema-create.sql", "shop-schema-post.sql",
        "shop.customer-schema.sql", "shop.customer.00000.sql",
        "shop.customer.00001.sql", "shop.empty_t-schema.sql",
        "shop.ld-schema.sql", "shop.ld.00000.dat", "shop.ld.00000.sql",
        "shop.ld.00001.dat", "shop.rich-schema-view.sql",
        "shop.rich-schema.sql"]


def test_import_mydumper_dir_row_mismatch_warns(spark, tmp_path):
    """A truncated/edited genuine dump (metadata rows != chunk rows) must
    not import silently clean: the mismatch lands in source_info AND a
    warning fires."""
    import warnings as _warnings

    from mydumper_spark.engine import import_mydumper_dir

    src = tmp_path / "trunc"
    src.mkdir()
    (src / "metadata").write_text(
        "[config]\nquote-character = BACKTICK\n\n"
        "[`shop`.`t`]\nreal_table_name=t\nrows = 5\n")
    (src / "shop.t-schema.sql").write_text(
        "CREATE TABLE `t` (`id` int NOT NULL);\n")
    (src / "shop.t.00000.sql").write_text(
        "INSERT INTO `t` VALUES (1),(2);\n")
    with _warnings.catch_warnings(record=True) as got:
        _warnings.simplefilter("always")
        m = import_mydumper_dir(spark, str(src), str(tmp_path / "o"))
    assert "metadata says 5, chunks hold 2" in m.source_info[
        "row_mismatches"]
    assert any("row counts disagree" in str(w.message) for w in got)


def test_import_dump_dir_cli(spark, tmp_path, capsys):
    from mydumper_spark.cli import main

    src = tmp_path / "g2"
    src.mkdir()
    (src / "metadata").write_text(
        "[config]\nquote-character = BACKTICK\n\n"
        "[`s`.`t`]\nreal_table_name=t\nrows = 2\n")
    (src / "s.t-schema.sql").write_text(
        "CREATE TABLE `t` (`id` int NOT NULL);\n")
    (src / "s.t.00000.sql").write_text("INSERT INTO `t` VALUES (1),(2);\n")
    out = str(tmp_path / "g2out")
    rc = main(["import-dump-dir", str(src), "-o", out])
    assert rc == 0
    doc = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert doc["tables"] == {"t": 2} and "row_mismatches" not in doc


def test_csvformat_from_load_data_clauses():
    """The LOAD DATA dialect recovery parses non-default clauses (the
    --csv shape: comma + double-quote enclosure) and decodes escaped
    clause values; absent clauses fall back to the reference LOAD_DATA
    defaults (mydumper_write.c:283-312)."""
    from mydumper_spark.sinks.writers import csvformat_from_load_data

    f = csvformat_from_load_data(
        "LOAD DATA LOCAL INFILE 'x.dat' INTO TABLE `t` CHARACTER SET "
        "utf8mb4 FIELDS TERMINATED BY ',' ENCLOSED BY '\"' ESCAPED BY "
        "'\\\\' LINES STARTING BY '' TERMINATED BY '\\n' (`a`,`b`);")
    assert (f.fields_terminated_by, f.fields_enclosed_by,
            f.fields_escaped_by, f.lines_terminated_by) == (
        ",", '"', "\\", "\n")
    assert f.load_data_escapes and not f.escaped_data
    d = csvformat_from_load_data("")  # no statement: LOAD_DATA defaults
    assert (d.fields_terminated_by, d.fields_enclosed_by,
            d.lines_terminated_by) == ("\t", "", "\n")


def test_import_mydumper_dir_sequences_and_gz_chunks(spark, tmp_path):
    """Genuine-layout refinements (round 12): a MariaDB sequence —
    metadata is_sequence + CREATE SEQUENCE in the plain -schema.sql —
    becomes a POST-phase object (it was silently dropped before), and
    gzip-compressed chunks (-c dumps) import through Spark's native
    codec."""
    import gzip

    from mydumper_spark.engine import import_mydumper_dir

    src = tmp_path / "gseq"
    src.mkdir()
    (src / "metadata").write_text(
        "[config]\nquote-character = BACKTICK\n\n"
        "[`s`.`t`]\nreal_table_name=t\nrows = 3\n\n"
        "[`s`.`seq1`]\nreal_table_name=seq1\nrows = 0\nis_sequence = 1\n")
    (src / "s.t-schema.sql").write_text(
        "CREATE TABLE `t` (\n  `id` int NOT NULL\n);\n")
    with gzip.open(src / "s.t.00000.sql.gz", "wt") as f:
        f.write("INSERT INTO `t` VALUES (1),(2);\n")
    with gzip.open(src / "s.t.00001.sql.gz", "wt") as f:
        f.write("INSERT INTO `t` VALUES (3);\n")
    (src / "s.seq1-schema.sql").write_text(
        "CREATE SEQUENCE `seq1` START WITH 7 INCREMENT BY 1;\n"
        "DO SETVAL(`seq1`, 41, 0);\n")

    m = import_mydumper_dir(spark, str(src), str(tmp_path / "gout"))
    assert set(m.tables) == {"t"}          # the sequence is NOT a table
    assert m.tables["t"].rows == 3         # both .gz chunks parsed
    assert m.tables["t"].path.endswith(".00000.sql.gz")
    assert [(o["kind"], o["name"]) for o in m.objects] == [
        ("sequence", "seq1")]
    with open(m.objects[0]["path"]) as f:
        assert "CREATE SEQUENCE" in f.read()


def test_import_mydumper_dir_review_fixes(spark, tmp_path):
    """Round-12 review fixes over the importer, pinned: (1) multi-db
    import never rewrites the SOURCE schema artifact through a hardlink
    (live-reproduced: _attach_schema_artifact's 'w' open truncated the
    shared inode); (2) a genuine multi-trigger artifact splits into one
    object per trigger under the TRIGGER's name; (3) the truncation
    cross-check fires even under checksum=False; (4) a gzip LOAD DATA
    statement sibling still yields the real dialect."""
    import gzip
    import warnings as _warnings

    from mydumper_spark.engine import import_mydumper_dir

    src = tmp_path / "multi"
    src.mkdir()
    (src / "metadata").write_text(
        "[config]\nquote-character = BACKTICK\n\n"
        "[`d1`.`t`]\nreal_table_name=t\nrows = 1\n\n"
        "[`d2`.`u`]\nreal_table_name=u\nrows = 9\n")  # u really holds 1
    ddl_t = "CREATE TABLE `t` (\n  `id` int NOT NULL\n);"  # NO newline end
    (src / "d1.t-schema.sql").write_text(ddl_t)
    (src / "d1.t.00000.sql").write_text("INSERT INTO `t` VALUES (1);\n")
    (src / "d2.u-schema.sql").write_text(
        "CREATE TABLE `u` (\n  `id` int NOT NULL\n);")
    (src / "d2.u.00000.sql").write_text("INSERT INTO `u` VALUES (7);\n")
    (src / "d1.t-schema-triggers.sql").write_text(
        "CREATE DEFINER=`root`@`localhost` TRIGGER `t_bi` BEFORE INSERT "
        "ON `t` FOR EACH ROW SET NEW.id = NEW.id;\n"
        "CREATE TRIGGER `t_bu` BEFORE UPDATE ON `t` FOR EACH ROW "
        "SET NEW.id = NEW.id;\n")
    # load-data table whose statement sibling is gzip (-c dump)
    (src / "d1.ld-schema.sql").write_text(
        "CREATE TABLE `ld` (\n  `id` int NOT NULL,\n  `v` varchar(10)\n);")
    with gzip.open(src / "d1.ld.00000.sql.gz", "wt") as f:
        f.write("LOAD DATA LOCAL INFILE 'd1.ld.00000.dat' INTO TABLE `ld` "
                "FIELDS TERMINATED BY ',' ENCLOSED BY '\"' ESCAPED BY "
                "'\\\\' LINES TERMINATED BY '\\n' (`id`,`v`);\n")
    with gzip.open(src / "d1.ld.00000.dat.gz", "wt") as f:
        f.write('5,"x\\\\ny"\n')   # literal backslash-n INSIDE quotes

    before = (src / "d1.t-schema.sql").read_bytes()
    with _warnings.catch_warnings(record=True) as got:
        _warnings.simplefilter("always")
        m = import_mydumper_dir(spark, str(src), str(tmp_path / "mout"),
                                checksum=False)
    # (1) source pristine, byte-for-byte, in multi-db mode
    assert (src / "d1.t-schema.sql").read_bytes() == before
    # (2) one object per trigger, each under its own name
    trigs = sorted((o["name"], o["table"]) for o in m.objects
                   if o["kind"] == "trigger")
    assert trigs == [("t_bi", "t"), ("t_bu", "t")]
    # (3) truncation check fires under checksum=False too
    assert "d2.u: metadata says 9, chunks hold 1" in m.source_info[
        "row_mismatches"]
    assert any("row counts disagree" in str(w.message) for w in got)
    # (4) the gz statement yielded the comma+quote dialect, and the
    # ESCAPED backslash before 'n' decodes to a LITERAL backslash —
    # under the old csv-tokenizer route univocity collapsed the pair
    # first and our decode then minted a bogus newline (the live-repro)
    assert m.csv_dialect["fields_terminated_by"] == ","
    assert m.tables["d1.ld"].rows == 1
    from mydumper_spark.sinks.manifest import read_dumped_table, read_manifest
    doc = read_manifest(str(tmp_path / "mout"))
    df = read_dumped_table(spark, doc["tables"]["d1.ld"],
                           csv_dialect=doc["config"]["csv_dialect"])
    assert df.collect()[0]["v"] == "x\\ny"


def test_load_data_payload_escape_matrix(spark, tmp_path):
    """_read_load_data_payload semantics, pinned directly: quoted --csv
    values keep literal backslashes distinct from encoded control chars
    (the double-decode live-repro), ESCAPED BY '' decodes NOTHING, and
    the unconditional \\N NULL sentinel survives both modes."""
    from pyspark.sql import types as T

    from mydumper_spark.sinks.writers import CsvFormat, read_csv_typed

    sch = T.StructType([T.StructField("id", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    p1 = str(tmp_path / "quoted.00000.dat")
    with open(p1, "w") as f:
        # 'C:\new' on disk is "C:\\new"; an encoded newline is "\n"
        f.write('1,"C:\\\\new"\n2,"a\\nb"\n3,\\N\n4,"q\\"in"\n')
    fmt = CsvFormat(fields_terminated_by=",", fields_enclosed_by='"',
                    fields_escaped_by="\\", escaped_data=False,
                    load_data_escapes=True)
    got = {r["id"]: r["v"] for r in
           read_csv_typed(spark, [p1], sch, fmt).collect()}
    assert got == {1: "C:\\new", 2: "a\nb", 3: None, 4: 'q"in'}

    # the rest of mysql_real_escape_string's alphabet
    # (mydumper_write.c:665-668): \0 \b \Z must decode to NUL/backspace/
    # ctrl-Z — the r13-verdict hole where a genuine dump of control bytes
    # read back as the literal two-char sequences and the checksum
    # self-validated the corruption. Rows 6-8 are the sentinel-collision
    # adversaries: a decoded NUL followed by a literal B/S/T/P letter, and
    # an encoded backspace/ctrl-Z adjacent to a NUL — none may re-fire a
    # later sentinel restore.
    p1b = str(tmp_path / "ctrl.00000.dat")
    with open(p1b, "w") as f:
        f.write('5,"a\\0b\\bc\\Zd"\n'
                '6,"\\0B\\0S\\0T\\0P"\n'
                '7,"\\b\\0\\Z\\0"\n'
                '8,"x\\0\\,y"\n')
    gotb = {r["id"]: r["v"] for r in
            read_csv_typed(spark, [p1b], sch, fmt).collect()}
    assert gotb == {5: "a\x00b\x08c\x1ad",
                    6: "\x00B\x00S\x00T\x00P",
                    7: "\x08\x00\x1a\x00",
                    8: "x\x00,y"}

    # ESCAPED BY '': nothing was escaped, nothing decodes (except the
    # writer's unconditional \N sentinel)
    p2 = str(tmp_path / "noesc.00000.dat")
    with open(p2, "w") as f:
        f.write('1\traw\\nstays\n2\t\\N\n')
    fmt2 = CsvFormat(fields_terminated_by="\t", fields_enclosed_by="",
                     fields_escaped_by="", escaped_data=False,
                     load_data_escapes=True)
    got2 = {r["id"]: r["v"] for r in
            read_csv_typed(spark, [p2], sch, fmt2).collect()}
    assert got2 == {1: "raw\\nstays", 2: None}


def test_split_trigger_artifact_shapes():
    """_split_trigger_artifact unit pins: DEFINER-wrapped and bare
    CREATE TRIGGER statements split under their own (backtick-unescaped)
    names; an artifact with no parseable CREATE TRIGGER falls back to
    one whole-artifact object instead of vanishing."""
    from mydumper_spark.engine import _split_trigger_artifact

    two = _split_trigger_artifact(
        "CREATE DEFINER=`r`@`h` TRIGGER `a``b` BEFORE INSERT ON `t` "
        "FOR EACH ROW SET @x = 1;\n"
        "CREATE TRIGGER plain AFTER UPDATE ON `t` FOR EACH ROW "
        "SET @y = 2;\n")
    assert [n for n, _ in two] == ["a`b", "plain"]
    assert all(s.startswith("CREATE") and not s.endswith(";")
               for _, s in two)
    fb = _split_trigger_artifact("-- comment only, nothing to replay")
    assert fb == [("__unparsed_triggers",
                   "-- comment only, nothing to replay")]


def test_load_data_payload_round13_fixes(spark, tmp_path):
    """Round-13 advice fixes over the .dat intake, pinned:
    (1) escapes-OFF + ENCLOSED dialect (the one load_data_escapes shape
        that stays on the csv tokenizer) decodes NOTHING — a literal
        two-byte '\\n' inside quotes survives the read byte-for-byte;
    (2) a multi-character --fields-terminated-by dump escapes only the
        terminator's FIRST byte (mydumper_write.c:668) and the payload
        reader parks/unparks exactly that byte."""
    from pyspark.sql import types as T

    from mydumper_spark.sinks.writers import CsvFormat, read_csv_typed

    sch = T.StructType([T.StructField("id", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    # (1) ESCAPED BY '' + quotes: nothing was escaped on write, so the
    # reader must not decode — the old code ran decode_load_data_escapes
    # here and silently minted a real newline from the two bytes \ n
    p1 = str(tmp_path / "noescq.00000.dat")
    with open(p1, "w") as f:
        f.write('1,"lit\\nstays"\n2,\\N\n')
    fmt1 = CsvFormat(fields_terminated_by=",", fields_enclosed_by='"',
                     fields_escaped_by="", escaped_data=False,
                     load_data_escapes=True)
    got1 = {r["id"]: r["v"] for r in
            read_csv_typed(spark, [p1], sch, fmt1).collect()}
    assert got1 == {1: "lit\\nstays", 2: None}

    # (2) term='||': the writer escapes each '|' as esc+'|' — never
    # esc+'||' — so 'a|b' is 'a\|b' and 'c||d' is 'c\|\|d' on disk
    p2 = str(tmp_path / "mterm.00000.dat")
    with open(p2, "w") as f:
        f.write('1||a\\|b\n2||c\\|\\|d\n3||\\N\n')
    fmt2 = CsvFormat(fields_terminated_by="||", fields_enclosed_by="",
                     fields_escaped_by="\\", escaped_data=False,
                     load_data_escapes=True)
    got2 = {r["id"]: r["v"] for r in
            read_csv_typed(spark, [p2], sch, fmt2).collect()}
    assert got2 == {1: "a|b", 2: "c||d", 3: None}


def test_load_data_header_ignore_lines(spark, tmp_path):
    """--include-header dumps (IGNORE 1 LINES, mydumper_write.c:531-532):
    the dialect recovery flips header on, the payload reader drops the
    reconstructed header line (enclosed names, terminator-joined —
    initialize_load_data_header, write.c:582-595) from EVERY chunk, the
    csv-tokenizer route drops it natively, and a foreign IGNORE n>1
    raises loudly instead of ingesting garbage."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from mydumper_spark.sinks.writers import (
        CsvFormat,
        csvformat_from_load_data,
        read_csv_typed,
    )

    stmt = ("LOAD DATA LOCAL INFILE 'x.dat' INTO TABLE `t` FIELDS "
            "TERMINATED BY ',' ENCLOSED BY '\"' ESCAPED BY '\\\\' "
            "LINES TERMINATED BY '\\n' IGNORE 1 LINES (`id`,`v`);")
    fmt = csvformat_from_load_data(stmt)
    assert fmt.header is True
    with _pytest.raises(ValueError, match="IGNORE 7 LINES"):
        csvformat_from_load_data(stmt.replace("IGNORE 1", "IGNORE 7"))

    sch = T.StructType([T.StructField("id", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    # payload route (escape active): header line per chunk file
    p1 = str(tmp_path / "hdr.00000.dat")
    with open(p1, "w") as f:
        f.write('"id","v"\n1,"a"\n')
    p2 = str(tmp_path / "hdr.00001.dat")
    with open(p2, "w") as f:
        f.write('"id","v"\n2,"b\\nc"\n')
    got = {r["id"]: r["v"] for r in
           read_csv_typed(spark, [p1, p2], sch, fmt).collect()}
    assert got == {1: "a", 2: "b\nc"}

    # csv-tokenizer route (escapes off + quotes): Spark's own header
    # machinery drops the first line per file
    p3 = str(tmp_path / "hdr2.00000.dat")
    with open(p3, "w") as f:
        f.write('"id","v"\n3,"z"\n')
    fmt2 = CsvFormat(fields_terminated_by=",", fields_enclosed_by='"',
                     fields_escaped_by="", escaped_data=False,
                     load_data_escapes=True, header=True)
    assert [(r["id"], r["v"]) for r in
            read_csv_typed(spark, [p3], sch, fmt2).collect()] == [(3, "z")]


def test_split_mysqldump_non_utf8_ddl_survives(spark, tmp_path):
    """A genuine old-MySQL dump can carry raw latin-1 bytes in CREATE
    TABLE comments/defaults; the splitter reads them byte-faithfully
    (surrogateescape) and _attach_schema_artifact must write and
    checksum them the same way — a strict UTF-8 encode aborted the
    whole import on the first such table (round-13 advice)."""
    p = tmp_path / "latin1.sql"
    p.write_bytes(
        b"CREATE TABLE `caf` (\n  `id` int NOT NULL,\n  `n` varchar(10)"
        b" DEFAULT NULL COMMENT 'caf\xe9 cr\xe8me'\n) ENGINE=InnoDB;\n"
        b"INSERT INTO `caf` VALUES (1,'x');\n")
    out = tmp_path / "l1out"
    m = import_mysqldump(spark, str(p), str(out))
    assert m.tables["caf"].rows == 1
    art = m.tables["caf"].schema_sql_path
    raw = open(art, "rb").read()
    assert b"caf\xe9 cr\xe8me" in raw          # bytes round-tripped
    assert m.tables["caf"].schema_sql_checksum  # checksum computed


def test_split_trigger_artifact_quote_aware():
    """A trigger body quoting 'CREATE TRIGGER' (single/double quotes,
    line and block comments) must not split mid-statement — only
    top-level boundaries count; executable /*! version comments still
    do (MySQL runs their contents)."""
    from mydumper_spark.engine import _split_trigger_artifact

    raw = (
        "CREATE TRIGGER `a` BEFORE INSERT ON `t` FOR EACH ROW "
        "SET NEW.note = 'audit: CREATE TRIGGER was here \\' quoted';\n"
        "-- line comment: CREATE TRIGGER not a boundary\n"
        "# hash comment: CREATE TRIGGER not a boundary\n"
        "/* block: CREATE TRIGGER not a boundary */\n"
        'CREATE TRIGGER `b` AFTER UPDATE ON `t` FOR EACH ROW '
        'SET @m = "dquotes CREATE TRIGGER", @k = 1;\n')
    got = _split_trigger_artifact(raw)
    assert [n for n, _ in got] == ["a", "b"]
    assert "CREATE TRIGGER was here" in got[0][1]   # body kept whole
    # a backtick identifier containing the phrase is not a boundary
    one = _split_trigger_artifact(
        "CREATE TRIGGER `weird CREATE TRIGGER name` BEFORE DELETE ON "
        "`t` FOR EACH ROW SET @x = 1;\n")
    assert [n for n, _ in one] == ["weird CREATE TRIGGER name"]
    # MySQL's comment rule: '--' needs following whitespace — `cnt--1`
    # is double negation, and a boundary later on that LINE is real
    dd = _split_trigger_artifact(
        "CREATE TRIGGER c1 BEFORE INSERT ON `t` FOR EACH ROW "
        "SET NEW.cnt = OLD.cnt--1; CREATE TRIGGER c2 AFTER INSERT ON "
        "`t` FOR EACH ROW SET @y = 2;\n")
    assert [n for n, _ in dd] == ["c1", "c2"]


def test_dat_read_ignores_future_dialect_keys(spark, tmp_path):
    """A NEWER engine version may record extra csv_dialect keys; the
    .dat branches of read_dumped_table must degrade gracefully (drop
    unknown keys — dump_reader's rule) instead of TypeError-ing the
    restore/verify read (round-12 verdict #2)."""
    from pyspark.sql import types as T

    from mydumper_spark.sinks.manifest import read_dumped_table

    sch = T.StructType([T.StructField("id", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    chunk = tmp_path / "s.t.00000.dat"
    chunk.write_text("1,x\n2,\\N\n")
    (tmp_path / "s.t.schema.json").write_text(sch.json())
    dialect = {"fields_terminated_by": ",", "fields_enclosed_by": "",
               "fields_escaped_by": "\\", "load_data_escapes": True,
               "from_the_future": "vNEXT"}   # unknown key must be dropped
    df = read_dumped_table(spark, {"path": str(chunk)},
                           csv_dialect=dialect)
    assert {r["id"]: r["v"] for r in df.collect()} == {1: "x", 2: None}
    # plain single-file .dat branch takes the same filter
    single = tmp_path / "plain.dat"
    single.write_text("5,y\n")
    (tmp_path / "plain.schema.json").write_text(sch.json())
    df2 = read_dumped_table(spark, {"path": str(single)},
                            csv_dialect=dialect)
    assert [(r["id"], r["v"]) for r in df2.collect()] == [(5, "y")]


def test_import_mydumper_dir_parallel_tables(spark, tmp_path):
    """import_mydumper_dir submits per-table count/checksum jobs from a
    thread pool (the reference loads tables concurrently,
    myloader_worker_loader_main.c:94-209) — a genuine dump with hundreds
    of tables must not pay hundreds of sequential job-submission
    latencies. Concurrency is proven by overlapping build_entry spans,
    and the manifest contents are IDENTICAL to a serial (parallelism=1)
    import — pooling changes wall time, never content."""
    import threading
    import time as _time

    import mydumper_spark.sinks.manifest as mman
    from mydumper_spark.engine import import_mydumper_dir

    src = tmp_path / "par"
    src.mkdir()
    names = [f"t{i}" for i in range(6)]
    meta = "[config]\nquote-character = BACKTICK\n\n"
    for i, t in enumerate(names):
        meta += f"[`s`.`{t}`]\nreal_table_name={t}\nrows = 2\n\n"
        (src / f"s.{t}-schema.sql").write_text(
            f"CREATE TABLE `{t}` (\n  `id` int NOT NULL\n);\n")
        (src / f"s.{t}.00000.sql").write_text(
            f"INSERT INTO `{t}` VALUES ({i}),({i + 10});\n")
    (src / "metadata").write_text(meta)

    spans: list[tuple[str, float, float]] = []
    real = mman.build_entry

    def tracked(df, *a, **kw):
        t0 = _time.monotonic()
        _time.sleep(0.15)  # widen the span so overlap is deterministic
        out = real(df, *a, **kw)
        spans.append(
            (threading.current_thread().name, t0, _time.monotonic()))
        return out

    mman.build_entry = tracked
    try:
        mp = import_mydumper_dir(spark, str(src), str(tmp_path / "po"),
                                 parallelism=4)
    finally:
        mman.build_entry = real
    assert len(spans) == 6
    assert len({s[0] for s in spans}) > 1          # >1 pool thread
    ordered = sorted(spans, key=lambda s: s[1])
    assert any(a[2] > b[1] for a, b in zip(ordered, ordered[1:]))

    ms = import_mydumper_dir(spark, str(src), str(tmp_path / "so"),
                             parallelism=1)
    def sig(m):
        return {k: (e.rows, e.data_checksum, e.schema_checksum,
                    os.path.basename(e.path))
                for k, e in m.tables.items()}
    assert sig(mp) == sig(ms)


def test_import_mydumper_dir_zstd_chunks(spark, tmp_path):
    """A genuine ``mydumper -c`` dump compressed with zstd (the
    reference's default codec in recent builds) imports end-to-end:
    .sql.zst INSERT chunks read through Spark's native codec, the
    .sql.zst LOAD DATA statement sibling decompresses through the JVM's
    zstd-jni (util.zstd_read_bytes — no Python zstd in this
    environment) so the dialect is recovered, and .dat.zst payload
    chunks load typed. Closes the round-12 'decompress first' gap."""
    from mydumper_spark.engine import import_mydumper_dir
    from mydumper_spark.util import zstd_read_bytes

    def zw(path, text):
        comp = bytes(spark._jvm.com.github.luben.zstd.Zstd.compress(
            text.encode(), 3))
        with open(path, "wb") as f:
            f.write(comp)

    src = tmp_path / "zsrc"
    src.mkdir()
    (src / "metadata").write_text(
        "[config]\nquote-character = BACKTICK\n\n"
        "[`s`.`t`]\nreal_table_name=t\nrows = 3\n\n"
        "[`s`.`ld`]\nreal_table_name=ld\nrows = 2\n")
    (src / "s.t-schema.sql").write_text(
        "CREATE TABLE `t` (\n  `id` int NOT NULL\n);\n")
    zw(src / "s.t.00000.sql", "INSERT INTO `t` VALUES (1),(2);\n")
    zw(src / "s.t.00001.sql", "INSERT INTO `t` VALUES (3);\n")
    (src / "s.ld-schema.sql").write_text(
        "CREATE TABLE `ld` (\n  `id` int NOT NULL,\n  `v` varchar(10)\n);\n")
    zw(src / "s.ld.00000.sql",
       "LOAD DATA LOCAL INFILE 's.ld.00000.dat' INTO TABLE `ld` FIELDS "
       "TERMINATED BY ',' ENCLOSED BY '\"' ESCAPED BY '\\\\' LINES "
       "TERMINATED BY '\\n' (`id`,`v`);\n")
    zw(src / "s.ld.00000.dat", '1,"a\\nb"\n2,\\N\n')
    # rename to the compressed layout the -c dump really uses
    for f in ("s.t.00000.sql", "s.t.00001.sql", "s.ld.00000.sql",
              "s.ld.00000.dat"):
        os.rename(src / f, src / (f + ".zst"))

    out = tmp_path / "zout"
    m = import_mydumper_dir(spark, str(src), str(out))
    assert m.tables["t"].rows == 3          # both .sql.zst chunks parsed
    assert m.tables["ld"].rows == 2
    assert m.csv_dialect["fields_terminated_by"] == ","  # dialect seen
    from mydumper_spark.sinks.manifest import read_dumped_table, read_manifest
    doc = read_manifest(str(out))
    df = read_dumped_table(spark, doc["tables"]["ld"],
                           csv_dialect=doc["config"]["csv_dialect"])
    got = {r["id"]: r["v"] for r in df.collect()}
    assert got == {1: "a\nb", 2: None}      # escape decode after zstd

    # the util itself round-trips bytes exactly
    assert zstd_read_bytes(spark, str(src / "s.ld.00000.dat.zst")) == \
        b'1,"a\\nb"\n2,\\N\n'


def test_lines_starting_by_round_trip(spark, tmp_path):
    """--lines-starting-by dumps: the reference prepends the prefix to
    EVERY row (mydumper_write.c:775) and records LINES STARTING BY.
    The dialect recovery captures it, the payload reader applies
    MySQL's documented rule (skip everything up to AND including the
    prefix; a line WITHOUT it is skipped entirely), and writes reject
    the intake-only knob loudly."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from mydumper_spark.sinks.writers import (
        CsvFormat,
        csvformat_from_load_data,
        read_csv_typed,
        write_csv,
    )

    stmt = ("LOAD DATA LOCAL INFILE 'x.dat' INTO TABLE `t` FIELDS "
            "TERMINATED BY ',' ENCLOSED BY '\"' ESCAPED BY '\\\\' "
            "LINES STARTING BY '>>' TERMINATED BY '\\n' (`id`,`v`);")
    fmt = csvformat_from_load_data(stmt)
    assert fmt.lines_starting_by == ">>"
    assert fmt.lines_terminated_by == "\n"

    sch = T.StructType([T.StructField("id", T.IntegerType()),
                        T.StructField("v", T.StringType())])
    p = str(tmp_path / "sb.00000.dat")
    with open(p, "w") as f:
        f.write('>>1,"a"\n'          # plain prefixed row
                'garbage no prefix\n'  # skipped ENTIRELY (MySQL rule)
                'junk>>2,"b\\nc"\n'    # prefix mid-line: skip up to+incl
                '>>3,\\N\n')
    got = {r["id"]: r["v"] for r in
           read_csv_typed(spark, [p], sch, fmt).collect()}
    assert got == {1: "a", 2: "b\nc", 3: None}

    # escapes-off + enclosed + STARTING BY is irreconcilable: the
    # prefix needs line-splitting, but ONLY the multiLine tokenizer
    # protects raw embedded line terminators inside quotes (nothing
    # escapes them in this dialect) — refuse loudly, never corrupt
    p2 = str(tmp_path / "sb2.00000.dat")
    with open(p2, "w") as f:
        f.write('>>7,"lit\\nstays"\n')
    fmt2 = CsvFormat(fields_terminated_by=",", fields_enclosed_by='"',
                     fields_escaped_by="", escaped_data=False,
                     load_data_escapes=True, lines_starting_by=">>")
    with _pytest.raises(ValueError, match="STARTING BY"):
        read_csv_typed(spark, [p2], sch, fmt2)

    with _pytest.raises(ValueError, match="intake-only"):
        write_csv(spark.createDataFrame([(1, "x")], sch),
                  str(tmp_path / "w"), CsvFormat(lines_starting_by=">>"))


def test_insert_columns_unit():
    """_insert_columns: quote/backtick-aware head scan — the LAST
    top-level group before VALUES is the list; quoted 'VALUES' or
    parens inside backticked names never confuse it; headless and
    listless statements return None."""
    from mydumper_spark.sources.insert_parser import _insert_columns

    assert _insert_columns(
        "INSERT INTO `t` (`a`,`b`) VALUES (1,2);") == ["a", "b"]
    assert _insert_columns(
        "INSERT INTO `t` VALUES (1,2);") is None
    assert _insert_columns("(1,2),") is None          # row line, no head
    # backticked name containing ')' and ',' survives; `` unescapes
    assert _insert_columns(
        "INSERT INTO `we(ird` (`a)x`,`b``q`, c) VALUES (1,2,3);") == [
        "a)x", "b`q", "c"]
    # a string literal containing VALUES before the real keyword
    assert _insert_columns(
        "INSERT INTO t (a) /* 'VALUES' */ VALUES (1);") == ["a"]


def test_split_mysqldump_comment_apostrophe_in_routine_body(tmp_path):
    """A ``-- don't`` comment inside a routine body is a comment, not an
    open string: routine ``p`` ends at its own delimiter, and the table
    data and the table that follow it are still routed."""
    from mydumper_spark.sources.insert_parser import parse_tuples
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    src = tmp_path / "routine.sql"
    src.write_text(
        "USE `d`;\n"
        "CREATE TABLE `t` (\n  `id` int NOT NULL\n) ENGINE=InnoDB;\n"
        "DELIMITER ;;\n"
        "CREATE PROCEDURE `p`()\n"
        "BEGIN\n"
        "  -- don't touch this\n"
        "  SELECT 1;\n"
        "END ;;\n"
        "DELIMITER ;\n"
        "INSERT INTO `t` VALUES (1),(2);\n"
        "CREATE TABLE `u` (\n  `id` int NOT NULL\n) ENGINE=InnoDB;\n"
        "INSERT INTO `u` VALUES (7);\n")
    res = split_mysqldump(str(src), str(tmp_path / "out"))

    def rows(key):
        path = res.tables[key]["data_path"]
        assert path is not None, key
        with open(path) as fh:
            return [t for line in fh for t in parse_tuples(line)]

    assert rows("d.t") == [["1"], ["2"]]
    assert rows("d.u") == [["7"]]
    (p,) = [o for o in res.objects if o["name"] == "p"]
    assert p["kind"] == "routine"
    assert "don't touch this" in p["raw_sql"] and "SELECT 1;" in p["raw_sql"]
    assert "INSERT" not in p["raw_sql"] and "`u`" not in p["raw_sql"]


def test_split_mysqldump_comment_lines_between_statements(tmp_path):
    """A ``#`` or ``/* */`` comment line (one spanning lines included)
    between statements is dropped, not glued onto the next statement's
    head where the routing regexes would miss it; a ``/*!NNNNN */``
    version comment is code and stays a statement."""
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    src = tmp_path / "comments.sql"
    src.write_text(
        "# note\n"
        "CREATE TABLE `t` (\n  `id` int NOT NULL\n) ENGINE=InnoDB;\n"
        "INSERT INTO `t` VALUES (1);\n"
        "/* block comment */\n"
        "CREATE TABLE `u` (\n  `id` int NOT NULL\n) ENGINE=InnoDB;\n"
        "  /* a block comment\n   over two lines */  # and a note\n"
        "INSERT INTO `u` VALUES (7);\n"
        "/*!40101 SET NAMES utf8mb4 */;\n")
    res = split_mysqldump(str(src), str(tmp_path / "out"))
    for key in ("t", "u"):
        entry = res.tables[key]
        assert entry["schema_path"] is not None, key
        assert entry["create_sql"].startswith(f"CREATE TABLE `{key}`"), key
        assert entry["data_path"] is not None, key
    assert res.skipped_statements == 1  # the SET NAMES version comment


def test_split_mysqldump_comment_after_terminator(tmp_path):
    """A comment after a statement's ``;`` on the same line still ends
    the statement: t's INSERT is t's data, not part of t's schema, and u
    keeps its own CREATE TABLE."""
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    src = tmp_path / "trailing.sql"
    src.write_text(
        "CREATE TABLE t (id int); -- schema\n"
        "INSERT INTO t VALUES (1); -- one row\n"
        "CREATE TABLE u (id int);\n"
        "INSERT INTO u VALUES (2);\n")
    res = split_mysqldump(str(src), str(tmp_path / "out"))
    for key, row in (("t", "(1)"), ("u", "(2)")):
        entry = res.tables[key]
        assert entry["create_sql"] == f"CREATE TABLE {key} (id int);", key
        with open(entry["data_path"]) as f:
            assert f.read() == f"INSERT INTO {key} VALUES {row};\n", key
    assert res.skipped_statements == 0


def test_split_mysqldump_comment_before_statement_head(tmp_path):
    """A comment on the same line before a statement's head does not
    hide the statement from routing."""
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    src = tmp_path / "head.sql"
    src.write_text("/* x */ CREATE TABLE t (id int);\n"
                   "/* y */ INSERT INTO t VALUES (1);\n")
    res = split_mysqldump(str(src), str(tmp_path / "out"))
    entry = res.tables["t"]
    assert entry["schema_path"] is not None
    assert entry["create_sql"] == "CREATE TABLE t (id int);"
    assert entry["data_path"] is not None
    assert res.skipped_statements == 0


def test_split_mysqldump_gate_closer_inside_literal_kept(tmp_path):
    """Only version-gate closers in code are removed from object DDL: a
    trigger body assigning ``'*/'`` keeps its literal, while the gated
    ``/*!50003 CREATE*/ /*!50017 DEFINER=…*/`` form still loses its
    closers."""
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    src = tmp_path / "trig.sql"
    src.write_text(
        "USE `d`;\n"
        "CREATE TABLE `t` (\n  `id` int NOT NULL\n) ENGINE=InnoDB;\n"
        "DELIMITER ;;\n"
        "CREATE TRIGGER `tr` BEFORE INSERT ON `t` "
        "FOR EACH ROW SET @x = '*/' ;;\n"
        "/*!50003 CREATE*/ /*!50017 DEFINER=`root`@`localhost`*/ "
        "/*!50003 TRIGGER `tr2` AFTER INSERT ON `t` "
        "FOR EACH ROW SET @y = 1 */;;\n"
        "DELIMITER ;\n")
    res = split_mysqldump(str(src), str(tmp_path / "out"))
    raw = {o["name"]: o["raw_sql"] for o in res.objects
           if o["kind"] == "trigger"}
    assert raw["tr"] == ("CREATE TRIGGER `tr` BEFORE INSERT ON `t` "
                         "FOR EACH ROW SET @x = '*/';")
    assert raw["tr2"] == ("CREATE DEFINER=`root`@`localhost` TRIGGER `tr2` "
                          "AFTER INSERT ON `t` FOR EACH ROW SET @y = 1;")


def test_split_mysqldump_gate_opener_inside_literal_kept(tmp_path):
    """The opener twin of the closer test above: a trigger body assigning
    ``'a /*!50003 b'`` keeps its literal byte for byte, while a gated
    definition still loses its openers."""
    from mydumper_spark.sources.mysqldump_reader import split_mysqldump

    src = tmp_path / "trig.sql"
    src.write_text(
        "USE `d`;\n"
        "CREATE TABLE `t` (\n  `id` int NOT NULL\n) ENGINE=InnoDB;\n"
        "DELIMITER ;;\n"
        "CREATE TRIGGER `tr` BEFORE INSERT ON `t` "
        "FOR EACH ROW SET @x = 'a /*!50003 b' ;;\n"
        "/*!50003 CREATE*/ /*!50003 TRIGGER `tr2` AFTER INSERT ON `t` "
        "FOR EACH ROW SET @y = \"/*!50003\" */;;\n"
        "DELIMITER ;\n")
    res = split_mysqldump(str(src), str(tmp_path / "out"))
    raw = {o["name"]: o["raw_sql"] for o in res.objects
           if o["kind"] == "trigger"}
    assert raw["tr"] == ("CREATE TRIGGER `tr` BEFORE INSERT ON `t` "
                         "FOR EACH ROW SET @x = 'a /*!50003 b';")
    assert raw["tr2"] == ("CREATE TRIGGER `tr2` AFTER INSERT ON `t` "
                          "FOR EACH ROW SET @y = \"/*!50003\";")


def test_parse_tuples_ignores_values_in_comment():
    """A commented-out ``VALUES (9)`` before the real keyword is not a
    row."""
    from mydumper_spark.sources.insert_parser import parse_tuples

    assert parse_tuples("INSERT INTO t /* VALUES (9) */ VALUES (1);") == [
        ["1"]]


def test_insert_columns_ignores_group_in_comment():
    """A parenthesized group inside a comment is not the column list."""
    from mydumper_spark.sources.insert_parser import _insert_columns

    assert _insert_columns(
        "INSERT INTO t (a, b) /* (c) */ VALUES (1,2);") == ["a", "b"]


def test_generated_columns_import_end_to_end(spark, tmp_path):
    """Tables with GENERATED columns: the reference excludes them from
    dumps and forces complete-insert (mydumper_table.c:478-482), so the
    INSERT head carries an explicit column list and the head sits on
    its OWN line (genuine multi-line statement shape). The schema
    parser must exclude generated columns and the INSERT parser must
    map the listed subset — a positional read would misalign every
    value."""
    from mydumper_spark.engine import import_mydumper_dir
    from mydumper_spark.plans.ddl import schema_from_create_table

    ddl = ("CREATE TABLE `g` (\n"
           "  `id` int NOT NULL,\n"
           "  `price` decimal(10,2) DEFAULT NULL,\n"
           "  `total` decimal(10,2) GENERATED ALWAYS AS "
           "(`price` * 2) STORED,\n"
           "  `note` varchar(20) DEFAULT NULL,\n"
           "  PRIMARY KEY (`id`)\n"
           ");")
    assert "total" not in schema_from_create_table(ddl)

    src = tmp_path / "gen"
    src.mkdir()
    (src / "metadata").write_text(
        "[config]\nquote-character = BACKTICK\n\n"
        "[`s`.`g`]\nreal_table_name=g\nrows = 2\n")
    (src / "s.g-schema.sql").write_text(ddl + "\n")
    # genuine shape: head line, then one row per line
    (src / "s.g.00000.sql").write_text(
        "INSERT INTO `g` (`id`,`price`,`note`) VALUES\n"
        "(1,3.50,'a'),\n"
        "(2,NULL,'b;c');\n")
    m = import_mydumper_dir(spark, str(src), str(tmp_path / "genout"))
    assert m.tables["g"].rows == 2
    from mydumper_spark.sinks.manifest import read_dumped_table, read_manifest
    doc = read_manifest(str(tmp_path / "genout"))
    rows = {r["id"]: r for r in read_dumped_table(
        spark, doc["tables"]["g"]).collect()}
    from decimal import Decimal
    assert rows[1]["price"] == Decimal("3.50") and rows[1]["note"] == "a"
    assert rows[2]["price"] is None and rows[2]["note"] == "b;c"
    assert "total" not in rows[1].asDict()


def test_insert_column_list_reorder_and_subset(spark, tmp_path):
    """A single-line INSERT (mysqldump shape) with a REORDERED subset
    column list maps values by name; unlisted columns read NULL; a list
    naming an unknown column raises loudly."""
    from pyspark.sql import types as T

    from mydumper_spark.sources.insert_parser import read_insert_sql

    sch = T.StructType([T.StructField("a", T.IntegerType()),
                        T.StructField("b", T.StringType()),
                        T.StructField("c", T.IntegerType())])
    p = str(tmp_path / "re.00000.sql")
    with open(p, "w") as f:
        f.write("INSERT INTO `t` (`c`,`a`) VALUES (30,1),(40,2);\n")
    got = sorted((r["a"], r["b"], r["c"])
                 for r in read_insert_sql(spark, [p], sch).collect())
    assert got == [(1, None, 30), (2, None, 40)]

    p2 = str(tmp_path / "bad.00000.sql")
    with open(p2, "w") as f:
        f.write("INSERT INTO `t` (`nope`) VALUES (1);\n")
    with pytest.raises(ValueError, match="nope"):
        read_insert_sql(spark, [p2], sch).collect()


def test_round13_review_fix_pins(spark, tmp_path):
    """Second-review fixes, pinned: (1) a COMMENT quoting 'as (…)' is
    not a generated column; (2) the column-list peek skips a
    statement-less first candidate (dump dirs sort db.table-schema.sql
    before the chunks); (3) zstd head reads are BOUNDED — a chunk-sized
    .zst never fully materializes on the driver."""
    from mydumper_spark.plans.ddl import schema_from_create_table
    from mydumper_spark.sources.insert_parser import _peek_insert_columns
    from mydumper_spark.util import zstd_read_bytes

    # (1) string literals are blanked before the AS ( marker test
    sch = schema_from_create_table(
        "CREATE TABLE `t` (\n"
        "  `id` int NOT NULL,\n"
        "  `note` varchar(20) DEFAULT NULL COMMENT 'used as (tag)',\n"
        "  `gen` int GENERATED ALWAYS AS (`id` + 1) VIRTUAL\n"
        ");")
    assert "note" in sch and "gen" not in sch

    # (2) peek iterates past files with no INSERT statement
    d = tmp_path / "peek"
    d.mkdir()
    (d / "a.t-schema.sql").write_text("CREATE TABLE `t` (`x` int);\n")
    (d / "a.t.00000.sql").write_text(
        "INSERT INTO `t` (`x`) VALUES\n(1);\n")
    assert _peek_insert_columns(spark, str(d)) == ["x"]

    # (3) the decompressed-byte bound holds
    big = b"y" * 1_000_000
    comp = bytes(spark._jvm.com.github.luben.zstd.Zstd.compress(big, 3))
    p = tmp_path / "big.zst"
    p.write_bytes(comp)
    assert len(zstd_read_bytes(spark, str(p), limit=4096)) == 4096
    assert zstd_read_bytes(spark, str(p)) == big   # unbounded unchanged


def test_import_real_table_name_placeholder(spark, tmp_path):
    """Hostile table names dump under a mydumper_N placeholder FILENAME
    with the true name in metadata (determine_filename +
    real_table_name, mydumper_common.c:66-77). The import must key the
    manifest — the identity restore CREATEs — by the REAL name while
    reading data/artifacts under the placeholder; restore sanitizes the
    hostile name for its parquet tree (FilenameRegistry) like our own
    dumps do."""
    from mydumper_spark.engine import import_mydumper_dir, restore

    src = tmp_path / "hn"
    src.mkdir()
    (src / "metadata").write_text(
        "[config]\nquote-character = BACKTICK\n\n"
        "[`s`.`mydumper_0`]\nreal_table_name=we.ird/name\nrows = 2\n")
    (src / "s.mydumper_0-schema.sql").write_text(
        "CREATE TABLE `we.ird/name` (\n  `id` int NOT NULL\n);\n")
    (src / "s.mydumper_0.00000.sql").write_text(
        "INSERT INTO `we.ird/name` VALUES (1),(2);\n")

    out = tmp_path / "hnout"
    m = import_mydumper_dir(spark, str(src), str(out))
    assert set(m.tables) == {"we.ird/name"}      # real identity
    assert m.tables["we.ird/name"].rows == 2
    # data still reads from the placeholder chunk
    assert m.tables["we.ird/name"].path.endswith(
        "s.mydumper_0.00000.sql")

    target = str(tmp_path / "hnrestored")
    results = restore(spark, str(out), target)
    assert results["load"] == {"we.ird/name": True}
    assert all(results["verify"].values())
    # the parquet tree used a sanitized filename, not the raw name
    assert not os.path.exists(os.path.join(target, "we.ird"))


def test_hostile_names_third_review_pins(spark, tmp_path):
    """Third-review fixes over the real_table_name support, pinned:
    (1) a NON-UTF-8 real name survives the whole import including the
    INI metadata twin (strict write aborted AFTER checksums);
    (2) a hostile-named VIEW's object identity is the real name (what
    restore's idempotent DROP targets) while its stand-in still never
    becomes a table; (3) an ANSI-quoted (double-quote) metadata section
    parses — real_table_name and rows cross-checks must not silently
    vanish on AQI dumps; (4) restore's name-derived fallback read
    recovers the placeholder chunk prefix from the recorded path when
    the absolute path went stale (moved dump dir)."""
    import shutil

    from mydumper_spark.engine import import_mydumper_dir, restore
    from mydumper_spark.sinks.metadata_file import parse_metadata

    # (3) AQI section regex
    aqm = parse_metadata(
        '[config]\nquote-character = AQI\n\n'
        '["s"."mydumper_0"]\nreal_table_name=Real.Name\nrows = 1\n')
    assert aqm.tables[0].table == "mydumper_0"
    assert aqm.tables[0].real_table_name == "Real.Name"

    src = tmp_path / "h3"
    src.mkdir()
    real_bytes = b"caf\xe9.tbl"        # latin-1 e-acute: NOT utf-8
    with open(src / "metadata", "wb") as f:
        f.write(b"[config]\nquote-character = BACKTICK\n\n"
                b"[`s`.`mydumper_0`]\nreal_table_name=" + real_bytes
                + b"\nrows = 1\n\n"
                b"[`s`.`mydumper_1`]\nreal_table_name=v.iew\n"
                b"rows = 0\nis_view = 1\n")
    (src / "s.mydumper_0-schema.sql").write_text(
        "CREATE TABLE `x` (\n  `id` int NOT NULL\n);\n")
    (src / "s.mydumper_0.00000.sql").write_text(
        "INSERT INTO `x` VALUES (7);\n")
    # hostile-named view: stand-in + real artifact, placeholder files
    (src / "s.mydumper_1-schema.sql").write_text(
        "CREATE TABLE IF NOT EXISTS `v.iew`(`id` int) ENGINE=MEMORY;\n")
    (src / "s.mydumper_1-schema-view.sql").write_text(
        "DROP TABLE IF EXISTS `v.iew`;\nDROP VIEW IF EXISTS `v.iew`;\n"
        "CREATE VIEW `v.iew` AS SELECT `id` FROM `x`;\n")

    out = tmp_path / "h3out"
    m = import_mydumper_dir(spark, str(out / ".." / "h3"), str(out))
    real_name = real_bytes.decode("utf-8", "surrogateescape")
    assert set(m.tables) == {real_name}           # (1) key = real name
    assert m.tables[real_name].rows == 1
    # (1) the INI twin was written (surrogateescape) with the raw bytes
    assert real_bytes in (out / "metadata").read_bytes()
    # (2) the view object carries its REAL name; no stand-in table
    assert [(o["kind"], o["name"]) for o in m.objects] == [
        ("view", "v.iew")]

    # (4) stale-path fallback: move the whole dump dir, restore anyway
    moved = tmp_path / "h3moved"
    shutil.move(str(out), str(moved))
    results = restore(spark, str(moved), str(tmp_path / "h3target"))
    assert results["load"][real_name] is True
