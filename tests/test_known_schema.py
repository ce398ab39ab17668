"""Known-schema reads of the program's own files.

A dump records each table's read-back Spark schema in its manifest entry
(``spark_schema``), and every later read of those files passes it to
``spark.read.schema`` instead of running a footer job to infer it. These
tests pin that the recorded schema IS the inferred one (so neither
checksum moves), that a manifest without it still restores and verifies,
that ``verify_manifest`` still checks the schema on disk, and that a
restore runs no schema-inference job.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mydumper_spark import engine
from mydumper_spark.functions.checksum import table_checksum
from mydumper_spark.sinks.manifest import (
    _schema_checksum,
    manifest_algorithm,
    read_dumped_table,
    read_manifest,
    rebase_manifest_paths,
    verify_manifest,
)

#: every column type a dump carries; ``id`` and ``amt`` are non-null
_TYPED = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("ts", T.TimestampType()),
    T.StructField("ntz", T.TimestampNTZType()),
    T.StructField("d", T.DateType()),
    T.StructField("amt", T.DecimalType(18, 4), False),
    T.StructField("x", T.DoubleType()),
    T.StructField("s", T.StringType()),
    T.StructField("b", T.BinaryType()),
    T.StructField("arr", T.ArrayType(T.DoubleType())),
    T.StructField("m", T.MapType(T.StringType(), T.LongType())),
    T.StructField("st", T.StructType([T.StructField("a", T.IntegerType()),
                                      T.StructField("c", T.StringType())])),
])
_TYPED_ROWS = [
    (1, datetime.datetime(2024, 1, 2, 3, 4, 5),
     datetime.datetime(2024, 1, 2, 3, 4, 5), datetime.date(2024, 1, 2),
     decimal.Decimal("12.3400"), 1.5, "a,\"b\"", b"\x00\x01", [1.0, 2.0],
     {"k": 1}, (1, "z")),
    (2, None, None, None, decimal.Decimal("0.0001"), None, None, None,
     None, None, None),
]
#: the columns text formats without nested types (csv, sql) can hold
_FLAT = ["id", "ts", "ntz", "d", "amt", "x", "s"]


def _source(spark, sf_dir, root, flat: bool) -> str:
    """A parquet source dir: the typed table, a pyarrow-written
    TIMESTAMP(NANOS) table (a long under ``nanosAsLong``), and the fixture
    tables ``events`` (timestamp_ntz) and, unless ``flat``, ``embeddings``
    (array<float>)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root)
    typed = spark.createDataFrame(_TYPED_ROWS, _TYPED)
    if flat:
        typed = typed.select(*_FLAT)
    typed.coalesce(1).write.parquet(os.path.join(root, "typed.parquet"))
    pq.write_table(pa.table({
        "id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, None, 5],
                       pa.timestamp("ns")),
    }), os.path.join(root, "nanos.parquet"))
    for name in ("events",) if flat else ("events", "embeddings"):
        os.symlink(os.path.join(sf_dir, f"{name}.parquet"),
                   os.path.join(root, f"{name}.parquet"))
    return root


@pytest.mark.parametrize("fmt", ["parquet", "orc", "jsonl", "csv", "sql"])
def test_recorded_schema_equals_inferred(spark, sf_dir, tmp_path, fmt):
    """For every dump format and column type, the recorded schema equals
    the schema an inference (or sidecar) read of the dumped files gives,
    and that read reproduces ``schema_checksum`` and ``data_checksum``
    byte for byte."""
    src = _source(spark, sf_dir, str(tmp_path / "src"),
                  flat=fmt in ("csv", "sql"))
    out = str(tmp_path / "dump")
    engine.dump(spark, src, engine.DumpConfig(output_dir=out, fmt=fmt))
    doc = read_manifest(out)
    algo = manifest_algorithm(doc)
    dialect = doc["config"].get("csv_dialect")
    assert sorted(doc["tables"]) == sorted(
        f[: -len(".parquet")] for f in os.listdir(src))
    for t, entry in doc["tables"].items():
        recorded = T.StructType.fromJson(entry["spark_schema"])
        inferred = read_dumped_table(spark, dict(entry, spark_schema=None),
                                     csv_dialect=dialect)
        known = read_dumped_table(spark, entry, csv_dialect=dialect)
        assert inferred.schema == recorded, t
        assert known.schema == recorded, t
        assert _schema_checksum(inferred) == entry["schema_checksum"], t
        assert table_checksum(inferred, algorithm=algo) == {
            "rows": entry["rows"], "checksum": entry["data_checksum"]}, t
        assert table_checksum(known, algorithm=algo) == {
            "rows": entry["rows"], "checksum": entry["data_checksum"]}, t
    nanos = T.StructType.fromJson(doc["tables"]["nanos"]["spark_schema"])
    assert nanos["ts"].dataType == T.LongType()


def _dump_one(spark, root: str, rows, schema) -> str:
    """Dump one parquet table ``t`` from ``rows``; returns the dump dir."""
    src = os.path.join(root, "src")
    spark.createDataFrame(rows, schema).write.parquet(
        os.path.join(src, "t.parquet"))
    out = os.path.join(root, "dump")
    engine.dump(spark, src, engine.DumpConfig(output_dir=out))
    return out


def _dump_two(spark, root: str, drop_recorded_schema: bool = False) -> str:
    """Dump a 2-table parquet set (``t`` and its copy ``u``)."""
    out = _dump_one(spark, root, [(1, "a"), (2, None)], "id BIGINT, s STRING")
    shutil.copytree(os.path.join(out, "t.parquet"),
                    os.path.join(out, "u.parquet"))
    path = os.path.join(out, "_manifest.json")
    with open(path) as f:
        doc = json.load(f)
    doc["tables"]["u"] = dict(doc["tables"]["t"],
                              path=os.path.join(out, "u.parquet"))
    if drop_recorded_schema:
        for entry in doc["tables"].values():
            del entry["spark_schema"]
    with open(path, "w") as f:
        json.dump(doc, f)
    return out


def test_manifest_without_recorded_schema_restores_and_verifies(
        spark, tmp_path):
    """A dump whose manifest predates ``spark_schema`` falls back to
    inference: restore loads and verifies it, and so does
    verify_manifest, with results in manifest order."""
    out = _dump_two(spark, str(tmp_path), drop_recorded_schema=True)
    res = engine.restore(spark, out, str(tmp_path / "restored"))
    assert res["load"] == {"t": True, "u": True}
    assert res["verify"] == {"t": True, "u": True}
    v = verify_manifest(spark, out)
    assert list(v) == ["t", "u"]
    assert all(r["ok"] is True for r in v.values())


_TAMPER = {
    "renamed_column": lambda df: df.withColumnRenamed("s", "s2"),
    "bigint_to_string": lambda df: df.withColumn("id", F.col("id").cast("string")),
    "bigint_to_int": lambda df: df.withColumn("id", F.col("id").cast("int")),
    "double_to_float": lambda df: df.withColumn("x", F.col("x").cast("float")),
    "dropped_column": lambda df: df.drop("s"),
    "added_column": lambda df: df.withColumn("extra", F.lit(1)),
    "changed_value": lambda df: df.withColumn(
        "x", F.when(F.col("id") == 1, F.col("x") + 1).otherwise(F.col("x"))),
}


@pytest.fixture(scope="module")
def tamper_dump(spark, tmp_path_factory) -> str:
    return _dump_one(spark, str(tmp_path_factory.mktemp("tamper")),
                     [(1, "a", 1.5), (2, "b", 2.25), (3, None, None)],
                     "id BIGINT, s STRING, x DOUBLE")


@pytest.mark.parametrize("case", list(_TAMPER))
def test_verify_manifest_fails_on_rewritten_data(spark, tamper_dump,
                                                 tmp_path, case):
    """A dumped file rewritten with another schema or another value
    verifies ``ok is False`` and never raises: verify reads the schema on
    disk, not the recorded one."""
    out = str(tmp_path / "dump")
    shutil.copytree(tamper_dump, out)
    rebase_manifest_paths(out, tamper_dump, out)
    data = os.path.join(out, "t.parquet")
    _TAMPER[case](spark.read.parquet(data)).write.parquet(data + ".new")
    shutil.rmtree(data)
    os.rename(data + ".new", data)
    res = verify_manifest(spark, out)["t"]
    assert res["ok"] is False
    if case != "changed_value":
        assert "schema" in res["reason"]


def test_restore_runs_no_schema_inference_job(spark, tmp_path):
    """Restoring a 2-table parquet dump runs the two DATA writes and
    nothing else: the dumped files are read with the recorded schema."""
    out = _dump_two(spark, str(tmp_path))
    sc = spark.sparkContext
    group = "restore-job-count"
    # parallelism=1 runs every DAG job on this thread, inside the group
    sc.setJobGroup(group, "restore without verify")
    try:
        res = engine.restore(spark, out, str(tmp_path / "restored"),
                             verify=False, parallelism=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["load"] == {"t": True, "u": True}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
