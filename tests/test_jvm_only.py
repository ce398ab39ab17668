"""Frames the program builds itself stay on the JVM.

A Python-side ``spark.createDataFrame`` plans a ``Scan ExistingRDD``
whose first action starts the pyspark worker daemon. The multi-table
checksum and the schema-only tables of an import build their frames on
the JVM instead; these tests pin that, and that the results equal the
plain forms they replaced. An incremental generation's delta and
deletes files are read back with the schemas the dump recorded, so
rebuilding its table state runs no schema-inference job.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mydumper_spark.engine import (
    DumpConfig,
    dump,
    dump_incremental,
    import_mysqldump,
    restore,
)
from mydumper_spark.functions.checksum import checksum_df, checksum_tables_df
from mydumper_spark.sinks.manifest import (
    build_entry,
    materialized_table,
    verify_manifest,
)
from mydumper_spark.util import empty_frame

_PY_SIDE = ("ExistingRDD", "BroadcastHashJoin", "EvalPython")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _edge_tables(spark, sf_dir) -> dict:
    """An empty table, a table whose only row is all NULLs, a table with
    a hostile name, a map-column table and one fixture table."""
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    return {
        "empty": region.limit(0),
        "all_null": spark.sql(
            "SELECT CAST(NULL AS INT) AS a, CAST(NULL AS STRING) AS s, "
            "CAST(NULL AS DOUBLE) AS x"),
        "o'k.`t`": spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s"),
        "mapped": spark.range(4).selectExpr(
            "id", "map('k', id, 'j', id * 2) AS m"),
        "region": region,
    }


@pytest.mark.parametrize("algorithm", ["md5", "xxhash64"])
def test_checksum_tables_df_equals_union_of_checksum_df(spark, sf_dir,
                                                        algorithm):
    """The one-tree multi-table checksum gives the same columns, types
    and row multiset as one plain ``checksum_df`` per table, unioned —
    including the (NULL, 0) row of an empty table — and plans no
    Python-side scan, broadcast join or Python evaluation."""
    tables = _edge_tables(spark, sf_dir)
    got = checksum_tables_df(tables, algorithm)
    plain = None
    for name, df in tables.items():
        part = checksum_df(df, None, algorithm).select(
            F.lit(name).alias("table_name"), "checksum", "rows")
        plain = part if plain is None else plain.unionAll(part)
    assert got.dtypes == plain.dtypes == [
        ("table_name", "string"), ("checksum", "bigint"), ("rows", "bigint")]
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, plain.collect()), key=repr)
    assert ("empty", None, 0) in map(tuple, got.collect())
    plan = _plan(got)
    assert not [n for n in _PY_SIDE if n in plan], plan


def test_schema_only_frame_on_jvm_and_entry_unchanged(spark, tmp_path):
    """``empty_frame`` keeps its schema (nullability included) and plans
    a ``LocalTableScan``, not a Python RDD scan; a mysqldump table with a
    CREATE TABLE and no rows, built through it, records the same rows,
    schema checksum and data checksum as the Python-side empty frame it
    was built from before."""
    from mydumper_spark.plans.ddl import schema_from_create_table

    typed = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("m", T.MapType(T.StringType(), T.DoubleType())),
        T.StructField("amt", T.DecimalType(10, 2)),
    ])
    df = empty_frame(spark, typed)
    assert df.schema == typed
    plan = _plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    ddl = "CREATE TABLE `e` (\n  `x` int NOT NULL,\n  `s` varchar(8)\n);\n"
    src = tmp_path / "dump.sql"
    src.write_text(ddl)
    manifest = import_mysqldump(spark, str(src), str(tmp_path / "out"))
    (entry,) = manifest.tables.values()
    schema = schema_from_create_table(ddl)
    assert empty_frame(spark, schema).schema == \
        spark.createDataFrame([], schema).schema
    before = build_entry(spark.createDataFrame([], schema), "e",
                         manifest.algorithm)
    assert (entry.rows, entry.schema_checksum, entry.data_checksum) == (
        before.rows, before.schema_checksum, before.data_checksum)
    assert entry.rows == 0 and entry.data_checksum is None


@pytest.fixture(scope="module")
def incremental_dump(spark, sf_dir, tmp_path_factory) -> str:
    """A full dump of ``nation``, then an incremental child after a
    delete, a change and an insert; returns the child's directory."""
    root = str(tmp_path_factory.mktemp("inc"))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nation.write.parquet(f"{root}/src1/nation.parquet")
    dump(spark, f"{root}/src1", DumpConfig(output_dir=f"{root}/base"))
    mutated = (
        nation.where("n_nationkey != 0")
        .withColumn("n_name", F.when(F.col("n_nationkey") == 1, F.lit("X"))
                    .otherwise(F.col("n_name")))
        .unionByName(nation.where("n_nationkey = 2")
                     .withColumn("n_nationkey", F.lit(99))))
    mutated.write.parquet(f"{root}/src2/nation.parquet")
    dump_incremental(spark, f"{root}/src2",
                     DumpConfig(output_dir=f"{root}/child"), f"{root}/base")
    return f"{root}/child"


def test_materialized_incremental_entry_runs_no_job(spark, incremental_dump):
    """Building one incremental entry's frame reads the delta and deletes
    files with their recorded schemas: no Spark job runs."""
    sc = spark.sparkContext
    group = "materialize-job-count"
    sc.setJobGroup(group, "materialized_table")
    try:
        df = materialized_table(spark, incremental_dump, "nation")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    ids = {r["n_nationkey"] for r in df.collect()}
    assert 0 not in ids and 99 in ids and len(ids) == 25


def test_incremental_manifest_without_recorded_schemas(spark,
                                                       incremental_dump,
                                                       tmp_path):
    """A manifest written before the delta and deletes schemas were
    recorded still materializes, restores and verifies (by inference)."""
    import shutil

    from mydumper_spark.sinks.manifest import rebase_manifest_paths

    old = str(tmp_path / "child")
    shutil.copytree(incremental_dump, old)
    rebase_manifest_paths(old, incremental_dump, old)
    path = os.path.join(old, "_manifest.json")
    with open(path) as f:
        doc = json.load(f)
    inc = doc["tables"]["nation"]["incremental"]
    assert inc.pop("delta_schema") and inc.pop("delete_schema")
    with open(path, "w") as f:
        json.dump(doc, f)
    assert sorted(materialized_table(spark, old, "nation").collect()) == \
        sorted(materialized_table(spark, incremental_dump, "nation").collect())
    assert verify_manifest(spark, old)["nation"]["ok"] is True
    res = restore(spark, old, str(tmp_path / "restored"))
    assert res["load"] == {"nation": True}
    assert res["verify"] == {"nation": True}
