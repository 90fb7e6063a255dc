"""Catalog.read takes a Spark-written table's schema from a parquet
footer on the driver: the same schema Spark's inference gives, with no
Spark job, and Spark's own inference wherever that shortcut does not
hold."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.catalog import Catalog, _footer_schema


@pytest.fixture()
def cat(spark, tmp_path):
    return Catalog(spark, base_dir=str(tmp_path), scratch_dir=str(tmp_path))


def _typed(spark):
    """Nested, decimal, timestamp_ntz, char/varchar, field-metadata and
    non-nullable columns."""
    df = spark.sql(
        """SELECT CAST(id AS DECIMAL(20, 4)) AS amount,
                  named_struct('a', id, 'b', array(map('k', id * 1.5D))) AS nested,
                  TIMESTAMP_NTZ'2020-01-01 00:00:00' AS local_ts,
                  TIMESTAMP'2020-01-01 00:00:00' AS ts,
                  CAST(id AS STRING) AS code, 'x' AS label
           FROM range(4)"""
    )
    return df.select(
        "amount", "nested", "local_ts", "ts",
        F.col("code").alias("code", metadata={"__CHAR_VARCHAR_TYPE_STRING": "char(5)"}),
        F.col("code").alias("name", metadata={"__CHAR_VARCHAR_TYPE_STRING": "varchar(7)"}),
        F.col("label").alias("label", metadata={"comment": "a field comment"}),
    )


def test_footer_schema_matches_spark_inference(cat, spark, jobs_started):
    path = cat.write(_typed(spark), "typed")
    assert _footer_schema(path) is not None  # the footer path is taken
    inferred = spark.read.parquet(path)
    assert any(not f.nullable for f in _footer_schema(path).fields)
    assert cat.read("typed").schema == inferred.schema
    assert sorted(cat.read("typed").collect()) == sorted(inferred.collect())
    assert jobs_started(lambda: cat.read("typed")) == 0


def test_batch_sink_takes_the_file_spark_picks(cat, spark, jobs_started):
    """Batch directories with different schemas: Spark's inference reads
    the first data file in path order (``batch-t-10`` sorts before
    ``batch-t-5`` and ``batch-t-none``), and so does the catalog."""
    sink = os.path.join(cat.scratch_dir, "sink")
    for key, col in (("none", "a"), ("5", "b"), ("10", "c")):
        spark.range(2).select(F.col("id").alias(col)).write.parquet(
            os.path.join(sink, f"batch-t-{key}")
        )
    inferred = spark.read.option("recursiveFileLookup", "true").parquet(sink)
    assert inferred.columns == ["c"]
    assert _footer_schema(sink) is not None
    assert cat.read("sink").schema == inferred.schema
    assert cat.read("sink").count() == 6
    assert jobs_started(lambda: cat.read("sink")) == 0


def _pyarrow_table(cat, spark):
    """The CDC watermark table, which pyarrow writes on the driver."""
    from data_migration_etl_scripts_spark.cdc import WatermarkStore

    store = WatermarkStore(spark, os.path.join(cat.scratch_dir, "_etl_cdc"))
    store.advance("t", 3)
    return "_etl_cdc", spark.read.parquet(store.path), False


def _hive_table(cat, spark):
    df = spark.range(4).select("id", (F.col("id") % 2).alias("p"))
    path = cat.write(df, "hive", partition_by=("p",))
    return "hive", spark.read.parquet(path), False


def _summary_table(cat, spark):
    """A summary file names the schema Spark infers, not the data file."""
    path = cat.write(spark.range(2).select(F.col("id").alias("k")), "summary")
    pq.write_metadata(pa.schema([("k", pa.int64()), ("extra", pa.string())]),
                      os.path.join(path, "_common_metadata"))
    inferred = spark.read.parquet(path)
    assert inferred.columns == ["k", "extra"]
    return "summary", inferred, False


def _merged_table(cat, spark):
    cat.write(spark.createDataFrame([(1, "a")], "id long, name string"), "evolved")
    path = cat.write(
        spark.createDataFrame([(2, "b", 9)], "id long, name string, OldID long"),
        "evolved", mode="append",
    )
    return "evolved", spark.read.option("mergeSchema", "true").parquet(path), True


@pytest.mark.parametrize(
    "make", [_pyarrow_table, _hive_table, _summary_table, _merged_table],
    ids=["no_spark_metadata", "hive_partitioned", "summary_file", "merge_schema"],
)
def test_fallbacks_take_spark_inference(cat, spark, jobs_started, make):
    name, inferred, merge = make(cat, spark)
    if not merge:
        assert _footer_schema(cat.path(name)) is None
    assert cat.read(name, merge_schema=merge).schema == inferred.schema
    assert jobs_started(lambda: cat.read(name, merge_schema=merge)) >= 1

