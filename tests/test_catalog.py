"""Catalog.read and the query inventory's table reader take a table's
schema from a parquet footer on the driver: the same schema Spark's
inference gives, with no Spark job, whether or not Spark wrote the
file, and Spark's own inference wherever that shortcut does not
hold."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_migration_etl_scripts_spark.catalog import Catalog, _footer_schema, read_parquet
from tests.conftest import SF_DIR


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
    assert _footer_schema(spark, path) is not None  # the footer path is taken
    inferred = spark.read.parquet(path)
    assert any(not f.nullable for f in _footer_schema(spark, path).fields)
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
    assert _footer_schema(spark, sink) is not None
    assert cat.read("sink").schema == inferred.schema
    assert cat.read("sink").count() == 6
    assert jobs_started(lambda: cat.read("sink")) == 0


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
    "make", [_hive_table, _summary_table, _merged_table],
    ids=["hive_partitioned", "summary_file", "merge_schema"],
)
def test_fallbacks_take_spark_inference(cat, spark, jobs_started, make):
    name, inferred, merge = make(cat, spark)
    if not merge:
        assert _footer_schema(spark, cat.path(name)) is None
    assert cat.read(name, merge_schema=merge).schema == inferred.schema
    assert jobs_started(lambda: cat.read(name, merge_schema=merge)) >= 1


def _watermark_table(spark, base):
    """The CDC watermark table, which pyarrow writes on the driver."""
    from data_migration_etl_scripts_spark.cdc import WatermarkStore

    store = WatermarkStore(spark, os.path.join(base, "_etl_cdc"))
    store.advance("t", 3)
    return store.path


def _typed_pyarrow_table(spark, base):
    """One pyarrow file with the parquet types whose Spark mapping
    depends on the converter and its settings: nanosecond and tz-less
    microsecond timestamps, decimals, binary, lists, structs and a
    required column."""
    import datetime as dt
    import decimal

    ts = dt.datetime(2020, 1, 2, 3, 4, 5, 6000)
    schema = pa.schema([
        pa.field("id", pa.int64(), nullable=False),
        ("ts_ns", pa.timestamp("ns", tz="UTC")),
        ("ts_ntz", pa.timestamp("us")),
        ("amount", pa.decimal128(12, 2)),
        ("blob", pa.binary()),
        ("tags", pa.list_(pa.string())),
        ("pt", pa.struct([("a", pa.int32()), ("b", pa.string())])),
    ])
    table = pa.table({
        "id": [1, 2],
        "ts_ns": [ts, None],
        "ts_ntz": [ts, ts],
        "amount": [decimal.Decimal("1.25"), None],
        "blob": [b"ab", None],
        "tags": [["x"], []],
        "pt": [{"a": 1, "b": "u"}, None],
    }, schema=schema)
    path = os.path.join(base, "typed_pa.parquet")
    pq.write_table(table, path)
    return path


def _shipped_table(name):
    def make(spark, base):
        return f"{SF_DIR}/{name}.parquet"
    return make


@pytest.mark.parametrize(
    "make",
    [_watermark_table, _typed_pyarrow_table, _shipped_table("orders"),
     _shipped_table("events"), _shipped_table("documents")],
    ids=["pyarrow_watermark", "pyarrow_typed", "shipped_orders",
         "shipped_events", "shipped_documents"],
)
def test_non_spark_footer_matches_spark_inference(spark, tmp_path, jobs_started, make):
    """A parquet file Spark did not write has no Spark row metadata: its
    footer goes through Spark's own converter in the driver JVM, under
    the session's settings (``nanosAsLong`` is on, so nanosecond
    timestamps read as longs, as inference reads them). Before, each
    read of such a table started one schema-inference job."""
    path = make(spark, str(tmp_path))
    inferred = spark.read.parquet(path)
    assert _footer_schema(spark, path) is not None  # the footer path is taken
    df = read_parquet(spark, path)
    assert df.schema == inferred.schema
    assert sorted(map(str, df.collect())) == sorted(map(str, inferred.collect()))
    assert jobs_started(lambda: read_parquet(spark, path)) == 0


def test_footer_conversion_follows_session_settings(spark, tmp_path):
    """The converter reads the session's settings at call time: with
    ``nanosAsLong`` off, a nanosecond timestamp has no Spark type, the
    conversion fails in the JVM, and the read falls back to Spark's
    inference, which fails the same way."""
    path = _typed_pyarrow_table(spark, str(tmp_path))
    key = "spark.sql.legacy.parquet.nanosAsLong"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert _footer_schema(spark, path) is None
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            spark.read.parquet(path)
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            read_parquet(spark, path)
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
def test_table_reads_start_no_job(spark, tmp_path, jobs_started, writer):
    """``Catalog.read`` and the query inventory's ``queries._t`` start no
    Spark job for a Spark-written or a pyarrow-written table. Before
    the footer conversion and the shared reader they started
    ``Catalog.read`` 0 (Spark) and 1 (pyarrow), ``_t`` 1 and 1 (each
    ran Spark's schema inference)."""
    from data_migration_etl_scripts_spark import queries

    path = os.path.join(str(tmp_path), "t.parquet")
    if writer == "spark":
        spark.range(6).select("id", (F.col("id") * 2).alias("v")).write.parquet(path)
    else:
        pq.write_table(pa.table({"id": list(range(6)), "v": list(range(0, 12, 2))}), path)
    cat = Catalog(spark, base_dir=str(tmp_path))
    assert jobs_started(lambda: cat.read("t")) == 0
    assert jobs_started(lambda: queries._t(spark, str(tmp_path), "t")) == 0
    rows = sorted(tuple(r) for r in queries._t(spark, str(tmp_path), "t").collect())
    assert rows == [(i, 2 * i) for i in range(6)]
