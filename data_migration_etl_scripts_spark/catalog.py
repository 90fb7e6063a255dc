"""Table catalog: name -> DataFrame over a directory of parquet tables.

The reference's dataflow graph is two databases (source ``dbo.*`` V1 and
target ``app.*`` V2) where the target is both sink and mid-pipeline lookup
source (reference: ``utils/fks_mapper.py:8-111``). Here a Catalog is a thin
named-table layer over a directory of parquet files (one per table) plus a
writable area for engine outputs (entity tables, sync crosswalks, the
watermark table).

Scale note: on a real deployment this maps 1:1 onto a metastore / Delta
catalog; nothing below assumes local paths beyond ``os.path`` joins.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Tables the driver-provided testdata ships (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: footer key under which Spark stores the schema of the rows it writes
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps a file or directory name:
    it skips ``_``- and ``.``-prefixed names (unless they hold ``=``)
    and in-flight ``._COPYING_`` copies."""
    return not (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema Spark's non-merging inference would give the table at
    ``path``, read on the driver without a Spark job.

    That inference reads the footer of the first data file in path
    order. When Spark wrote that file, its footer holds the Spark row
    metadata, which is read here with pyarrow. Otherwise the footer's
    parquet schema goes through Spark's own converter under the
    session's settings (:func:`_converted_footer_schema`). Returns None,
    leaving inference to Spark, when the table is hive-partitioned or
    has summary files (``_metadata``, ``_common_metadata``), or when the
    footer cannot be read.
    """
    files = []
    if os.path.isdir(path):
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if _listed(d)]
            if any("=" in d for d in dirs):
                return None
            if any(n.startswith(("_metadata", "_common_metadata")) for n in names):
                return None
            files += [os.path.join(root, n) for n in names if _listed(n)]
    else:
        files.append(path)
    if not files:
        return None
    first = min(files)
    try:
        raw = pq.read_metadata(first).metadata or {}
        if _SPARK_ROW_METADATA in raw:
            return T.StructType.fromJson(json.loads(raw[_SPARK_ROW_METADATA]))
    except (OSError, ValueError, KeyError, TypeError):
        return None
    return _converted_footer_schema(spark, first)


def _converted_footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The Spark schema of the parquet file ``path`` as Spark's inference
    converts it (``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` built from the session's SQL
    settings, so ``nanosAsLong``, ``binaryAsString`` and
    ``inferTimestampNTZ`` apply), run in the driver JVM: a few
    milliseconds against ~45 ms for the inference job. None on any
    error the JVM raises (such as a parquet type the settings leave
    without a Spark type), so the read falls back to inference."""
    jvm = spark._jvm
    try:
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        meta = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
            spark._jsc.hadoopConfiguration(), hpath,
            jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
        )
        spq = jvm.org.apache.spark.sql.execution.datasources.parquet
        converter = spq.ParquetToSparkSchemaConverter(
            spark._jsparkSession.sessionState().conf()
        )
        schema = spq.ParquetFileFormat.readSchemaFromFooter(
            jvm.org.apache.parquet.hadoop.Footer(hpath, meta), converter
        )
        return T.StructType.fromJson(json.loads(schema.json()))
    except (Py4JError, PySparkException):  # pyspark re-raises JVM errors as its own
        return None


def read_parquet(spark: SparkSession, path: str, merge_schema: bool = False) -> DataFrame:
    """The parquet table at ``path`` as a DataFrame, with no Spark job
    for its schema: that comes from the footer of its first data file,
    read on the driver (:func:`_footer_schema`), which is the file and
    the schema Spark's own inference would read. Hive-partitioned
    tables and tables with summary files keep Spark's inference and
    its job.

    ``merge_schema=True`` unions column sets across the table's files
    — the parquet equivalent of the reference's idempotent ``ALTER
    TABLE ADD Old<X>ID`` guards (S10): a batch appended with a new
    column widens the table, earlier files read it as null. It always
    infers with Spark, which reads every footer."""
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    # Migration sinks nest per-batch subdirectories
    # (batch-<pipeline>-<key>, cdc.commit_batch), which need
    # recursiveFileLookup — but that option DISABLES
    # hive partition discovery, so apply it only when non-hive
    # (no '=') subdirectories are present.
    if os.path.isdir(path) and any(
        "=" not in e and os.path.isdir(os.path.join(path, e))
        for e in os.listdir(path)
    ):
        reader = reader.option("recursiveFileLookup", "true")
    schema = None if merge_schema else _footer_schema(spark, path)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


class Catalog:
    """Named parquet tables under a base directory.

    ``read(name)`` resolves ``<base>/<name>.parquet`` first, then
    ``<base>/<name>`` (directory-style output of ``write``).
    """

    def __init__(self, spark: SparkSession, base_dir: str, scratch_dir: str | None = None):
        self.spark = spark
        self.base_dir = base_dir
        self.scratch_dir = scratch_dir or os.path.join("/tmp", "dmess_spark_scratch")

    def path(self, name: str) -> str:
        file_style = os.path.join(self.base_dir, f"{name}.parquet")
        if os.path.exists(file_style):
            return file_style
        dir_style = os.path.join(self.base_dir, name)
        if os.path.exists(dir_style):
            return dir_style
        scratch = os.path.join(self.scratch_dir, name)
        if os.path.exists(scratch):
            return scratch
        raise KeyError(f"table not found in catalog: {name!r} under {self.base_dir}")

    def read(self, name: str, merge_schema: bool = False) -> DataFrame:
        """The table ``name`` through :func:`read_parquet`: no Spark
        job for its schema unless it is hive-partitioned, has summary
        files or ``merge_schema`` is set."""
        return read_parquet(self.spark, self.path(name), merge_schema)

    def register_all(self, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
        """Register every table as a temp view for spark.sql()."""
        for name in names:
            try:
                self.read(name).createOrReplaceTempView(name)
            except KeyError:
                continue

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: tuple[str, ...] | list[str] = (),
        sort_within_partitions: tuple[str, ...] | list[str] = (),
    ) -> str:
        """Write an engine output table into the scratch area.

        Append mode is how the reference's JDBC ``if_exists='append'``
        sink is expressed (reference: ``Template_Tables/makes.py:97``);
        parquet append is a new-files-only commit so it is atomic per
        batch at the file level.

        Scale knobs:
        - ``partition_by``: hive-style directory partitioning — readers
          filtering on the partition column skip whole directories
          (partition pruning), the first-order I/O lever for a 100 TB
          fact table (partition by ingest date / tenant).
        - ``sort_within_partitions``: clusters rows so parquet row-group
          min/max stats become selective — point/range predicates on
          the sort key skip row groups inside each file.
        """
        out = os.path.join(self.scratch_dir, name)
        if sort_within_partitions:
            df = df.sortWithinPartitions(*sort_within_partitions)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*list(partition_by))
        writer.parquet(out)
        return out

    def exists(self, name: str) -> bool:
        try:
            self.path(name)
            return True
        except KeyError:
            return False
