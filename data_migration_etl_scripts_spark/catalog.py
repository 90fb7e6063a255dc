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


def _footer_schema(path: str) -> T.StructType | None:
    """The schema Spark's non-merging inference would give the table at
    ``path``, read on the driver without a Spark job.

    That inference reads the footer of the first data file in path
    order and takes the Spark row metadata stored there. The same file
    and the same JSON are read here with pyarrow. Returns None, leaving
    inference to Spark, when the table is hive-partitioned, has summary
    files (``_metadata``, ``_common_metadata``), or its first file holds
    no Spark row metadata (a file not written by Spark).
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
    try:
        raw = pq.read_metadata(min(files)).metadata or {}
        if _SPARK_ROW_METADATA not in raw:
            return None
        return T.StructType.fromJson(json.loads(raw[_SPARK_ROW_METADATA]))
    except (OSError, ValueError, KeyError, TypeError):
        return None


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
        """The table ``name`` as a DataFrame, with no Spark job when
        Spark wrote it: its schema comes from the footer of its first
        data file, read on the driver (:func:`_footer_schema`), which is
        the file and the schema Spark's own inference would read. Other
        tables (hive-partitioned, with summary files, or not written by
        Spark) keep Spark's inference and its job.

        ``merge_schema=True`` unions column sets across the table's
        files — the parquet equivalent of the reference's idempotent
        ``ALTER TABLE ADD Old<X>ID`` guards (S10): a batch appended
        with a new column widens the table, earlier files read it as
        null. It always infers with Spark, which reads every footer."""
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        # Migration sinks nest per-batch subdirectories
        # (batch-<pipeline>-<key>, cdc.commit_batch), which need
        # recursiveFileLookup — but that option DISABLES
        # hive partition discovery, so apply it only when non-hive
        # (no '=') subdirectories are present.
        p = self.path(name)
        if os.path.isdir(p) and any(
            "=" not in e and os.path.isdir(os.path.join(p, e))
            for e in os.listdir(p)
        ):
            reader = reader.option("recursiveFileLookup", "true")
        schema = None if merge_schema else _footer_schema(p)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(p)

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
