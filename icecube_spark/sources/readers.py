"""Source connectors (SURVEY §2 group H).

Parquet is the primary format (catalog.py); these add CSV, JSON,
binary-file (raster payloads) and ORC, plus parquet compaction and
snapshot upserts. Everything returns lazy DataFrames; schemas are
explicit where inference would cost a pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        # schema inference costs an extra pass; acceptable for small files
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Raster ingestion boundary (reference
    icecube/utils/analytics_IO.py loads tiff/h5 per file): each file
    becomes a row (path, modificationTime, length, content) — the
    payload column feeds operators/multimodal.decode_stub. Files are
    distributed across executors; nothing routes through the driver.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 512,
) -> int:
    """Small-file compaction (SURVEY §2 H): rewrite a parquet dataset
    into ~target_file_mb files. Streaming ingest and fine-grained
    partition writes leave thousands of small files whose open/footer
    cost dominates scans at 100 TB; periodic compaction restores
    scan-speed reads. Sizing uses the file catalog only (no data
    scan); the rewrite is one repartition — a round-robin shuffle
    that also rebalances skewed input files. Returns the file count.
    """
    df = spark.read.parquet(path)
    # size from the FileSystem content summary — a pure namenode
    # metadata call; a binaryFile executor scan would be a full file
    # listing job at 100 TB
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hpath).getLength()
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def upsert_snapshot(
    current: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Keep-latest merge: union the update batch onto the snapshot and
    keep, per key, the row with the highest version (ties go to the
    update side). The late-labels scenario of the reference's cube
    merge (datacube.py:176-199) as an incremental sink: labels arrive
    after the cube is built and overwrite in place. One shuffle on
    the key; at scale, write the result partitioned on a stable hash
    of the key so successive upserts reuse the partitioning.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tagged = current.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.desc(version_col), F.desc("__src")
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    """ORC source — Spark's other built-in columnar format, kept at
    parity with parquet: vectorized scan, predicate pushdown, column
    pruning all apply."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)
