"""Table catalog over the driver-generated parquet directories.

Mirrors the reference's metadata-crawler entry point
(icecube/utils/metadata_crawler.py:20) in spirit: given a directory,
expose its products as queryable tables. Here the products are
parquet files; `load` returns lazy DataFrames so Catalyst keeps
column pruning + predicate pushdown at the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# path -> ((size, mtime), (num_row_groups, num_rows, Spark schema)):
# what a load reads of a file once, kept while the file's stat holds
_FOOTER_CACHE: dict[str, tuple[tuple[int, int], tuple]] = {}

_FANOUT_MIN_ROWS = 1000


def _stat(path: str) -> tuple[int, int] | None:
    """(size, mtime in ns) of a file, None when this process cannot
    stat it: what tells a rewritten file from the one read before."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def stamp(sf_dir: str) -> tuple:
    """The ``_stat`` of every ``TABLES`` file under ``sf_dir``: equal
    stamps mean no table of the corpus was rewritten in between."""
    return tuple(_stat(os.path.join(sf_dir, f"{n}.parquet")) for n in TABLES)


def _footer(
    spark: SparkSession, path: str
) -> tuple[int, int, StructType | None]:
    """Row groups, rows and Spark's schema of one parquet file, read
    on its first load and again only after the file changes (a new
    size or mtime). The schema is what ``spark.read.parquet`` infers,
    which costs a Spark job per read; handing it back to the reader
    makes every later load of the file jobless. A path this process
    cannot stat (absent, or not on a local filesystem) gets no entry:
    its reader infers the schema, and reports a missing path, itself."""
    file_stamp = _stat(path)
    if file_stamp is None:
        return 0, 0, None
    hit = _FOOTER_CACHE.get(path)
    if hit is None or hit[0] != file_stamp:
        schema = spark.read.parquet(path).schema
        try:
            import pyarrow.parquet as pq

            f = pq.ParquetFile(path)
            shape = (f.num_row_groups, f.metadata.num_rows)
        except Exception:
            shape = (0, 0)
        hit = _FOOTER_CACHE[path] = (file_stamp, (*shape, schema))
    return hit[1]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Lazy: no IO until an action runs.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a long which
    we truncate to microseconds — the same truncation DuckDB applies —
    so both engines see identical timestamps.

    Scan fan-out: parquet scans cannot parallelize below row-group
    granularity, and the harness's files carry ONE row group — every
    map stage (decimal partials, per-doc hashing, explodes) would run
    on a single core. When a non-tiny table has fewer row groups than
    half the cores, redistribute once right after the scan (a ~10 MB
    round-robin exchange buys 32-way map parallelism). On a real
    cluster row groups provide natural splits and this no-ops; tiny
    dimension tables are left alone so their broadcast stays cheap.
    Column pruning and predicate pushdown still reach the scan below
    the exchange.

    The reader gets the schema Spark inferred on the file's first load
    (``_footer``), so a repeated load runs no Spark job.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    row_groups, rows, schema = _footer(spark, path)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division: ns epochs exceed 2^53, double math would round
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    cores = spark.sparkContext.defaultParallelism
    if rows >= _FANOUT_MIN_ROWS and 0 < row_groups < cores // 2:
        df = df.repartition(cores)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every known table as a dict of lazy DataFrames."""
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for spark.sql() workloads."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
