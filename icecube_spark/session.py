"""Tuned SparkSession factory.

Single place where execution knobs live so every entrypoint (tests,
bench, driver) gets the same scale-ready defaults: AQE (runtime
re-planning + skew-join splitting), Arrow for the few pandas-exchange
operators, and 32 shuffle partitions that AQE coalesces to the size
of the data. That coalescing covers cached plans too, so a persisted
or staged table is stored in partitions sized to its rows, not in the
32 of the plan that built it. ``SPARK_GRAFT_CONF`` overrides any
setting.

The session also names its own Python daemon module,
``icecube_spark.pydaemon``. Every Python worker forks from it. Before
each task PySpark calls ``importlib.invalidate_caches()``, and under
PySpark's own daemon that re-reads the directory of every zip archive
on the workers' path (pyspark.zip, py4j and the Spark core jar): 130-210
ms a task on 4 cores. The daemon re-reads an archive only when it has
changed. Workers import that module, and every package function a UDF
pickles by reference, from the directory that holds this package,
which the session puts on their ``PYTHONPATH``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory that holds the icecube_spark package.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "icecube-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce a cached plan's output like any other
        # shuffle (Spark's default is false). Otherwise every persisted
        # or staged table keeps the 32 partitions of the plan that
        # built it, and each read of a 28-row staged table runs 32
        # near-empty tasks; with it, a table is stored in partitions
        # sized to its data (1 for a tiny one, about one per core for
        # a large one).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python workers fork from icecube_spark.pydaemon and import
        # this package from the driver's copy (see the module docstring).
        .config("spark.python.daemon.module", "icecube_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.sql.autoBroadcastJoinThreshold", "32m")
        .config("spark.sql.session.timeZone", "UTC")
        # Round-robin repartition pays a per-partition binary sort of
        # its input by default (SPARK-23207) so retried tasks reproduce
        # the same row->partition assignment when the INPUT order is
        # nondeterministic. The engine's only keyless repartition in a
        # query path is the catalog scan fan-out, whose input is a
        # parquet scan — row order replays identically on retry — so
        # the sort buys nothing and costs a full-width sort of every
        # fanned-out table. A/B on 11 mixed keys: ~10% mean per-key
        # win with it off (OPTIMIZATION_r09.md). Override via
        # SPARK_GRAFT_CONF for pipelines that round-robin
        # post-shuffle data.
        .config("spark.sql.execution.sortBeforeRepartition", "false")
        # ContextCleaner default only drives a full JVM GC every 30min;
        # long query campaigns leak unpersisted shuffle/broadcast blocks
        # between keys until then (the r6 single-key GC-shadow spikes).
        .config("spark.cleaner.periodicGC.interval", "1min")
        # events.parquet carries TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects; read as long and convert in catalog.load.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        # The console progress bar rewrites stderr without newlines and
        # splits other writers' lines (plan_audit's `== key` markers).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/icecube-spark-warehouse")
    )
    # Deployment-specific overrides (semicolon-separated key=value):
    # lets a cluster profile retune any knob above without a code
    # change, and the optimization rounds A/B configs under the exact
    # bench entrypoints. Applied last, so they win.
    extra = os.environ.get("SPARK_GRAFT_CONF", "")
    for kv in extra.split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()

