"""Tuned SparkSession factory.

Single place where execution knobs live so every entrypoint (tests,
bench, driver) gets the same scale-ready defaults: AQE (runtime
re-planning + skew-join splitting), Arrow for the few pandas-exchange
operators, and a shuffle-partition count sized for the local harness
(on a real cluster AQE coalesces the 32 default up/down as needed).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "icecube-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
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
        .config("spark.sql.warehouse.dir", "/tmp/icecube-spark-warehouse")
        .config(
            "javax.jdo.option.ConnectionURL",
            "jdbc:derby:;databaseName=/tmp/icecube-spark-metastore;create=true",
        )
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

