"""Pluggable eager materialization barrier.

Many operators materialize a provably bounded intermediate frame once
so its (possibly corpus-wide) lineage executes exactly one time and
every consumer reads the stored rows — the plan-truncation pattern of
OPTIMIZATION_r09.md §6/§13. On ``local[*]`` the right primitive is
``localCheckpoint``: blocks live in the one executor that is also the
driver, and the materialization is as cheap as a shuffle write.

On a real cluster ``localCheckpoint`` blocks are UNREPLICATED executor
state — losing one executor kills the query with no lineage left to
recompute (guide §5). The barrier is therefore selected per deployment
via Spark conf (settable through the ``SPARK_GRAFT_CONF`` env hook
without a code change):

- ``spark.icecube.materialize.backend=local`` (default): eager
  ``localCheckpoint`` — single-machine / ephemeral-job profile.
- ``...backend=reliable``: eager ``checkpoint()`` to the directory in
  ``spark.icecube.materialize.dir`` (HDFS/object store on a cluster) —
  survives any executor loss.

Any other value raises ``ValueError``. That includes the retired
``persist`` backend: a persisted frame keeps its logical plan, so a
loop under it grew its plan every iteration, and each barrier left a
cache entry behind. ``reliable`` covers executor loss.

Every backend is an eager barrier: the input lineage has fully executed
by the time the function returns, and the returned frame's consumers
never re-run it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_BACKEND_KEY = "spark.icecube.materialize.backend"
_DIR_KEY = "spark.icecube.materialize.dir"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` with the conf-selected barrier."""
    spark = df.sparkSession
    backend = spark.conf.get(_BACKEND_KEY, "local")
    if backend == "local":
        return df.localCheckpoint(eager=True)
    if backend == "reliable":
        sc = spark.sparkContext
        if sc._jsc.sc().getCheckpointDir().isEmpty():
            sc.setCheckpointDir(
                spark.conf.get(_DIR_KEY, "/tmp/icecube-spark-checkpoints")
            )
        return df.checkpoint(eager=True)
    raise ValueError(
        f"unknown {_BACKEND_KEY}={backend!r}; expected local or reliable"
        " (reliable survives executor loss)"
    )
