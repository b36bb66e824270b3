"""SparkSession construction and per-session runtime configuration.

Two layers:

- :func:`get_spark` builds a session for local runs/tests (local[*],
  AQE on, UTC). On a real cluster the user brings their own session.
- :func:`configure_session` applies the *runtime-settable* SQL confs
  this engine depends on to any existing session (the driver harness
  passes us its own ``SparkSession``, so every query path calls this
  defensively — it is idempotent and cheap).

Scale posture: these defaults are written for the local test matrix
but every knob is documented with its 100 TB-cluster setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs required for correctness of this engine.
_REQUIRED_RUNTIME_CONFS: dict[str, str] = {
    # All reference datetime semantics are specified UTC + per-row
    # integer offsets (reference dags/etl.py:30-32 assumes a UTC
    # worker); session TZ must be pinned or calendar extraction
    # drifts with the host.
    "spark.sql.session.timeZone": "UTC",
    # Defensive: a parquet TIMESTAMP(NANOS) column (which Spark
    # refuses by default) reads as raw long nanos and is normalized
    # in io.normalize_events. The shipped testdata stores events.ts
    # as TIMESTAMP(MICROS), which this conf does not affect.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime shuffle-partition coalescing and
    # skew-join splitting. Essential at 100 TB, harmless at sf0.001.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / mapInPandas path (vector ops,
    # multimodal decode): batch columnar transfer, not per-row pickle.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # No spark.sql.maxPlanStringLength cap: tracked_persist checkpoints
    # every relation a plan re-reads, so iterative and suite plans stay
    # the size of one round or branch and print in full
    # (operators/caching.py).
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent)."""
    for key, value in _REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # Non-settable in this deployment: leave as-is rather than fail.
            pass
    return spark


def get_spark(
    app_name: str = "weatherflow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a configured local SparkSession.

    ``shuffle_partitions`` defaults to the local core count: at local
    test scale a 200-partition shuffle (Spark's default) is pure
    overhead, while on a 1000-executor cluster the right value is
    O(total-cores × 2..4) or simply left to AQE coalescing, which we
    enable.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("WF_DRIVER_MEMORY", "8g"))
        # Larger broadcast threshold locally; on a cluster the 10 MB
        # default is usually right unless dims are known-small.
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for key, value in _REQUIRED_RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return configure_session(builder.getOrCreate())
