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

Generated-code cache: Spark keeps every class it compiles for
whole-stage and expression codegen in one JVM-wide cache keyed by the
generated source, capped by the static conf
``spark.sql.codegen.cache.maxEntries`` (default 100). The engine's
working set is far larger: one pass over the whole query registry
compiles 2,933 distinct classes at sf0.001 and 2,929 at sf0.1, and at
the default cap that same pass compiles 6,922, because even one suite
evicts its own classes before it reuses them. Every repeated query and
every 5-minute star load then recompiles, on the driver (planning), in
local-mode tasks (which share the driver JVM's cache) and on the
commit path. :data:`CODEGEN_CACHE_MAX_ENTRIES` holds the registry
with headroom, and whole-stage classes are named without their stage
id, so a steady-state round compiles nothing beyond the odd plan
variant it has not met before. Each cached class costs about 7 KB of
Metaspace (the sf0.001 pass ends at 225.5 MiB with an unbounded cache,
205.0 MiB after a full GC at the default cap), so a full cache costs
about 60 MiB. At 100 TB each executor JVM keeps its own cache under
the same static conf, so the cluster's session conf should carry the
same value.
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

# Static: sized to the measured working set (module docstring).
CODEGEN_CACHE_MAX_ENTRIES = 8192


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply required runtime confs to an existing session (idempotent).

    Static confs, the codegen cache cap among them, are fixed when a
    JVM's first session is built, so a session built elsewhere keeps
    Spark's 100-entry codegen cache and recompiles on every repeat;
    only :func:`get_spark` sets the cap."""
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
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
        # The cache is keyed by source text. A whole-stage class name
        # carries its codegen stage id, and AQE numbers stages in an
        # order that depends on which stages finish first, so a rerun
        # would compile the same pipeline again under another name.
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for key, value in _REQUIRED_RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return configure_session(builder.getOrCreate())
