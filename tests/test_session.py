"""Session layer: the generated-code cache holds the engine's working
set, so a steady-state round compiles no class."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

from tests.conftest import REPO_DIR, SF_SMALL
from weatherflow_spark.session import CODEGEN_CACHE_MAX_ENTRIES


def test_session_carries_codegen_cache_cap(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


# A fresh JVM, so the first run of each workload starts from an empty
# cache. Prints the classes compiled by each run as one JSON line.
_ROUNDS = textwrap.dedent(
    """
    import json, sys, tempfile
    sys.path.insert(0, {repo!r})
    from pyspark.sql import functions as F
    from tests.test_star import _poll
    from weatherflow_spark.operators.caching import release_caches
    from weatherflow_spark.operators.star import (
        STAR_DATE_PARTITIONING, load_star_warehouse)
    from weatherflow_spark.operators.whlog import read_warehouse
    from weatherflow_spark.plans import QUERIES
    from weatherflow_spark.session import get_spark

    spark = get_spark(master="local[2]")
    histogram = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                 .METRIC_COMPILATION_TIME())

    def compiles(action):
        n0 = histogram.getCount()
        action()
        return histogram.getCount() - n0

    def iterative():
        QUERIES["q_iterative_suite"](spark, {sf!r}).collect()
        release_caches()

    wh = tempfile.mkdtemp() + "/wh"

    def star_round(minute):
        load_star_warehouse(spark, _poll(spark, minute), wh,
                            batch_id=f"b{{minute}}",
                            partition_cols=STAR_DATE_PARTITIONING)
        w = read_warehouse(spark, wh)
        (w["w_fact"].select("temp_id", "recorded_date")
         .join(w["w_temp_dim"].select("temp_id", "temp"), "temp_id")
         .groupBy("recorded_date").agg(F.sum("temp")).collect())

    out = {{"iterative": [compiles(iterative) for _ in range(3)]}}
    # The first load seeds the warehouse; rounds then merge into it.
    star_round(0)
    out["star"] = [compiles(lambda m=m: star_round(m)) for m in (5, 10)]
    print(json.dumps(out))
    spark.stop()
    """
)


# A q_iterative_suite rerun can plan one of PageRank's round joins
# another way than the runs before it (most likely AQE planning from
# runtime shuffle sizes) and compile that variant: 0-5 classes on some
# reruns, in six sessions of 3-8 runs at sf0.001, with or without the
# overlap pool. At Spark's default cap every rerun compiles about 150.
ITERATIVE_PLAN_VARIANT_CLASSES = 16


def test_steady_state_round_compiles_nothing(tmp_path):
    """A repeated star load plus warehouse read compiles no class, and a
    repeated q_iterative_suite run compiles at most its plan variants:
    every class the first run compiled is still cached. The first
    run's count is the positive control, so the check cannot pass on a
    counter that never moves."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_SUBMIT_ARGS"}
    env["TMPDIR"] = str(tmp_path)
    env["WF_DRIVER_MEMORY"] = "2g"
    proc = subprocess.run(
        [sys.executable, "-c", _ROUNDS.format(repo=REPO_DIR, sf=SF_SMALL)],
        capture_output=True, text=True, env=env, timeout=1500, cwd=REPO_DIR,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    counts = json.loads(proc.stdout.strip().splitlines()[-1])
    first, *reruns = counts["iterative"]
    assert first > 100, counts
    assert sum(reruns) <= ITERATIVE_PLAN_VARIANT_CLASSES, counts
    star_first, star_steady = counts["star"]
    assert star_first > 0, counts
    assert star_steady == 0, counts
