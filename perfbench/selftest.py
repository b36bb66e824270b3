"""Self-tests for the benchmark itself.

    python3 perfbench/selftest.py          # everything (about 4 minutes)
    python3 perfbench/selftest.py --quick  # no Spark: determinism and names

1. The same seed gives byte-identical inputs (tables, batches, whatever
   the batch count) and the same pass orders and read choices; another
   seed gives other inputs.
2. Every metric name in BENCHMARK.json matches ``[A-Za-z0-9_.-]+``.
3. A smoke run of each workload (sf0.001 tables, 20-station batches,
   a couple of loads or passes) through ``perfbench/run.py`` prints
   exactly the BENCHMARK.json metrics, each with its declared unit:
   the end-to-end set untraced, the per-layer set traced.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    KEEP_LOADS, QUERY_MIX, choose_read, pass_orders,
)

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_same_inputs() -> None:
    assert datagen.digest(datagen.make_tables(5, 0.001)) == datagen.digest(datagen.make_tables(5, 0.001))
    assert datagen.digest(datagen.make_tables(5, 0.001)) != datagen.digest(datagen.make_tables(6, 0.001))
    assert datagen.digest(datagen.make_batches(5, 4, 20)) == datagen.digest(datagen.make_batches(5, 4, 20))
    assert datagen.digest(datagen.make_batches(5, 4, 20)) != datagen.digest(datagen.make_batches(6, 4, 20))
    # A run sizes its batch list from --seconds: batch b must not depend on the count.
    assert datagen.digest(datagen.make_batches(5, 2, 20)) == datagen.digest(datagen.make_batches(5, 4, 20)[:2])
    a, b = pass_orders(5, QUERY_MIX), pass_orders(5, QUERY_MIX)
    orders = [next(a) for _ in range(4)]
    assert orders == [next(b) for _ in range(4)]
    assert all(sorted(o) == sorted(QUERY_MIX) for o in orders)
    import numpy as np

    loads = list(range(1, 9))
    ra, rb = np.random.default_rng([5, 3]), np.random.default_rng([5, 3])
    picks = [choose_read(ra, loads[:k]) for k in range(1, 9)]
    assert picks == [choose_read(rb, loads[:k]) for k in range(1, 9)]
    assert all(p in loads[max(0, k - KEEP_LOADS):k] for k, p in zip(range(1, 9), picks))


def test_metric_names() -> None:
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names)), "metric names must be unique"
    bad = [n for n in names if not NAME.fullmatch(n) or len(n) > 64]
    assert not bad, bad
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def smoke(workload: str, trace: int) -> None:
    spec = _spec()
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    assert proc.returncode == 0, f"{workload} trace={trace}: rc={proc.returncode}"
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics differ: {set(got) ^ set(want)}"
    for name, m in result["metrics"].items():
        print(f"  {workload:16s} {name:32s} {m['value']:.6g} {m['unit']}")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--quick", action="store_true")
    args = p.parse_args()
    test_same_seed_same_inputs()
    test_metric_names()
    print("determinism and metric names: ok")
    if not args.quick:
        for w in ("etl_load", "warehouse_query"):
            for trace in (0, 1):
                smoke(w, trace)
                print(f"smoke {w} trace={trace}: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
