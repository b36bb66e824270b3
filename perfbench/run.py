"""The repository benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload etl_load --seed 7 --seconds 10 --trace 0

Run it from the repository root. Workloads, metrics and their bounds
are declared in ``BENCHMARK.json``; ``perfbench/workloads.py`` holds
the loops. This process only orchestrates:

1. It makes a fresh work directory under ``.perfbench_work/`` in the
   checkout. The workload process gets it as ``TMPDIR`` and as Spark's
   local and temp directories, so the engine's per-process scratch
   layouts start cold on every run and never reach ``/tmp``.
2. It runs the workload in a child process of its own process group,
   waits for it, stops anything left in that group and removes the
   work directory.
3. It prints the child's result as the last line of standard output:
   ``{"correct", "attempted", "failed", "metrics"}``. It exits non-zero
   when the run failed or an output check did not hold.

``--trace 1`` installs timing wrappers and the Spark event log and
prints the per-layer metrics instead of the end-to-end ones; span
dumps and failure details go to ``.perfbench_out/``. ``--smoke`` runs
a tiny configuration for the self-tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("etl_load", "warehouse_query")
CHILD_TIMEOUT_S = 150.0  # plus up to 20 s to stop the group: within 3 minutes


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs and a short loop, for the self-tests")
    return p.parse_args(argv)


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the child's group,
    and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_pids(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + grace
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "weatherflow_spark")):
        print(f"perfbench: no weatherflow_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(work, sub))
    result_path = os.path.join(work, "result.json")
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONDONTWRITEBYTECODE="1",
        PERFBENCH_T0=repr(time.monotonic()),
    )
    cmd = [
        sys.executable, "-m", "perfbench.workloads",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ] + (["--smoke"] if args.smoke else [])
    # Child output goes to our stderr: the last stdout line is the result.
    child = subprocess.Popen(
        cmd, cwd=os.path.join(work, "cwd"), env=env, stdout=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: workload exceeded {CHILD_TIMEOUT_S:.0f} s", file=sys.stderr)
        rc = -1
    finally:
        _stop_group(child.pid)
        child.wait()
    try:
        with open(result_path) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still owns a work directory
    if rc != 0 or result is None:
        print(f"perfbench: workload process failed (rc={rc})", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
