"""Benchmark entry point; run from the repository root:

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Runs one workload in this process on ``local[<cores>]``, checks every
output against the independent model, and prints as its last stdout
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics of the traced run with ``--trace 1``. Exits non-zero, printing
no result, when the run cannot complete. Every file the run writes
(spool, sink state, checkpoints, Spark local dirs, temp files) lives in
a per-run directory under ``.perfbench-tmp/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("trickle", "bulk")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(tmp: str) -> None:
    """Point every temp and local directory of this process, the JVM
    and the Python workers into ``tmp``; make ``pg2ch_spark``
    importable by the workers."""
    for sub in ("tmp", "scratch", "local", "warehouse"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(tmp, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f'--conf "spark.driver.extraJavaOptions={java_opts}"',
            f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def _stop_jvm(gateway) -> None:
    """After ``spark.stop()``: end the JVM (it exits when its stdin
    closes) and wait for it and the Python workers it started."""
    from spans import child_pids, wait_gone

    proc = gateway.proc
    workers = child_pids(proc.pid)
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    grandchildren = [g for w in workers for g in child_pids(w)]
    wait_gone(workers + grandchildren, timeout=30)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    import pg2ch_spark  # noqa: F401 — fail fast outside a full checkout

    base = os.path.join(os.getcwd(), ".perfbench-tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    try:
        _isolate(tmp)
        import replication

        res = replication.run(
            args.workload, args.seed, args.seconds, bool(args.trace), tmp, cores()
        )
        _stop_jvm(res["gateway"])
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run's directory is still there

    print(
        "warm: " + " ".join(f"{w:.2f}s" for w in res["warm_s"])
        + f"; rounds: {len(res['round_s'])} "
        + " ".join(f"{r:.2f}s" for r in res["round_s"])
        + f"; lag samples: {res['lag_samples']}",
        file=sys.stderr,
    )
    for e in res["errors"]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    metrics = res["layers"] if args.trace else res["metrics"]
    print(
        json.dumps(
            {
                "correct": not res["errors"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
