"""Steadiness check: run one workload N times, each with another seed,
and print for every end-to-end metric its median, quartiles, the
quartile spread (Q3 − Q1) / median and the full spread (max − min) /
median, next to the bound ``BENCHMARK.json`` sets. Run from the
repository root:

    python3 perfbench/steady.py --workload trickle --runs 10
    python3 perfbench/steady.py --workload bulk --runs 10 --sets 2

Runs are sequential (one Spark process at a time). With ``--sets 2``
the runs of two sets alternate (A, B, A, B, …), so both sets see the
same period of host load, and the shift of each median from set A to
set B is printed against the bound. Each run's line also shows the
share of CPU time the hypervisor took from this VM while it ran
(``steal`` in ``/proc/stat``): a run slowed by the host, rather than by
the program, mostly shows more of it. Add
``--json FILE`` to keep every run's result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def _run(workload: str, seed: int, seconds: float) -> dict:
    steal0, total0 = _cpu_ticks()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    steal1, total1 = _cpu_ticks()
    if out.returncode != 0:
        print(out.stderr[-2000:], file=sys.stderr)
        raise SystemExit(f"seed {seed} exited {out.returncode}")
    res = json.loads(out.stdout.strip().splitlines()[-1])
    res["steal"] = (steal1 - steal0) / max(1, total1 - total0)
    return res


def _summary(name: str, results: list[dict], bounds: dict) -> dict:
    print(f"\n{name}: {len(results)} runs, "
          f"correct={all(r['correct'] for r in results)}, "
          f"failed share={sorted({r['failed'] / r['attempted'] for r in results})}, "
          f"median steal={statistics.median(r['steal'] for r in results):.3f}")
    print(f"{'metric':14} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8} "
          f"{'range/med':>9} {'bound':>6}")
    medians = {}
    for metric in results[0]["metrics"]:
        vals = [r["metrics"][metric]["value"] for r in results]
        med = medians[metric] = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        print(f"{metric:14} {med:12.5g} {q1:12.5g} {q3:12.5g} {(q3 - q1) / med:8.3f} "
              f"{(max(vals) - min(vals)) / med:9.3f} {bounds.get(metric, float('nan')):6.2f}")
    return medians


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10, help="runs per set")
    p.add_argument("--sets", type=int, choices=(1, 2), default=1)
    p.add_argument("--seed0", type=int, default=1,
                   help="run i of set s uses seed seed0 + i * sets + s")
    p.add_argument("--seconds", type=float, default=bench["run_seconds"])
    p.add_argument("--json", help="write every run's result here")
    args = p.parse_args(argv)

    sets: list[list[dict]] = [[] for _ in range(args.sets)]
    for i in range(args.runs):
        for s, results in enumerate(sets):
            seed = args.seed0 + i * args.sets + s
            res = _run(args.workload, seed, args.seconds)
            results.append(res)
            print(f"set {'AB'[s]} seed {seed}: correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} steal={res['steal']:.3f} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump(sets, f, indent=1)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    medians = [
        _summary(f"{args.workload} set {'AB'[s]}", results, bounds)
        for s, results in enumerate(sets)
    ]
    if args.sets == 2:
        print(f"\n{'metric':14} {'B vs A':>8} {'worse by':>9} {'bound':>6}")
        for metric, a in medians[0].items():
            shift = medians[1][metric] / a - 1
            worse = shift if better.get(metric) == "lower" else -shift
            print(f"{metric:14} {shift:+8.3f} {worse:+9.3f} "
                  f"{bounds.get(metric, float('nan')):6.2f}"
                  + ("  OVER" if worse > bounds.get(metric, float("inf")) else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
