"""Print every end-to-end metric of every workload, with units, and gate
on correctness.

    python3 perfbench/report.py [--seed 1] [--workload NAME ...]

For each workload in BENCHMARK.json this runs ``perfbench/run.py`` once
untraced and prints its end-to-end metrics, the seed and the sample
counts.  It then runs the same seed traced and prints the per-layer
metrics, the self time of each span name and the tracing overhead
(traced minus untraced ``pass_s``, both at nominal host speed).

Exits 1 when a workload's ``error_rate`` (failed / attempted ops) is
above 0 while its recorded baseline in ``perfbench/baseline.json`` is 0,
or when a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int,
        extra: list[str] = ()) -> tuple[dict, dict]:
    """Run one workload; returns (detail line, result line)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                           f"{proc.stderr[-2000:]}")
    detail = next(json.loads(x[len("# perfbench "):]) for x in lines
                  if x.startswith("# perfbench "))
    return detail, json.loads(lines[-1])


def show(metrics: dict) -> None:
    for name, m in metrics.items():
        print(f"  {name:30s} {m['value']:>16.6g} {m['unit']}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(HERE, "baseline.json")) as fh:
        baseline = json.load(fh)["error_rate"]
    seconds = spec["run_seconds"]
    status = 0
    for w in args.workload or [w["name"] for w in spec["workloads"]]:
        detail, result = run(w, args.seed, seconds, 0)
        rate = result["failed"] / result["attempted"]
        print(f"{w}: seed {args.seed}, {detail['cores']} cores, "
              f"{detail['passes']} pass(es), {detail['read_samples']} read "
              f"and {detail['write_samples']} write samples, "
              f"{result['attempted']} ops attempted, {result['failed']} "
              f"failed, error_rate {rate:.4g} (baseline {baseline[w]})")
        print(f"  reference query median {detail['ref_median_s']:.4f} s "
              f"(times below are scaled to nominal host speed)")
        show(result["metrics"])
        for failure in detail["failures"]:
            print(f"  FAILED {failure}")
        if rate > 0 and baseline[w] == 0:
            status = 1
        tdetail, traced = run(w, args.seed, seconds, 1)
        nominal = tdetail["nominal"]["pass_s"]
        untraced = result["metrics"]["pass_s"]["value"]
        print(f"  tracing overhead: {nominal - untraced:+.4f} s per pass "
              f"({nominal:.4f} traced vs {untraced:.4f} untraced, "
              f"nominal s)")
        print("  per-layer (traced run, per pass):")
        show(traced["metrics"])
        print("  self time by span (s per pass):")
        for name, sec in sorted(tdetail["self_s"].items()):
            print(f"  {name:30s} {sec:>16.6g} s")
    return status


if __name__ == "__main__":
    sys.exit(main())
