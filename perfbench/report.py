"""Run every workload once and print each metric by name and unit.

    python3 perfbench/report.py                  # all four workloads, untraced
    python3 perfbench/report.py --trace 1        # their per-layer metrics
    python3 perfbench/report.py --workloads kg_build kg_canonicalize --seed 3

Run from the repository root.  Each workload runs as its own
``perfbench/run.py`` process.  Besides the metrics it prints
``failed_frac`` (failed / attempted operations), the highest run-time
percentile the sample count supports and, for kg_incremental,
``bytes_per_triple``.  Exits non-zero if any output check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ALL = ["kg_build", "kg_open_vocab", "kg_incremental", "kg_canonicalize"]


def run(workload: str, seed: int, seconds: int, trace: int) -> tuple:
    """(extra line, result line) of one ``run.py`` process."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload]
    cmd += ["--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = [json.loads(x) for x in out.splitlines() if x.startswith("{")]
    extra = next(x["extra"] for x in lines if "extra" in x)
    return extra, lines[-1]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", default=ALL, choices=ALL)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    ok = True
    for wl in args.workloads:
        extra, result = run(wl, args.seed, args.seconds, args.trace)
        ok = ok and result["correct"]
        print(f"{wl}: attempted {result['attempted']}, failed {result['failed']}")
        for name, m in result["metrics"].items():
            print(f"  {name:28s} {m['value']:>16.6g} {m['unit']}")
        print(f"  {'failed_frac':28s} {extra['failed_frac']:>16.6g} ratio")
        for name in extra:
            if name.startswith("run_s_") and name != "run_s_samples":
                print(f"  {name:28s} {extra[name]:>16.6g} s  ({extra['samples']} samples)")
        if "bytes_per_triple" in extra:
            print(f"  {'bytes_per_triple':28s} {extra['bytes_per_triple']:>16.6g} B")
        sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
