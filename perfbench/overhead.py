#!/usr/bin/env python3
"""Tracing overhead of one workload: run it untraced and traced with the
same seed and compare the median result time of the two runs.

    python3 perfbench/overhead.py --workload stream_replay --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def result_line(args, trace: int) -> dict:
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    args = ap.parse_args()
    plain = result_line(args, 0)["metrics"]["result_s_p50"]["value"]
    traced = result_line(args, 1)["metrics"]["trace.result_s_p50"]["value"]
    print(f"{args.workload}: result_s_p50 untraced {plain:.3f} s, traced {traced:.3f} s, "
          f"tracing overhead {traced - plain:+.3f} s ({100 * (traced / plain - 1):+.1f}%)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
