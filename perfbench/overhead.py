"""Tracing overhead of one workload: runs it untraced and traced with the
same seed and prints traced minus untraced for the headline latency
and the set-up time.

    python3 perfbench/overhead.py --workload backfill --seed 1 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600, check=True,
    )
    record = json.loads(out.stdout.splitlines()[-2])["record"]
    result = json.loads(out.stdout.splitlines()[-1])
    if trace:
        return record["end_to_end"]
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    plain = _run(args.workload, args.seed, args.seconds, 0)
    traced = _run(args.workload, args.seed, args.seconds, 1)
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "untraced": plain,
        "traced": traced,
        "overhead": {k: traced[k] - plain[k] for k in ("latency_p50_s", "setup_s")},
    }))


if __name__ == "__main__":
    main()
