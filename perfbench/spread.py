"""Run one workload over several seeds and print each metric's median and
quartile spread (distance between the first and third quartiles as a share
of the median), the steadiness figure the benchmark's bounds are set by.

    python3 perfbench/spread.py --workload spatial_batch --seeds 1-10 --seconds 12

Prefix with `taskset -c 0` for the single-threaded (local[1]) baseline.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    bad = 0
    for s in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(s), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode or not last.startswith("{"):
            print(f"seed {s}: exit {p.returncode}", file=sys.stderr)
            bad += 1
            continue
        res = json.loads(last)
        bad += not res["correct"]
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + json.dumps({k: round(m["value"], 4) for k, m in res["metrics"].items()}),
              flush=True)
    summary = {
        k: {"median": statistics.median(xs), "spread": stats.spread(xs) if len(xs) > 1 else 0.0,
            "n": len(xs)}
        for k, xs in values.items()
    }
    print(json.dumps({"workload": args.workload, "incorrect_or_failed_runs": bad,
                      "metrics": summary}, indent=1))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
