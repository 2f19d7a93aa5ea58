"""Run-to-run spread of the benchmark, as the bounds in BENCHMARK.json
are judged: for each metric, the distance between the first and third
quartile of its values over several seeds, as a share of their median.

    python3 perfbench/spread.py --workload query_mix --seeds 1 2 3 4 5

Runs are sequential (one Spark session at a time); each run's last
stdout line is its result object."""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent / "run.py"


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    runs = []
    for seed in args.seeds:
        out = subprocess.run(
            [sys.executable, str(BENCH), "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, check=True, cwd=BENCH.parents[1])
        result = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(result)
        print(json.dumps({"seed": seed, **result}), flush=True)
    names = runs[0]["metrics"]
    summary = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs]
        summary[name] = {"median": statistics.median(vals),
                         "spread": spread(vals) if len(vals) > 1 else None}
    print(json.dumps({"workload": args.workload, "seeds": args.seeds,
                      "correct": all(r["correct"] for r in runs), "spread": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
