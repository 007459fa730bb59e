"""Run the benchmark over several seeds and report each end-to-end metric's
median and quartile spread (distance between the first and third
quartile over the median).

    python3 perfbench/spread.py --workload queries --seeds 1 2 3 4 5

Run it from the repository root with nothing else running on the
machine; each seed is one untraced run of perfbench/run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import iqr_share  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(prog="perfbench/spread.py", allow_abbrev=False)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=int, nargs="+")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, check=True)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect result {result}", file=sys.stderr)
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        info = proc.stdout.strip().splitlines()[-2]
        steal = info.split("steal=")[1] if "steal=" in info else "?"
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
              + f" steal={steal}", flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, xs in values.items():
        spread = iqr_share(xs) if len(xs) > 1 else float("nan")
        print(f"{name:14s} median {statistics.median(xs):10.4g}  spread {spread:.3f}  bound {bounds.get(name)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
