"""Run the benchmark over several seeds and print each metric's spread.

    python3 perfbench/spread.py --workload fresh --seconds 10 --seeds 1-10

For every metric of the runs' result lines it prints the median, the
quartiles and the spread (inter-quartile distance over the median, from
``statistics.quantiles(values, n=4)``), which is how run-to-run noise is
judged against each end-to-end metric's bound in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import spread  # noqa: E402


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t0 = time.perf_counter()
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", args.seconds,
             "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        lines = res.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        steal = next((x.split()[1] for x in lines if x.startswith("cpu_steal_s")), "?")
        print(f"seed {seed}: exit {res.returncode}, {time.perf_counter() - t0:.1f} s, "
              f"steal {steal} s, "
              f"correct {out['correct']}, {out['failed']}/{out['attempted']} failed, "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in out["metrics"].items()),
              flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:24s} median {statistics.median(xs):.4g}  quartiles "
              f"{q1:.4g} {q3:.4g}  spread {spread(xs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
