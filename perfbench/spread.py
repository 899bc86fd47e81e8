#!/usr/bin/env python3
"""Run one workload once per seed and print, for each end-to-end metric,
the median and the spread: the distance between the first and third
quartile (statistics.quantiles(values, n=4)) as a share of the median.
A metric is steady when its spread is well below its bound in
BENCHMARK.json.

    python3 perfbench/spread.py --workload mr_core --seeds 1-10
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
REPO = BENCH.parent


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    a = ap.parse_args()
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    first, last = (int(x) for x in a.seeds.split("-"))
    values, bad = {}, 0
    for seed in range(first, last + 1):
        out = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=REPO, capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        bad += not res["correct"]
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={m['value']:.4g}"
                                          for k, m in res["metrics"].items()), flush=True)
    print(f"{a.workload}: {last - first + 1} runs, {bad} not correct")
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"  {m['name']:16} median {med:10.4f} {m['unit']:5} spread {(q3 - q1) / med:.3f}"
              f"  (bound {m['bound']})")


if __name__ == "__main__":
    main()
