"""Run-to-run spread of the end-to-end metrics over the untraced runs
recorded in .bench_build/results, as the benchmark's acceptance rule
takes it: interquartile distance over the median.

    python3 perfbench/spread.py queries     # from the repository root
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402


def main(workload):
    runs = []
    for path in sorted(glob.glob(os.path.join(".bench_build", "results",
                                              f"{workload}-seed*-trace0.json"))):
        with open(path) as f:
            runs.append(json.load(f))
    print(f"{workload}: {len(runs)} runs, seeds {[r['seed'] for r in runs]}")
    for name in runs[0]["end_to_end"] if runs else []:
        values = [r["end_to_end"][name] for r in runs]
        print(f"  {name:12s} median {M.median(values):10.4f}  spread {M.spread(values):.3f}")


if __name__ == "__main__":
    main(sys.argv[1])
