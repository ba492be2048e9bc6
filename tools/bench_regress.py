#!/usr/bin/env python3
"""Per-query bench regression scan between two sequential-pass maps.

Implements the BASELINE.md round-9/10 convention mechanically: compare
seq<->seq only, normalize by the run-pair's MEDIAN ratio first (uniform
inflation is box load, not code — see the round-10 A/B control), then
flag queries whose load-normalized ratio still exceeds the threshold.
A flagged query gets solo-confirmed or root-caused, never presumed.

Usage:
  tools/bench_regress.py OLD NEW [--threshold 2.0]

OLD / NEW are either BENCH_DETAILS.json-shaped files (seq_queries at the
top level) or BENCH_SEQ_r{N}.json archives — for archives, the LAST run
in the file is used unless a run name is appended with ':', e.g.
  tools/bench_regress.py BENCH_SEQ_r22.json:r22_entry_run1 BENCH_DETAILS.json
Exit 1 if any query is flagged, 0 otherwise.
"""
import json
import statistics
import sys


def load_seq(spec):
    path, _, runname = spec.partition(":")
    doc = json.load(open(path))
    if "seq_queries" in doc:
        return doc["seq_queries"], path
    runs = doc["runs"]
    if runname:
        matches = [r for r in runs if r.get("run") == runname]
        if not matches:
            sys.exit(f"no run named {runname!r} in {path} "
                     f"(have: {[r.get('run') for r in runs]})")
        run = matches[0]
    else:
        run = runs[-1]
    if "seq_queries" not in run:
        sys.exit(f"run {run.get('run')!r} in {path} has no seq_queries map "
                 "(summary-only entry)")
    return run["seq_queries"], f"{path}:{run.get('run')}"


def main():
    argv = sys.argv[1:]
    args, thresh = [], 2.0
    i = 0
    while i < len(argv):
        a = argv[i]
        # Exact flag match only (ADVICE r10: startswith silently accepted
        # misspellings like --thresholds), and bounds-check the space form.
        if a == "--threshold" or a.startswith("--threshold="):
            if "=" in a:
                thresh = float(a.split("=", 1)[1])
            else:
                i += 1
                if i >= len(argv):
                    sys.exit("--threshold requires a value\n\n" + __doc__)
                thresh = float(argv[i])
        elif a.startswith("--"):
            sys.exit(f"unknown flag {a!r}\n\n" + __doc__)
        else:
            args.append(a)
        i += 1
    if len(args) != 2:
        sys.exit(__doc__)
    old, old_tag = load_seq(args[0])
    new, new_tag = load_seq(args[1])
    common = sorted(set(old) & set(new))
    missing = sorted(set(old) ^ set(new))
    if missing:
        print(f"NOTE: {len(missing)} queries only on one side: "
              f"{', '.join(missing[:10])}{' ...' if len(missing) > 10 else ''}")
    # Median over queries big enough that timer noise doesn't dominate.
    basis = [new[k] / old[k] for k in common if old[k] > 0.05]
    med = statistics.median(basis) if basis else 1.0
    print(f"comparing {new_tag} vs {old_tag}: {len(common)} queries, "
          f"median ratio {med:.2f} (box-load factor, divided out below)")
    # ADVICE r10: median normalization divides out any slowdown that hits
    # the MAJORITY of queries — a genuine uniform regression (a shared scan
    # path, a session-config change) would read as box load and exit clean.
    # Surface it for the solo-confirm step rather than silently absorbing.
    if med > 1.5:
        print(f"WARNING: raw median ratio {med:.2f} exceeds 1.5x — if the "
              "box was idle (check loadavg in the archived run records), "
              "this is a UNIFORM regression in a shared path, not load; "
              "solo-confirm before disposing")
    flagged = []
    for k in common:
        if old[k] <= 0.05:
            continue  # sub-50ms solo times are timer noise
        norm = (new[k] / old[k]) / med
        if norm > thresh:
            flagged.append((norm, k))
    for norm, k in sorted(flagged, reverse=True):
        print(f"FLAG {k}: {old[k]:.3f}s -> {new[k]:.3f}s "
              f"({norm:.2f}x load-normalized) — solo-confirm or root-cause")
    if not flagged:
        print(f"no query exceeds {thresh}x load-normalized — clean")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
