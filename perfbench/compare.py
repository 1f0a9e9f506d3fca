#!/usr/bin/env python3
"""Compares two sets of untraced results, e.g. a parent commit's and a
change's, each a directory of `*-trace0.json` files that run.py wrote
under `.bench_build/results/`:

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Results pair up by dataset fingerprint (generator version, seed, sizes,
input checksum). A result without a partner of the same fingerprint is
refused and the command exits 2: figures measured on different data are
never compared.
"""
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(d):
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*-trace0.json"))):
        with open(path) as f:
            r = json.load(f)
        out[json.dumps(r["fingerprint"], sort_keys=True)] = r
    return out


def main(a_dir, b_dir):
    a, b = load(a_dir), load(b_dir)
    unpaired = sorted(set(a) ^ set(b))
    if unpaired:
        for fp in unpaired:
            print(f"refused: no partner with fingerprint {fp}", file=sys.stderr)
        return 2
    if not a:
        print("no results to compare", file=sys.stderr)
        return 2
    by_workload = {}
    for fp in a:
        by_workload.setdefault(a[fp]["fingerprint"]["workload"], []).append(fp)
    for workload, fps in sorted(by_workload.items()):
        for metric in a[fps[0]]["end_to_end"]:
            xs = [a[fp]["end_to_end"][metric] for fp in fps]
            ys = [b[fp]["end_to_end"][metric] for fp in fps]
            ma, mb = stats.median(xs), stats.median(ys)
            print(f"{workload} {metric}: {ma:.6g} -> {mb:.6g} ({(mb - ma) / ma:+.1%}, n={len(fps)})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
