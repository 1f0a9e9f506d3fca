#!/usr/bin/env python3
"""Per-key scale factors between two bench runs at different scales.

Usage:
    python3 scripts/scale_report.py <low> <high> <out.json> [notes.json]

Each input is either a `graft.Bench` full JSON artifact (`queries`:
key -> median seconds, and `errors`) or the TSV that
`scripts/bench_one.sh` prints (OK/TIMEOUT/KILLED/ERR lines; a later
line for a key overrides an earlier one, so a re-measurement supersedes
a first pass). Only a TSV's [min, max] is kept: a JSON artifact's
`spread` is not rewritten when a key's median is re-measured. factor = high / low, rounded to 0.1: with 10x
the data a factor up to ~10 is linear, and factors above 12 are
flagged. A key present on one side only gets an explicit "missing"
error, so a child JVM that died without a result line cannot vanish
from the report. notes.json (optional) maps key -> adjudication string,
merged into the records. Both runs must share one bench configuration
(SPARK_GRAFT_CPUS, isolation), or the factors are noise.
"""

import json
import sys

FLAG = 12


def read_run(path):
    """key -> (median_sec, [min, max] or None), or an error string."""
    with open(path) as f:
        text = f.read()
    if text.lstrip().startswith("{"):
        run = json.loads(text)
        out = {k: (float(v), None) for k, v in run["queries"].items()}
        out.update({k: "ERR " + str(e)[:120] for k, e in run.get("errors", {}).items()})
        return out
    out = {}
    for line in text.splitlines():
        parts = line.strip().split("\t")
        if len(parts) < 3 or parts[0] not in ("OK", "TIMEOUT", "KILLED", "ERR"):
            continue
        if parts[0] == "OK":
            spread = [float(parts[3]), float(parts[4])] if len(parts) >= 5 else None
            out[parts[1]] = (float(parts[2]), spread)
        else:
            out[parts[1]] = parts[0] + " " + parts[2][:120]
    return out


def record(lo, hi):
    rec, errors = {}, []
    for side, v in (("low", lo), ("high", hi)):
        if v is None:
            rec[side] = None
            errors.append(f"missing at {side} (no result line: did the child die?)")
        elif isinstance(v, str):
            rec[side] = None
            errors.append(v)
        else:
            rec[side] = v[0]
            if v[1] is not None:
                rec[side + "_spread"] = v[1]
    if errors:
        rec["error"] = " ".join(errors)
    if rec["low"] and rec["high"] is not None:
        rec["factor"] = round(rec["high"] / rec["low"], 1)
    return rec


def main():
    low, high = read_run(sys.argv[1]), read_run(sys.argv[2])
    notes = {}
    if len(sys.argv) > 4:
        with open(sys.argv[4]) as f:
            notes = json.load(f)
    qs = {}
    for key in sorted(set(low) | set(high)):
        qs[key] = record(low.get(key), high.get(key))
        if key in notes:
            qs[key]["note"] = notes[key]

    factors = {k: r["factor"] for k, r in qs.items() if "factor" in r}
    flagged = dict(sorted(((k, f) for k, f in factors.items() if f > FLAG),
                          key=lambda kv: -kv[1]))
    ranked = sorted(factors.values())
    out = {
        "metric": "scale_probe",
        "unit": "sec",
        "low": sys.argv[1],
        "high": sys.argv[2],
        "n_keys": len(qs),
        "n_probed": len(factors),
        "errors": sorted(k for k in qs if "error" in qs[k]),
        "median_factor": ranked[len(ranked) // 2] if ranked else None,
        "worst_scaler": max(factors, key=factors.get, default=None),
        "flagged_gt12x": flagged,
        "queries": qs,
    }
    with open(sys.argv[3], "w") as f:
        json.dump(out, f, indent=1)
    print(f"{len(factors)}/{len(qs)} probed, median factor {out['median_factor']}, "
          f"worst {out['worst_scaler']}, {len(out['errors'])} errors, "
          f"{len(flagged)} flagged >{FLAG}x")
    for k, v in flagged.items():
        print(f"  {v:6.1f}x {k} ({qs[k]['low']:.2f}s -> {qs[k]['high']:.2f}s)")


if __name__ == "__main__":
    main()
