#!/usr/bin/env python3
"""Where a JFR recording's CPU samples go, per thread group.

Usage:
    python3 scripts/jfr_top.py [--within REGEX] <recording.jfr> <REGEX>...

Reads the recording's `jdk.ExecutionSample` events through
`jfr print --json --stack-depth 1000` (the default depth of 5 frames
hides every caller) and streams them, so a large recording needs little
memory. A thread group is a thread name with its numbers masked: every
Spark executor task thread falls in one group, `main` in another.

For each group it prints the number of samples and, for each REGEX, the
share of those samples whose stack holds a frame `package.Class.method`
that the REGEX matches (`re.search`). `--within` first keeps only the
samples whose stack matches it, e.g. `'perfbench\\.Sim\\.episode'` for
the driver's time inside the benchmark's `sim` episodes.

Record with, for example,

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=1024
      -XX:StartFlightRecording=filename=run.jfr,settings=profile"

The recorder keeps 64 frames by default, which cuts Spark's planner
stacks off below the caller that `--within` looks for. The script writes
nothing; it prints to stdout.
"""

import argparse
import collections
import json
import re
import subprocess
import sys

STACK_DEPTH = 1000
CHUNK = 1 << 20


def samples(path):
    """Yields (thread name, [frame names]) per execution sample."""
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
         "--stack-depth", str(STACK_DEPTH), path],
        stdout=subprocess.PIPE, text=True)
    decoder = json.JSONDecoder()
    buf = ""
    # the events array is the output's first '['
    while "[" not in buf:
        chunk = proc.stdout.read(CHUNK)
        if not chunk:
            break
        buf += chunk
    buf = buf[buf.find("[") + 1:] if "[" in buf else ""
    eof = False
    while True:
        buf = buf.lstrip(", \n\r\t")
        if buf.startswith("]"):
            break
        try:
            event, end = decoder.raw_decode(buf)
        except json.JSONDecodeError:
            if eof:
                break
            chunk = proc.stdout.read(CHUNK)
            eof = not chunk
            buf += chunk
            continue
        buf = buf[end:]
        values = event["values"]
        thread = values.get("sampledThread") or {}
        name = thread.get("javaName") or thread.get("osName") or "?"
        frames = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
                  for f in (values.get("stackTrace") or {}).get("frames", [])]
        yield name, frames
    proc.stdout.close()
    if proc.wait() != 0:
        sys.exit(f"jfr print exited {proc.returncode}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--within", help="keep only samples whose stack matches this regex")
    ap.add_argument("recording")
    ap.add_argument("patterns", nargs="+")
    args = ap.parse_args()
    within = re.compile(args.within) if args.within else None
    patterns = [re.compile(p) for p in args.patterns]
    total = collections.Counter()
    hits = collections.defaultdict(collections.Counter)
    for thread, frames in samples(args.recording):
        if within and not any(within.search(f) for f in frames):
            continue
        group = re.sub(r"\d+", "#", thread)
        total[group] += 1
        for p in patterns:
            if any(p.search(f) for f in frames):
                hits[group][p.pattern] += 1
    scope = f" within {args.within}" if within else ""
    print(f"{args.recording}: {sum(total.values())} samples{scope}")
    for group, n in total.most_common():
        print(f"{n:8d}  {group}")
        for p in patterns:
            k = hits[group][p.pattern]
            print(f"{k:8d}  {100.0 * k / n:5.1f} %  {p.pattern}")


if __name__ == "__main__":
    main()
