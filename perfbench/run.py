#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload sim --seed 1 --seconds 20 --trace 0

Builds the program from source (once per source state), generates the
workload's inputs from the seed, runs the workload in one JVM, checks
its outputs, and prints the metrics: one `metric` line per figure and,
last, one JSON object. `--trace 0` reports the end-to-end metrics,
`--trace 1` the per-layer span metrics of BENCHMARK.json and writes the
span artifact. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_HEAP = "2g"
# Untimed episodes before the measured loop. The JIT keeps compiling
# Spark's planner code for over a minute: after one warm-up episode the
# first measured sim episodes ran up to a third slower than the last.
# Ingest settles after its first, slow, episode.
WARMUP_EPISODES = {"sim": 6, "ingest": 2, "curate": 1}
RUN_LIMIT_S = 170  # the command must end within 180 s once built


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_jvm(root, classes, workload, inputs, work, seconds, trace, deadline):
    out = os.path.join(work, "raw.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed, pre-touched heap: while G1 grew the heap and faulted in
    # fresh pages, peak RSS was bimodal and the spread of throughput
    # between runs was up to twice as wide.
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", *build.ADD_OPENS,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false",
           "-Dspark.driver.host=127.0.0.1",
           "-Dspark.driver.bindAddress=127.0.0.1",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-cp", build.classpath(root, classes), "perfbench.Main",
           "--workload", workload, "--inputs", inputs, "--work", work,
           "--seconds", str(seconds), "--trace", str(trace), "--out", out,
           "--warmup-episodes", str(WARMUP_EPISODES[workload])]
    for k, v in gen.SIZES[workload].items():
        cmd += ["--param", f"{k}={v}"]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"workload exceeded its time limit, see {log}")
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"workload JVM exited {rc}, see {log}")
    with open(out) as f:
        return json.load(f)


def end_to_end(raw, gen_s):
    """The metrics a user of each workload sees, from the untraced figures.

    Each span enters at the median of its calls, weighted by how often
    it runs per episode, so that a few calls slowed by a neighbour on a
    shared host do not move a run's figure.
    """
    walls = raw["span_walls"]
    episodes = raw["episodes"]
    per_episode = {s: len(xs) / episodes * stats.median(xs) for s, xs in walls.items()}
    ops = [s for s in raw["op_spans"] if s in walls]
    return {
        "setup_s": gen_s + raw["session_s"] + stats.median(raw["prep_s"]) + raw["warmup_s"],
        "work_per_s": raw["units"] / episodes / sum(per_episode.values()),
        # a mean over the kinds of operation, not one median: sim's steps
        # come in optimize cycles of three planning-only steps and one
        # compacting step, and a median lands between the clusters
        "op_mean_s": sum(per_episode[s] for s in ops) / (sum(len(walls[s]) for s in ops) / episodes),
    }


def named(workload, raw, e2e, failed_ratio):
    """The workload's own figures, by the names the benchmark doc uses:
    (name, value, unit, note). A timing is its median, and the highest
    tail percentile with ten samples beyond it, with the sample count.
    """
    walls = raw["span_walls"]
    rows = [("setup_s", e2e["setup_s"], "s", ""),
            ("peak_rss_mb", raw["peak_rss_mb"], "MB", ""),
            ("failed_op_ratio", failed_ratio, "ratio", "")]

    def timing(prefix, span):
        xs = walls.get(span, [])
        if not xs:
            return [(f"{prefix}_p50_s", None, "s", "no samples")]
        tail = stats.highest_percentile(xs)
        return [(f"{prefix}_p50_s", stats.median(xs), "s", f"n={len(xs)}"),
                (f"{prefix}_p{tail[0] * 100:g}_s", tail[1], "s", f"n={len(xs)}") if tail else
                (f"{prefix}_p90_s", None, "s", f"refused: n={len(xs)}, fewer than 10 beyond")]

    if workload == "sim":
        loop = sum(sum(walls.get(s, [])) for s in ("spawn", "step", "step_compact", "query"))
        rows.append(("entity_steps_per_s", raw["units"] / loop, "1/s", ""))
        rows += timing("history", "history")
    elif workload == "ingest":
        rows.append(("events_per_s", e2e["work_per_s"], "1/s", ""))
        for span in ("batch", "commit", "read_snapshot", "read_history", "read_restart"):
            rows += timing(span, span)
        rows.append(("stored_bytes_per_event", raw["extras"]["stored_bytes_per_event"], "B", ""))
    elif workload == "curate":
        rows.append(("docs_per_s", e2e["work_per_s"], "1/s", ""))
    return rows


def per_layer(spec, raw):
    """Each BENCHMARK.json per-layer metric `<span>.<metric>`; a span the
    workload does not run reports 0."""
    spans = raw.get("spans", {})
    out = {}
    for m in spec["per_layer"]:
        span, metric = m["name"].rsplit(".", 1)
        out[m["name"]] = float(spans.get(span, {}).get(metric, 0.0))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found: run from the repository root")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in gen.SIZES:
        fail(f"unknown workload {args.workload!r}")

    bdir = os.path.join(root, ".bench_build")
    os.makedirs(bdir, exist_ok=True)
    try:
        classes = build.build(root, bdir, os.path.join(bdir, "build.log"))
    except Exception as e:  # noqa: BLE001 - a build failure ends the run
        fail(str(e))
    deadline = time.monotonic() + RUN_LIMIT_S

    work = os.path.join(bdir, "work", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    t0 = time.perf_counter()
    tables = gen.generate(args.workload, args.seed)
    gen.write(tables, inputs)
    gen_s = time.perf_counter() - t0
    fingerprint = gen.fingerprint(args.workload, args.seed, tables)

    try:
        raw = run_jvm(root, classes, args.workload, inputs, work, args.seconds, args.trace,
                      deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
    failures = list(raw["failures"])
    attempted = raw.get("ops", 0)
    if raw.get("oracle_sql"):
        attempted += len(raw["oracle_sql"])
        failures += oracle.check(inputs, os.path.join(work, "curate"), raw["oracle_sql"])
    for msg in failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    correct = not failures and "span_walls" in raw
    attempted = max(1, attempted)

    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{args.workload}-seed{args.seed}")
    e2e = end_to_end(raw, gen_s) if "span_walls" in raw else {}
    report = named(args.workload, raw, e2e, len(failures) / attempted) if e2e else []
    record = {"fingerprint": fingerprint, "correct": correct, "end_to_end": e2e,
              "named": [list(r) for r in report], "raw": raw}
    if args.trace:
        record["per_layer"] = per_layer(spec, raw)
        record["overhead"] = overhead(e2e, fingerprint, f"{base}-trace0.json")
        with open(f"{base}-spans.json", "w") as f:
            json.dump({"fingerprint": fingerprint, "spans": raw.get("spans", {}),
                       "tracing_overhead": record["overhead"]}, f, indent=1, sort_keys=True)
    with open(f"{base}-trace{args.trace}.json", "w") as f:
        json.dump(record, f, indent=1)

    print(f"fingerprint {json.dumps(fingerprint, sort_keys=True)}")
    for name, value, unit, note in report:
        shown = "-" if value is None else f"{value:.6g}"
        print(f"metric {name} {shown} {unit} {note}".rstrip())
    if args.trace:
        ov = record["overhead"]
        if "refused" in ov:
            print(f"tracing_overhead refused: {ov['refused']}")
        else:
            for name, d in ov.items():
                print(f"tracing_overhead {name} {d:+.6g}")

    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = record["per_layer"]
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = e2e
    if not correct:
        print(json.dumps({"correct": False, "attempted": attempted, "failed": max(1, len(failures)),
                          "metrics": {}}))
        sys.exit(1)
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0,
                      "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()}}))


def overhead(traced, fingerprint, untraced_path):
    """Traced minus untraced, per end-to-end metric, against the untraced
    result of the same dataset; refused when the fingerprints differ."""
    if not os.path.exists(untraced_path):
        return {"refused": "no untraced result for this workload and seed"}
    with open(untraced_path) as f:
        base = json.load(f)
    if base["fingerprint"] != fingerprint:
        return {"refused": "the untraced result has a different dataset fingerprint"}
    untraced = base["end_to_end"]
    return {k: traced[k] - untraced[k] for k in traced if k in untraced}


if __name__ == "__main__":
    main()
