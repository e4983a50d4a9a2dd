#!/usr/bin/env python3
"""Layer-attributed benchmark of the fdi_flowspark query registry.

    python3 perfbench/run.py --workload ts_interactive --seed 1 --seconds 9 --trace 0

Builds the program from source (perfbench/build.py), then runs the
workload's fixed query mix (perfbench/workloads.json) as a closed loop with
a single client on one `local[N]` Spark session, N = min(4, nproc), in one
benchmark JVM. The JVM sets up (session, one cold warm-up pass), then
measures a fixed number of passes, in a seeded order reshuffled every pass:
`--seconds` divided by the workload's `nominal_pass_s`, the warm pass time
on the reference host (4-core VM), so the same `--seconds` always measures
the same work. Every query's output hash is checked against
perfbench/expected.json.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones
(from Spark's listeners, attached on every other pass) and the tracing
overhead. The last stdout line is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it is the
full run record (failures, the tail's rule and sample count, host probes).
"""
import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = build.BENCH
WORK = build.OUT / "run"
# a run must end within 180 s; leave room for start-up and output
RUN_LIMIT_S = 165.0
QUERY_TIMEOUT_S = 60
# every workload runs at this scale; --sf picks another (the smoke check's sf0.001)
SF = "0.01"
# the heap limit build.sbt gives graft.Bench
HEAP = "8g"
# local[N] with N = min(4, usable CPUs), the session size the mixes were sized on
CORES = min(4, len(os.sched_getaffinity(0)))

ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

# BENCHMARK.json, at the checkout root, names every metric and its unit
SPEC = json.loads((build.ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
MODULES = [k[:-len(".query_s")] for k in PER_LAYER if k.endswith(".query_s")]


def load_json(name):
    return json.loads((BENCH / name).read_text())


def host_probe():
    """1-minute load average and the cumulative /proc/stat CPU counters."""
    try:
        load = float(Path("/proc/loadavg").read_text().split()[0])
        cpu = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    except (OSError, ValueError, IndexError):
        return {"load1": None, "cpu": None}
    return {"load1": load, "cpu": cpu}


def steal_frac(before, after):
    """Share of CPU time the hypervisor stole between two probes."""
    if not before["cpu"] or not after["cpu"] or len(after["cpu"]) < 8:
        return None
    delta = [a - b for a, b in zip(after["cpu"], before["cpu"])]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else None


def pass_count(wl, seconds, trace):
    """Measured passes for a `seconds` budget. A traced run alternates
    untraced and traced passes in blocks U T T U, which cancel the speed-up
    of a warming JVM only when whole, so it rounds up to whole blocks."""
    n = max(1, round(seconds / wl["nominal_pass_s"]))
    return 4 * math.ceil(n / 4) if trace else n


def run_jvm(workload, sf, seed, seconds, trace):
    """Build, then run one benchmark JVM to completion; return its record."""
    wl = load_json("workloads.json")[workload]
    queries = wl["queries"]
    data_dir = BENCH / "data" / f"sf{sf}"
    if not data_dir.is_dir():
        raise RuntimeError(f"no tables for sf{sf} under {data_dir}")
    classes = build.ensure_built()
    deadline = time.monotonic() + RUN_LIMIT_S
    out = WORK / f"record-{os.getpid()}.json"
    spans = WORK / f"spans-{workload}-seed{seed}.jsonl"
    log = WORK / f"jvm-{os.getpid()}.log"
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise keep a perf-counter file in /tmp
    cmd = ["java", "-XX:-UsePerfData", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={WORK}", "-cp", build.classpath(classes),
           "perfbench.Harness", "--sf-dir", str(data_dir),
           "--queries", ",".join(queries), "--seed", str(seed),
           "--passes", str(pass_count(wl, seconds, trace)),
           "--max-seconds", str(4 * seconds + 30), "--trace", str(trace),
           "--cores", str(CORES), "--work-dir", str(WORK),
           "--query-timeout", str(QUERY_TIMEOUT_S), "--out", str(out),
           "--spans", str(spans)]
    out.unlink(missing_ok=True)
    launched = time.time()
    with open(log, "w") as lf:
        child = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            rc = child.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if child.poll() is None:
                child.kill()
                child.wait()
    if rc != 0 or not out.is_file():
        sys.stderr.write(log.read_text()[-3000:])
        raise RuntimeError(f"benchmark JVM failed (rc={rc}); see {log}")
    record = json.loads(out.read_text())
    out.unlink()
    log.unlink()
    record["setup_s"] = record["setup_end_ms"] / 1e3 - launched
    record["session_s"] = record["session_ready_ms"] / 1e3 - launched
    record["spans_file"] = str(spans.relative_to(build.ROOT)) if trace else None
    return record


def tail(by_query):
    """Per-query latency tail from {query: [latency of each pass]}; returns
    (value, rule). The rule is the nearest-rank value at the highest whole
    percentile that still has at least ten samples beyond it. Below 20
    samples that percentile would be the median or lower, and the slowest
    single sample was too noisy (quartile spread 0.38 over ten seeds on a
    4-core VM), so the slowest query's median latency stands in for it."""
    xs = sorted(x for v in by_query.values() for x in v)
    n = len(xs)
    if n < 20:
        return max(statistics.median(v) for v in by_query.values()), "slowest query's median"
    p = min(99, math.floor(100 * (n - 10) / n))
    return xs[math.ceil(p / 100 * n) - 1], f"p{p}"


def end_to_end(record):
    passes = [p for p in record["passes"] if p["pass"] > 0]
    by_query = {}
    for s in record["samples"]:
        if s["pass"] > 0:
            by_query.setdefault(s["query"], []).append(s["build_s"] + s["action_s"])
    latencies = [x for v in by_query.values() for x in v]
    tail_s, tail_rule = tail(by_query)
    metrics = {
        "setup_s": record["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(latencies),
        "query_tail_s": tail_s,
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        "live_heap_mb": record["live_heap_mb"],
    }
    return metrics, {"tail_rule": tail_rule, "tail_samples": len(latencies),
                     "pass_s_each": [p["wall_s"] for p in passes]}


def per_layer(record, tags):
    """Median over the traced passes of every layer counter; the overhead is
    the traced minus the untraced median pass time of the same JVM."""
    by_pass = {}
    for s in record["samples"]:
        by_pass.setdefault(s["pass"], []).append(s)
    rows, traced, plain = [], [], []
    for p in record["passes"]:
        if p["pass"] == 0:
            continue
        if not p["traced"]:
            plain.append(p["wall_s"])
            continue
        ss = by_pass[p["pass"]]
        row = dict(p["layers"])
        row["registry.build_s"] = sum(s["build_s"] for s in ss)
        row["registry.action_s"] = sum(s["action_s"] for s in ss)
        row["jvm.gc_s"] = p["gc_s"]
        row["jvm.jit_s"] = p["jit_s"]
        for m in MODULES:
            row[f"{m}.query_s"] = sum(s["build_s"] + s["action_s"]
                                      for s in ss if tags[s["query"]] == m)
        rows.append(row)
        traced.append(p["wall_s"])
    metrics = {k: statistics.median(row[k] for row in rows)
               for k in PER_LAYER if k != "trace.overhead_s"}
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return metrics, {"traced_pass_s": statistics.median(traced),
                     "untraced_pass_s": statistics.median(plain),
                     "traced_passes": len(traced), "untraced_passes": len(plain)}


def check(record, expected):
    """Count every query run, warm-up included; a throw, a timeout or a hash
    that differs from the committed table is a failure."""
    failures = []
    for s in record["samples"]:
        want = expected.get(s["query"])
        if s["error"] is not None:
            failures.append(f"{s['query']}: {s['error']}")
        elif want is None or s["hash"] != want:
            failures.append(f"{s['query']}: hash {s['hash']} != expected {want}")
    return len(record["samples"]), failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=SF, help=f"scale factor (default: {SF})")
    args = ap.parse_args()

    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        sys.exit(f"unknown workload {args.workload!r}; choose from {sorted(workloads)}")
    wl = workloads[args.workload]
    expected = load_json("expected.json").get(args.workload, {}).get(args.sf)
    if not expected:
        sys.exit(f"no expected hashes for {args.workload} at sf{args.sf}")

    before = host_probe()
    record = run_jvm(args.workload, args.sf, args.seed, args.seconds, args.trace)
    after = host_probe()

    attempted, failures = check(record, expected)
    if args.trace:
        metrics, info = per_layer(record, wl["modules"])
        units = PER_LAYER
    else:
        metrics, info = end_to_end(record)
        units = END_TO_END
    summary = {
        "workload": args.workload, "sf": args.sf, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "queries": len(wl["queries"]),
        "attempted": attempted, "fail_frac": len(failures) / attempted,
        "failures": failures[:20], **info,
        "session_s": record["session_s"],
        "probes": {
            "load1_before": before["load1"], "load1_after": after["load1"],
            "cpu_steal_frac": steal_frac(before, after), **record["probes"],
        },
        "spans": record["spans_file"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(summary))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    # a SIGTERM unwinds through run_jvm, which kills and reaps its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
