#!/usr/bin/env python3
"""Smoke check of the benchmark itself: one measured pass of each workload
at sf0.001, untraced and traced.

    python3 perfbench/smoke.py

Asserts that every metric BENCHMARK.json names is printed with its unit,
that the run record carries fail_frac, the tail's rule and its sample
count, and that the hash check runs: all hashes match the committed table,
and checking a run against the table with one hash altered reports that
query.
Exits non-zero on the first failed assertion.
"""
import json
import subprocess
import sys

import run

SF = "0.001"


def bench(workload, trace):
    cmd = [sys.executable, str(run.BENCH / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", SF]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        sys.exit(f"{workload} trace={trace}: rc={out.returncode}\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    spec = run.SPEC
    wanted = {0: run.END_TO_END, 1: run.PER_LAYER}
    assert {w["name"] for w in spec["workloads"]} == set(run.load_json("workloads.json"))
    for w in spec["workloads"]:
        for trace in (0, 1):
            record, result = bench(w["name"], trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
            assert result["correct"] and result["failed"] == 0, record["failures"]
            assert result["attempted"] >= 2 * record["queries"], result
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == wanted[trace], (w["name"], trace, got)
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            assert record["fail_frac"] == 0
            if trace == 0:
                assert record["tail_rule"] and record["tail_samples"] >= record["queries"]
            print(f"ok  {w['name']} trace={trace}", file=sys.stderr)

    # the hash check must catch a wrong output, not just a throw
    name = spec["workloads"][0]["name"]
    altered = dict(run.load_json("expected.json")[name][SF])
    query = sorted(altered)[0]
    altered[query] = "0"
    attempted, failures = run.check(run.run_jvm(name, SF, 7, 0, 0), altered)
    assert len(failures) >= 2, failures
    assert all(f.startswith(f"{query}: hash") for f in failures), failures
    print(f"ok  altered hash of {query} reported as {len(failures)} of {attempted} failures",
          file=sys.stderr)


if __name__ == "__main__":
    main()
