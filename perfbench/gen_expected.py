#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the committed expected-hash table.

    python3 perfbench/gen_expected.py

For every workload and every scale factor under perfbench/data, runs the
benchmark JVM with two seeds (so two different query orders) and keeps a
query's full-output hash only if it is identical in every pass of both
runs, warm-up included. Any query that throws or disagrees with itself
aborts the run; nothing is written then. Run it on the commit whose
outputs are the reference, never to make a failing run pass.
"""
import json
import sys

import run

SEEDS = (1, 2)
SECONDS = 4


def main():
    workloads = run.load_json("workloads.json")
    scales = sorted(p.name[2:] for p in (run.BENCH / "data").glob("sf*") if p.is_dir())
    table = {}
    for name, wl in workloads.items():
        for sf in scales:
            seen = {}
            for seed in SEEDS:
                record = run.run_jvm(name, sf, seed, SECONDS, 0)
                for s in record["samples"]:
                    if s["error"] is not None:
                        sys.exit(f"{name} sf{sf} seed {seed}: {s['query']} failed: {s['error']}")
                    seen.setdefault(s["query"], set()).add(s["hash"])
            unstable = {q: sorted(h) for q, h in seen.items() if len(h) != 1}
            if unstable or set(seen) != set(wl["queries"]):
                sys.exit(f"{name} sf{sf}: hashes not repeatable: {unstable}")
            table.setdefault(name, {})[sf] = {q: seen[q].pop() for q in wl["queries"]}
            print(f"{name} sf{sf}: {len(wl['queries'])} queries repeat exactly", file=sys.stderr)
    (run.BENCH / "expected.json").write_text(json.dumps(table, indent=2, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
