#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one benchmark workload.

Usage:
    python3 tools/ab_pairs.py --parent <dir> --change <dir> \\
        --workload index_lifecycle --seeds 911-920 --out pairs.jsonl

For each seed it runs `perfbench/run.py --workload W --seed S --seconds N
--trace 0` once in each checkout, one run at a time; the parent runs first
on odd seeds and the change first on even ones. N is `run_seconds` from
this repository's BENCHMARK.json, the same on both sides. Each run's last
stdout line (the `correct`/`attempted`/`failed`/`metrics` record) is
appended to the JSONL file with the workload, seed and side added.
A seed whose two runs the file already holds is not run again, so an
interrupted series resumes where it stopped.

It then reads every complete pair of the workload in the seed range from
the file and prints, for each end-to-end metric of BENCHMARK.json: each
side's median and quartiles, the parent's IQR (Q3 - Q1), the pairs the
change won (ties count for neither side), how much better the change's
median is (negative when worse), and two verdicts:

  gain   met        the change won at least 9/10 of the pairs and its
                    median is better than the parent's by more than the
                    parent's IQR
         not met    otherwise
         unresolved fewer than 10 complete pairs
  bound  ok         the change's median is no worse than the parent's by
                    more than the metric's bound, read as a fraction of
                    the parent's median
         worse      it is worse by more than that
         unresolved the parent's IQR is wider than the bound and not
                    every change run beats every parent run

It only calls the benchmark; it changes nothing in either checkout.
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_seeds(text):
    """'911-920' -> [911, ..., 920]."""
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; its last stdout line, or an error record.
    run.py bounds and kills its own JVM, so the run needs no timeout here."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        return {"error": f"rc={p.returncode}: {p.stderr.strip()[-500:]}"}
    return json.loads(lines[-1])


def load(path):
    if not path.is_file():
        return []
    return [json.loads(ln) for ln in path.read_text().splitlines() if ln.strip()]


def pairs(records, workload, seeds):
    """{seed: {side: record}} for the seeds both sides ran without error."""
    by_seed = {}
    for r in records:
        if r["workload"] == workload and r["seed"] in seeds and "error" not in r:
            by_seed.setdefault(r["seed"], {})[r["side"]] = r
    return {s: v for s, v in sorted(by_seed.items()) if len(v) == 2}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdicts(par, chg, better, bound):
    """(line fields, gain verdict, bound verdict) for one metric."""
    sign = 1 if better == "lower" else -1
    n = len(par)
    wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
    losses = sum(sign * (p - c) < 0 for p, c in zip(par, chg))
    pq1, pmed, pq3 = quartiles(par)
    cq1, cmed, cq3 = quartiles(chg)
    iqr = pq3 - pq1
    gain_gap = sign * (pmed - cmed)  # > 0 when the change is better
    if n < 10:
        gain = "unresolved"
    elif wins >= 0.9 * n and gain_gap > iqr:
        gain = "met"
    else:
        gain = "not met"
    all_better = all(sign * (p - c) > 0 for p in par for c in chg)
    if pmed and iqr > bound * abs(pmed) and not all_better:
        within = "unresolved"
    elif -gain_gap > bound * abs(pmed):
        within = "worse"
    else:
        within = "ok"
    rel = (cmed - pmed) / pmed * 100 if pmed else float("nan")
    fields = (f"{pmed:.4g} [{pq1:.4g}-{pq3:.4g}] IQR {iqr:.3g}",
              f"{cmed:.4g} [{cq1:.4g}-{cq3:.4g}]", f"{rel:+.1f}%",
              f"{wins}/{n} (lost {losses})", f"{gain_gap:+.3g}")
    return fields, gain, within


def report(records, workload, seeds, spec):
    done = pairs(records, workload, seeds)
    runs = [r for r in records if r["workload"] == workload and r["seed"] in seeds]
    for side in ("parent", "change"):
        rs = [r for r in runs if r["side"] == side]
        errs = sum("error" in r for r in rs)
        att = sum(r.get("attempted", 0) for r in rs)
        fail = sum(r.get("failed", 0) for r in rs)
        print(f"{side}: {len(rs)} runs, {errs} errored, {fail}/{att} query runs failed")
    print(f"{workload}: {len(done)} complete pairs, seeds {list(done)}")
    head = ("metric", "parent median [Q1-Q3]", "change median [Q1-Q3]", "change",
            "change won", "better by", "gain", "bound")
    rows = [head]
    for m in spec["end_to_end"]:
        name = m["name"]
        par = [done[s]["parent"]["metrics"][name]["value"] for s in done]
        chg = [done[s]["change"]["metrics"][name]["value"] for s in done]
        if not par:
            continue
        fields, gain, within = verdicts(par, chg, m["better"], m["bound"])
        rows.append((f"{name} ({m['unit']})", *fields, gain, within))
    widths = [max(len(r[i]) for r in rows) for i in range(len(head))]
    for r in rows:
        print("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="seed range A-B")
    ap.add_argument("--out", required=True, help="JSONL file the runs are appended to")
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    seeds = parse_seeds(args.seeds)
    out = Path(args.out)
    sides = {"parent": args.parent, "change": args.change}
    for seed in seeds:
        have = {r["side"] for r in load(out)
                if r["workload"] == args.workload and r["seed"] == seed and "error" not in r}
        order = ["parent", "change"] if seed % 2 else ["change", "parent"]
        for side in order:
            if side in have:
                continue
            rec = run_once(sides[side], args.workload, seed, seconds)
            rec.update(workload=args.workload, seed=seed, side=side)
            with out.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            status = rec.get("error") or ("ok" if rec["correct"] else f"{rec['failed']} failed")
            print(f"seed {seed} {side}: {status}", file=sys.stderr, flush=True)
    report(load(out), args.workload, set(seeds), spec)


if __name__ == "__main__":
    main()
