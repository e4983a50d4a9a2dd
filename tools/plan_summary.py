#!/usr/bin/env python3
"""Summarize `graft.Explain` output into one plan-shape line per query.

Usage:
    sbt -batch "runMain graft.Explain <sfDir>" > explain.txt
    python3 tools/plan_summary.py explain.txt > registry_plan_summary.txt

Extraction rule (the one plans/r14 and plans/r15 state in their headers),
over each query's `explain("formatted")` text, tree and node details both:
  exch              occurrences of `Exchange`, `BroadcastExchange` included,
                    minus the `ReusedExchange` ones
  reused            occurrences of `ReusedExchange`
  joins             the distinct join operators, sorted, or `-`
  pushedFilterScans scans whose `PushedFilters: [...]` is not empty
It prints the lines sorted by query name; the caller writes the header.
"""
import re
import sys

JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct",
         "ShuffledHashJoin", "SortMergeJoin")


def blocks(text):
    """(name, plan text) for each `===== name =====` section."""
    # Spark's own `===== Subqueries =====` header stays inside its query
    parts = re.split(r"^===== (?!Subqueries )(\S+) =====$", text, flags=re.M)
    return zip(parts[1::2], parts[2::2])


def summary(name, plan):
    reused = len(re.findall(r"ReusedExchange", plan))
    exch = len(re.findall(r"Exchange", plan)) - reused
    joins = sorted({j for j in JOINS if re.search(r"\b%s\b" % j, plan)})
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return "%-35sexch=%2d reused=%d joins=%-55s pushedFilterScans=%d" % (
        name, exch, reused, ",".join(joins) or "-", pushed)


def main(path):
    with open(path) as f:
        rows = dict(blocks(f.read()))
    for name in sorted(rows):
        print(summary(name, rows[name]))


if __name__ == "__main__":
    main(sys.argv[1])
