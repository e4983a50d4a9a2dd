#!/usr/bin/env python3
"""Why does a query compile generated classes on every warm run?

Usage:
    python3 tools/codegen_diff.py <log>

<log> is the combined stdout and stderr of a `graft.Profile` run that
lists the queries at least twice, with Spark's `CodeGenerator` logger at
DEBUG (see the `verify` skill): every Janino compile then logs its
source, and each query's compiles come before its `=====` line.

For each compile after the first run of its query, it prints the query,
the compiling thread and one of:

  same source   an identical source was compiled before, so the cache
                missed on its class-loader half (Spark keys the cache
                by context class loader and source)
  new source    no identical source was compiled before; the diff
                against the closest earlier source of the same query
                follows (its first lines)
"""
import difflib
import hashlib
import re
import sys

HEADER = re.compile(r"^\d\d:\d\d:\d\d\.\d{3} \[([^\]]*)\] (\w+) (\S+):")


def compiles(path):
    """(query, run of that query, thread, source) per compile, in log
    order."""
    out, pending, cur, runs = [], [], None, {}
    for line in open(path, errors="replace").read().split("\n"):
        m = HEADER.match(line)
        if m or line.startswith("=====") or line.startswith("["):
            if cur:
                pending.append(cur)
                cur = None
            if m and m.group(2) == "DEBUG" and m.group(3).endswith("CodeGenerator"):
                cur = (m.group(1), [])
            if line.startswith("====="):
                q = line.split()[1]
                runs[q] = runs.get(q, 0) + 1
                out += [(q, runs[q], t, "\n".join(src).strip()) for t, src in pending]
                pending = []
        elif cur:
            cur[1].append(line)
    return out


def main():
    entries = compiles(sys.argv[1])
    seen = {}  # source hash -> thread of its first compile
    for i, (q, run, thread, src) in enumerate(entries):
        h = hashlib.sha1(src.encode()).hexdigest()[:10]
        if run > 1:
            if h in seen:
                print(f"{q} [{thread}] {h} same source (first compiled on [{seen[h]}])")
            else:
                earlier = [s for (p, _, _, s) in entries[:i] if p == q] or [""]
                best = max(earlier, key=lambda s: difflib.SequenceMatcher(
                    None, s, src).quick_ratio())
                print(f"{q} [{thread}] {h} new source")
                diff = difflib.unified_diff(best.split("\n"), src.split("\n"),
                                            lineterm="", n=0)
                print("\n".join(list(diff)[2:12]))
        seen.setdefault(h, thread)
    print(f"{len(entries)} compiles")


if __name__ == "__main__":
    main()
