#!/usr/bin/env python3
"""Plan-drift differ over two PLANS_r*.txt dumps (graft.Explain output).

Per query, compares the PHYSICAL plan's operator multiset and op count
between rounds and prints one line per drifted query — so "did any plan
change shape?" is a one-screen report instead of a 16k-line diff (the r9
curation_full scare). RDD ids, plan ids, and stats differ every run by
construction; only operators and their counts are compared.

An operator is its tree line's name, spaces included: `Scan parquet`,
`Scan ExistingRDD`, `BroadcastHashJoin Inner BuildRight` (a join counts
with its type and build side). A scan of a catalog table drops the table
name, which carries a per-run suffix, so it counts as `Scan parquet`.

Each operator is counted together with its whole-stage codegen marker:
`Project*` is a Project inside a WholeStageCodegen stage (the tree line
reads `* Project (n)`), `Project` one outside it. A query whose operator
leaves (or joins) whole-stage codegen therefore shows as drift, e.g.
`Project*-1, Project+1`. Formatted explain marks codegen stages only
where the stage is planned: an unexecuted AdaptiveSparkPlan's tree
carries no markers.

A file with no '========== name ==========' headers (one plan, as in
plans/r18/*_before.txt) is one query named '-'.

Usage: python3 tools/plan_diff.py PLANS_r17.txt PLANS_r18.txt
       python3 tools/plan_diff.py plans/r18/q_before.txt plans/r18/q_after.txt
Exit code 0 = no drift, 1 = drift found (usable as a gate).
"""
import re
import sys
from collections import Counter


def parse(path):
    """-> {query: Counter(operator -> count)} from an Explain dump; an
    operator inside whole-stage codegen is keyed with a trailing '*'."""
    plans, name, in_phys, ops = {}, "-", False, Counter()
    # exactly the Explain delimiter (10 '='): formatted explain emits its
    # own '===== Subqueries =====' section headers, which must NOT start a
    # new query (the bloom-filter runtime subquery introduced one)
    hdr = re.compile(r"^========== (\S+) ==========$")
    # tree lines: optional indent of ':', '+', '-', ' ', then '* Op (id)'
    # (inside whole-stage codegen) or 'Op (id)', where Op may hold spaces
    # ('Scan parquet', 'SortMergeJoin Inner') and the id may be followed by
    # arguments ('InMemoryTableScan (1) (columnarIn=...)'); detail sections
    # '(id) Op' are skipped (same names)
    tree = re.compile(r"^[-+:\s]*(\*\s*)?([A-Za-z][^()]*?)\s+\((\d+)\)(\s+\(.*\))?\s*$")
    # 'Scan parquet spark_catalog.default.t_123' -> 'Scan parquet'
    table_scan = re.compile(r"^(Scan \S+) .*$")
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = hdr.match(line)
            if m:
                if name != "-" or ops:
                    plans[name] = ops
                name, in_phys, ops = m.group(1), False, Counter()
                continue
            if line.startswith("== Physical Plan =="):
                in_phys = True
                continue
            if in_phys:
                if not line.strip():           # blank ends the tree block
                    in_phys = False
                    continue
                t = tree.match(line)
                if t:
                    op = table_scan.sub(r"\1", t.group(2))
                    ops[op + ("*" if t.group(1) else "")] += 1
    if name != "-" or ops:
        plans[name] = ops
    return plans


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: plan_diff.py <old PLANS.txt> <new PLANS.txt>")
    old, new = parse(sys.argv[1]), parse(sys.argv[2])
    drifted = 0
    for q in sorted(set(old) | set(new)):
        if q not in old:
            print(f"NEW     {q}: {sum(new[q].values())} ops")
            continue
        if q not in new:
            print(f"DROPPED {q}")
            drifted += 1
            continue
        a, b = old[q], new[q]
        if a == b:
            continue
        drifted += 1
        delta = []
        for op in sorted(set(a) | set(b)):
            d = b[op] - a[op]
            if d:
                delta.append(f"{op}{d:+d}")
        print(f"DRIFT   {q}: {sum(a.values())}→{sum(b.values())} ops  ({', '.join(delta)})")
    common = len(set(old) & set(new))
    print(f"SUMMARY {drifted} drifted / {common} common queries "
          f"({len(new)} in new, {len(old)} in old)")
    sys.exit(1 if drifted else 0)


if __name__ == "__main__":
    main()
