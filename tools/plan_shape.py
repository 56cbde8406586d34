#!/usr/bin/env python3
"""Count the plan-shape operators of the plan dumps in one directory.

Reads every `<name>_before.txt` / `<name>_after.txt` written by
`runMain graft.PlanDump <tag> <suffix>` (the `explain("formatted")` text)
and prints, per dump, how many nodes of the physical tree are

  scan   any leaf scan (`Scan parquet`, `LocalTableScan`, `InMemoryTableScan`, ...)
  exch   shuffle exchanges (`Exchange`)
  bcast  broadcast exchanges (`BroadcastExchange`)
  sagg   sort-based aggregates (`SortAggregate`)

Only the operator trees count (the main plan and any subquery plans), not
the per-node detail sections below them. The last column says whether the
before and after texts are identical once expression ids (`#123`) and the
random temp-store directory names are stripped.

Usage (from the repository root):
    python3 tools/plan_shape.py plans/r22
"""
import os
import re
import sys

# tree prefix characters, then an optional whole-stage-codegen `* ` marker
NODE = re.compile(r"^[\s:+\-]*(?:\*\s+)?([A-Za-z][^()]*?)\s+\((\d+)\)$")
VOLATILE = [re.compile(r"#\d+L?"), re.compile(r"graft_plandump\d+"),
            re.compile(r"plan_id=\d+")]
COLUMNS = ("scan", "exch", "bcast", "sagg")
WIDTH = 30


def tree_nodes(text):
    """Names of the nodes in every operator tree of a formatted explain:
    a tree starts after the `== Physical Plan ==` header or a `Subquery:`
    header and ends at the first blank line."""
    names, in_tree = [], False
    for line in text.splitlines():
        if line.startswith("== Physical Plan ==") or line.startswith("Subquery:"):
            in_tree = True
            continue
        if not line.strip():
            in_tree = False
            continue
        if in_tree:
            m = NODE.match(line)
            if m:
                names.append(m.group(1).strip())
    return names


def shape(text):
    if text.startswith("EXPLAIN FAILED"):
        return None
    names = tree_nodes(text)
    return {
        "scan": sum("Scan" in n for n in names),
        "exch": sum(n == "Exchange" for n in names),
        "bcast": sum(n == "BroadcastExchange" for n in names),
        "sagg": sum(n == "SortAggregate" for n in names),
    }


def normalized(text):
    for pattern in VOLATILE:
        text = pattern.sub("", text)
    return text


def fmt(s):
    if s is None:
        return "failed".ljust(WIDTH)
    return " ".join(f"{c}={s[c]}" for c in COLUMNS).ljust(WIDTH)


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    d = argv[1]
    texts = {}
    for f in sorted(os.listdir(d)):
        m = re.match(r"(.+)_(before|after)\.txt$", f)
        if m:
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                texts[(m.group(1), m.group(2))] = fh.read()
    dumps = sorted({name for name, _ in texts})
    width = max((len(n) for n in dumps), default=4)
    print(f"{'dump'.ljust(width)}  {'before'.ljust(WIDTH)}  {'after'.ljust(WIDTH)}  same")
    for name in dumps:
        before, after = texts.get((name, "before")), texts.get((name, "after"))
        same = ("-" if before is None or after is None
                else "yes" if normalized(before) == normalized(after) else "no")
        print(f"{name.ljust(width)}  "
              f"{fmt(shape(before)) if before is not None else '-'.ljust(WIDTH)}  "
              f"{fmt(shape(after)) if after is not None else '-'.ljust(WIDTH)}  {same}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
