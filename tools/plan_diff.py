#!/usr/bin/env python3
"""Diff two `graft.Explain` dumps op by op, ignoring run-specific ids.

Usage:
    sbt -batch "runMain graft.Explain" > before.txt     # one checkout
    sbt -batch "runMain graft.Explain" > after.txt      # the other
    python3 tools/plan_diff.py before.txt after.txt [--rerun before2.txt] [--stats]

A dump is a sequence of `===== <op> =====` sections, each holding the
op's `explain("formatted")` physical plan; sbt's `[info] ` line prefix
and its own `[success]`/`[warn]`/`[error]` lines are dropped. Before
comparing, each plan is normalized so that two runs of the same code
compare equal:

  * expression ids            `qid#1082L`                  -> `qid#L`
  * RDD ids                   `MapPartitionsRDD[240]`      -> `MapPartitionsRDD[]`
  * RDD call-site lines       `at map at Foo.scala:1149`   -> `at map at Foo.scala:`
  * exchange plan ids         `[plan_id=7403]`             -> `[plan_id=]`
  * JVM lambdas               `graft.X$$Lambda/0x..@1a2b`  -> `<lambda>`
  * object hash suffixes      `SomeClass@6d3f2a1`          -> `SomeClass@`
  * per-process scratch dirs  `graft_zorder_<host>_p30365` -> `graft_zorder_<host>_p`
  * AQE runtime statistics    `Statistics(sizeInBytes=..)` -> `Statistics()`
  * lambda variable counters  `lambda x_87#`               -> `lambda x_#`

Lambda variables are numbered JVM-wide in build order, so a change that
builds more or fewer higher-order lambdas in one op renumbers them in
every op built after it.

A lambda's class name names the file that defines the closure, so
moving a closure between files is not reported as a plan change.

Some plans still change between two runs of the same code: an
aggregate with several DISTINCT groups orders its Expand projections by
hash, and that order differs between JVMs, but not in every pair of
JVMs. So an op whose operator tree has an Expand in either dump is
compared on its operator tree only (node names, order and nesting, so
Exchange count and join strategies), and reported as `has an Expand`
when that tree matches and the details do not. `--rerun` takes a second
dump of the `before` code; any other op whose plan differs between
`before` and `--rerun` is compared the same way, and reported as
`unstable` when its tree matches.

Prints every op whose normalized plan differs (or that only one dump
has), with the first differing lines, and exits 1 if any op differs.

`--stats` then prints, for each differing op and each dump, the count
of distinct plan-node ids and, among them, shuffle Exchanges, broadcast
Exchanges, parquet scans, InMemoryTableScans, Windows and Unions. It
counts node ids, not tree lines: a cached subtree is printed again under
every InMemoryTableScan that reads it, with the same ids.
"""
import argparse
import difflib
import re
import sys

SECTION = re.compile(r"^===== (.+) =====$")
SBT_NOISE = re.compile(r"^\[(success|warn|error)\]")
NORMALIZERS = [
    (re.compile(r"[\w.$]*\$\$Lambda[\w$/.]*(@[0-9a-f]+)?"), "<lambda>"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"(RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@"),
    (re.compile(r"(graft_\w+?)_p\d+"), r"\1_p"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    (re.compile(r"(lambda \w+?)_\d+#"), r"\1_#"),
]
DETAIL = re.compile(r"^\(\d+\) ")
EXPAND = re.compile(r"\bExpand \(\d+\)")
# a tree line: `+- * HashAggregate (8)`, `Scan parquet  (1)`, ...
NODE = re.compile(r"^[\s:|+-]*(?:\* )?([A-Za-z]\w*(?: \w+)*?)\s+\((\d+)\)(?:\s.*)?$")
STATS = [
    ("nodes", lambda name: True),
    ("shuffle", lambda name: name == "Exchange"),
    ("bcast", lambda name: name == "BroadcastExchange"),
    ("scans", lambda name: name == "Scan parquet"),
    ("cached", lambda name: name == "InMemoryTableScan"),
    ("windows", lambda name: name == "Window"),
    ("unions", lambda name: name == "Union"),
]
CONTEXT = 12  # diff lines shown per differing op


def normalize(line):
    for pat, rep in NORMALIZERS:
        line = pat.sub(rep, line)
    return line.rstrip()


def sections(path):
    """Map op name -> list of normalized plan lines."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[info] "):
                line = line[len("[info] "):]
            elif SBT_NOISE.match(line):
                continue
            m = SECTION.match(line.strip())
            # Spark's formatted explain heads its subquery part the same way
            if m and m.group(1) != "Subqueries":
                cur = m.group(1)
                out[cur] = []
            elif cur is not None:
                out[cur].append(normalize(line))
    return {k: [l for l in v if l] for k, v in out.items()}


def tree(plan):
    """The operator tree printed above the numbered detail blocks."""
    out = []
    for line in plan:
        if DETAIL.match(line):
            break
        out.append(line)
    return out


def has_expand(plan):
    return any(EXPAND.search(line) for line in tree(plan))


def stats(plan):
    """Distinct node ids per STATS column of one op's plan."""
    ids = {}
    for line in plan:
        m = NODE.match(line)
        if m:
            ids[m.group(2)] = m.group(1)
    return [sum(1 for name in ids.values() if keep(name)) for _, keep in STATS]


def print_stats(ops, dumps):
    width = max(len(op) for op in ops)
    print(f"{'op':<{width}}  {'dump':<6} " + " ".join(f"{c:>7}" for c, _ in STATS))
    for op in ops:
        for label, plans in dumps:
            if op in plans:
                print(f"{op:<{width}}  {label:<6} "
                      + " ".join(f"{n:>7}" for n in stats(plans[op])))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--rerun", help="a second dump of the `before` code")
    ap.add_argument("--stats", action="store_true",
                    help="print plan-node counts of each differing op")
    args = ap.parse_args()
    a, b = sections(args.before), sections(args.after)
    again = sections(args.rerun) if args.rerun else {}
    unstable = {op for op in again if op in a and again[op] != a[op]}
    if not a or not b:
        sys.exit(f"no '===== <op> =====' sections in {args.before if not a else args.after}")
    differ = []
    for op in sorted(set(a) | set(b)):
        if op not in a or op not in b:
            differ.append(op)
            print(f"{op}: only in {args.before if op in a else args.after}")
        elif a[op] != b[op] and (has_expand(a[op]) or has_expand(b[op])) \
                and tree(a[op]) == tree(b[op]):
            print(f"{op}: has an Expand, operator tree same")
        elif op in unstable and tree(a[op]) == tree(b[op]):
            print(f"{op}: unstable across runs of the same code, operator tree same")
        elif a[op] != b[op]:
            differ.append(op)
            print(f"{op}: plan differs")
            diff = list(difflib.unified_diff(a[op], b[op], lineterm="", n=0))[2:]
            for line in diff[:CONTEXT]:
                print("    " + line)
            if len(diff) > CONTEXT:
                print(f"    ... {len(diff) - CONTEXT} more diff lines")
    print(f"{len(set(a) | set(b))} ops compared, {len(differ)} differ, "
          f"{len(unstable)} unstable across runs")
    if args.stats and differ:
        print_stats(differ, [("before", a), ("after", b)])
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
