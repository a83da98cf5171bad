#!/usr/bin/env python3
"""Plan-equivalence compare of two `graft.Explain` dumps.

Splits each dump into per-query sections at its `========== q ==========`
headers, normalizes the tokens that change between runs or builds but not
the plan itself, and compares the sections query by query:

  - expression ids            `doc#123`            -> `doc#N`
  - Spark Connect plan ids    `plan_id=7`          -> `plan_id=N`
  - exchange/subquery ids     `[id=#12]`, `[id=12]` -> `[id=N]`
  - RDD ids                   `MapPartitionsRDD[42]` -> `MapPartitionsRDD[N]`
  - source positions          `Dedup.scala:217`    -> `Dedup.scala:N`
  - JVM lambda classes        `Foo$$$Lambda$3254/0x00007f3e14f0fb70` -> `Foo$$$Lambda`
  - JVM identity hashes       `[[D@5c1dc4e9`, `Foo$$$Lambda@5c1dc4e9` -> `[[D@H`, `Foo$$$Lambda@H`
  - lambda variables          `lambda x_277`       -> `lambda x_0`, numbered by first
                              appearance in the query's section (Spark numbers them
                              from one JVM-wide counter, so every lambda built
                              earlier in the run shifts them)

The owner class before `$$Lambda` and before `@` is kept: a lambda or array
that moved to another class still shows up as a difference.

Usage: python3 tools/plan_equiv.py A.txt B.txt

Produce a dump with `runMain graft.Explain <sfDir> [query...]` (stdout).
Lines sbt prints around a forked run (`[success] Total time: ...`) are
dropped. Prints `identical / differ / missing` totals plus the differing and
missing query names (a query is missing when only one dump has it).
Exit 0 iff every query is identical and none is missing.
"""
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")
# sbt's own status lines ("[success] Total time: ...") end the last section
SBT_STATUS = re.compile(r"^\[(success|info|warn|error)\] ")
NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\[id=#?\d+\]"), "[id=N]"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"([\w$\[;])@[0-9a-f]{1,8}\b"), r"\1@H"),
]


LAMBDA_VAR = re.compile(r"\blambda ([a-z]+)_\d+\b")


def renumber_lambda_vars(lines):
    """Each distinct lambda variable of a section as `lambda <name>_<k>`, k
    its rank of first appearance there: distinct variables stay distinct."""
    seen = {}

    def sub(m):
        return seen.setdefault(m.group(0), f"lambda {m.group(1)}_{len(seen)}")
    return [LAMBDA_VAR.sub(sub, line) for line in lines]


def normalize(line):
    for pattern, repl in NORMALIZE:
        line = pattern.sub(repl, line)
    return line.rstrip()


def sections(path):
    """query name -> normalized plan lines, in dump order."""
    out, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line.strip())
            if m:
                cur = out.setdefault(m.group(1), [])
            elif cur is not None and not SBT_STATUS.match(line):
                cur.append(normalize(line))
    # trailing blank lines differ with whatever the run printed after
    for lines in out.values():
        while lines and not lines[-1]:
            lines.pop()
    return {q: renumber_lambda_vars(lines) for q, lines in out.items()}


def compare(a, b):
    """(identical, differ, missing) name lists for two section maps."""
    names = sorted(set(a) | set(b))
    missing = [n for n in names if n not in a or n not in b]
    both = [n for n in names if n in a and n in b]
    differ = [n for n in both if a[n] != b[n]]
    identical = [n for n in both if a[n] == b[n]]
    return identical, differ, missing


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[0])
        print("usage: python3 tools/plan_equiv.py A.txt B.txt")
        return 2
    a, b = sections(argv[1]), sections(argv[2])
    identical, differ, missing = compare(a, b)
    print(f"identical: {len(identical)}")
    print(f"differ: {len(differ)}" + (f" ({', '.join(differ)})" if differ else ""))
    print(f"missing: {len(missing)}" + (f" ({', '.join(missing)})" if missing else ""))
    return 0 if identical and not differ and not missing else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
