#!/usr/bin/env python3
"""Compare two ExplainPlans dumps, ignoring what differs run to run.

Usage: python3 tools/plan_diff.py OLD_DUMP NEW_DUMP

A dump is the stdout of `graft.ExplainPlans <sfDir> [name ...]`: one
"========== name ==========" header per query, followed by that query's
explain("formatted") output. Sections are matched by query name, so the
two dumps may list queries in different orders.

Masked before comparing, because they are object identities rather than
plan shape: expression ids (`#123`), exchange and broadcast ids
(`plan_id=123`), RDD ids and creation sites (`MapPartitionsRDD[123] at
localCheckpoint at Dedup.scala:412`: the id changes between runs, the
source line whenever the calling file is edited), and JVM lambda class
names with their identity hashes (`Ewma$$$Lambda$3565/0x7f...@1a2b`).

Exit status: 0 when every query's masked plan is equal and both dumps
name the same queries; 1 otherwise, with a unified diff per query.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========$")

MASKS = [
    (re.compile(r"\$\$Lambda[$/\w]*@[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r" at [\w$]+\.scala:\d+"), " at <callsite>"),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def sections(path):
    out, name = {}, None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                name = m.group(1)
                out[name] = []
            elif name is not None:
                out[name].append(mask(line))
    return out


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    old, new = sections(argv[1]), sections(argv[2])
    differ = 0
    for name in sorted(set(old) - set(new)):
        print(f"only in {argv[1]}: {name}")
        differ += 1
    for name in sorted(set(new) - set(old)):
        print(f"only in {argv[2]}: {name}")
        differ += 1
    for name in sorted(set(old) & set(new)):
        if old[name] != new[name]:
            differ += 1
            sys.stdout.writelines(difflib.unified_diff(
                [l + "\n" for l in old[name]], [l + "\n" for l in new[name]],
                f"{argv[1]}:{name}", f"{argv[2]}:{name}"))
    equal = sum(old[n] == new[n] for n in set(old) & set(new))
    print(f"{equal} of {len(set(old) | set(new))} queries equal")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
