#!/usr/bin/env python3
"""Per-gate physical operator trees from a `Probe explain` dump, and diffs.

Produce a dump (one `explain("formatted")` per gate):

    sbt -batch "runMain graft.tools.Probe explain <sf dir>" > plans.txt

Then:

    python3 tools/plan_trees.py show plans.txt [gate ...]
    python3 tools/plan_trees.py diff parent.txt change.txt [--rerun parent2.txt]
        [--expect gate1,gate2,...]

A gate's tree is the header of its formatted plan (operator names and
nesting) plus the header of each subquery plan. Operator numbers, `#`
expression ids, plan ids, lambda variable numbers and the engine-root hash
in bucketed table names (`graft_b<hash>_`, random per temp root) are
stripped. The per-operator detail sections (columns, expressions, join
keys) are kept only with `--details`, a stricter check that also strips
JVM object hashes, random temp-dir suffixes, RDD ids and source line numbers
of RDD call sites.

`diff` prints every gate whose tree differs between the two dumps and
exits 1 if there is one. `--rerun` names a second dump of the first side:
gates whose trees already differ between the two runs of that side are
listed as unstable and left out of the comparison. `--expect` names the
gates a change means to alter: the exit status is then 0 exactly when the
stable gates that differ are those gates.
"""
import argparse
import difflib
import re
import sys

GATE = re.compile(r"^=================== (\S+) ===================$")
SUBQUERY = re.compile(r"^Subquery:\d+ Hosting operator id = ")
SBT_LOG = re.compile(r"^\[(info|success|warn|error)\] ")
OP_NUMBER = re.compile(r" \(\d+\)(?= |$)")
EXPR_ID = re.compile(r"#\d+L?|plan_id=\d+|(?<=lambda x_)\d+|(?<=graft_b)\d+(?=_)")
# run-specific noise in the detail lines: JVM object hashes, lambda class
# names, random temp-dir suffixes, RDD ids and the source line of an RDD's
# call site (`MapPartitionsRDD[201] at localCheckpoint at Graphs.scala:131`)
DETAIL_NOISE = re.compile(r"\$\$Lambda\$\d+/0x[0-9a-f]+|@[0-9a-f]{4,}\b|(?<=[a-z-])\d{6,}(?=/)"
                          r"|(?<=RDD\[)\d+(?=\])|(?<=\.scala:)\d+")


def normalize(line):
    return EXPR_ID.sub("", OP_NUMBER.sub("", line.rstrip()))


def trees(path, details=False):
    """{gate: [tree lines]} in dump order; with `details`, every plan line."""
    out = {}
    gate, in_tree = None, False
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = GATE.match(line)
            if m:
                gate, in_tree = m.group(1), False
                out[gate] = []
            elif gate is None or SBT_LOG.match(line):
                continue
            elif line == "== Physical Plan ==" or SUBQUERY.match(line):
                in_tree = True
                out[gate].append(normalize(line))
            elif in_tree and line.strip():
                out[gate].append(normalize(line))
            elif details and line.strip():
                out[gate].append(DETAIL_NOISE.sub("", normalize(line)))
            else:
                in_tree = False
    return out


def differing(a, b):
    return [g for g in a if g in b and a[g] != b[g]]


def cmd_show(args):
    t = trees(args.dump, args.details)
    for g in args.gates or list(t):
        print(f"=== {g}")
        print("\n".join(t.get(g, ["<missing>"])))


def cmd_diff(args):
    a, b = trees(args.a, args.details), trees(args.b, args.details)
    unstable = set()
    if args.rerun:
        unstable = set(differing(a, trees(args.rerun, args.details)))
        for g in sorted(unstable):
            print(f"unstable between {args.a} and {args.rerun}, left out: {g}")
    only_a = [g for g in a if g not in b]
    only_b = [g for g in b if g not in a]
    diffs = [g for g in differing(a, b) if g not in unstable]
    for g in diffs:
        print(f"--- {g}")
        sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
            a[g], b[g], args.a, args.b, lineterm="", n=2))
    for g in only_a:
        print(f"only in {args.a}: {g}")
    for g in only_b:
        print(f"only in {args.b}: {g}")
    compared = len([g for g in a if g in b and g not in unstable])
    print(f"{compared - len(diffs)} identical, {len(diffs)} differ, "
          f"{len(unstable)} unstable, {len(only_a) + len(only_b)} unmatched")
    if args.expect is None:
        return 1 if diffs or only_a or only_b else 0
    expected = {g for g in args.expect.split(",") if g}
    unexpected = sorted(set(diffs) - expected)
    missing = sorted(expected - set(diffs) - unstable)
    print(f"expected to differ: {len(expected)}; differ unexpectedly: "
          f"{', '.join(unexpected) or 'none'}; identical though expected to "
          f"differ: {', '.join(missing) or 'none'}")
    return 1 if unexpected or missing or only_a or only_b else 0


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("show", help="print the operator trees of a dump")
    s.add_argument("dump")
    s.add_argument("gates", nargs="*")
    d = sub.add_parser("diff", help="compare the operator trees of two dumps")
    d.add_argument("a")
    d.add_argument("b")
    d.add_argument("--rerun", help="second dump of the first side")
    d.add_argument("--expect", help="comma-separated gates the change is "
                   "meant to alter; exit 0 only if exactly these differ")
    for x in (s, d):
        x.add_argument("--details", action="store_true",
                       help="keep the per-operator detail lines too")
    args = p.parse_args()
    if args.cmd == "show":
        cmd_show(args)
        return 0
    return cmd_diff(args)


if __name__ == "__main__":
    sys.exit(main())
