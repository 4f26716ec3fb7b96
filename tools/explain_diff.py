#!/usr/bin/env python3
"""Diff two `graft.Explain` outputs op by op.

    sbt "runMain graft.Explain <sfDir> <op ...>" > a.txt   # one commit
    sbt "runMain graft.Explain <sfDir> <op ...>" > b.txt   # the other
    python3 tools/explain_diff.py a.txt b.txt [--quiet]

Each input is split at Explain's `========== <op> ==========` headers;
lines before the first header and sbt's own `[info]`-style log lines
are ignored.
Before comparing, each op's text is normalized so that two runs of the
same code compare equal:

  - expression ids (`l_orderkey#123`) become `#N`, and the numbered
    names the Dataset API gives lambda variables (`lambda x_25`)
    become `x_N`;
  - `[plan_id=..]`, RDD ids (`MapPartitionsRDD[12]`), lambda class
    names (`$$Lambda/0x..`), object hashes (`@1a2b3c4d`) and source
    line numbers (`Foo.scala:42`) lose their numbers;
  - KV run directory names (`run_<millis>_<uuid8>`) lose their ids;
  - the groups of an `Expand` are put in one order, with their group
    ids and owned columns renumbered to match in every later node,
    since Spark's distinct-aggregate rewrite emits its groups in an
    order that can change from one JVM run to the next.

Prints `identical` or `different` per op (with --quiet, only the
different ones), a unified diff of each op that differs, and a count.
Exits 1 if any op differs or is present on one side only.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^========== (\S+) ==========\s*$")
SBT_LOG = re.compile(r"^\[(info|success|warn|error)\] ")

SUBS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\blambda ([A-Za-z]+)_\d+"), r"lambda \1_N"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\$*Lambda[$\d]*/(?:0x)?[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{4,16}\b"), "@H"),
    (re.compile(r"(\.(?:scala|java)):\d+"), r"\1:N"),
    (re.compile(r"\brun_\d+_[0-9a-f]{8}\b"), "run_N"),
]


def split_ops(path):
    """{op: [lines]} in file order; lines before the first header are dropped."""
    ops, cur = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = m.group(1)
                ops[cur] = []
            elif cur is not None and not SBT_LOG.match(line):
                ops[cur].append(line)
    return ops


def top_level_items(s):
    """Split the body of a bracketed list at its top-level commas."""
    items, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            items.append(s[start:i].strip())
            start = i + 1
    items.append(s[start:].strip())
    return items


EXPAND = re.compile(r"^\(\d+\) Expand\b")


def canonical_expand(args):
    """Rewrites that undo the group order of one Expand.

    `args` is the Expand's `Arguments:` line. An Expand built by the
    distinct-aggregate rewrite lists one projection per group, each
    ending in its group id; a group owns the output columns that it
    alone fills (the others project null there). The groups are put in
    the order of their owned columns' names and take the sorted old ids
    in that order; the owned columns follow their groups. Returns
    (old, new) pairs: the Arguments line, the owned columns as later
    nodes list them, and the group-id comparisons."""
    items = top_level_items(args[len("Arguments: "):])
    if len(items) != 2:
        return []
    groups = [top_level_items(g[1:-1]) for g in top_level_items(items[0][1:-1])]
    out = top_level_items(items[1][1:-1])
    if not groups or any(len(g) != len(out) for g in groups):
        return []
    owned = [[i for i in range(len(out) - 1)
              if g[i] != "null" and any(h[i] == "null" for h in groups)]
             for g in groups]
    order = sorted(range(len(groups)), key=lambda k: [out[i] for i in owned[k]])
    positions = sorted(i for own in owned for i in own)
    source = dict(zip(positions, [i for k in order for i in owned[k]]))
    ids = sorted(g[-1] for g in groups)
    new_id = {groups[k][-1]: ids[rank] for rank, k in enumerate(order)}
    new_groups = [[groups[k][source.get(i, i)] for i in range(len(out) - 1)] + [ids[rank]]
                  for rank, k in enumerate(order)]
    new_out = [out[source.get(i, i)] for i in range(len(out) - 1)] + [out[-1]]
    gid = re.compile(re.escape(out[-1]) + r" = (\d+)\b")
    return [
        (args, "Arguments: [" + ", ".join("[" + ", ".join(g) + "]" for g in new_groups)
         + "], [" + ", ".join(new_out) + "]"),
        (", ".join(out[i] for i in positions), ", ".join(new_out[i] for i in positions)),
        (gid, lambda m: f"{out[-1]} = {new_id.get(m.group(1), m.group(1))}"),
    ]


def normalize(lines):
    out = []
    for line in lines:
        for pat, rep in SUBS:
            line = pat.sub(rep, line)
        out.append(line)
    # an Expand's groups feed the nodes listed after it (formatted
    # explain numbers children first) up to the next Expand
    starts = [i for i, line in enumerate(out) if EXPAND.match(line)]
    for start, end in zip(starts, starts[1:] + [len(out)]):
        args = next((line for line in out[start:end]
                     if line.startswith("Arguments: [[")), None)
        for old, new in canonical_expand(args) if args else []:
            for i in range(start, end):
                out[i] = (out[i].replace(old, new) if isinstance(old, str)
                          else old.sub(new, out[i]))
    while out and not out[-1].strip():
        out.pop()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a")
    ap.add_argument("b")
    ap.add_argument("--quiet", action="store_true",
                    help="print only the ops that differ")
    args = ap.parse_args()
    a, b = split_ops(args.a), split_ops(args.b)
    names = list(a) + [n for n in b if n not in a]
    different = 0
    for name in names:
        if name not in a or name not in b:
            different += 1
            print(f"{name}: only in {args.a if name in a else args.b}")
            continue
        na, nb = normalize(a[name]), normalize(b[name])
        if na == nb:
            if not args.quiet:
                print(f"{name}: identical")
            continue
        different += 1
        print(f"{name}: different")
        sys.stdout.writelines(line + "\n" for line in difflib.unified_diff(
            na, nb, f"{args.a}:{name}", f"{args.b}:{name}", lineterm="", n=1))
    print(f"{len(names) - different} identical, {different} different, "
          f"{len(names)} ops")
    return 1 if different else 0


if __name__ == "__main__":
    sys.exit(main())
