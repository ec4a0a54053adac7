#!/usr/bin/env python3
"""List the keys whose plan dumps differ between two PlanDump directories.

    python3 tools/plan_diff.py DIR_A DIR_B

Each directory holds `graft.tools.PlanDump` output, one `<key>_<suffix>.txt`
per key. Files pair up by key (the suffix after the last `_` is dropped), and
expression ids (`#123`) are masked before comparing, because they depend on
how many plans the session built before. PlanDump already prints `plan_id=`,
data-file job ids and object identity hashes normalized.

Prints one line per changed key and per key present on one side only, then a
summary line. Exits 1 when any key differs or is unpaired.
"""
import os
import re
import sys

EXPR_ID = re.compile(r"#\d+")


def dumps(d):
    out = {}
    for name in os.listdir(d):
        if name.endswith(".txt") and "_" in name:
            out[name[: -len(".txt")].rsplit("_", 1)[0]] = os.path.join(d, name)
    return out


def masked(path):
    with open(path, encoding="utf-8") as f:
        return EXPR_ID.sub("#", f.read())


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = dumps(argv[1]), dumps(argv[2])
    changed = sorted(k for k in a.keys() & b.keys() if masked(a[k]) != masked(b[k]))
    for k in changed:
        print(f"changed {k}")
    for k in sorted(a.keys() - b.keys()):
        print(f"only-in-a {k}")
    for k in sorted(b.keys() - a.keys()):
        print(f"only-in-b {k}")
    same = len(a.keys() & b.keys()) - len(changed)
    print(f"{same} same, {len(changed)} changed, "
          f"{len(a.keys() ^ b.keys())} unpaired")
    return 1 if changed or a.keys() != b.keys() else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
