#!/usr/bin/env python3
"""Line counts of the main sources, raw and without blanks and comments.

Usage: src_lines.py [FILE ...]

Prints one row for all of `src/main` and one per named FILE: `wc -l`
lines, then the non-blank, non-comment lines. A line counts as comment
when, after leading whitespace, it starts with `//`, `*` or `/*` — the
same filter as `grep -v '^\\s*\\(//\\|\\*\\|/\\*\\)' | grep -cv '^\\s*$'`.
Code after a comment opener on the same line, or comment text inside a
`/* */` block that does not start with `*`, is counted as code.

Run it from the repository root, before and after a change, to report
how many lines a change adds or removes.
"""
import os
import re
import sys

COMMENT = re.compile(r"^\s*(//|\*|/\*)")


def counts(path):
    with open(path, encoding="utf-8") as f:
        lines = f.read().split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # `wc -l` counts newlines, not a final empty piece
    code = sum(1 for l in lines if l.strip() and not COMMENT.match(l))
    return len(lines), code


def main_sources(root="src/main"):
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            if n.endswith((".scala", ".java")):
                yield os.path.join(d, n)


def main(argv):
    rows = [("src/main", *map(sum, zip(*(counts(p) for p in main_sources()))))]
    rows += [(p, *counts(p)) for p in argv[1:]]
    width = max(len(r[0]) for r in rows)
    print(f"{'path':<{width}} {'lines':>7} {'code':>7}")
    for name, total, code in rows:
        print(f"{name:<{width}} {total:>7} {code:>7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
