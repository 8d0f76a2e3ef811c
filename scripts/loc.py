#!/usr/bin/env python3
"""Print the non-blank, non-comment Scala line count under src/main/scala.

A line counts unless it is blank or, stripped, starts with `//`, `/*` or
`*` (the inside and end of a scaladoc or block comment). Code followed by
a trailing comment counts. Run from anywhere:

    python3 scripts/loc.py            # total
    python3 scripts/loc.py --files    # per-file counts, largest first
"""
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent / "src" / "main" / "scala"


def count(path):
    n = 0
    for line in path.read_text(encoding="utf-8").splitlines():
        s = line.strip()
        if s and not s.startswith(("//", "/*", "*")):
            n += 1
    return n


def main():
    counts = {p: count(p) for p in sorted(ROOT.rglob("*.scala"))}
    if "--files" in sys.argv[1:]:
        for p, n in sorted(counts.items(), key=lambda kv: -kv[1]):
            print(f"{n:7d}  {p.relative_to(ROOT)}")
    print(sum(counts.values()))


if __name__ == "__main__":
    main()
