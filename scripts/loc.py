#!/usr/bin/env python3
"""Print the non-blank, non-comment Scala line count under src/main/scala.

A line counts unless it is blank or, stripped, starts with `//`, `/*` or
`*` (the inside and end of a scaladoc or block comment). Code followed by
a trailing comment counts. Run from anywhere:

    python3 scripts/loc.py            # total
    python3 scripts/loc.py --files    # per-file counts, largest first
    python3 scripts/loc.py --dups     # repeated runs of >= 6 code lines

`--dups` lists every run of at least 6 consecutive code lines that
appears in two or more places. Here a code line is a counted line that
lies outside `\"\"\"` string literals, compared after whitespace
normalization; runs made only of bare brackets are skipped. Each group
prints the file:line of every copy; the last line is the number of
lines that repeat an earlier copy.
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent / "src" / "main" / "scala"
MIN_RUN = 6
BRACKETS = re.compile(r"^[\s(){}\[\],;]*$")


def is_code(s):
    return bool(s) and not s.startswith(("//", "/*", "*"))


def count(path):
    return sum(1 for line in path.read_text(encoding="utf-8").splitlines()
               if is_code(line.strip()))


def code_lines(path):
    """(line number, normalized text) of each code line outside triple-quoted
    literals; a line that opens or closes a literal is dropped as well."""
    out, in_lit = [], False
    for no, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
        quotes = line.count('"""')
        if in_lit or quotes:
            if quotes % 2:
                in_lit = not in_lit
            continue
        s = line.strip()
        if is_code(s):
            out.append((no, " ".join(s.split())))
    return out


def dup_groups(files):
    """Maximal repeated runs: seed on every MIN_RUN-line window that occurs
    twice or more, then extend all its copies forward while their next
    lines stay equal. Windows inside a run already found are skipped."""
    lines = {p: code_lines(p) for p in files}
    windows = {}
    for p, ls in lines.items():
        for i in range(len(ls) - MIN_RUN + 1):
            key = tuple(t for _, t in ls[i:i + MIN_RUN])
            if all(BRACKETS.match(t) for t in key):
                continue
            windows.setdefault(key, []).append((p, i))
    groups = {}
    covered = set()
    for key, sites in windows.items():
        if len(sites) < 2:
            continue
        if all((p, i) in covered for p, i in sites):
            continue
        n = MIN_RUN
        while (all(i + n < len(lines[p]) for p, i in sites)
               and len({lines[p][i + n][1] for p, i in sites}) == 1):
            n += 1
        covered.update((p, i + k) for p, i in sites for k in range(n - MIN_RUN + 1))
        groups[tuple(sites)] = n
    return lines, groups


def dups():
    files = sorted(ROOT.rglob("*.scala"))
    lines, groups = dup_groups(files)
    repeats = set()  # code lines of every copy but a group's first
    for sites, n in sorted(groups.items(),
                           key=lambda kv: (-kv[1] * (len(kv[0]) - 1), str(kv[0]))):
        repeats.update((p, i + k) for p, i in sites[1:] for k in range(n))
        print(f"{n} lines x {len(sites)}:")
        for p, i in sites:
            print(f"    {p.relative_to(ROOT)}:{lines[p][i][0]}")
    print(f"{len(groups)} groups, {len(repeats)} repeated lines")


def main():
    args = sys.argv[1:]
    if "--dups" in args:
        dups()
        return
    counts = {p: count(p) for p in sorted(ROOT.rglob("*.scala"))}
    if "--files" in args:
        for p, n in sorted(counts.items(), key=lambda kv: -kv[1]):
            print(f"{n:7d}  {p.relative_to(ROOT)}")
    print(sum(counts.values()))


if __name__ == "__main__":
    main()
