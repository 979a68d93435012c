#!/usr/bin/env python3
"""Scala code lines added and removed per package between two revisions.

Usage: python3 tools/loc.py BASE [HEAD]

Compares src/main/scala/graft/** between BASE and HEAD (any git
revisions; without HEAD, the working tree including untracked files).
Blank lines and comment-only lines (`//` lines and the lines of
`/* ... */` and `/** ... */` blocks) are not code and are not counted,
so a change that only removes comments nets to zero. Packages are the
first directory under src/main/scala/graft; files directly in it count
as `graft`.
"""
import difflib
import os
import subprocess
import sys

ROOT = "src/main/scala/graft"


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def read(rev, path):
    """File text at `rev` (None = working tree); '' if absent."""
    if rev is None:
        return open(path, encoding="utf-8").read() if os.path.exists(path) else ""
    r = subprocess.run(["git", "show", f"{rev}:{path}"], capture_output=True,
                       text=True)
    return r.stdout if r.returncode == 0 else ""


def code_lines(text):
    """The non-blank, non-comment lines of a Scala source, stripped."""
    out, in_block = [], False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            end = line.find("*/")
            if end < 0:
                continue
            in_block, line = False, line[end + 2:].strip()
        while line.startswith("/*"):
            end = line.find("*/", 2)
            if end < 0:
                in_block, line = True, ""
            else:
                line = line[end + 2:].strip()
        if line and not line.startswith("//"):
            out.append(line)
    return out


def changed_files(base, head):
    rng = [base] if head is None else [base, head]
    files = set(git("diff", "--name-only", *rng, "--", ROOT).split())
    if head is None:
        files |= set(git("ls-files", "--others", "--exclude-standard", "--",
                         ROOT).split())
    return sorted(f for f in files if f.endswith(".scala"))


def package(path):
    parts = path[len(ROOT) + 1:].split("/")
    return parts[0] if len(parts) > 1 else "graft"


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base, head = argv[1], argv[2] if len(argv) == 3 else None
    totals = {}
    for f in changed_files(base, head):
        old, new = code_lines(read(base, f)), code_lines(read(head, f))
        added = removed = 0
        for op, i1, i2, j1, j2 in difflib.SequenceMatcher(
                None, old, new, autojunk=False).get_opcodes():
            if op != "equal":
                removed += i2 - i1
                added += j2 - j1
        a, r = totals.get(package(f), (0, 0))
        totals[package(f)] = (a + added, r + removed)
    print(f"{'package':<12} {'added':>7} {'removed':>8} {'net':>7}")
    sum_a = sum_r = 0
    for pkg, (a, r) in sorted(totals.items()):
        print(f"{pkg:<12} {a:>7} {r:>8} {a - r:>+7}")
        sum_a, sum_r = sum_a + a, sum_r + r
    print(f"{'total':<12} {sum_a:>7} {sum_r:>8} {sum_a - sum_r:>+7}")


if __name__ == "__main__":
    main(sys.argv)
