"""Count repeated 5-line code windows per module.

Run from the repo root: ``python3 tools/dup_windows.py``. Code lines are
the non-blank lines of a module with comments and multi-line strings
(docstrings, oracle SQL) removed, each stripped of its indentation. A
line is "repeated" when some window of 5 consecutive code lines that
holds it occurs at least twice in the same module. Prints one row per
module that has repeated lines, most first, then the package totals.
"""
import io
import os
import tokenize
from collections import defaultdict

PACKAGE = "trembita_spark"
WINDOW = 5


def code_lines(source):
    """The stripped code lines of ``source``, in order."""
    lines = source.splitlines()
    dropped = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type == tokenize.STRING and tok.start[0] != tok.end[0]:
            dropped.update(range(tok.start[0], tok.end[0] + 1))
        elif tok.type == tokenize.COMMENT:
            row, col = tok.start
            lines[row - 1] = lines[row - 1][:col]
    return [text.strip() for no, text in enumerate(lines, 1)
            if no not in dropped and text.strip()]


def repeated(lines):
    """How many of ``lines`` sit in a window that occurs twice or more."""
    seen = defaultdict(list)
    for i in range(len(lines) - WINDOW + 1):
        seen[tuple(lines[i:i + WINDOW])].append(i)
    hit = set()
    for starts in seen.values():
        if len(starts) > 1:
            for i in starts:
                hit.update(range(i, i + WINDOW))
    return len(hit)


def main():
    rows = {}
    for root, _dirs, files in os.walk(PACKAGE):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    lines = code_lines(f.read())
                rows[os.path.relpath(path, PACKAGE)] = (repeated(lines), len(lines))
    print(f"{'module':<32}{'repeated':>10}{'code lines':>12}")
    for mod, (rep, n) in sorted(rows.items(), key=lambda kv: (-kv[1][0], kv[0])):
        if rep:
            print(f"{mod:<32}{rep:>10}{n:>12}")
    total = [sum(r[i] for r in rows.values()) for i in (0, 1)]
    print(f"{'package (' + str(len(rows)) + ' modules)':<32}{total[0]:>10}{total[1]:>12}")


if __name__ == "__main__":
    main()
