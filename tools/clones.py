#!/usr/bin/env python
"""Count copied code: second and later copies of any 10 consecutive normalized lines.

A line is normalized by stripping it and collapsing its whitespace; blank lines and
``#`` comment lines are dropped, so two blocks that differ only in comments or
indentation are copies.  Files are read in sorted path order and every 10-line
window of normalized lines is hashed; a window already seen (in any file, or earlier
in the same file) is a clone, and a file's clone lines are the source lines its clone
windows cover.  The first copy of a block is never counted.

Usage: python tools/clones.py [file_or_dir ...]
(default: the package, tests/ and tools/).  Prints ``clone_lines windows path`` for
every file with clones, the total, then each run of clone lines with where its first
window was seen first.
"""

from __future__ import annotations

import os
import sys

WINDOW = 10
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT = ["conte_to_fresco_etl_spark", "tests", "tools"]


def _normalized(text: str) -> list[tuple[int, str]]:
    out = []
    for i, line in enumerate(text.splitlines(), 1):
        s = " ".join(line.split())
        if s and not s.startswith("#"):
            out.append((i, s))
    return out


def clone_windows(sources: dict[str, str]) -> list[tuple[str, list[int], str, int]]:
    """(name, source lines, first name, first line) of every clone window, in scan order."""
    seen, out = {}, []
    for name in sorted(sources):
        lines = _normalized(sources[name])
        for k in range(len(lines) - WINDOW + 1):
            key = tuple(s for _, s in lines[k:k + WINDOW])
            nums = [i for i, _ in lines[k:k + WINDOW]]
            if key in seen:
                out.append((name, nums, *seen[key]))
            else:
                seen[key] = (name, nums[0])
    return out


def clone_lines(sources: dict[str, str]) -> dict[str, int]:
    """Name -> number of distinct source lines inside its clone windows (names with none omitted)."""
    lines: dict[str, set] = {}
    for name, nums, _, _ in clone_windows(sources):
        lines.setdefault(name, set()).update(nums)
    return {n: len(s) for n, s in lines.items()}


def _python_files(paths: list[str]) -> dict[str, str]:
    out = {}
    for p in paths:
        if os.path.isfile(p):
            walk = [(os.path.dirname(p), [], [os.path.basename(p)])]
        else:
            walk = os.walk(p)
        for d, _, files in walk:
            for f in files:
                if f.endswith(".py"):
                    path = os.path.relpath(os.path.join(d, f), ROOT)
                    with open(os.path.join(d, f), encoding="utf-8") as fh:
                        out[path] = fh.read()
    return out


def main() -> None:
    sources = _python_files(sys.argv[1:] or [os.path.join(ROOT, p) for p in DEFAULT])
    wins = clone_windows(sources)
    counts = clone_lines(sources)
    for name in sorted(counts):
        print(f"{counts[name]:6d} {sum(w[0] == name for w in wins):5d}  {name}")
    print(f"{sum(counts.values()):6d} {len(wins):5d}  total")
    runs: list[list] = []  # [name, first line, last line, first-seen name, first-seen line]
    for name, nums, src, src_line in wins:
        if runs and runs[-1][0] == name and nums[0] <= runs[-1][2]:
            runs[-1][2] = nums[-1]
        else:
            runs.append([name, nums[0], nums[-1], src, src_line])
    for name, a, b, src, src_line in runs:
        print(f"{name}:{a}-{b}  first seen {src}:{src_line}")


if __name__ == "__main__":
    main()
