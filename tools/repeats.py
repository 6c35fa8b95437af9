#!/usr/bin/env python3
"""Count lines and repeated 5-line windows in Scala sources.

Usage: python3 tools/repeats.py [--show] <dir-or-file>...

The rule (PLANS.md "One definition per copied batch-gate block"): every
`.scala` file under the given paths is read; blank lines and lines starting
with `//`, `*` or `/*` are dropped and every line is trimmed. A window is 5
consecutive remaining lines of one file; it repeats when the same 5 lines
occur more than once across all the files. Prints each file's raw line
count, the total, the number of windows that repeat and their occurrences
(copies beyond the first). `--show` also prints every repeating window
with the places it occurs.
"""
import sys
from collections import defaultdict
from pathlib import Path

WINDOW = 5


def kept_lines(path):
    kept = []
    for no, raw in enumerate(path.read_text().splitlines(), start=1):
        line = raw.strip()
        if not line or line.startswith(("//", "*", "/*")):
            continue
        kept.append((no, line))
    return kept


def scala_files(args):
    files = []
    for arg in args:
        p = Path(arg)
        files.extend(sorted(p.rglob("*.scala")) if p.is_dir() else [p])
    return files


def main(argv):
    show = "--show" in argv
    args = [a for a in argv if a != "--show"]
    if not args:
        sys.exit(__doc__)
    files = scala_files(args)
    total = 0
    where = defaultdict(list)
    for f in files:
        n = f.read_bytes().count(b"\n")  # as `wc -l` counts
        total += n
        print(f"{f}\t{n:,}")
        kept = kept_lines(f)
        for i in range(len(kept) - WINDOW + 1):
            win = tuple(line for _, line in kept[i:i + WINDOW])
            where[win].append((f, kept[i][0], kept[i + WINDOW - 1][0]))
    repeats = {w: locs for w, locs in where.items() if len(locs) > 1}
    occurrences = sum(len(locs) for locs in repeats.values())
    print(f"total\t{total:,} lines in {len(files)} files")
    print(f"windows that repeat\t{len(repeats)}")
    print(f"their occurrences (copies beyond the first)\t"
          f"{occurrences} ({occurrences - len(repeats)})")
    if show:
        for win, locs in sorted(repeats.items(), key=lambda kv: (str(kv[1][0][0]), kv[1][0][1])):
            print()
            for f, a, b in locs:
                print(f"  {f}:{a}-{b}")
            for line in win:
                print(f"    | {line}")


if __name__ == "__main__":
    main(sys.argv[1:])
