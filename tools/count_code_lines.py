#!/usr/bin/env python3
"""Count the code lines under src/main: lines that keep non-blank text
once `/* */` block comments and `//` line comments are removed. This is
the count ROADMAP.md tracks. String literals are not parsed, so a `//`
or `/*` inside a string reads as a comment start, as it always has for
this count.

Usage: python3 tools/count_code_lines.py [-v] [root]   (root: src/main)
Prints the total; -v first prints one "<count> <file>" line per file."""
import os
import re
import sys

BLOCK = re.compile(r"/\*.*?\*/", re.S)
LINE = re.compile(r"//.*")


def code_lines(text):
    text = BLOCK.sub(lambda m: "\n" * m.group(0).count("\n"), text)
    return sum(1 for line in text.split("\n") if LINE.sub("", line).strip())


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    root = args[0] if args else "src/main"
    total = 0
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f.endswith((".scala", ".java")):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    k = code_lines(fh.read())
                total += k
                if verbose:
                    print(k, p)
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])
