#!/usr/bin/env python3
"""Line counter for source trees.

Usage: python3 tools/loc.py <path>...

For each directory or file, prints the raw line count of its Scala, Java and
Python files (what `wc -l` reads) and the code-only count: the same
files without blank lines and without lines that hold nothing but a
comment (`//` or `#` line comments, and every line inside or opening
or closing a `/* ... */` or `/** ... */` block when no code shares the
line). A trailing comment after code counts as code. String literals
are not parsed, so a `/*` inside a string opens a block; the Scala
sources here hold none.
"""
import sys
from pathlib import Path

SUFFIXES = {".scala": "//", ".java": "//", ".py": "#"}


def count(path: Path):
    """(raw, code) line counts of one file."""
    line_comment = SUFFIXES[path.suffix]
    blocks = line_comment == "//"
    raw = code = 0
    in_block = False
    for line in path.read_text(encoding="utf-8").splitlines():
        raw += 1
        rest = line.strip()
        has_code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:].strip()
            elif rest.startswith(line_comment):
                rest = ""
            elif blocks and rest.startswith("/*"):
                in_block = True
                rest = rest[2:]
            else:
                has_code = True
                start = rest.find("/*") if blocks else -1
                if start < 0:
                    rest = ""
                else:
                    in_block = True
                    rest = rest[start + 2:]
        code += has_code
    return raw, code


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    missing = [a for a in sys.argv[1:] if not Path(a).exists()]
    if missing:
        sys.exit(f"no such file or directory: {', '.join(missing)}")
    print(f"{'raw':>8} {'code':>8}  path")
    for d in sys.argv[1:]:
        path = Path(d)
        candidates = [path] if path.is_file() else path.rglob("*")
        files = sorted(p for p in candidates
                       if p.is_file() and p.suffix in SUFFIXES)
        raw = code = 0
        for p in files:
            r, c = count(p)
            raw += r
            code += c
        print(f"{raw:>8} {code:>8}  {d}")


if __name__ == "__main__":
    main()
