#!/usr/bin/env python3
"""Count code lines in Scala sources.

A code line is a line that holds at least one non-blank character
outside `//` line comments and `/* */` block comments (nested, as Scala
nests them). Comment and blank lines do not count, so deleting a
comment never reads as deleted code. String literals are skipped
whole, so a `//` or `/*` inside a string does not start a comment.

Usage:
    python3 tools/code_lines.py <file or directory>...

Directories are walked for `*.scala`. Prints one `<count>  <path>` line
per argument, and a total line when there is more than one.
"""
import pathlib
import sys


def code_lines(text):
    count = 0
    depth = 0       # block-comment nesting
    in_str = None   # None, '"' or '"""'
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if in_str == '"""':
                code = code or not c.isspace()
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                    while i < n and line[i] == '"':  # """a"""" ends at the last quote
                        i += 1
                else:
                    i += 1
                continue
            if in_str == '"':
                code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth += 1
                i += 2
                continue
            if line.startswith('"""', i):
                in_str = '"""'
                code = True
                i += 3
                continue
            if c == '"':
                in_str = '"'
                code = True
                i += 1
                continue
            if c == "'":
                # a char literal may hold a quote: '"' or '\''
                if line.startswith("\\", i + 1):
                    end = line.find("'", i + 3)
                    i = end + 1 if 0 < end <= i + 8 else i + 1
                elif i + 2 < n and line[i + 2] == "'":
                    i += 3
                else:
                    i += 1
                code = True
                continue
            code = code or not c.isspace()
            i += 1
        if in_str == '"':  # a one-quote string cannot span lines
            in_str = None
        count += code
    return count


def files(path):
    p = pathlib.Path(path)
    return sorted(p.rglob("*.scala")) if p.is_dir() else [p]


def main(argv):
    if not argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    total = 0
    for path in argv:
        n = sum(code_lines(f.read_text(encoding="utf-8")) for f in files(path))
        total += n
        print(f"{n}  {path}")
    if len(argv) > 1:
        print(f"{total}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
