#!/usr/bin/env python3
"""Code lines per Scala file under src/main, and their total.

A code line is a line that holds something other than whitespace and
comments: blank lines, `//` lines and lines inside `/* ... */` (scaladoc
included, nested block comments too) do not count. Text inside string
literals is code, so a `//` or `/*` in an SQL string does not start a
comment.

Usage: python3 tools/loc.py [root]     (root defaults to src/main)
Prints `<lines>\t<path>` per file, sorted by path, then `<total>\ttotal`.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry at least one code character."""
    lines = set()
    line, i, n = 0, 0, len(text)
    depth = 0          # block-comment nesting depth
    string = None      # None, '"' or '"""'
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
            continue
        if string == '"""':
            lines.add(line)
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                string, i = None, j
            else:
                i += 1
            continue
        if string == '"':
            lines.add(line)
            if c == "\\":
                i += 2
            else:
                if c == '"':
                    string = None
                i += 1
            continue
        if c.isspace():
            i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            lines.add(line)
            string, i = '"""', i + 3
        elif c == '"':
            lines.add(line)
            string, i = '"', i + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # char literal: 'x' or an escape such as '\n' or 'A'
            lines.add(line)
            j = text.find("'", i + 2 if text[i + 1] == "\\" else i + 1)
            i = j + 1 if j > 0 else i + 1
        else:
            lines.add(line)
            i += 1
    return len(lines)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    rows = []
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    rows.append((p, code_lines(fh.read())))
    for p, k in sorted(rows):
        print(f"{k}\t{p}")
    print(f"{sum(k for _, k in rows)}\ttotal")


if __name__ == "__main__":
    main()
