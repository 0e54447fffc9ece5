#!/usr/bin/env python3
"""Count code lines under src/main: non-blank lines outside comments.

A line counts when it holds at least one non-whitespace character that is
not part of a `//` or (nested) `/* */` comment. String, triple-quoted string
and character literals are scanned as literals, so `//` inside SQL text or a
URL is code, not a comment. Deleting comments therefore never shows up as a
line reduction.

Usage: python3 tools/loc.py [root]   (root defaults to src/main)
Prints one `<lines>\t<path>` row per file, then `<total>\ttotal`.
"""
import os
import sys

SOURCE_EXTS = (".scala", ".java", ".py")


def code_lines(text):
    """Return the number of lines with code outside comments."""
    counted = set()
    line = 0
    i, n = 0, len(text)
    depth = 0          # nesting depth of /* */ comments
    in_line_comment = False
    string = None      # None, '"' or '"""'
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            in_line_comment = False
            i += 1
            continue
        if in_line_comment:
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if string == '"""':
            if not c.isspace():
                counted.add(line)
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                string = None
                i = j
            else:
                i += 1
            continue
        if string == '"':
            counted.add(line)
            if c == "\\":
                i += 2
            elif c == '"':
                string = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            in_line_comment = True
            i += 2
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        counted.add(line)
        if text.startswith('"""', i):
            string = '"""'
            i += 3
        elif c == '"':
            string = '"'
            i += 1
        elif c == "'":
            # character literal ('x', '\n', 'A'); anything else is a
            # quote in an identifier position and is skipped as one char
            if text.startswith("\\u", i + 1):
                end = text.find("'", i + 2)
                i = end + 1 if 0 < end <= i + 8 else i + 1
            elif i + 2 < n and text[i + 1] == "\\" and text[i + 3:i + 4] == "'":
                i += 4
            elif i + 2 < n and text[i + 2] == "'" and text[i + 1] != "\n":
                i += 3
            else:
                i += 1
        else:
            i += 1
    return len(counted)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "src/main"
    rows = []
    for base, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(SOURCE_EXTS):
                path = os.path.join(base, name)
                with open(path, encoding="utf-8") as f:
                    rows.append((code_lines(f.read()), path))
    for count, path in rows:
        print(f"{count}\t{path}")
    print(f"{sum(c for c, _ in rows)}\ttotal")


if __name__ == "__main__":
    main()
