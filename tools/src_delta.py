#!/usr/bin/env python3
"""Net line delta of src/main against a base commit, counted two ways.

    python3 tools/src_delta.py <base>

Compares the working tree, untracked files included, with <base> (a
commit, branch or tag):
  - `git diff --numstat <base> -- src/main`: lines added, removed, net;
  - the same files with Scala line comments, (nested) block comments and
    blank lines stripped: code lines at <base>, now, and net.
Per-file rows come first, the two totals last.
"""
import os
import subprocess
import sys


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def code_lines(text):
    """Lines holding code once comments are removed (string-aware)."""
    count, depth, i, n = 0, 0, 0, len(text)
    in_str = None  # None, '"' or '"""'
    has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth:
            if text.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif text.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                i += 1
        elif in_str:
            has_code = True
            if in_str == '"' and c == "\\":
                i += 2
            elif text.startswith(in_str, i):
                i += len(in_str)
                in_str = None
            else:
                i += 1
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith("/*", i):
            depth, i = 1, i + 2
        elif text.startswith('"""', i):
            in_str, has_code, i = '"""', True, i + 3
        elif c == '"':
            in_str, has_code, i = '"', True, i + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal: skip it so a quote or slash inside is inert
            end = text.index("'", i + 2 + (text[i + 1] == "\\"))
            has_code, i = True, end + 1
        else:
            has_code = has_code or not c.isspace()
            i += 1
    return count + has_code


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    base = sys.argv[1]
    os.chdir(git("rev-parse", "--show-toplevel").strip())
    added = removed = before = after = 0
    rows = [r.split("\t", 2) for r in git(
        "diff", "--numstat", "--no-renames", base, "--", "src/main").splitlines()]
    # files not yet added count as wholly new
    for path in git("ls-files", "--others", "--exclude-standard", "--",
                    "src/main").splitlines():
        with open(path, encoding="utf-8") as f:
            rows.append((len(f.readlines()), 0, path))
    for a, d, path in rows:
        a, d = int(a), int(d)
        try:
            old = code_lines(git("show", f"{base}:{path}"))
        except subprocess.CalledProcessError:  # added since base
            old = 0
        try:
            with open(path, encoding="utf-8") as f:
                new = code_lines(f.read())
        except FileNotFoundError:  # deleted since base
            new = 0
        added, removed, before, after = added + a, removed + d, before + old, after + new
        print(f"{path}: +{a} -{d} (net {a - d:+d}); code {old} -> {new} ({new - old:+d})")
    print(f"numstat: +{added} -{removed}, net {added - removed:+d}")
    print(f"without comments and blank lines: {before} -> {after}, net {after - before:+d}")


if __name__ == "__main__":
    main()
