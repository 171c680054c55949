#!/usr/bin/env python3
"""Count code and comment lines per module under src/main.

Usage: python3 tools/loc.py [ROOT]   (ROOT defaults to the repository root)

Blank lines are not counted. A line inside a `/* ... */` block (scaladoc
included) or starting with `//` is a comment line; every other line is a
code line, trailing comments and all. A module is a directory of source
files under src/main/scala (graft, graft/operators, ...).
"""
import os
import sys


def count(path):
    code = comment = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            if in_block:
                comment += 1
                if "*/" in line:
                    in_block = False
            elif line.startswith("//"):
                comment += 1
            elif line.startswith("/*"):
                comment += 1
                in_block = "*/" not in line[2:]
            else:
                code += 1
    return code, comment


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    src = os.path.join(root, "src", "main")
    modules = {}
    for d, _, files in os.walk(src):
        for name in files:
            if name.endswith((".scala", ".java")):
                code, comment = count(os.path.join(d, name))
                key = os.path.relpath(d, os.path.join(src, "scala"))
                m = modules.setdefault(key, [0, 0])
                m[0] += code
                m[1] += comment
    print(f"{'module':24} {'code':>7} {'comment':>8}")
    for key in sorted(modules):
        print(f"{key:24} {modules[key][0]:7d} {modules[key][1]:8d}")
    total = [sum(m[i] for m in modules.values()) for i in (0, 1)]
    print(f"{'total':24} {total[0]:7d} {total[1]:8d}")


if __name__ == "__main__":
    main()
