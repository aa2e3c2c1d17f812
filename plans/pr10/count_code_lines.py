"""Count code lines of the Scala sources under a tree: non-blank lines
that are not comments (`//` lines and the lines of `/* ... */` blocks).

    python3 plans/pr10/count_code_lines.py <repoRoot> [subdir]

Prints one `<lines> <file>` row per file and the total last; subdir
defaults to src/main.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    for line in open(path, encoding="utf-8"):
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s
            continue
        n += 1
    return n


def main():
    root = sys.argv[1]
    sub = sys.argv[2] if len(sys.argv) > 2 else "src/main"
    total = 0
    for d, _, files in sorted(os.walk(os.path.join(root, sub))):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                n = code_lines(p)
                total += n
                print(n, os.path.relpath(p, root))
    print(total, "total")


if __name__ == "__main__":
    main()
