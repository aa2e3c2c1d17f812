"""Size of the Scala sources under <tree>/src/main, in two numbers:

    python3 tools/code_size.py <tree> [--files]

code_lines  non-blank lines that are not comments (`//` lines and the
            lines of `/* ... */` blocks; SQL inside strings is code), the
            count of plans/pr10/count_code_lines.py.
windows     distinct 6-line windows that occur more than once in the
            tree, read over the code lines, stripped, with lone closing
            brackets (`}`, `)`, `})`, `),` ...) dropped as well.

--files adds one `<code_lines> <windows> <file>` row per file before the
totals; a window repeated across two files counts in both rows.
"""
import collections
import os
import re
import sys

CLOSERS = re.compile(r"[)}\]]+[,;]?")
WIDTH = 6


def code_lines(path):
    out = []
    in_block = False
    for line in open(path, encoding="utf-8"):
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            in_block = "*/" not in s
            continue
        out.append(s)
    return out


def main():
    root = sys.argv[1]
    main_dir = os.path.join(root, "src/main")
    sizes = {}
    seen = collections.defaultdict(list)
    for d, _, files in sorted(os.walk(main_dir)):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                rel = os.path.relpath(p, main_dir)
                lines = code_lines(p)
                sizes[rel] = len(lines)
                body = [s for s in lines if not CLOSERS.fullmatch(s)]
                for i in range(len(body) - WIDTH + 1):
                    seen["\n".join(body[i:i + WIDTH])].append(rel)
    repeated = [set(fs) for fs in seen.values() if len(fs) > 1]
    if "--files" in sys.argv[2:]:
        per_file = collections.Counter(f for fs in repeated for f in fs)
        for rel, n in sizes.items():
            print(n, per_file[rel], rel)
    print("code_lines", sum(sizes.values()))
    print("windows", len(repeated))


if __name__ == "__main__":
    main()
