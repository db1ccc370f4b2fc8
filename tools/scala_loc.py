#!/usr/bin/env python3
"""Line counts of the main Scala sources at two git revisions.

Usage: python3 tools/scala_loc.py <revA> <revB>

Reads every file under src/main/scala at each revision through
`git show` (nothing is checked out) and prints, per file and in total:

  lines    physical lines (what `wc -l` counts)
  code     lines with any code outside comments
  comment  lines holding only comment text
  oracle   lines inside an `oracleSql` map (counted in `code` too)

Each column reads `A -> B (delta)`; files present at one side only
show 0 on the other. A move between files nets out in the totals, and
a comment-only deletion shows in `comment`, not in `code`.
"""
import subprocess
import sys

ROOT = "src/main/scala"


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def files(rev):
    out = git("ls-tree", "-r", "--name-only", rev, "--", ROOT)
    return [f for f in out.splitlines() if f.endswith(".scala")]


def count(text):
    """(lines, code, comment, oracle) of one Scala source.

    A small scanner: nested block comments, line comments, "..." and
    \"\"\"...\"\"\" strings and char literals. A line is code if any
    character outside a comment is not blank; otherwise comment if it
    holds comment text. An `oracleSql` definition spans from its line to
    the line that closes the parenthesis opened after it."""
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    n = len(lines)
    has_code = [False] * n
    has_comment = [False] * n
    in_oracle = [False] * n
    depth_block = 0
    string = None  # None, '"' or '"""'
    oracle_state = 0  # 0 none, 1 seen name, 2 inside parens
    oracle_depth = 0
    oracle_start = 0
    for ln, line in enumerate(lines):
        i = 0
        in_line_comment = False
        while i < len(line):
            c = line[i]
            if in_line_comment:
                if not c.isspace():
                    has_comment[ln] = True
                i += 1
                continue
            if depth_block:
                if line.startswith("*/", i):
                    depth_block -= 1
                    i += 2
                    continue
                if line.startswith("/*", i):
                    depth_block += 1
                    i += 2
                    continue
                if not c.isspace():
                    has_comment[ln] = True
                i += 1
                continue
            if string:
                has_code[ln] = True
                if string == '"""' and line.startswith('"""', i):
                    # a closing run may be longer than three quotes
                    j = i
                    while j < len(line) and line[j] == '"':
                        j += 1
                    string = None
                    i = j
                    continue
                if string == '"':
                    if c == "\\":
                        i += 2
                        continue
                    if c == '"':
                        string = None
                i += 1
                continue
            if line.startswith("//", i):
                in_line_comment = True
                i += 2
                continue
            if line.startswith("/*", i):
                depth_block = 1
                i += 2
                continue
            if line.startswith('"""', i):
                has_code[ln] = True
                string = '"""'
                i += 3
                continue
            if c == '"':
                has_code[ln] = True
                string = '"'
                i += 1
                continue
            if c == "'":
                # char literal: 'x' or '\x'
                if line.startswith("\\", i + 1) and i + 3 < len(line) and line[i + 3] == "'":
                    has_code[ln] = True
                    i += 4
                    continue
                if i + 2 < len(line) and line[i + 2] == "'":
                    has_code[ln] = True
                    i += 3
                    continue
            if not c.isspace():
                has_code[ln] = True
            if oracle_state == 0 and line.startswith("oracleSql", i) and \
                    (i == 0 or not (line[i - 1].isalnum() or line[i - 1] == "_")) and \
                    (i + 9 == len(line) or not (line[i + 9].isalnum() or line[i + 9] == "_")) and \
                    line[:i].split() and line[:i].split()[-1] in ("val", "def"):
                oracle_state = 1
                oracle_start = ln
                i += 9
                continue
            if oracle_state == 1 and c == "(":
                oracle_state = 2
                oracle_depth = 1
            elif oracle_state == 2 and c == "(":
                oracle_depth += 1
            elif oracle_state == 2 and c == ")":
                oracle_depth -= 1
                if oracle_depth == 0:
                    for k in range(oracle_start, ln + 1):
                        in_oracle[k] = True
                    oracle_state = 0
            i += 1
    code = sum(has_code)
    comment = sum(1 for k in range(n) if has_comment[k] and not has_code[k])
    return n, code, comment, sum(in_oracle)


def counts(rev):
    return {f: count(git("show", f"{rev}:{f}")) for f in files(rev)}


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    rev_a, rev_b = sys.argv[1], sys.argv[2]
    a, b = counts(rev_a), counts(rev_b)
    zero = (0, 0, 0, 0)
    names = ("lines", "code", "comment", "oracle")

    def cell(x, y):
        return f"{x:>6} -> {y:>6} ({y - x:+d})"

    print(f"{rev_a} -> {rev_b}  (" + ", ".join(names) + ")")
    for f in sorted(set(a) | set(b)):
        ca, cb = a.get(f, zero), b.get(f, zero)
        short = f[len(ROOT) + 1:]
        print(f"{short:<40} " + "  ".join(cell(x, y) for x, y in zip(ca, cb)))
    ta = [sum(v[k] for v in a.values()) for k in range(4)]
    tb = [sum(v[k] for v in b.values()) for k in range(4)]
    print(f"TOTAL {len(a)} -> {len(b)} files")
    for k, name in enumerate(names):
        print(f"  {name:<8} {cell(ta[k], tb[k])}")


if __name__ == "__main__":
    main()
