#!/usr/bin/env python3
"""Line counts of the Scala sources: raw lines and code lines.

Usage:
    python3 tools/loc.py
    python3 tools/loc.py --selftest

Prints, for `src/main`, `src/test` and `perfbench/src` of the checkout the
script sits in, the number of `.scala` files, their raw line count (what
`wc -l` reports) and their code line count: lines that hold something other
than whitespace outside comments. Blank lines, `//` lines and lines inside
`/* */` or `/** */` blocks are not code; a line with code and a trailing
comment is. String literals are skipped while scanning, so `"//"` or `"/*"`
inside a string opens no comment, and lines inside a triple-quoted string
are code. Scala block comments nest.

Raw lines alone overstate a deletion that removes mostly comments, so a
change that reports a smaller code base reports both counts.

`--selftest` checks the classifier on embedded snippets and needs no JVM.
"""
import os
import re
import sys

TREES = ["src/main", "src/test", "perfbench/src"]

# a char literal: 'a', '\n', '\'', '\u0041'
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def code_lines(text):
    """Number of lines of `text` that hold code outside comments."""
    depth = 0          # nesting depth of /* */ comments
    in_str = None      # None, '"' or '"""'
    count = 0
    for line in text.split("\n"):
        has_code = in_str == '"""'  # a line of a multi-line string
        i, n = 0, len(line)
        if in_str == '"':
            in_str = None  # a single-quoted string never spans lines
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                has_code = True
                if line.startswith('"""', i):
                    i += 3
                    while i < n and line[i] == '"':  # """a"""" ends late
                        i += 1
                    in_str = None
                else:
                    i += 1
            elif in_str == '"':
                has_code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_str = '"""'
                i += 3
            elif c == '"':
                has_code = True
                in_str = '"'
                i += 1
            elif c == "'":
                has_code = True
                m = CHAR_LIT.match(line, i)
                i = m.end() if m else i + 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def raw_lines(text):
    """Lines as `wc -l` counts them: newline characters."""
    return text.count("\n")


def count_tree(root):
    files = raw = code = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                with open(os.path.join(d, name), encoding="utf-8") as f:
                    text = f.read()
                files += 1
                raw += raw_lines(text)
                code += code_lines(text)
    return files, raw, code


def selftest():
    cases = [
        ("", 0),
        ("\n\n   \n", 0),
        ("val a = 1\n", 1),
        ("// only a comment\n  // another\n", 0),
        ("val a = 1 // trailing\n", 1),
        ("/** doc\n  * more\n  */\ndef f = 1\n", 1),
        ("/* a /* nested */ still comment */\n", 0),
        ("/* a /* nested */\n still */ val x = 2\n", 1),
        ('val s = "// not a comment"\n', 1),
        ('val s = "/* not a comment"\nval t = 3\n', 2),
        ('val s = "a\\"b // c"\n', 1),
        ('val q = """\n// inside a string\n\n"""\n', 4),
        ("val c = '\"'\n// gone\n", 1),
        ("val c = '/'; val d = 1\n", 1),
        ("  /* x */  \n", 0),
        ("/* x */ y\n", 1),
        ('val u = s"${m.mkString(",")}" // tail\n', 1),
    ]
    bad = 0
    for text, want in cases:
        got = code_lines(text)
        if got != want:
            bad += 1
            print(f"FAIL code_lines({text!r}) = {got}, want {want}")
    if raw_lines("a\nb\n") != 2 or raw_lines("a\nb") != 1:
        bad += 1
        print("FAIL raw_lines")
    print("selftest:", "ok" if not bad else f"{bad} failure(s)")
    return 1 if bad else 0


def main(argv):
    if argv == ["--selftest"]:
        return selftest()
    if argv:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(f"{'tree':<16}{'files':>7}{'raw':>9}{'code':>9}")
    for tree in TREES:
        files, raw, code = count_tree(os.path.join(root, tree))
        print(f"{tree:<16}{files:>7}{raw:>9}{code:>9}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
