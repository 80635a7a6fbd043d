#!/usr/bin/env python
"""Count code lines: lines that hold a Python token, not counting blank
lines, comments or docstrings.

Usage: python tools/code_lines.py PATH [PATH ...]

A PATH may be a file or a directory (searched for ``*.py``).  Prints one
``<lines>  <file>`` row per file, then the total.  A multi-line token (an
SQL string, say) counts every line it spans; a docstring is the leading
string statement of a module, class or function.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

USAGE = "usage: python tools/code_lines.py PATH [PATH ...]"
_SKIP = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of lines of ``source`` that hold a non-docstring token."""
    doc = _docstring_lines(ast.parse(source))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _py_files(path: str):
    if os.path.isdir(path):
        for root, dirs, files in os.walk(path):
            dirs.sort()
            yield from (os.path.join(root, f) for f in sorted(files) if f.endswith(".py"))
    else:
        yield path


def main(argv: list[str]) -> int:
    if not argv:
        print(USAGE, file=sys.stderr)
        return 2
    total = 0
    for arg in argv:
        for path in _py_files(arg):
            with open(path, encoding="utf-8") as f:
                n = code_lines(f.read())
            total += n
            print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
