"""Count code lines of Python files: lines that hold at least one token
other than a comment, excluding blank lines and docstrings (the string
statement that opens a module, class or function body).

    python tools/loc.py                      # kaer_spark/ total + per file
    python tools/loc.py kaer_spark/context.py kaer_spark/operators

Each argument is a file or a directory (searched for ``*.py``). Prints
one ``<lines>  <path>`` row per file, then one total row per argument.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

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
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(path: str) -> int:
    src = open(path, encoding="utf-8").read()
    doc = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def _files(arg: str) -> list[str]:
    if os.path.isfile(arg):
        return [arg]
    out = []
    for root, dirs, names in os.walk(arg):
        dirs.sort()
        out.extend(os.path.join(root, n) for n in sorted(names) if n.endswith(".py"))
    return out


def main(argv: list[str]) -> int:
    for arg in argv or ["kaer_spark"]:
        total = 0
        for path in _files(arg):
            n = code_lines(path)
            total += n
            print(f"{n:7d}  {path}")
        print(f"{total:7d}  total {arg}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
