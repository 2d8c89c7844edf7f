"""Count code lines in Python source trees: every line that holds a
token other than a comment, with blank lines and docstrings (module,
class and function) left out. A multi-line string that is not a
docstring counts on every line it spans.

    python scripts/code_lines.py                 # nebula_spark/ and bin/
    python scripts/code_lines.py DIR_OR_FILE ...

Prints one line per argument and, for several, their total."""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def file_lines(path: str) -> int:
    with open(path, "rb") as f:
        src = f.read()
    lines: set[int] = set()
    for tok in tokenize.tokenize(io.BytesIO(src).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (
            isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.difference_update(range(body[0].lineno, body[0].end_lineno + 1))
    return len(lines)


def tree_lines(root: str) -> int:
    if os.path.isfile(root):
        return file_lines(root)
    total = 0
    for d, _dirs, names in os.walk(root):
        total += sum(file_lines(os.path.join(d, n)) for n in names if n.endswith(".py"))
    return total


def main(argv: list[str]) -> None:
    roots = argv or ["nebula_spark", "bin"]
    counts = [tree_lines(r) for r in roots]
    for r, n in zip(roots, counts):
        print(f"{n:>8,}  {r}")
    if len(roots) > 1:
        print(f"{sum(counts):>8,}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
