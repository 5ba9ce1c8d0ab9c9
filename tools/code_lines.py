#!/usr/bin/env python
"""Count code lines: non-blank lines that are neither comments nor
docstrings, per file and in total (stdlib only: ``tokenize`` + ``ast``).

Usage:
    python tools/code_lines.py bigdata_quality_assessment_spark/operators/density.py
    python tools/code_lines.py bigdata_quality_assessment_spark   # every .py below

A line counts when a token other than a comment or a line break
starts or continues on it, unless the line lies inside a module,
class or function docstring.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

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
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
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


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    text = source.splitlines()
    lines = {n for n in lines if n <= len(text) and text[n - 1].strip()}
    return len(lines - _docstring_lines(ast.parse(source)))


def main(args: list[str]) -> None:
    files: list[Path] = []
    for a in args or ["bigdata_quality_assessment_spark"]:
        p = Path(a)
        files.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
