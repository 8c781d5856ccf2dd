"""Count code lines in Python sources: lines that carry at least one
token other than a comment or a docstring. Blank lines, comment-only
lines (found with ``tokenize``) and docstring lines (the spans ``ast``
reports for module, class and function docstrings) do not count.

Usage: python tools/code_lines.py DIR [DIR ...]

Prints one ``<count>  <path>`` line per ``.py`` file, then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def docstring_spans(tree: ast.AST) -> list[tuple[tuple[int, int],
                                                 tuple[int, int]]]:
    """(start, end) positions of every module/class/function docstring."""
    spans = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            s = body[0].value
            spans.append(((s.lineno, s.col_offset),
                          (s.end_lineno, s.end_col_offset)))
    return spans


def code_lines(source: str) -> int:
    docs = docstring_spans(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in SKIP:
            continue
        if tok.type == tokenize.STRING and any(
                s <= tok.start and tok.end <= e for s, e in docs):
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def main(dirs: list[str]) -> int:
    if not dirs:
        print(__doc__.strip().splitlines()[-3], file=sys.stderr)
        return 2
    total = 0
    for d in dirs:
        for path in sorted(Path(d).rglob("*.py")):
            n = code_lines(path.read_text())
            total += n
            print(f"{n:6d}  {path}")
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
