"""Count code lines of Python files the way the simplicity notes do.

A code line is a physical line that holds at least one token other
than a comment, a string or whitespace (NEWLINE, NL, INDENT, DEDENT),
found with the standard ``tokenize`` module. Docstrings, comment-only
lines and blank lines therefore do not count; a line that mixes code
and a string or comment does.

    python3 scripts/code_lines.py blspark                 # per file + total
    python3 scripts/code_lines.py blspark/ext/similarity.py --params

Directories are walked for ``*.py``. ``--params`` also prints, for each
top-level function, its parameter count and its code lines (decorators
and signature included), one ``file:function params lines`` row each.
"""

from __future__ import annotations

import argparse
import ast
import sys
import tokenize
from pathlib import Path

_NOT_CODE = {
    tokenize.COMMENT,
    tokenize.STRING,
    tokenize.NEWLINE,
    tokenize.NL,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def code_line_numbers(path: Path) -> set[int]:
    """1-based numbers of the lines of ``path`` that hold code."""
    with open(path, "rb") as f:
        return {
            tok.start[0]
            for tok in tokenize.tokenize(f.readline)
            if tok.type not in _NOT_CODE
        }


def _n_params(fn: ast.FunctionDef | ast.AsyncFunctionDef) -> int:
    a = fn.args
    return (
        len(a.posonlyargs)
        + len(a.args)
        + len(a.kwonlyargs)
        + (a.vararg is not None)
        + (a.kwarg is not None)
    )


def function_rows(path: Path) -> list[tuple[str, int, int]]:
    """(name, parameter count, code lines) of each top-level function."""
    lines = code_line_numbers(path)
    tree = ast.parse(path.read_text(), str(path))
    rows = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            n = sum(1 for ln in lines if first <= ln <= node.end_lineno)
            rows.append((node.name, _n_params(node), n))
    return rows


def _files(paths: list[str]) -> list[Path]:
    out = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+", help="files or directories")
    ap.add_argument(
        "--params",
        action="store_true",
        help="also print parameters and code lines per top-level function",
    )
    args = ap.parse_args(argv)
    total = 0
    for path in _files(args.paths):
        n = len(code_line_numbers(path))
        total += n
        print(f"{n:7d}  {path}")
        if args.params:
            for name, n_params, n_lines in function_rows(path):
                print(f"         {path}:{name} {n_params} {n_lines}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
