"""Count code lines: lines that carry a Python token other than a
comment, a blank line or a docstring.

    python tools/code_lines.py [PATH ...]

Each PATH (default: the ``scalablevectorsearch_spark`` package) is a
.py file or a directory searched recursively. Prints one line per
module, sorted by path, then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers spanned by module, class and function docstrings."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    doc = docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in SKIP:
            continue
        for ln in range(tok.start[0], tok.end[0] + 1):
            if ln not in doc:
                lines.add(ln)
    return len(lines)


def main(argv: list[str]) -> None:
    roots = [Path(a) for a in argv] or [
        Path(__file__).resolve().parents[1] / "scalablevectorsearch_spark"
    ]
    files = sorted(
        f for r in roots for f in ([r] if r.is_file() else r.rglob("*.py"))
    )
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        print(f"{n:6d}  {f}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
