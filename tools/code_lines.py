"""Count the code lines of Python files: the figure CHANGES.md reports.

A line counts when it carries a token other than a comment, NL/NEWLINE
or INDENT/DEDENT. Lines that belong to a string-expression statement (a
docstring, or a bare string used as a comment) do not count.

    python tools/code_lines.py                       # the package
    python tools/code_lines.py iceberg_matrix_spark/sql/facade.py

Prints one line per file, then the total.
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
    tokenize.ENDMARKER,
}


def code_lines(source: str) -> int:
    """Number of code lines in ``source``."""
    docstrings = set()
    for node in ast.walk(ast.parse(source)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            docstrings.update(range(node.lineno, node.end_lineno + 1))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstrings)


def main(argv: list[str]) -> int:
    root = Path(__file__).resolve().parent.parent
    targets = [Path(a) for a in argv] or [root / "iceberg_matrix_spark"]
    files = sorted(
        f for t in targets for f in ([t] if t.is_file() else t.rglob("*.py"))
    )
    total = 0
    for f in files:
        n = code_lines(f.read_text())
        total += n
        print(f"{n:7,d}  {f}")
    print(f"{total:7,d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
