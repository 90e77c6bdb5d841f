"""The code-line count CHANGES.md reports (tools/code_lines.py)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from code_lines import code_lines  # noqa: E402

SNIPPET = '''"""Module docstring,
two lines."""

# a comment line


def f(x):  # trailing comment keeps the line
    """Docstring."""
    y = (x +
         1)
    "a bare string statement"
    return y
'''


def test_counts_token_lines_without_docstrings_or_comments():
    # def, y = (x +, 1), return y
    assert code_lines(SNIPPET) == 4


def test_empty_source_has_no_code_lines():
    assert code_lines("") == 0
    assert code_lines("# only a comment\n\n") == 0
