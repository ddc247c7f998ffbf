"""Count the code lines of the ``kg/`` package: lines that hold a
Python token, minus comments, docstrings and blank lines.

A line counts when a token other than a comment, a newline or an
indent/dedent starts on it or spans it (a multi-line string or
bracket counts every line it covers). Docstrings — the first
statement of a module, class or function when it is a string
literal — are found with ``ast`` and their lines do not count.

    python tools/count_code_lines.py

Prints one ``<count> <path>`` line per file, then ``<total> total``.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_SCOPES = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.Module) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, _SCOPES) or not node.body:
            continue
        first = node.body[0]
        if (isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count_file(path: Path) -> int:
    src = path.read_text(encoding="utf-8")
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(src)))


def main() -> int:
    root = Path(__file__).parent.parent / "kg"
    total = 0
    for path in sorted(root.rglob("*.py")):
        n = count_file(path)
        total += n
        print(f"{n} {path.relative_to(root)}")
    print(f"{total} total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
