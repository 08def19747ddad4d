"""Code-only line counts per package directory.

A code line holds at least one token that is not a comment, and is not
part of a docstring (the leading string of a module, class or function).
Blank lines, comment-only lines and docstrings do not count, so deleting
comments never reads as a reduction.

    python scripts/loc.py [ROOT ...]     # default: maup_spark scripts tests

Prints one row per directory that holds .py files, then the total.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from collections import defaultdict
from pathlib import Path

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docstring_lines(ast.parse(source)))


def main(roots: list[str]) -> None:
    per_dir: dict[str, int] = defaultdict(int)
    for root in roots:
        for path in sorted(Path(root).rglob("*.py")):
            per_dir[str(path.parent)] += code_lines(path.read_text())
    width = max(map(len, per_dir), default=5)
    for d in sorted(per_dir):
        print(f"{d:<{width}}  {per_dir[d]:>6}")
    print(f"{'total':<{width}}  {sum(per_dir.values()):>6}")


if __name__ == "__main__":
    main(sys.argv[1:] or ["maup_spark", "scripts", "tests"])
