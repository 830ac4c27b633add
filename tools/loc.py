"""Count non-test code lines: lines that hold a Python token other than a
comment, a docstring or whitespace.

    python tools/loc.py [PATH ...]        # default: ocr_spark

Prints one `<lines>  <path>` row per argument and, for several, a total.
Files named test_*.py and anything under a tests/ directory are skipped.
A docstring is the leading string expression of a module, class or
function body (ast); every other string, multi-line SQL included, counts
on each line it spans (tokenize).
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    """Lines of `src` that carry code."""
    doc = _docstring_lines(ast.parse(src))
    lines = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type in _SKIP or tok.start[0] in doc:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines)


def _is_test(path: Path) -> bool:
    return path.name.startswith("test_") or "tests" in path.parts


def count(root: Path) -> int:
    files = [root] if root.is_file() else sorted(root.rglob("*.py"))
    return sum(code_lines(f.read_text()) for f in files if not _is_test(f))


def main(argv: list[str]) -> int:
    roots = [Path(a) for a in argv] or [Path("ocr_spark")]
    total = 0
    for r in roots:
        n = count(r)
        total += n
        print(f"{n:>7}  {r}")
    if len(roots) > 1:
        print(f"{total:>7}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
