"""Print the three line counts the roadmap tracks: every package *.py
file, the streaming facade module, and the bench script.

Two columns per target: raw lines (``wc -l``) and code lines. A code
line holds at least one token that is not a comment, and lies outside
every docstring (the first string statement of a module, class or
function body). Blank lines, comment-only lines and docstrings are not
code, so deleting comments does not lower the code count.

Run: ``python3 tools/loc.py`` (or ``make loc``).
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "python_stream_processing_framework_spark"
_NON_CODE = {
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
    scopes = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    for node in ast.walk(tree):
        if not isinstance(node, scopes) or not node.body:
            continue
        first = node.body[0]
        if (
            isinstance(first, ast.Expr)
            and isinstance(first.value, ast.Constant)
            and isinstance(first.value.value, str)
        ):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Lines of ``source`` that carry code (see the module docstring)."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - _docstring_lines(ast.parse(source)))


def counts(paths: list[Path]) -> tuple[int, int]:
    raw = code = 0
    for path in paths:
        src = path.read_text()
        raw += len(src.splitlines())
        code += code_lines(src)
    return raw, code


def main() -> None:
    targets = {
        "package": sorted(PKG.rglob("*.py")),
        "streaming/stream.py": [PKG / "streaming" / "stream.py"],
        "bench.py": [ROOT / "bench.py"],
    }
    print(f"{'':22} {'lines':>6} {'code':>6}")
    for name, paths in targets.items():
        raw, code = counts(paths)
        print(f"{name:22} {raw:6} {code:6}")


if __name__ == "__main__":
    main()
