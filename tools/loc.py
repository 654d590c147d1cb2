"""Code and physical line counts per Python file and in total.

A code line is a physical line that carries at least one token other
than a comment, a newline, or indentation, and that is not part of a
docstring (the leading string statement of a module, class or
function). Blank lines, comment-only lines and docstrings therefore do
not count; a statement split over several lines counts every line it
spans. The physical count is the file's newline count.

Usage:
  python tools/loc.py [PATH ...]           # files or directories
  python tools/loc.py --total rclip_server_spark

Directories expand to the ``*.py`` files git tracks under them (all
``*.py`` files when the tree is not a git checkout). Prints one
``code physical path`` line per file, then the total; ``--total``
prints only the total.
"""
from __future__ import annotations

import ast
import io
import os
import subprocess
import sys
import tokenize

_NOT_CODE = (tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
             tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER)
_DOC_OWNERS = (ast.Module, ast.ClassDef, ast.FunctionDef,
               ast.AsyncFunctionDef)


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if not isinstance(node, _DOC_OWNERS) or not body:
            continue
        first = body[0]
        if isinstance(first, ast.Expr) \
                and isinstance(first.value, ast.Constant) \
                and isinstance(first.value.value, str):
            lines.update(range(first.lineno, first.end_lineno + 1))
    return lines


def count(source: str) -> tuple[int, int]:
    """(code lines, physical lines) of one Python source text."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    code -= _docstring_lines(ast.parse(source))
    return len(code), source.count("\n")


def _py_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    try:
        out = subprocess.run(
            ["git", "ls-files", "--", "*.py"], cwd=path,
            capture_output=True, text=True, check=True).stdout
        return sorted(os.path.join(path, f) for f in out.split())
    except (OSError, subprocess.CalledProcessError):
        return sorted(os.path.join(d, f)
                      for d, _dirs, files in os.walk(path)
                      for f in files if f.endswith(".py"))


def main(argv: list[str]) -> int:
    total_only = "--total" in argv
    paths = [a for a in argv if a != "--total"] or ["."]
    files = [f for p in paths for f in _py_files(p)]
    code_sum = phys_sum = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            code, phys = count(fh.read())
        code_sum += code
        phys_sum += phys
        if not total_only:
            print(f"{code} {phys} {f}")
    print(f"{code_sum} {phys_sum} total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
