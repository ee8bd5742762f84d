"""Raw and code-only line counts per Python file and in total.

Usage: python tools/loc.py [path ...]

Each path is a ``.py`` file or a directory searched recursively for ``.py``
files (default: ``timedb_spark``). ``raw`` counts every line. ``code`` drops
blank lines, comment-only lines and docstring lines: the string-literal
expression statements that open a module, class or function body, found
with ``ast`` so a ``#`` or triple quote inside a string is never mistaken
for one.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        body = node.body
        if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant) \
                and isinstance(body[0].value.value, str):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(path: str) -> tuple[int, int]:
    """``(raw, code)`` line counts of one Python source file."""
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    raw = len(src.splitlines())
    skip = _docstring_lines(ast.parse(src))
    # A line holds code when some token other than a comment, newline or
    # indentation starts or runs over it.
    code: set[int] = set()
    quiet = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
             tokenize.DEDENT, tokenize.ENDMARKER}
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in quiet:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return raw, len(code - skip)


def _files(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for d, dirs, names in os.walk(p):
                dirs[:] = sorted(x for x in dirs if x != "__pycache__")
                out.extend(os.path.join(d, n) for n in sorted(names) if n.endswith(".py"))
        else:
            out.append(p)
    return out


def main(argv: list[str]) -> None:
    files = _files(argv or ["timedb_spark"])
    width = max([len(f) for f in files] + [5])
    total_raw = total_code = 0
    print(f"{'file':<{width}} {'raw':>7} {'code':>7}")
    for f in files:
        raw, code = count(f)
        total_raw += raw
        total_code += code
        print(f"{f:<{width}} {raw:>7} {code:>7}")
    print(f"{'total':<{width}} {total_raw:>7} {total_code:>7}")


if __name__ == "__main__":
    main(sys.argv[1:])
