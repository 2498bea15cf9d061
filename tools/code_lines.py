"""Count the package's code lines: lines that carry a token other than a
comment, and that are not part of a docstring. Blank lines, comment
lines and docstrings (the first string statement of a module, class or
function) do not count; a line with code and a trailing comment does.

Prints the package total, then one line per function (qualified name,
nested functions also count inside their parents), largest first.

Usage: python tools/code_lines.py [package_dir] [--functions NAME ...]

``--functions`` restricts the per-function listing to the named
functions and prints their sum. A name is either a qualified name
(``outer.inner``; it matches that function in every module) or the
``path:qualname`` form the listing prints (it matches one module's).
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

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
    for node in ast.walk(tree):
        if not isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            continue
        body = node.body
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> set[int]:
    """Line numbers of ``source`` that count as code."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - _docstring_lines(ast.parse(source))


def function_lines(source: str) -> dict[str, int]:
    """Code lines per function of ``source``, keyed by qualified name
    (``outer.inner``, ``Class.method``); decorators count."""
    counted = code_lines(source)
    out: dict[str, int] = {}

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                name = f"{prefix}{child.name}"
                if not isinstance(child, ast.ClassDef):
                    first = min(
                        [child.lineno] + [d.lineno for d in child.decorator_list]
                    )
                    span = range(first, child.end_lineno + 1)
                    out[name] = len(counted.intersection(span))
                visit(child, f"{name}.")
            else:
                visit(child, prefix)

    visit(ast.parse(source), "")
    return out


def main(argv: list[str]) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wanted: list[str] = []
    if "--functions" in argv:
        i = argv.index("--functions")
        argv, wanted = argv[:i], argv[i + 1 :]
    pkg = argv[0] if argv else os.path.join(root, "data_pipeline_example_spark")
    total = 0
    per_fn: list[tuple[int, str]] = []
    for dirpath, _, files in sorted(os.walk(pkg)):
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, pkg)
            with open(path, encoding="utf-8") as fh:
                source = fh.read()
            total += len(code_lines(source))
            per_fn += [(n, f"{rel}:{q}") for q, n in function_lines(source).items()]
    print(f"total {total}")
    if wanted:
        per_fn = [
            (n, name)
            for n, name in per_fn
            if name in wanted or name.split(":", 1)[1] in wanted
        ]
        print(f"selected {sum(n for n, _ in per_fn)}")
    for n, name in sorted(per_fn, key=lambda t: (-t[0], t[1])):
        print(f"{n:6d} {name}")


if __name__ == "__main__":
    main(sys.argv[1:])
