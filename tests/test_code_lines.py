"""``tools/code_lines.py``: the package code-line count behind every
"net lines down" figure — blank lines, comments and docstrings are not
code; a line with code and a trailing comment is."""

from __future__ import annotations

import importlib.util
import pathlib

_TOOL = pathlib.Path(__file__).resolve().parent.parent / "tools" / "code_lines.py"
_spec = importlib.util.spec_from_file_location("code_lines", _TOOL)
code_lines = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(code_lines)

_SAMPLE = '''"""Module docstring,
two lines."""
import os  # a trailing comment keeps the line


# a comment line
def outer(x):
    """Docstring."""
    y = (x +
         1)

    def inner():
        return "not a docstring"

    return y


class K:
    """Class docstring."""

    @staticmethod
    def m():
        s = """a string
        statement that is not first"""
        return s
'''


def test_counts_code_lines_only():
    # import, def outer, y = (x +, 1), def inner, return "...",
    # return y, class K, @staticmethod, def m, s = """..., its second
    # line, return s
    assert code_lines.code_lines(_SAMPLE) == {
        3, 7, 9, 10, 12, 13, 15, 18, 21, 22, 23, 24, 25,
    }


def test_counts_per_function_with_nesting_and_decorators():
    assert code_lines.function_lines(_SAMPLE) == {
        "outer": 6,
        "outer.inner": 2,
        "K.m": 5,
    }


def test_functions_accept_the_printed_path_form(tmp_path, capsys):
    """``--functions`` takes the ``path:qualname`` names the listing
    prints, so a name defined in two modules can be picked in one; a
    bare qualified name still matches it in every module."""
    (tmp_path / "a.py").write_text("def main():\n    return 1\n")
    (tmp_path / "b.py").write_text("def main():\n    x = 1\n    return x\n")

    def selected(*names):
        code_lines.main([str(tmp_path), "--functions", *names])
        return capsys.readouterr().out.splitlines()[1]

    assert selected("main") == "selected 5"
    assert selected("a.py:main") == "selected 2"
    assert selected("b.py:main") == "selected 3"
    assert selected("a.py:main", "b.py:main") == "selected 5"
