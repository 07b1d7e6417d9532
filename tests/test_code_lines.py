"""tools/code_lines.py: the package code-line rule on a fixture source."""

from tools.code_lines import code_lines

FIXTURE = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line


# a comment line
def f(x):
    """Function docstring."""
    s = """SQL spanning
    three lines
    """
    return (x +
            1)


class C:
    """Class docstring."""

    y = 1
    "a bare string after the first statement is code"
'''


def test_code_lines_skips_blank_comment_and_docstring_lines():
    # import, def, s = + 2 continuation lines, return + its continuation,
    # class, y = 1, the later bare string
    assert code_lines(FIXTURE) == 10


def test_code_lines_empty_source_is_zero():
    assert code_lines("") == 0
    assert code_lines("# only a comment\n\n") == 0
