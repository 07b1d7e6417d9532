"""Count package code lines: non-blank, non-comment, non-docstring.

A physical line counts when a token other than a comment, a newline or
an indent change starts on it or runs across it (so every line of a
multi-line SQL string counts), unless that token is a docstring: the
string-constant first statement of a module, class or function body.

Usage::

    python tools/code_lines.py [ROOT]

prints ``<count>  <path>`` per ``.py`` file under ``ROOT`` (default: the
package beside ``tools/``), then ``<total>  TOTAL``.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
            continue
        body = node.body
        if (body and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def code_lines(source: str) -> int:
    """Number of code lines in ``source`` under the rule above."""
    docs = _docstring_lines(ast.parse(source))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in _SKIP:
            continue
        lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def count_tree(root: str) -> dict[str, int]:
    """{path relative to ``root``'s parent: code lines} for every ``.py``."""
    base = os.path.dirname(os.path.abspath(root))
    counts = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    counts[os.path.relpath(path, base)] = code_lines(f.read())
    return counts


def main(argv: list[str]) -> None:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = argv[0] if argv else os.path.join(here, "kafka_avro_pipeline_java_spark")
    counts = count_tree(root)
    for path, n in counts.items():
        print(f"{n:6d}  {path}")
    print(f"{sum(counts.values()):6d}  TOTAL")


if __name__ == "__main__":
    main(sys.argv[1:])
