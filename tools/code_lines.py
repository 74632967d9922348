"""Count code lines: lines that are not blank, comment or docstring.

    python tools/code_lines.py dbt_slabbing_spark/streaming/jobs.py
    python tools/code_lines.py dbt_slabbing_spark/operators/*.py

A line counts when it carries at least one token other than a comment
or a newline/indent marker. Docstrings (the first string statement of a
module, class or function, found with ``ast``) do not count, whatever
their length. Lines inside any other multi-line string do count: they
are data. Prints one ``<count>  <path>`` line per file, then the total
when more than one file is given.
"""

from __future__ import annotations

import argparse
import ast
import io
import tokenize

_NOT_CODE = {
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


def code_lines(source: str) -> int:
    """The number of code lines in ``source`` (see the module docstring)."""
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NOT_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(code - _docstring_lines(ast.parse(source)))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("paths", nargs="+", help="Python source files")
    paths = ap.parse_args().paths
    total = 0
    for path in paths:
        with open(path, encoding="utf-8") as f:
            n = code_lines(f.read())
        total += n
        print(f"{n:7d}  {path}")
    if len(paths) > 1:
        print(f"{total:7d}  total")


if __name__ == "__main__":
    main()
