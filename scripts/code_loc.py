#!/usr/bin/env python3
"""Count code lines: non-blank, non-comment, non-docstring.

Each argument is a Python file, or ``file.py::name1,name2`` to count only
the named top-level functions/classes of that file (from their ``def`` /
``class`` line to their last line; decorators excluded).  Prints one line
per argument and the total.

Usage: python3 scripts/code_loc.py presto_ethereum_spark/streaming/*.py \\
           presto_ethereum_spark/plans/battery.py::stream_erc20_tail
"""

from __future__ import annotations

import ast
import io
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


def code_lines(src: str) -> set[int]:
    """Line numbers of ``src`` that carry code outside any docstring."""
    tree = ast.parse(src)
    doc: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                doc.update(range(first.lineno, first.end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - doc


def count(arg: str) -> int:
    path, _, names = arg.partition("::")
    with open(path) as f:
        src = f.read()
    lines = code_lines(src)
    if not names:
        return len(lines)
    wanted = set(names.split(","))
    defs = {n.name: n for n in ast.parse(src).body if hasattr(n, "name")}
    if wanted - defs.keys():
        raise SystemExit(f"{path}: no top-level {sorted(wanted - defs.keys())}")
    spans = [range(defs[n].lineno, defs[n].end_lineno + 1) for n in wanted]
    return len({ln for ln in lines if any(ln in s for s in spans)})


def main() -> None:
    total = 0
    for arg in sys.argv[1:]:
        n = count(arg)
        total += n
        print(f"{n:6d}  {arg}")
    print(f"{total:6d}  total")


if __name__ == "__main__":
    main()
