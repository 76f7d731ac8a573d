#!/usr/bin/env python
"""Count the package's code lines: lines holding a Python token other than
a comment, and not inside a docstring (a module, class or function body's
leading string). Blank lines, comment-only lines and docstrings do not
count, so the figure moves only when code does.

    python scripts/code_lines.py [ROOT]

ROOT defaults to this checkout. Prints one ``lines  path`` row per file of
``ROOT/open_source_search_engine_spark`` (largest first), then the total.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize

PACKAGE = "open_source_search_engine_spark"
_SKIP = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING,
}


def code_lines(source: str) -> int:
    """Code lines of one Python source text."""
    doc: set[int] = set()
    for node in ast.walk(ast.parse(source)):
        body = getattr(node, "body", None)
        if (
            isinstance(body, list)
            and body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _SKIP:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


def main(root: str) -> None:
    counts = {}
    pkg = os.path.join(root, PACKAGE)
    for d, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    counts[os.path.relpath(path, root)] = code_lines(fh.read())
    for path, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {path}")
    print(f"{sum(counts.values()):6d}  total")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
