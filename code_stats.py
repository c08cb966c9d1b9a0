"""Code size and knob count per Python module.

    python code_stats.py cassaforte_meter_transmission_gen_spark
    python code_stats.py cassaforte_meter_transmission_gen_spark/streaming/pipeline.py

For every ``.py`` file under the given paths (files or directories,
walked recursively) print its code lines and its knob count, then the
totals:

- **code lines**: lines that carry at least one token other than a
  comment, and that are not part of a module, class or function
  docstring (found with ``ast``, tokens with ``tokenize``); blank lines
  never carry a token;
- **knobs**: defaulted parameters, ``len(args.defaults)`` plus the
  keyword-only defaults that are not ``None``, summed over every
  function and lambda.
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
    tokenize.ENDMARKER,
    tokenize.ENCODING,
}


def _docstring_lines(tree: ast.AST) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def code_lines(src: str) -> int:
    docs = _docstring_lines(ast.parse(src))
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in _NON_CODE:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - docs)


def knobs(src: str) -> int:
    return sum(
        len(node.args.defaults)
        + sum(d is not None for d in node.args.kw_defaults)
        for node in ast.walk(ast.parse(src))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
    )


def _modules(paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs[:] = sorted(d for d in dirs if d != "__pycache__")
                out += [os.path.join(root, f) for f in sorted(files) if f.endswith(".py")]
        else:
            out.append(p)
    return out


def main(paths: list[str]) -> None:
    total_lines = total_knobs = 0
    for path in _modules(paths):
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        n, k = code_lines(src), knobs(src)
        total_lines += n
        total_knobs += k
        print(f"{n:7,d} {k:5d}  {path}")
    print(f"{total_lines:7,d} {total_knobs:5d}  total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])
