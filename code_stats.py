"""Code size and knob count per Python module.

    python code_stats.py cassaforte_meter_transmission_gen_spark
    python code_stats.py cassaforte_meter_transmission_gen_spark/streaming/pipeline.py
    python code_stats.py --never-passed cassaforte_meter_transmission_gen_spark

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

With ``--never-passed``, list instead every defaulted parameter of a
function under the given paths that no call passes, one
``path:line  qualname.param`` line each. The calls are read from the
package, ``tests/``, ``perfbench/`` and the ``.py`` scripts at the repo
root. A call passes a parameter by keyword, by position, or through any
``*args``/``**kw``; ``functools.partial(f, ...)`` counts as a call of
``f``; ``C(...)`` and ``cls(...)`` inside ``C`` call ``C.__init__``
(or the ``__init__`` of ``C``'s bases when ``C`` has none). Calls are
matched by the callee's bare name, so a call of any function of the same
name counts: the listing can miss a parameter, never wrongly list one
that a call by name passes.
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


_PACKAGE = "cassaforte_meter_transmission_gen_spark"


def _function_defs(tree: ast.AST):
    """Yield ``(qualname, lookup name, node, is_method)`` for every def:
    ``__init__`` is looked up by its class name."""

    def walk(node, prefix: list[str], in_class: str | None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                yield from walk(child, prefix + [child.name], child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                if in_class and child.name == "__init__":
                    yield ".".join(prefix), in_class, child, True
                else:
                    yield ".".join(prefix + [child.name]), child.name, child, bool(
                        in_class
                    ) and not static
                yield from walk(child, prefix + [child.name], None)
            else:
                yield from walk(child, prefix, in_class)

    yield from walk(tree, [], None)


def _class_bases(tree: ast.AST) -> dict[str, list[str]]:
    """Bases of every class that defines no ``__init__`` of its own."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef) and not any(
            isinstance(b, ast.FunctionDef) and b.name == "__init__" for b in node.body
        ):
            out[node.name] = [
                b.id if isinstance(b, ast.Name) else b.attr
                for b in node.bases
                if isinstance(b, (ast.Name, ast.Attribute))
            ]
    return out


def _callee(func: ast.expr, in_class: str | None) -> str | None:
    if isinstance(func, ast.Name):
        return in_class if func.id == "cls" and in_class else func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(tree: ast.AST):
    """Yield ``(callee name, positional count, keyword names)`` per call;
    a ``*args`` passes every position, a ``**kw`` every keyword (None)."""

    def walk(node, in_class: str | None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call):
                args, name = child.args, _callee(child.func, in_class)
                if name == "partial" and args:
                    name, args = _callee(args[0], in_class), args[1:]
                if name:
                    star = any(isinstance(a, ast.Starred) for a in args)
                    kws = {k.arg for k in child.keywords}
                    yield (
                        name,
                        sys.maxsize if star else len(args),
                        None if None in kws else kws,
                    )
            yield from walk(
                child, child.name if isinstance(child, ast.ClassDef) else in_class
            )

    yield from walk(tree, None)


def _call_files(repo: str) -> list[str]:
    roots = [os.path.join(repo, d) for d in (_PACKAGE, "tests", "perfbench")]
    scripts = [
        os.path.join(repo, f) for f in sorted(os.listdir(repo)) if f.endswith(".py")
    ]
    return _modules([r for r in roots if os.path.isdir(r)]) + scripts


def never_passed(defs: dict[str, str], calls: dict[str, str]) -> list[str]:
    """``path:line  qualname.param`` of every defaulted parameter of a
    function in ``defs`` that no call in ``calls`` passes (both map a
    path to its source)."""
    trees = [ast.parse(src) for src in calls.values()]
    bases: dict[str, list[str]] = {}
    for tree in trees:
        bases.update(_class_bases(tree))
    passed: dict[str, list[tuple[int, set[str] | None]]] = {}
    for tree in trees:
        for name, n_pos, kws in _calls(tree):
            todo, seen = [name], set()
            while todo:
                key = todo.pop()
                if key not in seen:
                    seen.add(key)
                    passed.setdefault(key, []).append((n_pos, kws))
                    todo += bases.get(key, [])
    out = []
    for path, src in defs.items():
        for qual, key, fn, is_method in _function_defs(ast.parse(src)):
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            params = [
                (arg, i - is_method)
                for i, arg in enumerate(pos[first:], start=first)
            ] + [
                (arg, None)
                for arg, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            for arg, i in params:
                if not any(
                    kws is None or arg.arg in kws or (i is not None and n_pos > i)
                    for n_pos, kws in passed.get(key, [])
                ):
                    out.append(f"{path}:{arg.lineno}  {qual}.{arg.arg}")
    return out


def _read(paths: list[str]) -> dict[str, str]:
    out = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            out[path] = fh.read()
    return out


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
    for path, src in _read(_modules(paths)).items():
        n, k = code_lines(src), knobs(src)
        total_lines += n
        total_knobs += k
        print(f"{n:7,d} {k:5d}  {path}")
    print(f"{total_lines:7,d} {total_knobs:5d}  total")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    if sys.argv[1] == "--never-passed":
        repo = os.path.dirname(os.path.abspath(__file__))
        for line in never_passed(
            _read(_modules(sys.argv[2:])), _read(_call_files(repo))
        ):
            print(line)
    else:
        main(sys.argv[1:])
