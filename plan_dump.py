#!/usr/bin/env python
"""Dump every registry entry's normalized optimized logical plan and the
oracle text of ``__spark_entry__.oracle_sql()`` into one JSON file, so
plan and oracle identity between two commits is one ``diff``.

Usage::

    python plan_dump.py --sf-dir <sf0.001 corpus dir> --out plans_a.json
    # check out the other commit, then
    python plan_dump.py --sf-dir <sf0.001 corpus dir> --out plans_b.json
    diff plans_a.json plans_b.json

Normalization: the ``#<id>`` expression-id suffixes are stripped, and
lambda variables are renamed by their order of first appearance within
each plan (``lambda x_12`` → ``lambda v0``), because Catalyst numbers
both from session-global counters that differ between runs. The
``Expand`` of a query with several DISTINCT aggregates is put in a
canonical order too: Catalyst orders its expanded columns and numbers
its groups (``gid``) by hash order, which depends on the session's
history. The distinct-aggregate columns are sorted by name, the
projections by the columns they set, and the ``gid`` values renumbered
to match, in the ``Expand`` and in the ``(gid = N)`` filters and column
lists above it.

Building a plan may run jobs (k-means training, broadcast sizing), so a
full dump takes a few minutes at sf0.001.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

_EXPR_ID = re.compile(r"#\d+L?")
_LAMBDA_VAR = re.compile(r"lambda \w+")
_GID_REF = re.compile(r"\(gid = (\d+)\)")
_EXPAND = "Expand ["


def _split_top(text: str) -> list[str]:
    """``text`` split at the commas outside any bracket."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i].strip())
            start = i + 1
    parts.append(text[start:].strip())
    return parts


def _canonical_expand(line: str) -> tuple[str, str, str, dict[str, str]] | None:
    """The ``Expand`` tree line with its columns sorted by name and its
    projections by content, the old and new ``…, gid`` column lists,
    and the old → new ``gid`` values; None when the line does not parse
    as a list of projections over an output list ending in ``gid``."""
    head, rest = line.split(_EXPAND, 1)
    parts = _split_top("[" + rest)
    if len(parts) != 2 or not all(p[:1] == "[" and p[-1:] == "]" for p in parts):
        return None
    outputs = _split_top(parts[1][1:-1])
    projs = [_split_top(p[1:-1]) for p in _split_top(parts[0][1:-1])]
    if "gid" not in outputs or any(len(p) != len(outputs) for p in projs):
        return None
    g = outputs.index("gid")
    # grouping columns (set in every projection) keep their place
    keys = [i for i in range(g) if all(p[i] != "null" for p in projs)]
    rest = sorted(set(range(g)) - set(keys), key=lambda i: outputs[i])
    perm = keys + rest
    projs = [[p[i] for i in perm] + p[g:] for p in projs]
    projs.sort(
        key=lambda p: ([i for i in range(g) if p[i] != "null"], p[:g] + p[g + 1 :])
    )
    gids = sorted((p[g] for p in projs), key=int)
    remap = {p[g]: new for p, new in zip(projs, gids)}
    for p in projs:
        p[g] = remap[p[g]]
    cols = [outputs[i] for i in perm] + outputs[g:]
    text = "], [".join(", ".join(p) for p in projs)
    out = f"{head}{_EXPAND}[{text}]], [{', '.join(cols)}]"
    return out, ", ".join(outputs[: g + 1]), ", ".join(cols[: g + 1]), remap


def _canonical_expands(text: str) -> str:
    """Rewrite every parseable ``Expand`` and, up to the next
    ``Expand``, its ancestors' ``gid`` column lists and filters."""
    lines = text.split("\n")
    for i, line in enumerate(lines):
        if _EXPAND not in line or not (found := _canonical_expand(line)):
            continue
        lines[i], old_cols, new_cols, remap = found
        depth = len(line) - len(line.lstrip(" :+-|"))
        for j in range(i - 1, -1, -1):
            above = lines[j]
            d = len(above) - len(above.lstrip(" :+-|"))
            if d >= depth:
                continue
            if _EXPAND in above:
                break
            depth = d
            above = above.replace(old_cols, new_cols)
            lines[j] = _GID_REF.sub(
                lambda m: f"(gid = {remap.get(m.group(1), m.group(1))})", above
            )
    return "\n".join(lines)


def normalize_plan(text: str) -> str:
    text = _EXPR_ID.sub("", text)
    names: dict[str, str] = {}

    def rename(m: re.Match) -> str:
        key = m.group(0)
        if key not in names:
            names[key] = f"lambda v{len(names)}"
        return names[key]

    return _canonical_expands(_LAMBDA_VAR.sub(rename, text))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--only", nargs="*", help="registry names to dump")
    args = ap.parse_args()

    import __spark_entry__
    from cassaforte_meter_transmission_gen_spark.plans import REGISTRY
    from cassaforte_meter_transmission_gen_spark.session import get_spark

    spark = get_spark("plan-dump")
    plans: dict[str, str] = {}
    for name in args.only or sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, args.sf_dir)
            raw = df._jdf.queryExecution().optimizedPlan().toString()
            plans[name] = normalize_plan(raw)
        except Exception as e:  # a failing build is part of the record
            plans[name] = f"error: {type(e).__name__}: {e}"
        print(name, flush=True)
    out = {"plans": plans, "oracle_sql": __spark_entry__.oracle_sql()}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
