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
both from session-global counters that differ between runs.

Some entries differ between two runs of the SAME commit: a query with
several DISTINCT aggregates plans an ``Expand`` whose group order (the
``gid`` numbering) is not stable across sessions. Known cases are
``events_weekly_retention_cohorts`` and ``sketch_kmv_userdays_jaccard``,
and ``pipeline_group_aware_split_leakage`` and
``text_benchmark_decontamination`` show it too; compare such entries
against two runs of the baseline before calling a change.

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


def normalize_plan(text: str) -> str:
    text = _EXPR_ID.sub("", text)
    names: dict[str, str] = {}

    def rename(m: re.Match) -> str:
        key = m.group(0)
        if key not in names:
            names[key] = f"lambda v{len(names)}"
        return names[key]

    return _LAMBDA_VAR.sub(rename, text)


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
