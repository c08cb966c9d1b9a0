#!/usr/bin/env python3
"""Paired A/B of two commits on one benchmark workload.

    python ab.py BASE CHANGE --workload queries --pairs 10
    python ab.py HEAD~1 HEAD --workload stream --pairs 4 --seed 101

BASE and CHANGE are any git refs of this repository. Each is checked
out as a detached ``git worktree`` under a fresh scratch directory in
the temp dir (``TMPDIR``), so the benchmark builds what it runs from
the committed files of each ref, not from this checkout's working tree.
The worktrees are removed at exit.

Pair ``i`` (``i = 0 … pairs-1``) runs

    python3 perfbench/run.py --workload W --seed SEED+i --seconds S --trace 0

once in each worktree, BASE first in even pairs and CHANGE first in odd
pairs (ABBA order), so drift of the host over the session falls on both
sides alike and each pair shares its seed. ``S`` is the ``run_seconds``
of ``BENCHMARK.json``.

For every end-to-end metric of ``BENCHMARK.json`` it prints the median
and the quartiles of each side, the relative change of the median, the
number of pairs the change won, the metric's bound, and a verdict:

- ``WORSE``: the change's median is worse than the base's by more than
  the bound;
- ``gain``: the change won at least 9 pairs in 10 and its median is
  better by more than the base's interquartile range;
- ``ok``: anything else.

On the ``queries`` workload a second table follows: each side's median
warm CPU seconds per query (``query_cpu_s[q].warm`` of each run's
detail line), with the relative change, so a gain or a loss can be
attributed to the queries that moved. It carries no verdict.

The exit status is 1 when a metric is ``WORSE``, a run failed an
operation (``failed > 0``) or a run printed no result; otherwise 0.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
#: share of pairs the change must win for a ``gain`` verdict
GAIN_WIN_SHARE = 0.9


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0")
    return ap.parse_args()


def git(*args: str) -> str:
    out = subprocess.run(
        ["git", "-C", ROOT, *args], capture_output=True, text=True, check=True
    )
    return out.stdout.strip()


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``tree``: its result line, plus the
    wall seconds and its detail line (``detail``), or ``{"error": …}``
    when it printed no result."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        res = {}
    if "metrics" not in res:
        tail = (proc.stderr or proc.stdout).strip().splitlines()[-5:]
        return {"error": f"exit {proc.returncode}: " + " | ".join(tail), "wall_s": wall}
    res["wall_s"] = wall
    res["detail"] = next((json.loads(ln) for ln in lines[:-1] if '"workload"' in ln), {})
    return res


def summarize(runs: list[dict], metrics: list[dict]) -> list[dict]:
    """Per end-to-end metric: both sides' quartiles, the relative change
    of the median, pair wins of the change and the verdict."""
    rows = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [
            (r["a"]["metrics"][name]["value"], r["b"]["metrics"][name]["value"])
            for r in runs
        ]
        a = quartiles([p[0] for p in pairs])
        b = quartiles([p[1] for p in pairs])
        delta = (b[1] - a[1]) / a[1] if a[1] else 0.0
        worse = delta if lower else -delta
        wins = sum((vb < va) if lower else (vb > va) for va, vb in pairs)
        if worse > m["bound"]:
            verdict = "WORSE"
        elif wins >= GAIN_WIN_SHARE * len(pairs) and abs(b[1] - a[1]) > a[2] - a[0] and worse < 0:
            verdict = "gain"
        else:
            verdict = "ok"
        rows.append({
            "metric": name, "base": a, "change": b, "delta": delta, "wins": wins,
            "pairs": len(pairs), "bound": m["bound"], "verdict": verdict,
        })
    return rows


def summarize_queries(runs: list[dict]) -> list[dict]:
    """Per query of the ``queries`` mix: each side's median warm CPU
    seconds over the pairs and the relative change of the median; empty
    when the runs' detail lines carry no ``query_cpu_s``."""

    def warm(res: dict) -> dict[str, float]:
        per_query = res.get("detail", {}).get("metrics", {}).get("query_cpu_s", {})
        return {q: v["warm"] for q, v in per_query.items()}

    if not runs:
        return []
    rows = []
    for q in warm(runs[0]["a"]):
        a = statistics.median(warm(r["a"])[q] for r in runs)
        b = statistics.median(warm(r["b"])[q] for r in runs)
        rows.append({"query": q, "base": a, "change": b, "delta": (b - a) / a if a else 0.0})
    return rows


def print_table(rows: list[dict]) -> None:
    def q(t: tuple[float, float, float]) -> str:
        return f"{t[1]:.4g} [{t[0]:.4g}, {t[2]:.4g}]"

    print(f"{'metric':<22} {'base median [q1, q3]':<34} {'change median [q1, q3]':<34}"
          f" {'delta':>7} {'wins':>6} {'bound':>6}  verdict")
    for r in rows:
        print(f"{r['metric']:<22} {q(r['base']):<34} {q(r['change']):<34}"
              f" {r['delta']:>+7.1%} {r['wins']:>3}/{r['pairs']:<2} {r['bound']:>6.2f}  {r['verdict']}")


def print_query_table(rows: list[dict]) -> None:
    if not rows:
        return
    print(f"\n{'median warm CPU s per query':<40} {'base':>8} {'change':>8} {'delta':>7}")
    for r in rows:
        print(f"{r['query']:<40} {r['base']:>8.3f} {r['change']:>8.3f} {r['delta']:>+7.1%}")


def main() -> int:
    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    shas = {side: git("rev-parse", "--verify", f"{ref}^{{commit}}")
            for side, ref in (("a", args.base), ("b", args.change))}
    scratch = tempfile.mkdtemp(prefix="ab-")
    trees = {side: os.path.join(scratch, side) for side in shas}
    runs: list[dict] = []
    problems: list[str] = []
    try:
        for side, sha in shas.items():
            git("worktree", "add", "--detach", trees[side], sha)
        print(f"base {args.base} = {shas['a'][:12]}, change {args.change} = {shas['b'][:12]},"
              f" workload {args.workload}, {args.pairs} pairs, {seconds:g} s", flush=True)
        for i in range(args.pairs):
            seed = args.seed + i
            pair = {"seed": seed}
            for side in ("ab" if i % 2 == 0 else "ba"):
                res = run_once(trees[side], args.workload, seed, seconds)
                pair[side] = res
                label = "base  " if side == "a" else "change"
                if "error" in res:
                    problems.append(f"pair {i} {label.strip()}: {res['error']}")
                    print(f"pair {i} seed {seed} {label} ERROR {res['error']}", flush=True)
                    continue
                if res["failed"]:
                    problems.append(f"pair {i} {label.strip()}: failed={res['failed']}")
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"pair {i} seed {seed} {label} failed={res['failed']} {vals}"
                      f" ({res['wall_s']:.0f} s)", flush=True)
            runs.append(pair)
    finally:
        for tree in trees.values():
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", tree],
                           capture_output=True)
        git("worktree", "prune")
        shutil.rmtree(scratch, ignore_errors=True)

    complete = [r for r in runs if "error" not in r["a"] and "error" not in r["b"]]
    rows = summarize(complete, bench["end_to_end"]) if complete else []
    print_table(rows)
    print_query_table(summarize_queries(complete))
    worse = [r["metric"] for r in rows if r["verdict"] == "WORSE"]
    for p in problems:
        print("problem:", p)
    if worse:
        print("worse beyond the bound:", ", ".join(worse))
    return 1 if worse or problems or not complete else 0


if __name__ == "__main__":
    sys.exit(main())
