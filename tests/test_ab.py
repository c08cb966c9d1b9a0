"""ab.py's summaries on canned run dicts (no Spark, no git): the
end-to-end verdicts and the per-query warm CPU table."""

from __future__ import annotations

import pytest

from ab import summarize, summarize_queries

METRICS = [
    {"name": "cold_cpu_s", "better": "lower", "bound": 0.25},
    {"name": "throughput_per_cpu_s", "better": "higher", "bound": 0.25},
]


def _side(cold: float, tput: float, warm: dict[str, float] | None = None) -> dict:
    res = {"metrics": {"cold_cpu_s": {"value": cold}, "throughput_per_cpu_s": {"value": tput}}}
    if warm is not None:
        res["detail"] = {
            "workload": "queries",
            "metrics": {"query_cpu_s": {q: {"cold": 2 * c, "warm": c} for q, c in warm.items()}},
        }
    return res


def _runs(pairs: list[tuple[dict, dict]]) -> list[dict]:
    return [{"seed": i, "a": a, "b": b} for i, (a, b) in enumerate(pairs)]


def _verdicts(runs: list[dict]) -> dict[str, str]:
    return {r["metric"]: r["verdict"] for r in summarize(runs, METRICS)}


def test_worse_beyond_the_bound():
    # cold CPU 30% higher on the change side, the bound is 25%
    runs = _runs([(_side(10 + i * 0.1, 1.0), _side(13 + i * 0.1, 1.0)) for i in range(4)])
    assert _verdicts(runs)["cold_cpu_s"] == "WORSE"


def test_gain_needs_nine_wins_in_ten_and_a_move_beyond_the_base_iqr():
    base = [0.50, 0.49, 0.51, 0.48, 0.52, 0.50, 0.49, 0.51, 0.50, 0.50]
    better = [b * 1.3 for b in base]
    runs = _runs([(_side(10, a), _side(10, b)) for a, b in zip(base, better)])
    rows = {r["metric"]: r for r in summarize(runs, METRICS)}
    assert rows["throughput_per_cpu_s"]["verdict"] == "gain"
    assert rows["throughput_per_cpu_s"]["wins"] == 10
    assert rows["throughput_per_cpu_s"]["delta"] == pytest.approx(0.3)
    # equal cold CPU on both sides wins no pair
    assert rows["cold_cpu_s"]["verdict"] == "ok"
    assert rows["cold_cpu_s"]["wins"] == 0

    # the same medians, but the change loses two pairs: 8/10 is no gain
    lost = better[:8] + [base[8] * 0.9, base[9] * 0.9]
    runs = _runs([(_side(10, a), _side(10, b)) for a, b in zip(base, lost)])
    assert _verdicts(runs)["throughput_per_cpu_s"] == "ok"


def test_small_consistent_move_inside_the_base_iqr_is_ok():
    # the change wins every pair by 1%, but the base spreads by 20%
    base = [0.40, 0.50, 0.60, 0.45, 0.55, 0.50]
    runs = _runs([(_side(10, a), _side(10, a * 1.01)) for a in base])
    assert _verdicts(runs)["throughput_per_cpu_s"] == "ok"


def test_per_query_warm_cpu_medians():
    runs = _runs(
        [
            (_side(10, 1.0, {"q1": 1.0, "hits": 4.0}), _side(10, 1.0, {"q1": 1.0, "hits": 2.0})),
            (_side(10, 1.0, {"q1": 3.0, "hits": 6.0}), _side(10, 1.0, {"q1": 1.0, "hits": 3.0})),
            (_side(10, 1.0, {"q1": 2.0, "hits": 5.0}), _side(10, 1.0, {"q1": 2.0, "hits": 1.0})),
        ]
    )
    rows = {r["query"]: r for r in summarize_queries(runs)}
    assert list(rows) == ["q1", "hits"]
    assert rows["q1"]["base"] == 2.0 and rows["q1"]["change"] == 1.0
    assert rows["hits"]["base"] == 5.0 and rows["hits"]["change"] == 2.0
    assert rows["hits"]["delta"] == pytest.approx(-0.6)


def test_no_per_query_table_without_query_detail():
    # stream runs carry no query_cpu_s; a run whose detail line was lost
    # carries no detail at all
    runs = _runs([(_side(10, 1.0), _side(10, 1.0))])
    runs[0]["a"]["detail"] = {"workload": "stream", "metrics": {"batches": 2}}
    assert summarize_queries(runs) == []
    assert summarize_queries([]) == []
