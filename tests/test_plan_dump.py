"""plan_dump.normalize_plan: two prints of one plan that differ only in
session-global numbering normalize to the same text."""

from __future__ import annotations

from plan_dump import normalize_plan

#: one multi-distinct aggregate as Catalyst prints it in two sessions:
#: the expanded columns and the gid numbering come in hash order
_SESSION_A = """\
Aggregate [fp#1], [count(naive_split#3) FILTER (WHERE (gid#9 = 2)) AS n#20L, count(aware_split#2) FILTER (WHERE (gid#9 = 1)) AS a#21L, first(c#8L) FILTER (WHERE (gid#9 = 0)) AS c#22L]
+- Aggregate [fp#1, aware_split#2, naive_split#3, gid#9], [fp#1, aware_split#2, naive_split#3, gid#9, count(1) AS c#8L]
   +- Expand [[fp#1, null, null, 0], [fp#1, aware_split#4, null, 1], [fp#1, null, naive_split#5, 2]], [fp#1, aware_split#2, naive_split#3, gid#9]
      +- LogicalRDD [fp#1, aware_split#4, naive_split#5], false"""

_SESSION_B = """\
Aggregate [fp#31], [count(naive_split#33) FILTER (WHERE (gid#39 = 1)) AS n#50L, count(aware_split#32) FILTER (WHERE (gid#39 = 2)) AS a#51L, first(c#38L) FILTER (WHERE (gid#39 = 0)) AS c#52L]
+- Aggregate [fp#31, naive_split#33, aware_split#32, gid#39], [fp#31, naive_split#33, aware_split#32, gid#39, count(1) AS c#38L]
   +- Expand [[fp#31, null, null, 0], [fp#31, naive_split#35, null, 1], [fp#31, null, aware_split#34, 2]], [fp#31, naive_split#33, aware_split#32, gid#39]
      +- LogicalRDD [fp#31, aware_split#34, naive_split#35], false"""


def test_expand_gid_order_is_canonical():
    a, b = normalize_plan(_SESSION_A), normalize_plan(_SESSION_B)
    assert a == b, f"{a}\n---\n{b}"
    # the aggregate still filters each count on its own group
    assert "count(aware_split) FILTER (WHERE (gid = 1))" in a
    assert "count(naive_split) FILTER (WHERE (gid = 2))" in a


def test_expand_canonical_form_keeps_real_differences():
    """Swapping which column a count reads is a different plan, not a
    renumbering, and must still show in the diff."""
    swapped = _SESSION_B.replace("count(naive_split#33)", "count(x#33)")
    assert normalize_plan(swapped) != normalize_plan(_SESSION_A)
