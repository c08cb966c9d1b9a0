"""Deterministic cross-engine transcendental math.

``ln`` is NOT portable between engines: JVM ``Math.log`` and DuckDB's
libm ``ln`` disagree by 1 ulp on ~8% of inputs (measured 425/5502 over
the BM25 idf domain), which breaks the bit-equal oracle contract for
any score that sums logarithms. The fix is the same one the engine
uses everywhere else (fixed-seed literals, fixed-point sums,
sequential folds): make the OPERATION deterministic instead of
trusting the library — compute ln by a fixed-order IEEE-double
algorithm that both sides run step for step:

- range-reduce by an exact power of two: e = max p with x ≥ 2^p (a
  CASE chain / loop over exact double literals), m = x / 2^e ∈ [1, 2)
  (division by a power of two is exact);
- atanh series: t = (m-1)/(m+1) ∈ [0, 1/3), ln(m) = 2t·(c₀ + t²(c₁ +
  t²(…))) with cₖ = 1/(2k+1), K=18 terms (t² < 1/9 ⇒ truncation error
  < 3·10⁻¹⁸ — below double resolution);
- recombine: ln(x) = e·ln2 + 2t·s with ln2 a repr-exact literal.

Every step is +,−,×,÷,comparison on IEEE doubles in a fixed order, so
Python (:func:`det_ln`, used driver-side to inject literals into Spark
plans), Spark SQL, and DuckDB SQL (:func:`det_ln_ctes`) produce the
SAME bits. Accuracy vs true ln is ~1-2 ulp — semantically it IS ln for
any scoring purpose; what matters is that it's the same ln everywhere.

Domain: x ∈ [1, 2^64). The range-reduction CASE chain covers p up to
63, so every x below 2^64 reduces to m ∈ [1, 2) and the series error
stays 1-2 ulp (the original p ≤ 41 cap silently saturated for larger
x — e.g. unigram/bigram NLL ratios with singleton tokens on corpora
beyond ~4·10¹² tokens — degrading accuracy while both engines still
agreed, so the hash gate could not see it). The Python twin raises on
x ≥ 2^64 instead of saturating; the SQL form documents the same bound
(its inputs are count ratios ≤ corpus token totals, far below 2^64).
"""

from __future__ import annotations

import math

from .sqltext import sql_double_lit

#: repr-exact double of ln 2 — shared literal, never recomputed
LN2 = 0.6931471805599453
assert repr(math.log(2.0)) == repr(LN2)

#: atanh-series terms: t² < 1/9 ⇒ (1/3)^(2K+1)/(2K+1) < 2⁻⁵⁸ at K=18
DET_LN_TERMS = 18

#: cₖ = 1/(2k+1) computed once in Python and emitted as repr literals
#: for SQL — both engines then use the identical rounded coefficient
_COEFFS = [1.0 / float(2 * k + 1) for k in range(DET_LN_TERMS)]

#: exact powers of two for the range reduction, descending p = 63..1
#: (float(1 << p) is exact for all p ≤ 63; covering the full int64-ish
#: range means no silent saturation on any realistic count ratio)
_MAX_POW = 63
_POWS = [(p, float(1 << p)) for p in range(_MAX_POW, 0, -1)]

#: domain ceiling: x ≥ 2^64 would leave m ≥ 2 and the series t ≥ 1/3
_DOMAIN_MAX = float(1 << 64)


def det_ln(x: float) -> float:
    """Deterministic ln(x) for x ∈ [1, 2^64) — the Python twin of the
    SQL chain :func:`det_ln_ctes` generates, operation for operation.
    Raises on x beyond the reduced range rather than silently degrading
    (the saturated series error would be invisible to the hash gate
    because both engines would agree on the wrong value)."""
    if x >= _DOMAIN_MAX:
        raise ValueError(f"det_ln domain is [1, 2^64): got {x!r}")
    e = 0
    p2 = 1.0
    for p, pw in _POWS:
        if x >= pw:
            e, p2 = p, pw
            break
    m = x / p2
    t = (m - 1.0) / (m + 1.0)
    s = _COEFFS[DET_LN_TERMS - 1]
    for k in range(DET_LN_TERMS - 2, -1, -1):
        s = _COEFFS[k] + ((t * t) * s)
    return (e * LN2) + ((2.0 * t) * s)


def det_ln_ctes(tag: str, x_expr: str, src: str, out_col: str) -> str:
    """CTE chain computing :func:`det_ln` of ``x_expr`` (evaluated
    over the one-row CTE ``src``) into ``{tag}l({out_col})`` — pure
    arithmetic + CASE, parseable by Spark SQL and DuckDB alike.
    Returns the CTE text (trailing comma included); the final CTE is
    named ``{tag}l``."""
    e_case = (
        "CASE "
        + " ".join(f"WHEN x >= {sql_double_lit(pw)} THEN {p}" for p, pw in _POWS)
        + " ELSE 0 END"
    )
    p_case = (
        "CASE "
        + " ".join(
            f"WHEN x >= {sql_double_lit(pw)} THEN {sql_double_lit(pw)}"
            for p, pw in _POWS
        )
        + f" ELSE {sql_double_lit(1.0)} END"
    )
    horner = sql_double_lit(_COEFFS[DET_LN_TERMS - 1])
    for k in range(DET_LN_TERMS - 2, -1, -1):
        horner = f"({sql_double_lit(_COEFFS[k])} + ((tt * tt) * {horner}))"
    return f"""{tag}x AS (SELECT ({x_expr}) AS x FROM {src}),
{tag}r AS (SELECT x, {e_case} AS e, x / ({p_case}) AS m FROM {tag}x),
{tag}t AS (SELECT e, ((m - {sql_double_lit(1.0)}) / (m + {sql_double_lit(1.0)})) AS tt FROM {tag}r),
{tag}l AS (SELECT ((e * {sql_double_lit(LN2)}) + (({sql_double_lit(2.0)} * tt) * {horner}))
             AS {out_col} FROM {tag}t),"""


def det_ln_stage_exprs() -> dict[str, str]:
    """PER-ROW form of :func:`det_ln`: SQL fragments over bound column
    names (``x``, ``m``, ``tt``, ``e``), one per pipeline stage, shared
    verbatim by Spark ``selectExpr`` stages and generated DuckDB CTEs.
    The scalar :func:`det_ln_ctes` assumes a one-row source; this form
    carries arbitrary key columns through four projections instead.
    Binding each intermediate to a column keeps the expression linear —
    inlining ``tt`` into the 18-level Horner fold would double the text
    at every level."""
    e_case = (
        "CASE "
        + " ".join(f"WHEN x >= {sql_double_lit(pw)} THEN {p}" for p, pw in _POWS)
        + " ELSE 0 END"
    )
    p_case = (
        "CASE "
        + " ".join(
            f"WHEN x >= {sql_double_lit(pw)} THEN {sql_double_lit(pw)}"
            for p, pw in _POWS
        )
        + f" ELSE {sql_double_lit(1.0)} END"
    )
    horner = sql_double_lit(_COEFFS[DET_LN_TERMS - 1])
    for k in range(DET_LN_TERMS - 2, -1, -1):
        horner = f"({sql_double_lit(_COEFFS[k])} + ((tt * tt) * {horner}))"
    return {
        "e": e_case,
        "m": f"x / ({p_case})",
        "tt": f"((m - {sql_double_lit(1.0)}) / (m + {sql_double_lit(1.0)}))",
        "ln": (
            f"((e * {sql_double_lit(LN2)})"
            f" + (({sql_double_lit(2.0)} * tt) * {horner}))"
        ),
    }
