"""SQL splice-point safety (functions.sqltext — ADVICE r7): escaped
string literals agree across engines, exact double literals round-trip
bit for bit, identifiers validate loud, and a quote inside a BM25 query
term is data, not syntax."""

from __future__ import annotations

import struct

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cassaforte_meter_transmission_gen_spark.functions.sqltext import (
    safe_ident,
    sql_double_lit,
    sql_str_lit,
)


def test_sql_str_lit_roundtrips_in_both_engines(spark):
    for s in ["plain", "it's", "''", "a'b'c", "", "with space"]:
        lit = sql_str_lit(s)
        assert spark.sql(f"SELECT {lit} AS v").head()["v"] == s
        assert duckdb.sql(f"SELECT {lit} AS v").fetchone()[0] == s


def test_sql_str_lit_rejects_nonportable():
    with pytest.raises(ValueError):
        sql_str_lit("back\\slash")
    with pytest.raises(ValueError):
        sql_str_lit("new\nline")


def test_safe_ident():
    assert safe_ident("l_orderkey") == "l_orderkey"
    for bad in ["1col", "a.b", "a; DROP", "a'b", "a b", ""]:
        with pytest.raises(ValueError):
            safe_ident(bad)


def test_bm25_term_with_quote_is_data(spark, sf_small):
    """A term containing a single quote must neither break the plan
    nor the shared oracle text — it simply matches nothing."""
    from cassaforte_meter_transmission_gen_spark.operators.retrieval import (
        bm25_topk,
    )
    from cassaforte_meter_transmission_gen_spark.schemas import load_table

    docs = load_table(spark, sf_small, "documents")
    out = bm25_topk(docs, ["dup", "o'brien"], k=5).collect()
    assert len(out) == 5  # ranked by the real term; quote term tf = 0

    from cassaforte_meter_transmission_gen_spark.plans.text_queries import (
        text_bm25_topk_sql,
    )

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_small}/documents.parquet')"
    )
    oracle_rows = con.sql(text_bm25_topk_sql(["dup", "o'brien"], k=5)).fetchall()
    con.close()
    assert len(oracle_rows) == 5
    got = sorted((r["doc_id"], repr(r["score"])) for r in out)
    want = sorted((r[0], repr(r[1])) for r in oracle_rows)
    assert got == want


def test_bloom_and_cms_reject_expression_keys(spark, sf_small):
    from cassaforte_meter_transmission_gen_spark.operators.bloom import (
        bloom_build,
    )
    from cassaforte_meter_transmission_gen_spark.operators.sketches import (
        cms_build,
    )
    from cassaforte_meter_transmission_gen_spark.schemas import load_table

    orders = load_table(spark, sf_small, "orders")
    with pytest.raises(ValueError):
        bloom_build(orders, "o_orderkey + 1")
    with pytest.raises(ValueError):
        cms_build(orders, "o_orderkey); DROP")


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=False, allow_infinity=False), min_size=1, max_size=50
    )
)
def test_sql_double_lit_roundtrips_bit_exactly_in_both_engines(spark, xs):
    """``sql_double_lit`` — the one exact double literal the generated
    Spark text and the DuckDB oracles share — evaluates to the SAME
    float64 bits as its input in both engines, for any finite double
    (signed zero, subnormals and extremes included)."""
    lits = ", ".join(f"{sql_double_lit(x)} AS v{i}" for i, x in enumerate(xs))
    want = [struct.pack("<d", x) for x in xs]
    from_spark = spark.sql(f"SELECT {lits}").head()
    from_duck = duckdb.sql(f"SELECT {lits}").fetchone()
    assert [struct.pack("<d", v) for v in from_spark] == want
    assert [struct.pack("<d", v) for v in from_duck] == want
