"""Property-based tests (hypothesis) for the invariants the example
corpus can't sweep: hashing stability, chunking reassembly, rollup
associativity, and connected-components correctness against a
reference union-find. Spark-backed properties cap max_examples to keep
job counts sane; pure-Python properties run the full default budget.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cassaforte_meter_transmission_gen_spark.functions.hashing import (
    HOST_HASH_MOD,
    host_hash,
)
from cassaforte_meter_transmission_gen_spark.functions.udtfs import (
    CHUNK_SIZE,
    _ChunkWords,
)

# ---------------------------------------------------------------- pure


@given(st.text(max_size=200))
def test_host_hash_stable_and_in_range(s):
    assert host_hash(s) == host_hash(s)
    assert 0 <= host_hash(s) < HOST_HASH_MOD


@given(st.text(alphabet=st.characters(codec="ascii"), max_size=500))
def test_chunk_words_reassembles(text):
    """Chunks rejoin to the whitespace-normalized document; word counts
    sum to the token count; chunk indexes are dense from 0."""
    rows = list(_ChunkWords().eval(text))
    words = text.split()
    assert sum(r[2] for r in rows) == len(words)
    assert " ".join(r[1] for r in rows).split() == words
    assert [r[0] for r in rows] == list(range(len(rows)))
    assert all(1 <= r[2] <= CHUNK_SIZE for r in rows)


# ------------------------------------------------------------ spark


def _union_find_groups(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # min-label per component, matching duplicate_groups' contract
    return {x: find(x) for x in parent}


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    )
)
def test_duplicate_groups_matches_union_find(spark, edges):
    from cassaforte_meter_transmission_gen_spark.operators.dedup import (
        duplicate_groups,
    )

    pairs = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a int, doc_b int"
    )
    got = {
        r["doc_id"]: r["group_id"] for r in duplicate_groups(pairs).collect()
    }
    assert got == _union_find_groups(edges)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # said
            st.integers(0, 3 * 86400),  # seconds offset over 3 days
            st.integers(0, 1000),  # joules
        ),
        min_size=1,
        max_size=50,
    )
)
def test_rollup_chain_associative(spark, rows):
    """day-from-hour-from-minute-from-second == day-direct-from-second:
    re-aggregating sums along the chain loses nothing (SURVEY §4 O4)."""
    from pyspark.sql import functions as F

    from cassaforte_meter_transmission_gen_spark.operators.rollups import (
        rollup_chain,
    )

    t0 = dt.datetime(2013, 1, 1)
    data = [
        (said, t0 + dt.timedelta(seconds=off), joules)
        for said, off, joules in rows
    ]
    second = spark.createDataFrame(
        data, "said int, datetime timestamp, joules int"
    )
    chained_day = rollup_chain(second)["day"]
    direct_day = second.groupBy(
        "said", F.date_trunc("day", "datetime").alias("datetime")
    ).agg(F.sum("joules").cast("long").alias("joules"))
    assert sorted(map(tuple, chained_day.collect())) == sorted(
        map(tuple, direct_day.collect())
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1,
        max_size=20,
    )
)
def test_zorder_key_matches_python_model(spark, pairs):
    """The server-parsed Morton expression equals the textbook Python
    bit-interleave for arbitrary 16-bit inputs (and is therefore
    monotone along the curve by construction)."""
    from cassaforte_meter_transmission_gen_spark.sources.layout import zorder_key

    def morton(a: int, b: int, bits: int = 16) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a int, b int")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", zorder_key("a", "b").alias("z")).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == morton(a, b)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.integers(-(2**31), 2**31 - 1), min_size=1, max_size=100
    )
)
def test_murmur3_hash_int_matches_spark_hash(spark, vals):
    """The driver-side Murmur3 x86_32 (functions.hashing) is bit-equal
    to Spark's F.hash over arbitrary int32 inputs — the contract that
    lets read_meter_time_range derive said-bucket partition predicates
    without launching a hash job per read."""
    from pyspark.sql import functions as F

    from cassaforte_meter_transmission_gen_spark.functions.hashing import (
        murmur3_hash_int,
        said_bucket,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v int")
    rows = df.select(
        "v",
        F.hash("v").alias("h"),
        F.pmod(F.hash("v"), F.lit(7)).alias("b"),
    ).collect()
    for r in rows:
        assert murmur3_hash_int(r["v"]) == r["h"]
        assert said_bucket(r["v"], 7) == r["b"]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000_000),  # sparse, unordered ids
            st.integers(1, 5000),  # token counts
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_global_running_total_matches_serial_model(spark, rows):
    """The parallel prefix sum equals the trivial Python model for ANY
    id distribution (sparse, clustered, adversarial) and any bucket
    count — the associativity claim that lets the oracle use the serial
    window while the engine runs the bucketed form."""
    from cassaforte_meter_transmission_gen_spark.operators.packing import (
        global_running_total,
    )

    df = spark.createDataFrame(
        [(int(i), int(v)) for i, v in rows], "id long, v long"
    )
    acc, want = 0, {}
    for i, v in sorted(rows):
        want[i] = acc
        acc += v
    for n_parts in (1, 4):
        got = {
            r["id"]: r["rt"]
            for r in global_running_total(
                df, "id", "v", out_col="rt", n_partitions=n_parts
            ).collect()
        }
        assert got == want, n_parts


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_int8_quantization_codes_bounded_and_deterministic(spark, vecs):
    """int8 prep invariants for arbitrary float vectors (including the
    all-zero vector, which the eps guard must keep finite): codes stay
    in [-128, 127] (floor can hit -128 exactly), the scale is positive
    and finite, and re-running produces identical codes."""
    from cassaforte_meter_transmission_gen_spark.operators.similarity import (
        _int8_prep,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    out1 = {
        r["c_id"]: (list(r["c_q"]), r["c_scale"])
        for r in _int8_prep(df, "c", "vec_id", "embedding").collect()
    }
    out2 = {
        r["c_id"]: (list(r["c_q"]), r["c_scale"])
        for r in _int8_prep(df, "c", "vec_id", "embedding").collect()
    }
    assert out1 == out2
    for codes, scale in out1.values():
        assert scale > 0.0
        assert all(-128 <= c <= 127 for c in codes), (codes, scale)


@given(
    st.lists(st.integers(0, 2**40), min_size=1, max_size=50, unique=True),
    st.integers(1, 64),
    st.integers(1, 16),
)
def test_train_sample_sql_matches_python_model(ids, denom, floor_ids):
    """The training-sample predicate (operators.similarity.
    train_sample_sql) must select exactly the ids the pure-Python model
    selects when DuckDB evaluates it — the engine-agreement half of the
    sampled-training oracle contract (the Spark half is covered by the
    ann_ivf_* parity gates). Exercises ids far beyond the corpus range,
    including > 2^31 where the pre-reduction mod matters."""
    import duckdb

    from cassaforte_meter_transmission_gen_spark.operators.similarity import (
        TRAIN_HASH_A,
        TRAIN_HASH_ID_MOD,
        TRAIN_HASH_MOD,
        train_sample_sql,
    )

    threshold = TRAIN_HASH_MOD // denom
    want = {
        i
        for i in ids
        if ((i % TRAIN_HASH_ID_MOD) * TRAIN_HASH_A) % TRAIN_HASH_MOD < threshold
        or i < floor_ids
    }
    con = duckdb.connect()
    vals = ", ".join(f"({i})" for i in ids)
    got = {
        r[0]
        for r in con.sql(
            f"SELECT vec_id FROM (VALUES {vals}) t(vec_id)"
            f" WHERE {train_sample_sql('vec_id', denom, floor_ids)}"
        ).fetchall()
    }
    con.close()
    assert got == want


@given(
    st.lists(st.integers(0, 2**40), min_size=1, max_size=60, unique=True),
    st.integers(2, 64),
)
def test_shuffle_shard_hash_matches_python_model(ids, n_shards):
    """The corpus-shuffle shard hash (plans.text_queries.
    pipeline_shuffle_shard_assignment) must give every engine the same
    shard and the same within-shard order. DuckDB evaluates the
    documented expression over random id sets (including > 2^31 where
    the pre-reduction modulus matters); the pure-Python model must
    agree on both the shard id and the (hash, id) sort key."""
    import duckdb

    from cassaforte_meter_transmission_gen_spark.plans.text_queries import (
        N_SHARDS,
        SHUFFLE_HASH_A,
        SHUFFLE_HASH_MOD,
        SHUFFLE_ID_MOD,
    )

    del N_SHARDS  # the query pins 16; the property holds for any modulus
    want = {
        i: (
            ((i % SHUFFLE_ID_MOD) * SHUFFLE_HASH_A) % SHUFFLE_HASH_MOD % n_shards,
            ((i % SHUFFLE_ID_MOD) * SHUFFLE_HASH_A) % SHUFFLE_HASH_MOD,
        )
        for i in ids
    }
    con = duckdb.connect()
    vals = ", ".join(f"({i})" for i in ids)
    got = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            f"SELECT doc_id,"
            f" (((doc_id % {SHUFFLE_ID_MOD}) * {SHUFFLE_HASH_A})"
            f" % {SHUFFLE_HASH_MOD}) % {n_shards},"
            f" ((doc_id % {SHUFFLE_ID_MOD}) * {SHUFFLE_HASH_A})"
            f" % {SHUFFLE_HASH_MOD}"
            f" FROM (VALUES {vals}) t(doc_id)"
        ).fetchall()
    }
    con.close()
    assert got == want


@given(
    st.lists(
        st.floats(min_value=1.0, max_value=float(1 << 63), allow_nan=False,
                  exclude_max=True),
        min_size=1,
        max_size=60,
    )
)
@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_det_ln_matches_duckdb_bitwise_and_true_ln(xs):
    """functions.detmath.det_ln exists because library ln is NOT
    portable (JVM vs libm differ at 1 ulp on ~8% of the BM25 idf
    domain — measured 425/5502). The contract: (a) the Python driver
    twin and the generated SQL chain produce IDENTICAL doubles in
    DuckDB over the extended domain up to 2^63 (the old 2^41 range cap
    silently saturated above it — ADVICE r7); (b) both are within a
    few ulp of true ln (math.log), i.e. it really is ln, not a
    lookalike."""
    import math

    import duckdb

    from cassaforte_meter_transmission_gen_spark.functions.detmath import (
        det_ln,
        det_ln_ctes,
    )

    py = [det_ln(x) for x in xs]
    con = duckdb.connect()
    vals = ", ".join(f"(CAST('{x!r}' AS DOUBLE))" for x in xs)
    sql = (
        f"WITH src AS (SELECT x0 FROM (VALUES {vals}) t(x0)), "
        + det_ln_ctes("d", "x0", "src", "lnv")[:-1]
        + " SELECT lnv FROM dl"
    )
    got = [r[0] for r in con.sql(sql).fetchall()]
    con.close()
    # row order through a CTE chain is not guaranteed → multiset compare
    assert sorted(repr(g) for g in got) == sorted(repr(p) for p in py)
    for x, p in zip(xs, py):
        t = math.log(x)
        if t == 0.0:
            assert p == 0.0
        else:
            assert abs(p - t) <= 4 * abs(t) * 2.3e-16, (x, p, t)


def test_det_ln_raises_beyond_domain():
    """x ≥ 2^64 must raise, never silently saturate (the degraded
    series error would be hash-gate-invisible because both engines
    would agree on the wrong value)."""
    import pytest as _pytest

    from cassaforte_meter_transmission_gen_spark.functions.detmath import det_ln

    with _pytest.raises(ValueError):
        det_ln(float(1 << 64))
    # the new top of the reduced range still works
    assert det_ln(float(1 << 63)) > 0.0


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    )
)
def test_bpe_train_matches_serial_model(spark, words):
    """BPE training over a two-symbol alphabet (the regime maximizing
    same-symbol runs, overlapping matches, and count ties) must equal
    the serial greedy model — adoption order, counts, and tie-breaks."""
    from cassaforte_meter_transmission_gen_spark.operators.tokenizer import (
        bpe_train,
    )

    from .test_llm_ops import _py_bpe

    docs = spark.createDataFrame([(" ".join(words),)], "text string")
    wc: dict[str, int] = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    want, _ = _py_bpe(wc, 4)
    got = [
        (r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in bpe_train(docs, n_merges=4).orderBy("merge_rank").collect()
    ]
    assert got == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.sets(st.integers(0, 8)),
    st.lists(
        st.tuples(st.integers(0, 10), st.sampled_from(["u", "d"])),
        max_size=15,
    ),
)
def test_apply_changelog_matches_python_model(spark, snap_keys, ops):
    """CDC apply vs a serial model: arbitrary interleavings of upserts
    and deletes (sequence = arrival order, so later always wins) over
    an arbitrary snapshot, including keys the snapshot never had."""
    from cassaforte_meter_transmission_gen_spark.operators.cdc import (
        apply_changelog,
    )

    snapshot = {k: float(k * 10) for k in snap_keys}
    state = dict(snapshot)
    change_rows = []
    for seq, (k, op) in enumerate(ops, start=1):
        v = float(1000 + seq)
        change_rows.append((k, v, seq, op))
    last = {}
    for k, v, seq, op in change_rows:
        last[k] = (v, op)
    for k, (v, op) in last.items():
        if op == "u":
            state[k] = v
        else:
            state.pop(k, None)

    spark_snap = spark.createDataFrame(
        [(k, v) for k, v in snapshot.items()] or [(None, None)],
        "k int, v double",
    ).filter("k IS NOT NULL")
    spark_changes = spark.createDataFrame(
        change_rows or [(None, None, None, None)],
        "k int, v double, seq int, op string",
    ).filter("k IS NOT NULL")
    got = {
        r["k"]: r["v"]
        for r in apply_changelog(
            spark_snap, spark_changes, key_cols=["k"]
        ).collect()
    }
    assert got == state


@settings(max_examples=30, deadline=None)
@given(
    st.lists(st.integers(0, 10_000), min_size=1, max_size=400, unique=True),
    st.integers(2, 12),
)
def test_rank_to_ntile_map_equals_sql_ntile(values, k):
    """The engine derives equi-depth buckets from the distributed
    global rank via sql_ntile_from_rank; SQL's ntile() is DEFINED to
    put the larger buckets first. Property: the generated integer map
    equals DuckDB's ntile for EVERY n and k — including n not divisible
    by k, where the naive floor(rank0·k/n)+1 form diverges (it happened
    to match the corpus fixtures only because their row counts divide
    evenly; this test caught exactly that)."""
    import duckdb

    from cassaforte_meter_transmission_gen_spark.plans.compat import (
        sql_ntile_from_rank,
    )

    n = len(values)
    got = duckdb.execute(
        f"""
        WITH r AS (
          SELECT v,
                 CAST(row_number() OVER (ORDER BY v) - 1 AS BIGINT) AS r0,
                 ntile(?) OVER (ORDER BY v) AS nt
          FROM (SELECT unnest(?) AS v)
        )
        SELECT nt, {sql_ntile_from_rank('r0', n, k).replace('DIV', '//')} AS mapped
        FROM r
        """,
        [k, values],
    ).fetchall()
    for nt, mapped in got:
        assert nt == mapped, (nt, mapped, n, k)


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 400))
def test_split_assignment_stable_under_corpus_growth(prefix_n):
    """The train/val/test invariant the split manifest advertises: a
    document's split is a pure hash of its id, so growing the corpus
    never moves an existing document between splits (eval sets stay
    uncontaminated). Property: the assignment computed over any prefix
    of the corpus equals the assignment over the full corpus for the
    shared ids."""
    from cassaforte_meter_transmission_gen_spark.plans.text_queries import (
        SHUFFLE_HASH_MOD,
        SHUFFLE_ID_MOD,
        SPLIT_HASH_A,
    )

    def split_of(doc_id: int) -> str:
        pct = (((doc_id % SHUFFLE_ID_MOD) * SPLIT_HASH_A) % SHUFFLE_HASH_MOD) % 100
        return "train" if pct < 80 else ("val" if pct < 90 else "test")

    full = {d: split_of(d) for d in range(1000)}
    prefix = {d: split_of(d) for d in range(prefix_n)}
    assert all(full[d] == s for d, s in prefix.items())


# ------------------------------------- single cross-engine definitions

#: strings both engines hash from the same UTF-8 bytes: no surrogates
#: (not encodable) and no control characters (DuckDB rejects NUL)
_PORTABLE_TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs", "Cc")), max_size=40
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_PORTABLE_TEXT, min_size=1, max_size=50))
def test_tok_hash_portable_sql_matches_duckdb_and_hashlib(spark, strs):
    """functions.text.tok_hash_portable_sql is the one Spark-side
    definition of the md5-portable hash: evaluated in Spark it equals
    DuckDB's ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`` (the
    oracles' spelling) and a hashlib model, for arbitrary strings."""
    import hashlib

    import duckdb

    from cassaforte_meter_transmission_gen_spark.functions.text import (
        tok_hash_portable_sql,
    )

    df = spark.createDataFrame([(i, s) for i, s in enumerate(strs)], "i int, s string")
    got = {
        r["i"]: r["h"]
        for r in df.selectExpr("i", f"{tok_hash_portable_sql('s')} AS h").collect()
    }
    duck = dict(
        duckdb.execute(
            "SELECT i, CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)"
            " FROM (SELECT unnest(?) AS i, unnest(?) AS s)",
            [list(range(len(strs))), strs],
        ).fetchall()
    )
    for i, s in enumerate(strs):
        want = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        assert got[i] == duck[i] == want, (s, got[i], duck[i], want)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "cd"]), max_size=9),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 5),
)
def test_word_shingles_sql_matches_python_ngram_model(spark, docs, n):
    """``word_shingles_sql(tokens_sql(text), n)`` is the distinct word
    n-grams in first-occurrence order — empty for docs shorter than n
    tokens (the empty doc splits to one empty token), repeated
    shingles kept once. A 3-word alphabet forces repeats."""
    import re

    from cassaforte_meter_transmission_gen_spark.functions.text import (
        tokens_sql,
        word_shingles_sql,
    )

    texts = [" ".join(d) for d in docs]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    got = {
        r["i"]: r["s"]
        for r in df.selectExpr(
            "i", f"{word_shingles_sql(tokens_sql('text'), n)} AS s"
        ).collect()
    }
    for i, text in enumerate(texts):
        toks = re.split(r"\s+", text)
        grams = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
        assert got[i] == list(dict.fromkeys(grams)), (text, n, got[i])
