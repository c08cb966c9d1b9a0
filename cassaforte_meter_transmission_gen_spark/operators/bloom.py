"""Bloom-filter pre-join pruning (SURVEY §4 join family; no reference
analog — core.clj has no joins — this is the 100 TB shuffle-reduction
lever for semi joins whose dim side is too big to broadcast as rows
but whose KEY SET fits a bitset).

Shape: build a bloom filter over the (filtered) dimension keys — one
distributed aggregation producing ``m/64`` longs — then prune the fact
side with a pure-integer membership test BEFORE the join shuffle, and
finish with the exact semi join on the survivors. Bloom filters have
false positives but never false negatives, so the final semi join
makes the composition EXACTLY equal to the plain semi join: the
correctness oracle is the unmodified semi-join SQL, and the bloom is a
provably semantics-preserving performance layer. The pruned fraction
is measured (bench.py), not asserted.

Scale honesty: this explicit form embeds the filter words as literals
in the plan, which is right up to ~1M keys (a 64 Kbit filter is 1024
longs ≈ 8 KB of plan; 1 Mbit ≈ 128 KB). Beyond that, size m to the key
cardinality and ship the bitset via a broadcast variable, or lean on
Spark's native runtime bloom join
(``spark.sql.optimizer.runtime.bloomFilter.enabled``), which injects
the same shape automatically. The point of this operator is the
explicit, testable, engine-portable form of that optimization.

Hashing: the md5-portable 60-bit hash (functions.text
.tok_hash_portable_sql) split into two bit positions (k=2) with SHIFTS —
n_bits is a power of two, so every step is exact integer arithmetic
(no double division anywhere near the 60-bit hash)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tok_hash_fast_sql, tok_hash_portable_sql

#: default filter width: 64 Kbit = 1024 longs ≈ 8 KB of literals;
#: for n keys choose m ≥ ~16n to keep the k=2 FPR under ~1%
BLOOM_BITS = 65536


def _log2(n_bits: int) -> int:
    lb = n_bits.bit_length() - 1
    if n_bits <= 0 or (1 << lb) != n_bits:
        raise ValueError(f"n_bits must be a power of two, got {n_bits}")
    return lb


def _pos_sqls(
    key_sql: str, n_bits: int, hash_family: str = "portable"
) -> tuple[str, str]:
    """The two bit positions as SQL text — SHARED by the build side and
    the membership test, so both ends of the filter are one hash
    definition. Two positions from one hash: the low ``log2(n_bits)``
    bits and the next ``log2(n_bits)`` bits.

    ``hash_family``: ``"portable"`` is the md5-prefix hash (60-bit,
    non-negative — reproducible in DuckDB, used by the oracled catalog
    query); ``"fast"`` is engine-native xxhash64 (the production
    choice — no md5 per row), masked with ``& (n_bits-1)`` because
    xxhash64 is signed and SHIFTRIGHT sign-extends. Either family
    yields the same FINAL result from bloom_semi_join — the trailing
    exact semi join erases the FPR difference — as long as build and
    probe use the same family (the shared SQL here guarantees it)."""
    lb = _log2(n_bits)
    if hash_family == "portable":
        h = tok_hash_portable_sql(f"CAST({key_sql} AS STRING)")
        return f"({h} % {n_bits})", f"(SHIFTRIGHT({h}, {lb}) % {n_bits})"
    if hash_family == "fast":
        h = tok_hash_fast_sql(f"CAST({key_sql} AS STRING)")
        mask = n_bits - 1
        return f"({h} & {mask})", f"(SHIFTRIGHT({h}, {lb}) & {mask})"
    raise ValueError(f"unknown hash_family {hash_family!r}")


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_bits: int = BLOOM_BITS,
    hash_family: str = "portable",
) -> list[int]:
    """Aggregate the key set into a bloom bitset: (word, mask) pairs
    via ``stack``, one bit_or groupBy (map-side partials make the
    shuffle at most n_words rows per task), one collected result of at
    most ``n_bits/64`` rows — driver state is filter-sized, never
    key-count-sized. ``key_col`` must be a plain column name — it is
    spliced into generated SQL, so it is validated
    (functions.sqltext.safe_ident) rather than trusted."""
    from ..functions.sqltext import safe_ident

    n_words = n_bits // 64
    p1, p2 = _pos_sqls(safe_ident(key_col), n_bits, hash_family)
    pairs = keys.selectExpr(
        f"stack(2,"
        f" CAST(SHIFTRIGHT({p1}, 6) AS INT),"
        f" SHIFTLEFT(1L, CAST({p1} % 64 AS INT)),"
        f" CAST(SHIFTRIGHT({p2}, 6) AS INT),"
        f" SHIFTLEFT(1L, CAST({p2} % 64 AS INT))) AS (w, m)"
    )
    words = [0] * n_words
    for r in pairs.groupBy("w").agg(F.bit_or("m").alias("mask")).collect():
        words[r["w"]] = int(r["mask"])
    return words


def bloom_might_contain_sql(
    key_sql: str,
    words: list[int],
    n_bits: int = BLOOM_BITS,
    hash_family: str = "portable",
) -> str:
    """The membership test as ONE server-parsed SQL expression (the
    repo's literal-heavy-expression pattern — a py4j call per word
    would cost seconds of driver time): both positions' words are
    element_at lookups into a single literal long array."""
    arr = "array(" + ",".join(f"{w}L" for w in words) + ")"
    tests = [
        f"(element_at({arr}, CAST(SHIFTRIGHT({pos}, 6) AS INT) + 1)"
        f" & SHIFTLEFT(1L, CAST({pos} % 64 AS INT))) <> 0"
        for pos in _pos_sqls(key_sql, n_bits, hash_family)
    ]
    return " AND ".join(tests)


def bloom_prune(
    df: DataFrame,
    key_col: str,
    words: list[int],
    n_bits: int = BLOOM_BITS,
    hash_family: str = "portable",
) -> DataFrame:
    """Keep only rows whose key MIGHT be in the filter (all true
    members survive — no false negatives by construction). ``key_col``
    is a plain column name, validated before splicing into SQL."""
    from ..functions.sqltext import safe_ident

    return df.filter(
        F.expr(
            bloom_might_contain_sql(
                safe_ident(key_col), words, n_bits, hash_family
            )
        )
    )


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    key_col: str,
    n_bits: int = BLOOM_BITS,
    hash_family: str = "portable",
) -> DataFrame:
    """Exact semi join with bloom pre-pruning: build the filter from
    ``dim_keys[key_col]``, prune ``fact`` before its shuffle, then the
    exact ``leftsemi`` join removes the bloom's false positives. At
    100 TB the win is shuffle bytes: the fact side entering the
    exchange shrinks by the non-member fraction × (1 − FPR)."""
    words = bloom_build(dim_keys, key_col, n_bits, hash_family)
    return bloom_prune(fact, key_col, words, n_bits, hash_family).join(
        dim_keys.select(key_col).distinct(), on=key_col, how="leftsemi"
    )
