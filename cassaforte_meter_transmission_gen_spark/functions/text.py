"""Text-analysis building blocks for the LLM-data-pipeline extensions
(BASELINE.json north star): tokenization, normalization, shingling,
portable hashing, rolling fingerprints, language-ID heuristics.

Everything here is a JVM-side expression (no Python UDFs): the hot path
at 100 TB is hashing/shingling every document, and these stay inside
WholeStageCodegen.

Each cross-engine expression has ONE definition: the ``*_sql`` function
that emits it as Spark SQL text. Plans use it through ``F.expr`` or
``selectExpr`` — one server-side parse per projection instead of one
blocking py4j round trip per Column node (measured:
dedup_minhash_lsh_pairs 2464 trips, pipeline_training_prep 1745 when
these were built through the Column API). The DuckDB oracles keep their
own text: they are the reference the parity gate checks this text
against.

Two hash families:
- :func:`tok_hash_portable_sql`: md5-based 60-bit hash reproducible in
  ANSI SQL (DuckDB: ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``) —
  used by oracle-gated queries.
- :func:`tok_hash_fast_sql`: xxhash64 — the production path (≈10×
  cheaper than md5); same pipeline shape, engine-specific values.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: prime just above 2^32 for minhash permutations; with multipliers
#: < 2^30 the product stays < 2^62 (no int64 overflow on either engine).
MINHASH_PRIME = 4294967311

ROLLING_MOD = 1_000_000_007
ROLLING_BASE = 31
ROLLING_PREFIX = 64


def tokens_sql(text_sql: str) -> str:
    """Whitespace tokens (corpus is single-space separated; ``\\s+``
    regex kept for robustness — identical to the oracle's splitter)."""
    return f"split({text_sql}, '\\\\s+')"


def normalize_text_sql(text_sql: str) -> str:
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    trim."""
    return f"trim(regexp_replace(lower({text_sql}), '\\\\s+', ' '))"


def word_shingles_sql(toks_sql: str, n: int = 3) -> str:
    """Distinct word n-gram shingles (classic near-dup unit). Empty for
    docs shorter than n tokens.

    Built as arrays_zip of the token array against its own shifted
    slices, with the per-shingle lambda touching ONLY its struct
    element — the earlier sequence+element_at(toks, i+j) form CAPTURED
    the outer token expression inside the interpreted HOF lambda, and
    when ``toks`` arrives as an inline ``split(text)`` the capture
    re-evaluates the regex split per element reference (3·|shingles|
    splits per row — profiled ~2 ms/row at sf0.1, the dominant cost of
    every shingle-consuming plan). Same shingle strings in the same
    order, so every MinHash/LSH/span oracle is unchanged. The
    arrays_zip struct fields are positional ('0', '1', …)."""
    win = f"(size({toks_sql}) - {n - 1})"
    slices = ", ".join(
        f"slice({toks_sql}, {i + 1}, {win})" for i in range(n)
    )
    fields = ", ".join(f"s['{i}']" for i in range(n))
    grams = f"transform(arrays_zip({slices}), s -> concat_ws(' ', {fields}))"
    return (
        f"array_distinct(CASE WHEN size({toks_sql}) >= {n} THEN {grams} "
        f"ELSE CAST(array() AS array<string>) END)"
    )


def tok_hash_portable_sql(s_sql: str) -> str:
    """60-bit hash from the md5 hex prefix — bit-identical in DuckDB
    (``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``)."""
    return f"CAST(conv(substring(md5({s_sql}), 1, 15), 16, 10) AS BIGINT)"


def tok_hash_fast_sql(s_sql: str) -> str:
    """Production 64-bit hash (xxhash64, engine-native)."""
    return f"xxhash64({s_sql})"


def rolling_fingerprint(text: Column) -> Column:
    """Polynomial rolling hash over the first ``ROLLING_PREFIX``
    characters: ``h = (h*31 + codepoint) mod 1e9+7`` — a cheap
    order-sensitive document fingerprint (vs the order-insensitive md5)."""
    chars = F.split(F.substring(text, 1, ROLLING_PREFIX), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda h, c: (h * ROLLING_BASE + F.ascii(c)) % ROLLING_MOD,
    )


#: language → marker words for the stopword-voting language ID.
#: Deterministic tie-break: the CASE chain below tests in this order.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "ist", "zu", "ein"),
    "es": ("el", "la", "los", "y", "es", "un", "una"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
    "zh": ("的", "是", "和", "了", "在"),
}


def lang_hits_sql(toks_sql: str, lang: str) -> str:
    """Count of tokens that are marker words for ``lang``."""
    markers = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return (
        f"size(filter({toks_sql}, t -> array_contains(array({markers}), t)))"
    )


def predicted_lang_sql(hits: dict[str, str]) -> str:
    """Argmax over per-language hit EXPRESSION STRINGS, first in
    priority order wins ties (en, de, es, fr, zh): a CASE chain where
    each branch requires hits > 0 and hits >= every other language — a
    literal transliteration of the oracle SQL."""
    langs = list(LANG_MARKERS)
    expr = "'und'"
    for lang in reversed(langs):
        conds = [f"{hits[lang]} > 0"] + [
            f"{hits[lang]} >= {hits[other]}" for other in langs if other != lang
        ]
        expr = f"CASE WHEN {' AND '.join(conds)} THEN '{lang}' ELSE {expr} END"
    return expr
