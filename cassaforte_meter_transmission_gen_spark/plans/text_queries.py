"""Text-analysis and deduplication catalog queries over ``documents``
(LLM-data-pipeline extensions, SURVEY §2.10).

The MinHash and SimHash oracles are *generated* SQL sharing the exact
permutation constants and hash construction with the Spark operators
(operators.dedup) — the md5-portable hash family makes the full
LSH pipeline bit-reproducible in DuckDB, so even near-dup detection is
value-hash gated, not just rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.udtfs import CHUNK_SIZE
from ..functions.text import (
    LANG_MARKERS,
    MINHASH_PRIME,
    ROLLING_BASE,
    ROLLING_MOD,
    ROLLING_PREFIX,
    lang_hits_sql,
    normalize_text_sql,
    predicted_lang_sql,
    rolling_fingerprint,
    tok_hash_portable_sql,
    tokens_sql,
    word_shingles_sql,
)
from ..operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    SIMHASH_BITS,
    exact_duplicates,
    minhash_near_duplicates,
    simhash_signatures,
)
from ..functions.spread import spread_small_scan
from ..schemas import load_table
from .catalog import register

_D = "documents"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, _D)


# portable token hash in DuckDB text form
_H = "CAST(('0x' || substr(md5({x}),1,15)) AS BIGINT)"


@register(
    "text_stats_per_doc",
    oracle="""
WITH t AS (SELECT doc_id, n_chars, regexp_split_to_array(text, '\\s+') AS toks,
                  length(text) AS len_chars
           FROM documents)
SELECT doc_id, n_chars, CAST(len_chars AS INT) AS len_chars,
       CAST(len(toks) AS INT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
       CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE)
         / len(toks) AS avg_token_len
FROM t
""",
    tags=("text", "stats"),
)
def text_stats_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + basic document statistics (all JVM built-ins:
    split/size/array_distinct/aggregate)."""
    d = _docs(spark, sf_dir)
    toks = F.expr(tokens_sql("text"))
    return d.select(
        "doc_id",
        "n_chars",
        F.length("text").cast("int").alias("len_chars"),
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct_tokens"),
        (
            F.aggregate(
                F.transform(toks, lambda w: F.length(w)),
                F.lit(0),
                lambda a, x: a + x,
            ).cast("double")
            / F.size(toks)
        ).alias("avg_token_len"),
    )


#: BPE-ish pre-tokenizer: word runs, single digits (BPE splits numbers
#: per-digit), and single punctuation marks — the GPT-2-style regex
#: family reduced to a subset RE2 (DuckDB) and java.util.regex (Spark)
#: interpret identically. Token *count* approximates LLM billing.
_BPE_RE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@register(
    "text_bpe_token_count",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS INT) AS n_bpe_tokens,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS INT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS DOUBLE)
         / len(regexp_split_to_array(text, '\\s+')) AS tokens_per_word
FROM documents
""",
    tags=("text", "tokens", "bpe"),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting next to the whitespace count — the
    per-document LLM-token estimator a training-data pipeline budgets
    with. One regexp_extract_all per row, JVM-side, no shuffle."""
    d = _docs(spark, sf_dir)
    bpe = F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)")
    ws = F.expr(tokens_sql("text"))
    return d.select(
        "doc_id",
        F.size(bpe).cast("int").alias("n_bpe_tokens"),
        F.size(ws).cast("int").alias("n_ws_tokens"),
        (F.size(bpe).cast("double") / F.size(ws)).alias("tokens_per_word"),
    )


@register(
    "text_token_top50",
    oracle="""
SELECT tok, count(*) AS n
FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM documents) t
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 50
""",
    tags=("text", "tokens", "topk"),
)
def text_token_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequencies, top 50 (explode → count → top-k)."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(F.expr(tokens_sql("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(50)
    )


@register(
    "dedup_exact_by_hash",
    oracle="""
SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
    tags=("dedup", "exact"),
)
def dedup_exact_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash (operators.dedup
    ``exact_duplicates``): the O(shuffle-of-hashes) baseline."""
    return exact_duplicates(_docs(spark, sf_dir))


@register(
    "dedup_exact_normalized",
    oracle="""
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       min(doc_id) AS keeper_id, count(*) AS n_copies
FROM documents GROUP BY 1
""",
    tags=("dedup", "exact"),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text (lowercase, collapsed
    whitespace) — catches trivially-reformatted copies."""
    d = _docs(spark, sf_dir).withColumn("text", F.expr(normalize_text_sql("text")))
    return exact_duplicates(d)


@register(
    "text_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(text, '\\s+') AS toks,
         length(text) AS lc,
         length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS vowels
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(toks, w -> w IN ({",".join(repr(w) for w in LANG_MARKERS["en"])}))) AS DOUBLE)
         / len(toks) AS stopword_ratio,
       CAST(vowels AS DOUBLE) / lc AS vowel_ratio,
       CAST(least(len(toks), 100) AS DOUBLE) / 100 AS length_score,
       0.5 * (CAST(len(list_filter(toks, w -> w IN ({",".join(repr(w) for w in LANG_MARKERS["en"])}))) AS DOUBLE) / len(toks))
         + 0.3 * (CAST(vowels AS DOUBLE) / lc)
         + 0.2 * (CAST(least(len(toks), 100) AS DOUBLE) / 100) AS quality_score
FROM t
""",
    tags=("text", "quality"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: stopword ratio, vowel ratio, length
    score, weighted composite — the standard cheap pre-filter before
    expensive model-based scoring. Exact int/int arithmetic keeps the
    doubles bit-identical to the oracle."""
    d = _docs(spark, sf_dir)
    toks = F.expr(tokens_sql("text"))
    stop_ratio = (
        F.expr(lang_hits_sql(tokens_sql("text"), "en")).cast("double")
        / F.size(toks)
    )
    vowel_ratio = (
        (F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))).cast(
            "double"
        )
        / F.length("text")
    )
    length_score = F.least(F.size(toks), F.lit(100)).cast("double") / 100
    return d.select(
        "doc_id",
        stop_ratio.alias("stopword_ratio"),
        vowel_ratio.alias("vowel_ratio"),
        length_score.alias("length_score"),
        (0.5 * stop_ratio + 0.3 * vowel_ratio + 0.2 * length_score).alias(
            "quality_score"
        ),
    )


def _langid_oracle_parts() -> tuple[str, str]:
    """DuckDB text shared by the language-ID oracles: the per-language
    ``<lang>_hits`` columns over ``toks`` and the CASE chain over them
    (same tie-break order as functions.text.predicted_lang_sql)."""
    hits = ",\n         ".join(
        f"len(list_filter(toks, w -> w IN ({', '.join(repr(w) for w in ws)}))) AS {lang}_hits"
        for lang, ws in LANG_MARKERS.items()
    )
    langs = list(LANG_MARKERS)
    branches = []
    for lang in langs:
        conds = [f"{lang}_hits > 0"] + [
            f"{lang}_hits >= {o}_hits" for o in langs if o != lang
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + " ELSE 'und' END"
    return hits, case


def _langid_sql() -> str:
    hits, case = _langid_oracle_parts()
    return f"""
WITH t AS (
  SELECT doc_id, lang, regexp_split_to_array(text, '\\s+') AS toks FROM documents
),
h AS (
  SELECT doc_id, lang,
         {hits}
  FROM t
)
SELECT lang, {case} AS predicted_lang, count(*) AS n_docs
FROM h GROUP BY 1, 2
"""


@register("text_langid_confusion", oracle=_langid_sql(), tags=("text", "langid"))
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting language ID (n-gram-free heuristic) evaluated as
    a confusion matrix against the labeled ``lang`` column."""
    d = _docs(spark, sf_dir)
    toks = tokens_sql("text")
    hits = {lang: lang_hits_sql(toks, lang) for lang in LANG_MARKERS}
    return (
        d.selectExpr("lang", f"{predicted_lang_sql(hits)} AS predicted_lang")
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "text_rolling_fingerprint",
    oracle=f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(substr(text, 1, {ROLLING_PREFIX}), ''),
                          c -> CAST(unicode(c) AS BIGINT))),
         (h, c) -> (h * {ROLLING_BASE} + c) % {ROLLING_MOD}) AS fingerprint
FROM documents
""",
    tags=("text", "fingerprint"),
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the document prefix
    (functions.text.rolling_fingerprint) — sequential fold, identical
    on both engines."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("fingerprint"))


# --- MinHash + LSH near-dup, fully oracle-gated ---

def _minhash_sql(split: int | None = None) -> str:
    """Pairs at Jaccard >= 0.7: symmetric when ``split`` is None; with
    ``split`` set, the INCREMENTAL form — corpus (doc_id < split) ×
    increment (doc_id >= split) candidates only, output (new_doc,
    corpus_doc, jaccard) — mirroring
    operators.dedup.minhash_incremental_duplicates."""
    p = MINHASH_PRIME
    mins = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {p}) AS m{i}"
        for i in range(N_PERM)
    )
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, {b} AS band_idx, md5(concat_ws(',', {cols})) AS band_key FROM sig".format(
            b=b,
            cols=", ".join(f"m{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
        )
        for b in range(N_BANDS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
  FROM t WHERE len(toks) >= 3
),
ex AS (
  SELECT doc_id, {_H.format(x='s')} % {p} AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh) u
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM ex GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
   AND {f"a.doc_id < {split} AND b.doc_id >= {split}" if split is not None
        else "a.doc_id < b.doc_id"}
)
SELECT {"doc_b AS new_doc, doc_a AS corpus_doc" if split is not None
        else "doc_a, doc_b"}, jaccard FROM (
  SELECT doc_a, doc_b,
         CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
           / CAST(len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.doc_a
  JOIN sh sb ON sb.doc_id = cand.doc_b
) v WHERE jaccard >= 0.7
"""


@register("dedup_minhash_lsh_pairs", oracle=_minhash_sql(), tags=("dedup", "minhash", "lsh"))
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, Jaccard-verified (operators.
    dedup.minhash_near_duplicates, portable hash family). The oracle
    reproduces the *entire* pipeline — 16 permutations, 4×4 banding,
    candidate join, verification — from the shared constants."""
    return minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.7)


@register(
    "dedup_minhash_groups",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_sql()}) q
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS group_id
FROM reach GROUP BY node
""",
    tags=("dedup", "minhash", "connected-components"),
)
def dedup_minhash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS, not just pairs (operators.dedup.
    duplicate_groups): connected components over the verified MinHash
    pairs via iterative min-label propagation. The oracle recomputes
    the same components with a recursive CTE (transitive closure +
    min), so the fixpoint itself is value-gated — if Spark's loop
    stopped early or mis-propagated, group ids would differ."""
    from ..operators.dedup import duplicate_groups

    pairs = minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.7)
    return duplicate_groups(pairs)


# --- SimHash signatures, oracle-gated ---

def _simhash_sql() -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS tok
  FROM documents
),
h AS (SELECT doc_id, {_H.format(x='tok')} AS h FROM tok),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {assemble} AS simhash FROM votes
"""


@register("dedup_simhash_signatures", oracle=_simhash_sql(), tags=("dedup", "simhash"))
def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash signatures (operators.dedup.simhash_signatures,
    portable hash family) — oracle recomputes every bit vote."""
    return simhash_signatures(_docs(spark, sf_dir))


@register(
    "text_ngram_jaccard_pairs",
    oracle="""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents WHERE doc_id < 40
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
""",
    tags=("dedup", "ngram"),
)
def text_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard on a bounded subset (doc_id<40):
    the ground-truth against which LSH recall is judged. The quadratic
    pair join is deliberate and bounded — at scale this runs on samples
    while MinHash handles the full corpus."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 40)
    sh = d.selectExpr(
        "doc_id", f"{word_shingles_sql(tokens_sql('text'))} AS s"
    ).filter(F.size("s") > 0)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect("s_a", "s_b"))
    union = F.size("s_a") + F.size("s_b") - inter
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


@register(
    "multimodal_binary_stats",
    oracle="""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS content_md5,
       source
FROM documents
""",
    tags=("multimodal", "binary"),
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: documents treated as opaque binary
    payloads with typed metadata — byte length + content hash + source
    tag. The decode/feature-extract stages for image/audio payloads
    are operators.multimodal (Arrow-batched, pure-Python codecs)."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.octet_length("text").cast("int").alias("n_bytes"),
        F.md5("text").alias("content_md5"),
        "source",
    )


@register(
    "multimodal_frame_sample",
    oracle="""
WITH d AS (SELECT doc_id, text, greatest(length(text) // 4, 1) AS step
           FROM documents WHERE doc_id < 50),
f AS (
  SELECT doc_id, i,
         CASE WHEN i < 3 THEN substr(text, i * step + 1, step)
              ELSE substr(text, 3 * step + 1) END AS chunk
  FROM d CROSS JOIN range(0, 4) t(i)
)
SELECT doc_id AS item_id, CAST(i AS INT) AS frame_idx,
       CAST(length(chunk) AS INT) AS frame_len,
       md5(chunk) AS frame_md5
FROM f
""",
    tags=("multimodal", "frames", "pandas-udf"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling end-to-end (operators.multimodal.sample_frames,
    mapInPandas): each payload split into 4 byte-range frames — the
    oracle recomputes every chunk's md5 from the same slicing rule, so
    the Arrow binary round-trip through Python is verified
    byte-for-byte (corpus is ASCII ⇒ char slicing ≡ byte slicing)."""
    from ..operators.multimodal import sample_frames, to_binary_payloads

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    payloads = to_binary_payloads(d, "doc_id", "text", "text")
    frames = sample_frames(payloads)
    return frames.select(
        "item_id",
        "frame_idx",
        "frame_len",
        F.md5("frame_bytes").alias("frame_md5"),
    )


@register(
    "multimodal_feature_extract",
    oracle="""
WITH d AS (
  SELECT doc_id, text,
         CAST(octet_length(encode(text)) AS BIGINT) AS n,
         CASE WHEN length(text) > 0 THEN ascii(substr(text, 1, 1)) ELSE 0 END AS fb,
         CASE WHEN length(text) > 0 THEN ascii(substr(text, length(text), 1)) ELSE 0 END AS lb
  FROM documents WHERE doc_id < 200
)
SELECT doc_id AS item_id,
       CAST(n AS INT) AS n_bytes,
       'text' AS format,
       CAST(fb % 64 + 1 AS INT) AS width,
       CAST(lb % 64 + 1 AS INT) AS height,
       n * 1000003 + fb * 31 + lb AS feature_hash
FROM d
""",
    tags=("multimodal", "features", "pandas-udf"),
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction end-to-end (operators.multimodal.
    extract_features, mapInPandas): binary payloads → narrow typed
    feature rows. Width/height/feature-hash derive deterministically
    from the payload bytes, so the oracle recomputes them from the same
    ASCII text and the whole Arrow plumbing (schema, batching, byte
    access) is value-hash gated."""
    from ..operators.multimodal import extract_features, to_binary_payloads

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    payloads = to_binary_payloads(d, "doc_id", "text", "text")
    return extract_features(payloads)


@register(
    "multimodal_resize",
    oracle="""
WITH d AS (
  SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents WHERE doc_id < 200
),
k AS (
  SELECT doc_id, text, n,
         greatest(1, CAST(ceil(n / 64.0) AS BIGINT)) AS stride
  FROM d
),
r AS (
  SELECT doc_id,
         array_to_string(
           list_transform(range(1, n + 1, stride),
                          p -> substr(text, CAST(p AS BIGINT), 1)),
           '') AS res
  FROM k
)
SELECT doc_id AS item_id,
       CAST(length(res) AS INT) AS n_bytes,
       md5(res) AS resized_md5
FROM r
""",
    tags=("multimodal", "resize", "pandas-udf"),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize end-to-end (operators.multimodal.resize_payloads,
    mapInPandas): every payload stride-subsampled to ≤ 64 bytes, binary
    in → binary out. The oracle replays the identical stride rule with
    character slicing (corpus is ASCII ⇒ byte ≡ char) and md5-gates the
    resized payload content byte-for-byte."""
    from ..operators.multimodal import resize_payloads, to_binary_payloads

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    payloads = to_binary_payloads(d, "doc_id", "text", "text")
    resized = resize_payloads(payloads)
    return resized.select(
        "item_id",
        "n_bytes",
        F.md5("payload").alias("resized_md5"),
    )


def _decoded_pixel_hex(
    spark: SparkSession, sf_dir: str, fmt: str, **geometry: int
) -> DataFrame:
    """Shared body of the pixel-decode entries: 100 synthetic ``fmt``
    images (``geometry`` pins width/height) encoded into real
    containers and decoded back, pixels as lowercase hex."""
    from ..operators.multimodal import decode_pixels, encode_synthetic

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id")
    feats = decode_pixels(encode_synthetic(d, "doc_id", fmt, **geometry))
    return feats.select(
        "item_id",
        "width",
        "height",
        F.lower(F.hex("pixels")).alias("pixel_hex"),
    )


@register(
    "multimodal_bmp_decode",
    oracle="""
WITH d AS (SELECT doc_id, doc_id % 5 + 2 AS w, doc_id % 3 + 2 AS h
           FROM documents WHERE doc_id < 100)
SELECT doc_id AS item_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       lower(array_to_string(
         list_transform(range(0, w * h * 3),
           i -> lpad(to_hex((doc_id * 7919 + (i // (w * 3)) * 31
                             + ((i % (w * 3)) // 3) * 3 + (i % 3)) % 256),
                     2, '0')),
         '')) AS pixel_hex
FROM d
""",
    tags=("multimodal", "codec", "bmp", "pandas-udf"),
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GENUINE image decode behind the multimodal seam (operators.
    multimodal.bmp_encode/bmp_decode — pure-Python 24-bit BMP, no codec
    libs): 100 deterministic synthetic patterns are encoded into real
    BMP containers (headers, 4-byte row padding, bottom-up rows, BGR)
    executor-side, then the decode path strips the container back off.
    The oracle re-derives the canonical RGB pixel bytes from the same
    integer pattern formula, so a hash-green row proves the decoder
    recovered CONTENT — dimensions from the header and pixels through
    the padding/row-order/channel-order transforms — not merely that
    bytes round-tripped. Mixed widths (2-6) exercise every padding
    amount 0-3."""
    return _decoded_pixel_hex(spark, sf_dir, "bmp")


@register(
    "tvf_python_udtf_chunks",
    oracle=f"""
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE length(trim(text)) > 0
)
SELECT doc_id, CAST(g AS INT) AS chunk_idx,
       array_to_string(words[g * {CHUNK_SIZE} + 1 : (g + 1) * {CHUNK_SIZE}], ' ') AS chunk,
       CAST(least({CHUNK_SIZE}, len(words) - g * {CHUNK_SIZE}) AS INT) AS n_words
FROM d, LATERAL (
  SELECT unnest(generate_series(0, CAST(ceil(len(words) / {CHUNK_SIZE}.0) AS BIGINT) - 1)) AS g
) u
""",
    tags=("udtf", "text", "lateral"),
)
def tvf_python_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (functions.udtfs.ChunkWords) fanning each document
    out into 32-word context-window chunks, invoked from SQL via
    LATERAL — the user-defined-table-function member of the
    extensibility trio (SURVEY §2.9; the reference has none,
    core.clj is closed). Oracle reproduces the chunking with DuckDB
    list slicing, so the Python row fan-out is value-hash gated."""
    from ..functions.udtfs import ChunkWords

    spark.udtf.register("chunk_words", ChunkWords)
    _docs(spark, sf_dir).createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_words "
        "FROM udtf_docs_v d, LATERAL chunk_words(d.text) c"
    )


def _training_prep_sql() -> str:
    en = ",".join(repr(w) for w in LANG_MARKERS["en"])
    hits, case = _langid_oracle_parts()
    return f"""
WITH d AS (
  SELECT doc_id, text,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
k AS (SELECT fp, min(doc_id) AS keeper FROM d GROUP BY fp),
kept AS (SELECT d.doc_id, d.text FROM d JOIN k ON d.fp = k.fp AND d.doc_id = k.keeper),
t AS (
  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS toks,
         length(text) AS lc,
         length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS vowels
  FROM kept
),
h AS (
  SELECT doc_id, text, toks, lc, vowels,
         {hits}
  FROM t
),
s AS (
  SELECT doc_id,
         {case} AS predicted_lang,
         0.5 * (CAST(len(list_filter(toks, w -> w IN ({en}))) AS DOUBLE) / len(toks))
           + 0.3 * (CAST(vowels AS DOUBLE) / lc)
           + 0.2 * (CAST(least(len(toks), 100) AS DOUBLE) / 100) AS quality_score,
         len(toks) AS nws,
         len(regexp_extract_all(text, '{_BPE_RE}')) AS nbpe
  FROM h
)
SELECT doc_id, predicted_lang, quality_score,
       CAST(nbpe AS INT) AS n_bpe_tokens,
       CAST((nws + {CHUNK_SIZE} - 1) // {CHUNK_SIZE} AS INT) AS n_chunks
FROM s
WHERE quality_score >= 0.2 AND predicted_lang = 'en'
"""


@register(
    "pipeline_training_prep",
    oracle=_training_prep_sql(),
    tags=("pipeline", "dedup", "quality", "langid", "tokens"),
)
def pipeline_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data-prep flagship: exact-normalized dedup
    (keep min doc_id per fingerprint) → heuristic quality gate (≥ 0.2)
    → language filter (predicted 'en') → per-survivor token budget
    (BPE-ish count) and 32-word context-chunk count.

    One pass over the corpus: dedup costs one fingerprint-keyed
    shuffle + one fingerprint join (AQE broadcasts the keeper side);
    everything downstream is narrow per-row expression work inside a
    single codegen span, so the pipeline's scale cost is the dedup
    exchange — exactly the minimum any content-dedup pass pays at
    100 TB. An r14 window-form rewrite (``min(doc_id) OVER (PARTITION
    BY fp)`` — one scan, no join) was built, verified byte-identical,
    and REJECTED on an order-swapped paired A/B: the join form pushes
    the quality filter into the probe-side scan so the heavy
    regexp battery runs on pre-filtered rows, and measured faster both
    cold (3.9 s vs 4.6 s first-position) and steady (1.0-1.3 s vs
    1.4-1.6 s).

    The scan is spread (functions.spread) before the regexp-heavy
    narrow work: a single small parquet file reads as ONE split, which
    serialized the tokenize/normalize/BPE-count pipeline onto one core
    (measured 4.1 s cold / 1.2 s steady at sf0.1 → 0.9 s / 0.7 s
    spread); at 100 TB the gate makes it a structural no-op."""
    # plan built as server-parsed SQL strings (r14): the Column form
    # paid ~1700 py4j round trips of driver latency per build (35 marker
    # literals + 5 HOF lambdas + the CASE chain, each a blocking call);
    # identical expression tree, a handful of round trips
    d = spread_small_scan(_docs(spark, sf_dir))
    d = d.withColumn("fp", F.expr(f"md5({normalize_text_sql('text')})"))
    keepers = d.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    kept = (
        d.join(keepers, "fp")
        .where("doc_id = keeper")
        .select("doc_id", "text")
    )
    toks = tokens_sql("text")
    stop_ratio = (
        f"CAST({lang_hits_sql(toks, 'en')} AS DOUBLE) / size({toks})"
    )
    vowel_ratio = (
        "CAST(length(text) - length(regexp_replace(text, '[aeiou]', ''))"
        " AS DOUBLE) / length(text)"
    )
    length_score = f"CAST(least(size({toks}), 100) AS DOUBLE) / 100"
    quality = (
        f"CAST(0.5 AS DOUBLE) * ({stop_ratio}) "
        f"+ CAST(0.3 AS DOUBLE) * ({vowel_ratio}) "
        f"+ CAST(0.2 AS DOUBLE) * ({length_score})"
    )
    hits = {lang: lang_hits_sql(toks, lang) for lang in LANG_MARKERS}
    return kept.selectExpr(
        "doc_id",
        f"{predicted_lang_sql(hits)} AS predicted_lang",
        f"{quality} AS quality_score",
        f"CAST(size(regexp_extract_all(text, '{_BPE_RE}', 0)) AS INT)"
        " AS n_bpe_tokens",
        f"CAST(floor((size({toks}) + {CHUNK_SIZE - 1}) / {CHUNK_SIZE})"
        " AS INT) AS n_chunks",
    ).where("quality_score >= CAST(0.2 AS DOUBLE) AND predicted_lang = 'en'")


@register(
    "text_token_budget_packing",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS prev
  FROM toks
)
SELECT CAST(prev // 2048 AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM cum
GROUP BY 1
""",
    tags=("text", "tokens", "packing"),
)
def text_token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators.packing): documents greedily fill
    2048-BPE-token packs in doc_id order — the training-batch assembly
    step. The engine computes the global prefix sum with the two-pass
    parallel shape (per-partition partials + broadcast offsets), the
    oracle with DuckDB's serial window — identical by associativity,
    which is exactly the scale claim under test."""
    from ..operators.packing import token_budget_packs

    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))
        .cast("long")
        .alias("n_tokens"),
    )
    return token_budget_packs(toks, budget=2048)


@register(
    "text_stratified_sample",
    oracle=f"""
WITH h AS (
  SELECT doc_id, lang,
         {_H.format(x="CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket
FROM h
WHERE bucket < (CASE WHEN lang = 'en' THEN 10 ELSE 50 END)
""",
    tags=("text", "sampling"),
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling — the language-rebalancing
    step of a training-data pipeline (keep 10% of the dominant 'en',
    50% of everything else). The keep decision is a pure hash of the
    stable doc_id (md5-prefix, portable to the oracle), NOT rand(): the
    sample is reproducible across runs, resumable mid-job, and
    partition-order-independent — properties Spark's sample()/sampleBy()
    cannot give at 100 TB. Narrow filter, no shuffle."""
    d = _docs(spark, sf_dir)
    bucket = (
        F.expr(tok_hash_portable_sql("CAST(doc_id AS STRING)"))
        % 100
    )
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"))
        .filter(
            F.col("bucket")
            < F.when(F.col("lang") == "en", F.lit(10)).otherwise(F.lit(50))
        )
    )


#: portable email pattern (same semantics in java.util.regex and RE2)
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


@register(
    "text_pii_scrub_emails",
    oracle=f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact: user' || doc_id || '@example.com'
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS INT)
         AS n_emails_redacted,
       regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed
FROM aug
""",
    tags=("text", "pii", "scrub"),
)
def text_pii_scrub_emails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction step every training-data pipeline
    runs before text leaves the pipeline. Deterministic fixture: every
    10th doc gets a synthetic email appended IN-PLAN (both engines
    construct the identical augmented text), then emails are counted
    and replaced with ``<EMAIL>``. One regexp pass per row, JVM-side,
    no shuffle — the 100 TB shape is exactly this narrow map."""
    d = _docs(spark, sf_dir).withColumn(
        "aug_text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.col("text")),
    )
    return d.select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(aug_text, '{_EMAIL_RE}', 0)"))
        .cast("int")
        .alias("n_emails_redacted"),
        F.regexp_replace("aug_text", _EMAIL_RE, "<EMAIL>").alias("scrubbed"),
    )


@register(
    "text_benchmark_decontamination",
    oracle=f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 3),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                  || toks[i+3] || ' ' || toks[i+4])) AS shingles
  FROM t WHERE len(toks) >= 5
),
bench AS (
  SELECT DISTINCT doc_id AS bench_doc, {_H.format(x='s')} AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id < 20) u
),
train AS (
  SELECT doc_id, {_H.format(x='s')} AS h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id >= 20) u
)
SELECT train.doc_id,
       CAST(COUNT(DISTINCT train.h) AS BIGINT) AS n_shared_shingles,
       CAST(COUNT(DISTINCT bench.bench_doc) AS BIGINT) AS n_benchmark_docs
FROM train JOIN bench ON train.h = bench.h
GROUP BY train.doc_id
HAVING COUNT(DISTINCT train.h) >= 2
""",
    tags=("text", "decontamination"),
)
def text_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing ≥2
    distinct 5-gram shingles with a held-out benchmark set (here:
    doc_id < 20). The load-bearing LLM-data step that keeps eval
    contamination out of training corpora.

    Scale shape: the BENCHMARK side is small by construction, so its
    shingle-hash set broadcasts; the training side is one linear
    explode of its shingles filtered through that broadcast — no
    shuffle proportional to the corpus, no pairwise join. At 100 TB
    this is a map-side semi-join over the training scan."""
    d = _docs(spark, sf_dir)
    sh = d.filter(F.size(F.expr(tokens_sql("text"))) >= 5).select(
        "doc_id",
        F.explode(F.expr(word_shingles_sql(tokens_sql("text"), 5))).alias("s"),
    )
    h = F.expr(tok_hash_portable_sql("s"))
    bench = (
        sh.filter(F.col("doc_id") < 20)
        .select(F.col("doc_id").alias("bench_doc"), h.alias("h"))
        .distinct()
    )
    train = sh.filter(F.col("doc_id") >= 20).select("doc_id", h.alias("h"))
    return (
        train.join(F.broadcast(bench), "h")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("h").alias("n_shared_shingles"),
            F.count_distinct("bench_doc").alias("n_benchmark_docs"),
        )
        .filter(F.col("n_shared_shingles") >= 2)
    )


@register(
    "text_repetition_filter",
    oracle="""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
b AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) < 2 THEN []
              ELSE list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i+1]) END AS bg
  FROM t
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS INT) AS n_tokens,
         CASE WHEN len(bg) = 0 THEN 0.0
              ELSE CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE)
                   / CAST(len(bg) AS DOUBLE) END AS dup_2gram_fraction,
         CAST(list_max(list_transform(list_distinct(toks),
                x -> len(list_filter(toks, y -> y = x)))) AS DOUBLE)
           / CAST(len(toks) AS DOUBLE) AS top_token_fraction
  FROM b
)
SELECT doc_id, n_tokens, dup_2gram_fraction, top_token_fraction,
       dup_2gram_fraction <= 0.05 AND top_token_fraction <= 0.12 AS keep
FROM m
""",
    tags=("text", "quality", "repetition"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality filter (the Gopher-rules
    family): per doc, the fraction of duplicate word 2-grams and the
    frequency share of the single most repeated token; ``keep`` gates
    on both (thresholds sit between the corpus p50 and p90 so the
    filter does real work here). Everything is per-row array math over
    JVM built-ins — narrow map, no shuffle, no Python; exactly the
    shape a 100 TB quality pass needs. 1-indexed element_at mirrors
    DuckDB's 1-indexed lists; both engines guard the <2-token edge
    identically (Spark's sequence(1, 0) would DESCEND, not empty)."""
    d = _docs(spark, sf_dir)
    t = d.select("doc_id", F.expr(tokens_sql("text")).alias("toks"))
    bg = F.when(F.size("toks") < 2, F.array().cast("array<string>")).otherwise(
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        )
    )
    b = t.select("doc_id", "toks", bg.alias("bg"))
    dup2 = F.when(F.size("bg") == 0, F.lit(0.0)).otherwise(
        (F.size("bg") - F.size(F.array_distinct("bg"))).cast("double")
        / F.size("bg").cast("double")
    )
    topfrac = (
        F.array_max(
            F.transform(
                F.array_distinct("toks"),
                lambda x: F.size(F.filter(F.col("toks"), lambda y: y == x)),
            )
        ).cast("double")
        / F.size("toks").cast("double")
    )
    m = b.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_tokens"),
        dup2.alias("dup_2gram_fraction"),
        topfrac.alias("top_token_fraction"),
    )
    return m.withColumn(
        "keep",
        (F.col("dup_2gram_fraction") <= 0.05)
        & (F.col("top_token_fraction") <= 0.12),
    )


@register(
    "text_per_stratum_fixed_sample",
    oracle=f"""
WITH h AS (
  SELECT doc_id, lang,
         {_H.format(x="CAST(doc_id AS VARCHAR)")} AS hkey
  FROM documents
)
SELECT doc_id, lang,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id)
            AS INT) AS sample_rank
FROM h
QUALIFY sample_rank <= 20
""",
    tags=("text", "sampling", "stratified"),
)
def text_per_stratum_fixed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE per-stratum sampling (exactly 20 docs per language),
    complementing the fixed-FRACTION ``text_stratified_sample``: rank
    each stratum by a pure hash of the stable doc_id (md5-prefix,
    portable to the oracle) and keep the first 20 — deterministic,
    reproducible, resumable, unlike rand()-ordered sampling. One
    shuffle on the stratum key. At extreme stratum skew the per-stratum
    window serializes per key; the standard fix is a pre-filter by
    hash-threshold (text_stratified_sample's shape) sized from
    approximate stratum counts, then this exact rank over the
    survivors."""
    d = _docs(spark, sf_dir)
    hkey = F.expr(tok_hash_portable_sql("CAST(doc_id AS STRING)"))
    w = Window.partitionBy("lang").orderBy("hkey", "doc_id")
    return (
        d.select("doc_id", "lang", hkey.alias("hkey"))
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 20)
        .drop("hkey")
    )


@register(
    "dedup_canonical_docs",
    oracle=f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_sql()}) q
),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.b, r.label FROM reach r JOIN edges e ON e.a = r.node
),
grp AS (
  SELECT node AS doc_id, CAST(min(label) AS BIGINT) AS group_id
  FROM reach GROUP BY node
),
allg AS (
  SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id, d.n_chars
  FROM documents d LEFT JOIN grp g USING (doc_id)
)
SELECT group_id,
       (array_agg(doc_id ORDER BY n_chars DESC, doc_id))[1] AS canonical_doc,
       CAST(count(*) AS BIGINT) AS n_members
FROM allg GROUP BY group_id
""",
    tags=("dedup", "minhash", "canonical"),
)
def dedup_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the KEEP side of dedup (pairs and
    groups say what's duplicated; pipelines must then choose which copy
    survives): per duplicate group (MinHash pairs → connected
    components; singletons form their own group), keep the longest doc,
    ties to the smallest doc_id. The argmax is a single min(struct)
    aggregate — no per-group sort, no window over the full corpus; the
    groups join stays narrow (doc_id, group_id). Returns (group_id,
    canonical_doc, n_members)."""
    from ..operators.dedup import duplicate_groups

    d = _docs(spark, sf_dir)
    pairs = minhash_near_duplicates(d, threshold=0.7)
    groups = duplicate_groups(pairs)
    allg = (
        d.select("doc_id", "n_chars")
        .join(groups, "doc_id", "left")
        .withColumn("group_id", F.coalesce("group_id", F.col("doc_id")))
    )
    best = F.min(
        F.struct(
            (-F.col("n_chars")).alias("neg_chars"), F.col("doc_id").alias("d")
        )
    )
    return allg.groupBy("group_id").agg(
        best["d"].alias("canonical_doc"),
        F.count("*").cast("long").alias("n_members"),
    )


@register(
    "text_lang_mix_rebalance",
    oracle=f"""
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT min(cnt) AS min_cnt FROM c),
t AS (SELECT lang, (min_cnt * 10000) // cnt AS thr FROM c, m),
h AS (
  SELECT doc_id, lang,
         {_H.format(x="CAST(doc_id AS VARCHAR)")} % 10000 AS b
  FROM documents
)
SELECT doc_id, lang FROM h JOIN t USING (lang) WHERE b < thr
""",
    tags=("text", "sampling", "mixture"),
)
def text_lang_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing: downsample every language to the
    smallest stratum's share (the equal-mix special case of target-
    proportion reweighting). Per-stratum keep thresholds are derived
    IN-PLAN from the counts — (min_cnt * 10000) DIV cnt, pure integer
    arithmetic so both engines compute identical thresholds — and the
    keep decision is the portable md5-prefix hash of the stable doc_id
    against that threshold: reproducible, resumable, and exact to
    ±1/10000 of the target rate. Scale shape: two tiny aggregates
    (stratum cardinality), one broadcast join of the ~|strata|-row
    threshold table, then a narrow filter over the corpus — the scan
    never shuffles."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("lang").agg(F.count("*").alias("cnt"))
    mn = counts.agg(F.min("cnt").alias("min_cnt"))
    thr = counts.crossJoin(F.broadcast(mn)).select(
        "lang", F.expr("(min_cnt * 10000) DIV cnt").alias("thr")
    )
    b = (
        F.expr(tok_hash_portable_sql("CAST(doc_id AS STRING)"))
        % 10000
    )
    return (
        d.select("doc_id", "lang", b.alias("b"))
        .join(F.broadcast(thr), "lang")
        .filter(F.col("b") < F.col("thr"))
        .select("doc_id", "lang")
    )


@register(
    "dedup_incremental_minhash",
    oracle=_minhash_sql(split=400),
    tags=("dedup", "minhash", "incremental", "scale"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (operators.dedup.minhash_incremental_duplicates):
    an arriving batch (doc_id ≥ 400) checked against the existing
    corpus (doc_id < 400) only — the continuous-ingestion shape: the
    deduped history is never re-paired with itself, and the small
    increment's band keys and shingles broadcast, so the corpus incurs
    no shuffle. Value-hash gated via the split form of the generated
    MinHash oracle."""
    from ..operators.dedup import minhash_incremental_duplicates

    d = _docs(spark, sf_dir)
    return minhash_incremental_duplicates(
        d.filter(F.col("doc_id") < 400),
        d.filter(F.col("doc_id") >= 400),
        threshold=0.7,
    )


#: duplicated-span window width (tokens) — long enough that a shared
#: window means copied text, short enough that the synthetic corpus
#: still contains organic duplication to find
SPAN_WINDOW = 8

#: Knuth multiplicative constants for the deterministic corpus shuffle
#: (same pair as operators.similarity's training sample — pure int64
#: arithmetic, identical in both engines)
SHUFFLE_HASH_A = 2654435761
SHUFFLE_HASH_MOD = 1 << 32
SHUFFLE_ID_MOD = 1 << 31
N_SHARDS = 16


@register(
    "dedup_duplicated_ngram_spans",
    oracle=f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
w AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+{SPAN_WINDOW - 1}], ' ')) AS fp
  FROM t CROSS JOIN UNNEST(range(1, len(toks) - {SPAN_WINDOW} + 2)) AS u(i)
  WHERE len(toks) >= {SPAN_WINDOW}
)
SELECT fp, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS first_doc
FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
""",
    tags=("dedup", "text", "substring", "spans"),
)
def dedup_duplicated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated token windows — the exact-substring
    dedup shape of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), approximated at n-gram granularity: every
    8-token window (SPAN_WINDOW) is fingerprinted (md5 — the portable
    hash family the MinHash oracle established) and windows appearing
    in ≥ 2 distinct documents are reported with occurrence counts and
    an exemplar doc. At 100 TB this is one explode + one hash-keyed
    aggregation: the shuffle carries (32-char fp, doc_id) — never the
    text — and map-side partial aggregation collapses each document's
    repeats before the exchange. Downstream removal is a semi-join of
    (doc, pos) against the flagged fps."""
    d = _docs(spark, sf_dir)
    W = SPAN_WINDOW
    toks = d.select("doc_id", F.expr(tokens_sql("text")).alias("toks")).filter(
        F.size("toks") >= W
    )
    spans = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (W - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, W))),
            )
        ).alias("fp"),
    )
    return (
        spans.groupBy("fp")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "pipeline_shuffle_shard_assignment",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         (((doc_id % {SHUFFLE_ID_MOD}) * {SHUFFLE_HASH_A})
          % {SHUFFLE_HASH_MOD}) AS hv
  FROM documents
)
SELECT doc_id,
       CAST(hv % {N_SHARDS} AS INT) AS shard_id,
       CAST(row_number() OVER (PARTITION BY hv % {N_SHARDS}
                               ORDER BY hv, doc_id) AS INT) AS shard_pos
FROM h
""",
    tags=("pipeline", "shuffle", "sharding"),
)
def pipeline_shuffle_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into N_SHARDS=16 training
    shards: shard = Knuth-hash(doc_id) mod N, position within shard =
    rank by (hash, doc_id) — a seedless, replayable permutation (the
    property a resumable 100 TB training job needs: any shard can be
    regenerated independently and identically). The shuffle carries
    only (doc_id, int64 hash); at scale the physical write is
    ``repartition(N, shard_id)`` + ``sortWithinPartitions(hv,
    doc_id)``, so the window here never becomes a global sort — each
    shard orders locally."""
    d = load_table(spark, sf_dir, "documents")
    hv = ((F.col("doc_id") % SHUFFLE_ID_MOD) * SHUFFLE_HASH_A) % SHUFFLE_HASH_MOD
    h = d.select("doc_id", hv.alias("hv"))
    w = Window.partitionBy(F.col("hv") % N_SHARDS).orderBy("hv", "doc_id")
    return h.select(
        "doc_id",
        (F.col("hv") % N_SHARDS).cast("int").alias("shard_id"),
        F.row_number().over(w).cast("int").alias("shard_pos"),
    )


#: Split multiplier — a different odd constant than SHUFFLE_HASH_A so a
#: document's train/val/test assignment is independent of its shard.
SPLIT_HASH_A = 2246822519


@register(
    "text_source_mix_temperature",
    oracle=f"""
WITH s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
w AS (
  SELECT s.*,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
           AS weight_ppm
  FROM s
),
t AS (SELECT CAST(SUM(weight_ppm) AS BIGINT) AS total_ppm FROM w)
SELECT source, n_docs, n_tokens, weight_ppm,
       CAST(weight_ppm AS DOUBLE) / CAST(total_ppm AS DOUBLE) AS share,
       CAST((weight_ppm * 1000000) // total_ppm AS BIGINT) AS docs_per_million
FROM w CROSS JOIN t
""",
    tags=("text", "sampling", "mixing"),
)
def text_source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixing weights (T5/data-mixture
    shape, temperature 2 ⇒ weight ∝ n_docs^0.5): upweight small
    sources relative to proportional sampling. The weight is QUANTIZED
    to integer parts-per-million — ``floor(sqrt(n)·1e6)`` — because a
    sum of irrational doubles is addition-order-dependent and could
    never cross-engine match; integer ppm weights make the normalizer
    exact, every share the same two-integer division in both engines,
    and the per-million doc allocation pure integer arithmetic
    (reproducible budget math a resumable sampler can re-derive). One
    source-keyed aggregation plus a broadcast of the one-row total."""
    d = load_table(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.expr(tokens_sql("text")))).cast("long").alias("n_tokens"),
    )
    w = s.withColumn(
        "weight_ppm",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000).cast("long"),
    )
    t = w.agg(F.sum("weight_ppm").alias("total_ppm"))
    return w.crossJoin(F.broadcast(t)).selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        "weight_ppm",
        "CAST(weight_ppm AS DOUBLE) / CAST(total_ppm AS DOUBLE) AS share",
        "CAST((weight_ppm * 1000000) DIV total_ppm AS BIGINT) AS docs_per_million",
    )


@register(
    "pipeline_train_val_test_split",
    oracle=f"""
WITH h AS (
  SELECT doc_id, n_chars,
         len(regexp_split_to_array(text, '\\s+')) AS n_toks,
         ((((doc_id % {SHUFFLE_ID_MOD}) * {SPLIT_HASH_A})
           % {SHUFFLE_HASH_MOD}) % 100) AS pct
  FROM documents
)
SELECT CASE WHEN pct < 80 THEN 'train'
            WHEN pct < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM h GROUP BY 1
""",
    tags=("pipeline", "split", "sampling"),
)
def pipeline_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test split manifest: assignment is a pure
    integer Knuth hash of doc_id (seedless, replayable — re-running the
    pipeline on a grown corpus never moves an old document between
    splits, the property that keeps eval sets uncontaminated), with a
    multiplier distinct from the shard hash so split membership is
    independent of shard placement. The manifest aggregates doc/token/
    char totals per split — one narrow map (token count, three ints)
    plus one three-group aggregation; at 100 TB the shuffle carries
    three partial rows per task."""
    d = load_table(spark, sf_dir, "documents")
    pct = (
        ((F.col("doc_id") % SHUFFLE_ID_MOD) * SPLIT_HASH_A) % SHUFFLE_HASH_MOD
    ) % 100
    split = (
        F.when(pct < 80, F.lit("train"))
        .when(pct < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(
            split.alias("split"),
            F.size(F.expr(tokens_sql("text"))).alias("n_toks"),
            "n_chars",
            "doc_id",
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@register(
    "text_duplicated_span_fraction",
    oracle=f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
           FROM documents),
w AS (
  SELECT doc_id, md5(array_to_string(toks[i:i+{SPAN_WINDOW - 1}], ' ')) AS fp
  FROM t CROSS JOIN UNNEST(range(1, len(toks) - {SPAN_WINDOW} + 2)) AS u(i)
  WHERE len(toks) >= {SPAN_WINDOW}
),
flagged AS (
  SELECT fp FROM w GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) FILTER (WHERE flagged.fp IS NOT NULL) AS BIGINT)
         AS n_dup_windows,
       CAST(count(*) FILTER (WHERE flagged.fp IS NOT NULL) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS dup_fraction
FROM w LEFT JOIN flagged USING (fp)
GROUP BY w.doc_id
""",
    tags=("text", "dedup", "substring", "quality", "scale"),
)
def text_duplicated_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text fraction: of a document's 8-token
    windows, how many also appear in at least one OTHER document — the
    removal criterion downstream of ``dedup_duplicated_ngram_spans``
    (drop or trim documents whose dup_fraction exceeds a policy
    threshold, the C4/RefinedWeb-style cleanup step). Two hash-keyed
    aggregations over the same exploded windows: flag cross-doc fps,
    then a fp-keyed LEFT join back (narrow 32-char keys, never text)
    and one per-doc count — at 100 TB both shuffles carry (fp, doc_id)
    pairs only, with map-side partial aggregation on each."""
    d = _docs(spark, sf_dir)
    W_ = SPAN_WINDOW
    toks = d.select("doc_id", F.expr(tokens_sql("text")).alias("toks")).filter(
        F.size("toks") >= W_
    )
    w = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (W_ - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), i, W_))),
            )
        ).alias("fp"),
    )
    # "≥ 2 distinct docs" as min(doc_id) ≠ max(doc_id): bit-identical
    # flag set, but min/max collapse to ONE row per fp per map task in
    # the partial agg, where count_distinct ships every distinct
    # (fp, doc_id) pair through the exchange (guide §2.3; measured
    # ~7 % on the full query, ~25 % on the flagged branch, r14)
    flagged = (
        w.groupBy("fp")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("fp", F.lit(1).alias("hit"))
    )
    return (
        w.join(flagged, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.count("hit").cast("long").alias("n_dup_windows"),
            (
                F.count("hit").cast("double") / F.count("*").cast("double")
            ).alias("dup_fraction"),
        )
    )


#: BM25 query fixture: one rare term (df ≈ 25 — the injected
#: duplicate marker) and two common ones, so the ranking exercises a
#: real idf spread instead of three interchangeable weights
BM25_TERMS = ["dup", "filter", "window"]
BM25_TOPK = 20


def _bm25_ranked_ctes(terms: list[str]) -> str:
    """The BM25 oracle's CTE chain (no ``WITH``, no final SELECT),
    ending in ``ranked(doc_id, score, rank)`` — shared by the
    standalone BM25 oracle and the hybrid-RRF oracle so both rank the
    lexical side through literally the same SQL text: per-document
    tf/dl, one statistics row, idf per term via the deterministic-ln
    CTE chain (functions.detmath.det_ln_ctes — bit-equal to the
    driver-side Python det_ln the Spark plan injects as literals),
    then the SAME generated score expression
    (operators.retrieval.bm25_score_sql) with idf/avgdl read from
    columns instead of literals."""
    from ..functions.detmath import det_ln_ctes
    from ..functions.sqltext import sql_str_lit
    from ..operators.retrieval import bm25_score_sql
    half = "CAST('0.5' AS DOUBLE)"
    one = "CAST('1.0' AS DOUBLE)"
    tf_cols = ",\n         ".join(
        "CAST(len(list_filter(string_split(text, ' '),"
        f" x -> x = {sql_str_lit(t)})) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n         ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}"
        for i in range(len(terms))
    )
    idf_ctes = "\n".join(
        det_ln_ctes(
            f"i{i}",
            f"((CAST(n - df_{i} AS DOUBLE) + {half})"
            f" / (CAST(df_{i} AS DOUBLE) + {half})) + {one}",
            "st",
            f"idf_{i}",
        )
        for i in range(len(terms))
    )
    idf_refs = [f"i{i}l.idf_{i}" for i in range(len(terms))]
    idf_joins = " ".join(f"CROSS JOIN i{i}l" for i in range(len(terms)))
    score = bm25_score_sql(idf_refs, "av.avgdl")
    return f"""dtf AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS dl,
         {tf_cols}
  FROM documents
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl,
         {df_cols}
  FROM dtf
),
av AS (SELECT CAST(sdl AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl FROM st),
{idf_ctes}
scored AS (
  SELECT d.doc_id, {score} AS score
  FROM dtf d CROSS JOIN av {idf_joins}
),
ranked AS (
  SELECT doc_id, score,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
           AS rank
  FROM scored
)"""


def text_bm25_topk_sql(
    terms: list[str] | None = None, k: int = BM25_TOPK
) -> str:
    """Oracle for operators.retrieval.bm25_topk — the shared ranked
    chain (:func:`_bm25_ranked_ctes`) plus the top-k cut."""
    terms = BM25_TERMS if terms is None else terms
    return (
        f"\nWITH {_bm25_ranked_ctes(terms)}\n"
        f"SELECT doc_id, score, rank FROM ranked WHERE rank <= {k}"
    )


@register(
    "text_bm25_topk",
    oracle=text_bm25_topk_sql(),
    tags=("text", "retrieval", "bm25", "ranking", "scale"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed bag-of-terms query — the lexical
    retrieval half of a corpus search stack (operators.retrieval.
    bm25_topk; the embedding half is the ANN family). One projection
    computes tf/dl per document (JVM built-ins, no explode), one
    partial-aggregating job collects the single statistics row, idf
    and avgdl are injected as driver-computed literals (production
    BM25's precomputed-term-statistics shape), and the global top-k is
    orderBy+limit — TakeOrdered, never a full sort. Value-hash exact
    despite the logarithm: idf uses the fixed-order series ln of
    functions.detmath, which Python, Spark, and DuckDB evaluate
    bit-identically (library ln differs by 1 ulp on ~8% of this
    domain — measured, and why det_ln exists)."""
    from ..operators.retrieval import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_TERMS, k=BM25_TOPK)


#: hybrid-search fixture: fuse the BM25 ranking for BM25_TERMS with
#: the exact-cosine neighbors of one probe embedding (doc_id = vec_id
#: is the corpus' cross-modal key — see pipeline_cluster_quality_report)
RRF_TOPK = 20
RRF_K_EACH = 50
RRF_QUERY_ID = 0


def text_hybrid_rrf_topk_sql() -> str:
    """Oracle for the hybrid query: the SAME BM25 ranked chain the
    standalone oracle uses (:func:`_bm25_ranked_ctes`), an exact-cosine
    ranking in the sequential-fold dialect of the ann_bruteforce
    oracle, and the RRF merge — per-doc contributions are single IEEE
    divisions of exact integers added once (two-operand FP addition is
    commutative), so the fused doubles are bit-equal to Spark's."""
    from ..operators.retrieval import RRF_C
    from .vector_oracles import DOT, NORM

    dot = DOT.format(a="qv", b="cv")
    nq = NORM.format(v="qv")
    nc = NORM.format(v="cv")
    return f"""
WITH {_bm25_ranked_ctes(BM25_TERMS)},
lexr AS (SELECT doc_id, rank AS lex_rank FROM ranked WHERE rank <= {RRF_K_EACH}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {RRF_QUERY_ID}),
sems AS (
  SELECT vec_id AS doc_id, embedding AS cv, qv
  FROM embeddings CROSS JOIN q
  WHERE vec_id <> {RRF_QUERY_ID}
),
semscored AS (SELECT doc_id, {dot} / ({nq} * {nc}) AS cosine FROM sems),
semranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS INT)
           AS sem_rank
  FROM semscored
),
semr AS (SELECT doc_id, sem_rank FROM semranked WHERE sem_rank <= {RRF_K_EACH}),
fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         (COALESCE(CAST('1.0' AS DOUBLE)
            / CAST({RRF_C} + l.lex_rank AS DOUBLE), CAST('0.0' AS DOUBLE))
          + COALESCE(CAST('1.0' AS DOUBLE)
            / CAST({RRF_C} + s.sem_rank AS DOUBLE), CAST('0.0' AS DOUBLE)))
           AS rrf_score,
         l.lex_rank AS lex_rank, s.sem_rank AS sem_rank
  FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
),
final AS (
  SELECT doc_id, rrf_score, lex_rank, sem_rank,
         CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
           AS rank
  FROM fused
)
SELECT doc_id, rrf_score, lex_rank, sem_rank, rank
FROM final WHERE rank <= {RRF_TOPK}"""


@register(
    "text_hybrid_rrf_topk",
    oracle=text_hybrid_rrf_topk_sql(),
    tags=("text", "retrieval", "hybrid", "rrf", "vector", "scale"),
)
def text_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical
    top-50 and the exact-cosine semantic top-50 of one probe embedding
    (doc_id = vec_id is the corpus' cross-modal key) — the standard
    production shape for corpus search, where neither scoring scale is
    trusted and only ranks are fused (operators.retrieval.rrf_fuse).
    Both upstream rankings are scale-designed scans (BM25: stateless
    scoring scan + TakeOrdered; ANN: broadcast probe + one scoring
    pass); the fusion itself merges two k-row frames — free at any
    corpus size. Value-hash gated end to end: BM25 via det-ln, cosine
    via the sequential-fold dialect, RRF via single divisions of exact
    integers and one commutative add."""
    from ..operators.retrieval import bm25_topk, rrf_fuse
    from ..operators.similarity import brute_force_topk

    d = _docs(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(d, BM25_TERMS, k=RRF_K_EACH).select("doc_id", "rank")
    sem = brute_force_topk(
        e, e.filter(F.col("vec_id") == RRF_QUERY_ID), k=RRF_K_EACH
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(lex, sem, k=RRF_TOPK)


def _bpe_ctes(n: int) -> str:
    """The unrolled BPE training chain (starts with ``WITH``, no final
    SELECT) — shared by the merges oracle and the vocab oracle. Each
    iteration is a lead-window pair count, an argmax CTE b{i} (the
    tie-break ORDER BY cnt DESC, l, r mirrors the Spark collect), and
    the three-window greedy merge rewrite (gaps-and-islands
    even-offset rule for l = r); s{n} is the symbol table after all n
    merges. Integer/string-exact throughout, so the SQL that computes
    its own argmaxes lands on the identical merges the Spark driver
    loop collects — value-hash equality with no floats involved."""
    # AS MATERIALIZED: each CTE is referenced more than once down the
    # chain; without the hint DuckDB re-inlines every reference, and the
    # recompute compounds per iteration (measured 5.9 s -> 0.22 s at
    # sf0.01 for the 8-merge chain, bit-identical results)
    parts = [
        """
WITH w AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS word
        FROM documents)
  GROUP BY word
),
s0 AS MATERIALIZED (
  SELECT word, wcount, CAST(pos AS INT) AS pos,
         substr(word, pos, 1) AS sym
  FROM (SELECT word, wcount,
               unnest(range(1, length(word) + 1)) AS pos
        FROM w)
)"""
    ]
    for i in range(n):
        parts.append(f""",
p{i} AS MATERIALIZED (
  SELECT word, wcount, pos, sym,
         lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM s{i}
),
b{i} AS MATERIALIZED (
  SELECT sym AS l, nxt AS r, CAST(SUM(wcount) AS BIGINT) AS cnt
  FROM p{i} WHERE nxt IS NOT NULL
  GROUP BY sym, nxt
  ORDER BY cnt DESC, l, r
  LIMIT 1
),
g{i} AS MATERIALIZED (
  SELECT word, wcount, pos, sym, nxt, l, r,
         CASE WHEN l = r AND sym = l THEN pos - arnk END AS grp,
         COALESCE(sym = l AND nxt = r, FALSE) AS mtch
  FROM (SELECT p.*, b.l, b.r,
               SUM(CASE WHEN p.sym = b.l THEN 1 ELSE 0 END)
                 OVER (PARTITION BY p.word ORDER BY p.pos) AS arnk
        FROM p{i} p CROSS JOIN b{i} b)
),
t{i} AS MATERIALIZED (
  SELECT *,
         CASE WHEN l <> r THEN mtch
              ELSE mtch AND
                   ((pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0)
         END AS mstart
  FROM g{i}
),
s{i + 1} AS MATERIALIZED (
  SELECT word, wcount,
         CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS INT)
           AS pos,
         CASE WHEN mstart THEN l || r ELSE sym END AS sym
  FROM (SELECT *, lag(mstart) OVER (PARTITION BY word ORDER BY pos) AS pm
        FROM t{i})
  WHERE NOT COALESCE(pm, FALSE)
)""")
    return "".join(parts)


def text_bpe_train_sql() -> str:
    """Oracle for operators.tokenizer.bpe_train: the shared unrolled
    chain (:func:`_bpe_ctes`), emitting each iteration's adopted
    argmax row b{i} with its 1-based adoption rank."""
    from ..operators.tokenizer import BPE_N_MERGES

    n = BPE_N_MERGES
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({i + 1} AS INT) AS merge_rank, l AS left_sym,"
        f" r AS right_sym, cnt AS pair_count FROM b{i}"
        for i in range(n)
    )
    return _bpe_ctes(n) + "\n" + union


def text_bpe_vocab_sql() -> str:
    """Oracle for operators.tokenizer.bpe_vocab: the shared unrolled
    chain's final symbol table s{n}, aggregated per symbol."""
    from ..operators.tokenizer import BPE_N_MERGES

    n = BPE_N_MERGES
    return f"""{_bpe_ctes(n)}
SELECT sym, CAST(SUM(wcount) AS BIGINT) AS token_count,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_words
FROM s{n}
GROUP BY sym"""


@register(
    "text_bpe_train_merges",
    oracle=text_bpe_train_sql(),
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the corpus: the first 8 merge rules
    with their exact corpus-weighted pair frequencies
    (operators.tokenizer.bpe_train). One full-corpus groupBy collapses
    the text to (distinct word, count); every training iteration then
    runs on that vocab-sized table with word-partitioned windows only,
    and the driver holds merge-sized state (one argmax row per
    iteration). Float-free, so gated by the full value hash against
    the unrolled self-contained DuckDB oracle."""
    from ..operators.tokenizer import bpe_train

    return bpe_train(_docs(spark, sf_dir))


@register(
    "text_bpe_vocab_counts",
    oracle=text_bpe_vocab_sql(),
    tags=("text", "tokenizer", "bpe", "pipeline"),
)
def text_bpe_vocab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics under the learned BPE merges — the
    encode side of tokenizer training (operators.tokenizer.bpe_vocab):
    per final symbol, the exact corpus-weighted occurrence count and
    the number of distinct words containing it. Tokenization depends
    only on the word, so the encoded corpus is the collapsed symbol
    table itself — no second corpus pass. Value-hash gated against the
    same unrolled oracle chain as text_bpe_train_merges."""
    from ..operators.tokenizer import bpe_vocab

    return bpe_vocab(_docs(spark, sf_dir))


@register(
    "pipeline_shard_manifest",
    oracle=f"""
WITH h AS (
  SELECT doc_id, length(text) AS n_chars_text,
         (((doc_id % {SHUFFLE_ID_MOD}) * {SHUFFLE_HASH_A})
          % {SHUFFLE_HASH_MOD}) % {N_SHARDS} AS shard_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                 md5(text)), 1, 15)) AS BIGINT) AS row_fp
  FROM documents
)
SELECT CAST(shard_id AS INT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(bit_xor(row_fp) AS BIGINT) AS content_fingerprint,
       CAST(SUM(n_chars_text) AS BIGINT) AS total_chars
FROM h
GROUP BY 1
""",
    tags=("pipeline", "sharding", "manifest"),
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verifiable delivery manifest for the training shards: per shard
    (same Knuth-hash assignment as pipeline_shuffle_shard_assignment),
    the doc count, total characters, and an order-insensitive CONTENT
    fingerprint — bit_xor of the md5-portable hash of
    (doc_id : md5(text)). Any missing, duplicated, or altered document
    flips the fingerprint; xor is commutative/associative, so the
    aggregate partial-combines map-side and manifests of sub-batches
    merge exactly (the property a resumable 100 TB delivery needs:
    regenerate any shard independently and verify it byte-for-byte
    without re-reading the others)."""
    d = _docs(spark, sf_dir)
    shard = (
        ((F.col("doc_id") % SHUFFLE_ID_MOD) * SHUFFLE_HASH_A)
        % SHUFFLE_HASH_MOD
    ) % N_SHARDS
    row_fp = F.expr(
        tok_hash_portable_sql("concat(CAST(doc_id AS STRING), ':', md5(text))")
    )
    return (
        d.select(
            shard.cast("int").alias("shard_id"),
            row_fp.alias("row_fp"),
            F.length("text").alias("n_chars_text"),
        )
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.bit_xor("row_fp").alias("content_fingerprint"),
            F.sum("n_chars_text").cast("long").alias("total_chars"),
        )
    )


#: Efraimidis–Spirakis sampling: hash-domain size (2^20) for the
#: deterministic uniform u = (hv+1)/2^20, and the sample size.
ES_SAMPLE_MOD = 1 << 20
ES_SAMPLE_K = 100


def _es_oracle_sql() -> str:
    """Generated oracle for the weighted sample — the det-ln stage
    fragments are shared verbatim with the Spark plan, so every double
    is bit-equal."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    return f"""
WITH h AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % {ES_SAMPLE_MOD} AS hv
  FROM documents
),
hx AS (SELECT doc_id, n_chars,
              CAST({ES_SAMPLE_MOD} AS DOUBLE) / CAST(hv + 1 AS DOUBLE) AS x
       FROM h),
hr AS (SELECT doc_id, n_chars, x, {st['e']} AS e, {st['m']} AS m FROM hx),
ht AS (SELECT doc_id, n_chars, e, {st['tt']} AS tt FROM hr),
hl AS (SELECT doc_id, n_chars, {st['ln']} AS lnx FROM ht)
SELECT doc_id, n_chars, lnx / CAST(n_chars AS DOUBLE) AS sample_key
FROM hl
ORDER BY sample_key, doc_id
LIMIT {ES_SAMPLE_K}
"""


@register(
    "text_weighted_sample_topk",
    oracle=_es_oracle_sql(),
    tags=("text", "sampling", "weighted"),
)
def text_weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis): each document draws a seedless uniform
    u = (hash(doc_id)+1)/2^20 and the k smallest ln(1/u)/w win — at any
    corpus size this selects exactly a w-weighted sample (here
    w = n_chars: longer documents proportionally likelier, the
    quality-weighted curation draw). Replayable like every sampler in
    this catalog: no rand(), so a resumable job re-derives the same
    sample. ln must be bit-equal across engines, so both run the
    fixed-order det-ln pipeline (functions.detmath) as four narrow
    projections; the top-k plans as TakeOrderedAndProject (per-partition
    heaps — no global sort at 100 TB)."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id",
        "n_chars",
        (
            F.expr(tok_hash_portable_sql("CAST(doc_id AS STRING)")) % ES_SAMPLE_MOD
        ).alias("hv"),
    )
    hx = h.selectExpr(
        "doc_id",
        "n_chars",
        f"CAST({ES_SAMPLE_MOD} AS DOUBLE) / CAST(hv + 1 AS DOUBLE) AS x",
    )
    hr = hx.selectExpr(
        "doc_id", "n_chars", "x", f"{st['e']} AS e", f"{st['m']} AS m"
    )
    ht = hr.selectExpr("doc_id", "n_chars", "e", f"{st['tt']} AS tt")
    hl = ht.selectExpr("doc_id", "n_chars", f"{st['ln']} AS lnx")
    return (
        hl.selectExpr(
            "doc_id", "n_chars", "lnx / CAST(n_chars AS DOUBLE) AS sample_key"
        )
        .orderBy("sample_key", "doc_id")
        .limit(ES_SAMPLE_K)
    )


#: Unigram-LM quality filter: negative-log-likelihood threshold in
#: integer micro-nats per token (8.0 nats ≈ perplexity 3000 — docs made
#: of rarer tokens than that read as noise, the CCNet-style cut).
NLL_KEEP_MICRONATS = 8_000_000


def _unigram_nll_oracle_sql() -> str:
    """Oracle twin of text_unigram_logprob_filter — vocabulary NLL via
    the same det-ln stage fragments the Spark plan runs, carried
    per-row through CTEs; all arithmetic integer until the final shared
    two-integer division."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    return f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
  FROM documents
),
v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY tok),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v),
vx AS (SELECT tok, CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE) AS x
       FROM v CROSS JOIN tot),
vr AS (SELECT tok, x, {st['e']} AS e, {st['m']} AS m FROM vx),
vt AS (SELECT tok, e, {st['tt']} AS tt FROM vr),
vl AS (SELECT tok, CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT)
              AS nll_ppm FROM vt),
d AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(SUM(vl.nll_ppm) AS BIGINT) AS total_nll_ppm
  FROM t JOIN vl USING (tok)
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, total_nll_ppm,
       CAST(total_nll_ppm AS DOUBLE)
         / (CAST(1000000 AS DOUBLE) * CAST(n_tokens AS DOUBLE))
         AS avg_nll_nats,
       total_nll_ppm < {NLL_KEEP_MICRONATS} * n_tokens AS keep
FROM d
"""


@register(
    "text_unigram_logprob_filter",
    oracle=_unigram_nll_oracle_sql(),
    tags=("text", "quality", "perplexity", "scale"),
)
def text_unigram_logprob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality filtering (the CCNet/perplexity-filter shape
    at unigram order): score every document by its average
    negative-log-likelihood under the corpus's own unigram model —
    documents built from rare tokens score high and get cut. Float
    NLL sums are addition-order-dependent, so the per-token NLL
    ln(total/cnt) is computed by the fixed-order det-ln pipeline and
    QUANTIZED to integer micro-nats: per-document totals are exact
    int64 sums, the keep decision is a pure integer comparison
    (total < threshold·n — no float epsilon), and the one reported
    double divides the same two integers in both engines. Plan: one
    vocab aggregation (map-side partials), four narrow det-ln
    projections over the vocab only (never the token stream), one
    token→vocab equi-join, one doc-keyed aggregation."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(tokens_sql("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = int(vocab.agg(F.sum("cnt")).collect()[0][0])
    vx = vocab.selectExpr(
        "tok", f"CAST({total} AS DOUBLE) / CAST(cnt AS DOUBLE) AS x"
    )
    vr = vx.selectExpr("tok", "x", f"{st['e']} AS e", f"{st['m']} AS m")
    vt = vr.selectExpr("tok", "e", f"{st['tt']} AS tt")
    vl = vt.selectExpr(
        "tok", f"CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS nll_ppm"
    )
    scored = toks.join(vl, "tok")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("nll_ppm").alias("total_nll_ppm"),
        )
        .selectExpr(
            "doc_id",
            "n_tokens",
            "total_nll_ppm",
            "CAST(total_nll_ppm AS DOUBLE)"
            " / (CAST(1000000 AS DOUBLE) * CAST(n_tokens AS DOUBLE))"
            " AS avg_nll_nats",
            f"total_nll_ppm < {NLL_KEEP_MICRONATS} * n_tokens AS keep",
        )
    )


def _tfidf_oracle_sql() -> str:
    """Oracle twin of text_tfidf_top_terms — shared det-ln fragments,
    integer tf·idf_ppm scores, deterministic (score, tok) ranking."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    return f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       FROM t GROUP BY doc_id, tok),
df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM t),
ix AS (SELECT tok, CAST(n_docs + 1 AS DOUBLE) / CAST(df AS DOUBLE) AS x
       FROM df CROSS JOIN nd),
ir AS (SELECT tok, x, {st['e']} AS e, {st['m']} AS m FROM ix),
it AS (SELECT tok, e, {st['tt']} AS tt FROM ir),
il AS (SELECT tok, CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT)
              AS idf_ppm FROM it),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, tf.tf * il.idf_ppm AS score_ppm
  FROM tf JOIN il USING (tok)
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_ppm DESC, tok) AS INT) AS rank
  FROM scored
)
SELECT doc_id, tok, tf, score_ppm, rank FROM ranked WHERE rank <= 3
"""


@register(
    "text_tfidf_top_terms",
    oracle=_tfidf_oracle_sql(),
    tags=("text", "retrieval", "keywords"),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 terms by tf·idf — the
    labeling/routing primitive next to BM25 (which RANKS documents for
    a query; this SUMMARIZES each document). idf = det-ln((N+1)/df)
    quantized to integer ppm, so every score is the exact integer
    tf·idf_ppm and the per-document ranking (score desc, term asc) is
    fully deterministic — the whole result value-hashes. Plan: one
    (doc, term) aggregation, a term-level df aggregate with the det-ln
    stages over the VOCAB only, one equi-join back, and a per-doc
    WindowGroupLimit (rank ≤ 3 pushed below the window shuffle)."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(tokens_sql("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n_docs = int(toks.select("doc_id").distinct().count())
    ix = df.selectExpr(
        "tok", f"CAST({n_docs} + 1 AS DOUBLE) / CAST(df AS DOUBLE) AS x"
    )
    ir = ix.selectExpr("tok", "x", f"{st['e']} AS e", f"{st['m']} AS m")
    it = ir.selectExpr("tok", "e", f"{st['tt']} AS tt")
    il = it.selectExpr(
        "tok", f"CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS idf_ppm"
    )
    scored = tf.join(il, "tok").select(
        "doc_id", "tok", "tf", (F.col("tf") * F.col("idf_ppm")).alias("score_ppm")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_ppm"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "tok", "tf", "score_ppm", "rank")
    )


@register(
    "pipeline_shard_split_crosstab",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         (((doc_id % {SHUFFLE_ID_MOD}) * {SHUFFLE_HASH_A})
           % {SHUFFLE_HASH_MOD}) % {N_SHARDS} AS shard_id,
         ((((doc_id % {SHUFFLE_ID_MOD}) * {SPLIT_HASH_A})
           % {SHUFFLE_HASH_MOD}) % 100) AS pct
  FROM documents
)
SELECT CAST(shard_id AS INT) AS shard_id,
       CASE WHEN pct < 80 THEN 'train'
            WHEN pct < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs
FROM h GROUP BY 1, 2
""",
    tags=("pipeline", "split", "sharding"),
)
def pipeline_shard_split_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard × split contingency table — the verification read behind
    the split manifest's independence claim (the two assignments use
    different Knuth multipliers, so every shard should contain all
    three splits in roughly the global 80/10/10 mix; a skewed cell
    means a training shard leaks eval data). One narrow map and one
    48-group aggregation; integer counts value-hash in full."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        ((F.col("doc_id") % SHUFFLE_ID_MOD) * SHUFFLE_HASH_A) % SHUFFLE_HASH_MOD
    ) % N_SHARDS
    pct = (
        ((F.col("doc_id") % SHUFFLE_ID_MOD) * SPLIT_HASH_A) % SHUFFLE_HASH_MOD
    ) % 100
    split = (
        F.when(pct < 80, F.lit("train"))
        .when(pct < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select(shard.cast("int").alias("shard_id"), split.alias("split"))
        .groupBy("shard_id", "split")
        .agg(F.count("*").alias("n_docs"))
    )


#: Bigram-order NLL cut (micro-nats/bigram). Bigram NLL runs higher
#: than unigram (most bigrams are rarer); 12 nats ≈ perplexity 160k.
BIGRAM_NLL_KEEP_MICRONATS = 12_000_000


def _bigram_nll_oracle_sql() -> str:
    """Oracle twin of text_bigram_logprob_filter — ALL bigram
    occurrences (repeats kept, unlike the dedup family's distinct
    shingles), then the unigram machinery at bigram order."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    return f"""
WITH tk AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
),
t AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM tk WHERE len(toks) >= 2
),
v AS (SELECT bg, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY bg),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM v),
vx AS (SELECT bg, CAST(total AS DOUBLE) / CAST(cnt AS DOUBLE) AS x
       FROM v CROSS JOIN tot),
vr AS (SELECT bg, x, {st['e']} AS e, {st['m']} AS m FROM vx),
vt AS (SELECT bg, e, {st['tt']} AS tt FROM vr),
vl AS (SELECT bg, CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT)
              AS nll_ppm FROM vt),
d AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(vl.nll_ppm) AS BIGINT) AS total_nll_ppm
  FROM t JOIN vl USING (bg)
  GROUP BY t.doc_id
)
SELECT doc_id, n_bigrams, total_nll_ppm,
       CAST(total_nll_ppm AS DOUBLE)
         / (CAST(1000000 AS DOUBLE) * CAST(n_bigrams AS DOUBLE))
         AS avg_nll_nats,
       total_nll_ppm < {BIGRAM_NLL_KEEP_MICRONATS} * n_bigrams AS keep
FROM d
"""


@register(
    "text_bigram_logprob_filter",
    oracle=_bigram_nll_oracle_sql(),
    tags=("text", "quality", "perplexity"),
)
def text_bigram_logprob_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity filter at BIGRAM order — closer to the CCNet
    n-gram LM than the unigram form (word order now matters: shuffled
    text keeps its unigram score but its bigrams go rare). Identical
    determinism machinery: det-ln NLL over the bigram vocabulary
    quantized to integer micro-nats, exact int64 per-document sums,
    integer keep rule, shared two-integer final division. The bigram
    stream keeps REPEATS (unlike the dedup family's distinct shingles —
    an LM weights every occurrence); docs under 2 tokens are excluded
    by construction."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    d = load_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.expr(tokens_sql("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    t = tk.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                ),
            )
        ).alias("bg"),
    )
    vocab = t.groupBy("bg").agg(F.count("*").alias("cnt"))
    total = int(vocab.agg(F.sum("cnt")).collect()[0][0])
    vx = vocab.selectExpr(
        "bg", f"CAST({total} AS DOUBLE) / CAST(cnt AS DOUBLE) AS x"
    )
    vr = vx.selectExpr("bg", "x", f"{st['e']} AS e", f"{st['m']} AS m")
    vt = vr.selectExpr("bg", "e", f"{st['tt']} AS tt")
    vl = vt.selectExpr(
        "bg", f"CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS nll_ppm"
    )
    return (
        t.join(vl, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("nll_ppm").alias("total_nll_ppm"),
        )
        .selectExpr(
            "doc_id",
            "n_bigrams",
            "total_nll_ppm",
            "CAST(total_nll_ppm AS DOUBLE)"
            " / (CAST(1000000 AS DOUBLE) * CAST(n_bigrams AS DOUBLE))"
            " AS avg_nll_nats",
            f"total_nll_ppm < {BIGRAM_NLL_KEEP_MICRONATS} * n_bigrams AS keep",
        )
    )


@register(
    "text_inverted_index_postings",
    oracle="""
SELECT term,
       CAST(count(*) AS BIGINT) AS cf,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
       list(DISTINCT doc_id ORDER BY doc_id)[1:64] AS postings_head
FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
      FROM documents) t
GROUP BY term
HAVING count(DISTINCT doc_id) >= 5
""",
    tags=("text", "retrieval", "index"),
)
def text_inverted_index_postings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inverted-index build: term → (collection frequency, document
    frequency, head of the sorted posting list) — the materialized
    index the BM25 scan (`text_bm25_topk`) would serve from at scale,
    rather than re-tokenizing the corpus per query.

    Postings are deterministic (ascending doc id) and CAPPED at the
    first 64 ids per term: at 100 TB a hot term's full posting list is
    millions of ids and belongs in per-term shard FILES (the packing
    writer's layout), not in one aggregation row — the capped head
    plus (cf, df) is the index metadata row. Terms below df=5 are
    dropped (singleton tails dominate vocabulary size but never win a
    lookup).

    Scale shape (plan-audited): exchange 1 pre-collapses the exploded
    stream to (term, doc_id, tf) with map-side partial aggregation —
    the per-term dedup happens BEFORE any term-level state exists; the
    cf/df stats and the posting head then derive from that collapsed
    table on SEPARATE term-keyed branches, because the head's rank
    filter (rn ≤ 64) sits directly on the window so Spark plans a
    partial WindowGroupLimit — every map task keeps at most 64 rows
    per term BEFORE the window shuffle, so a stopword's posting sort
    is bounded instead of one task sorting its entire document list
    (the straggler that kills naive index builds); the stats branch is
    a plain partial-agg groupBy with O(1) state per term. Both
    branches and the final join are term-partitioned. Cited: reference
    has no retrieval surface (core.clj); §2.10 retrieval family."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.expr(tokens_sql("text"))).alias("term")
    )
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count("*").cast("long").alias("tf")
    )
    stats = per_doc.groupBy("term").agg(
        F.sum("tf").cast("long").alias("cf"),
        F.count("*").cast("long").alias("df"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    heads = (
        per_doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 64)
        .groupBy("term")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("postings_head"))
    )
    return stats.join(heads, "term").filter(F.col("df") >= 5)


#: Feature-hashing dimensionality and the gated sample stride (every
#: 20th document — the oracle compare collects rows, the full corpus
#: materialization is the identical plan minus the sample filter).
FEATHASH_DIM = 1024
FEATHASH_STRIDE = 20


@register(
    "pipeline_feature_hashing_sparse",
    oracle=f"""
SELECT doc_id,
       CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT)
         % {FEATHASH_DIM} AS feature_id,
       CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS term
      FROM documents
      WHERE doc_id % {FEATHASH_STRIDE} = 0) t
GROUP BY 1, 2
""",
    tags=("pipeline", "features", "hashing-trick"),
)
def pipeline_feature_hashing_sparse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The hashing trick: every token maps to one of
    ``FEATHASH_DIM`` = 1024 feature buckets via the portable 60-bit
    md5 hash, producing the sparse (doc_id, feature_id, count) triples
    a linear model / logistic quality classifier trains on — feature
    engineering with NO vocabulary state (no fit pass, no dictionary
    to broadcast, new tokens hash to existing buckets), which is what
    makes it the 100 TB-friendly featurizer.

    Deterministic: the bucket is the md5-prefix hash both engines
    compute bit-identically (functions.text.tok_hash_portable_sql — the
    same hash every sampler/shard assignment in the catalog uses), so
    the triples are value-hash gated exactly. The gated query samples
    every 20th document to keep the compared row set bounded; the full
    corpus run is the identical one-explode → one-partial-agg-groupBy
    plan with the filter dropped.

    Scale: explode → groupBy(doc_id, feature_id) partial-aggregates
    map-side; the shuffle carries int64 triples, never text. Output is
    the sparse COO layout the packing writer shards by doc_id."""
    d = _docs(spark, sf_dir).filter(
        F.col("doc_id") % FEATHASH_STRIDE == 0
    )
    tok = d.select(
        "doc_id", F.explode(F.expr(tokens_sql("text"))).alias("term")
    )
    return tok.select(
        "doc_id",
        (F.expr(tok_hash_portable_sql("term")) % FEATHASH_DIM).alias(
            "feature_id"
        ),
    ).groupBy("doc_id", "feature_id").agg(
        F.count("*").cast("long").alias("cnt")
    )


@register(
    "dedup_prefix_filter_jaccard_pairs",
    oracle="""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id)
SELECT cand.doc_a, cand.doc_b,
       CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS jaccard
FROM cand
JOIN sh x ON cand.doc_a = x.doc_id
JOIN sh y ON cand.doc_b = y.doc_id
WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
      / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.5
""",
    tags=("dedup", "ngram", "prefix-filter", "exact", "scale"),
)
def dedup_prefix_filter_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Jaccard ≥ 0.5 near-duplicate pairs over the FULL corpus
    via prefix filtering (operators.dedup.prefix_filter_jaccard_pairs
    — the SSJoin/PPJoin shape): each document keeps only its
    ``|s| − ⌈0.5·|s|⌉ + 1`` globally-rarest shingles, candidates are
    pairs sharing a prefix shingle (rare ⇒ small buckets), and the
    exact verify touches candidates only. No recall loss by the prefix
    theorem, so the result set IS the brute-force join's — the oracle
    computes it quadratically (candidate trick without the prefix cut,
    exact-equivalent for J > 0) and the hash gate pins equality; the
    engine plan is never all-pairs (plan-audited: equi-joins only, no
    cartesian).

    This completes the near-dup triptych: MinHash-LSH (probabilistic,
    fastest), the bounded doc_id<40 exact twin (ground truth for LSH
    recall), and THIS — exact at corpus scale."""
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


@register(
    "multimodal_phash_near_dup",
    oracle="""
WITH d AS (SELECT doc_id AS did, doc_id % 5 + 2 AS w, doc_id % 3 + 2 AS h
           FROM documents WHERE doc_id < 100),
px AS (
  SELECT did, w, h, p,
         ((did * 7919 + (p // w) * 31 + (p % w) * 3 + 0) % 256
        + (did * 7919 + (p // w) * 31 + (p % w) * 3 + 1) % 256
        + (did * 7919 + (p // w) * 31 + (p % w) * 3 + 2) % 256) AS gray
  FROM d, LATERAL (SELECT unnest(range(0, w * h)) AS p) u
),
tot AS (SELECT did, w * h AS n, CAST(SUM(gray) AS BIGINT) AS total
        FROM px GROUP BY did, w, h),
ph AS (
  SELECT px.did, tot.n,
         CAST(SUM(CASE WHEN px.gray * tot.n > tot.total
                       THEN 1 << px.p ELSE 0 END) AS BIGINT) AS phash
  FROM px JOIN tot ON px.did = tot.did
  GROUP BY px.did, tot.n
),
bd AS (
  SELECT did, n, phash, b, (phash // (1 << (8 * b))) % 256 AS v
  FROM ph, LATERAL (SELECT unnest(range(0, 3)) AS b) u
),
cand AS (
  SELECT DISTINCT a.did AS item_a, b.did AS item_b
  FROM bd a JOIN bd b ON a.b = b.b AND a.v = b.v AND a.n = b.n
                     AND a.did < b.did
)
SELECT cand.item_a, cand.item_b, CAST(x.n AS INT) AS n_pixels,
       CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS hamming
FROM cand JOIN ph x ON cand.item_a = x.did JOIN ph y ON cand.item_b = y.did
WHERE bit_count(xor(x.phash, y.phash)) <= 2
""",
    tags=("multimodal", "dedup", "phash", "pandas-udf"),
)
def multimodal_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMAGE near-duplicate detection end to end: real BMP containers
    are decoded (operators.multimodal.bmp_decode — headers, padding,
    bottom-up rows, BGR), each image fingerprinted with the
    average-hash (operators.multimodal.perceptual_hash: bit p iff
    ``gray_p·n > Σgray``, the division-free mean compare), and
    near-dup pairs found by the SimHash pigeonhole: 3 bands of 8 bits,
    any pair within Hamming distance 2 must agree on ≥ 1 whole band,
    so candidates come from a banded equi-join — never all-pairs —
    and the exact bit_count(xor) ≤ 2 verify runs on candidates only.
    Same-shape pairing rides on the band key (n_pixels equality), so
    hashes of different geometries never compare.

    The oracle re-derives every pixel from the synthetic pattern
    formula and replays the identical integer hash/band/verify chain,
    so a hash-green row proves the DECODED content produced those
    bits — the container transforms, the aHash, and the pruning all at
    once. This is the multimodal member of the near-dup family
    (exact / MinHash / SimHash / embedding-cosine / prefix-filter /
    THIS)."""
    from ..operators.multimodal import (
        decode_pixels,
        encode_synthetic,
        perceptual_hash,
    )

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id")
    ph = perceptual_hash(decode_pixels(encode_synthetic(d, "doc_id", "bmp")))
    bands = ph.selectExpr(
        "item_id",
        "n_pixels",
        "phash",
        "explode(array(0, 1, 2)) AS b",
    ).selectExpr(
        "item_id", "n_pixels", "phash", "b",
        "(phash DIV (1 << (8 * b))) % 256 AS v",
    )
    a = bands.selectExpr(
        "item_id AS item_a", "n_pixels", "b", "v"
    )
    b = bands.selectExpr(
        "item_id AS item_b", "n_pixels", "b", "v"
    )
    cand = (
        a.join(b, ["b", "v", "n_pixels"])
        .filter(F.col("item_a") < F.col("item_b"))
        .select("item_a", "item_b")
        .distinct()
    )
    x = ph.selectExpr(
        "item_id AS item_a", "n_pixels", "phash AS ph_a"
    )
    y = ph.selectExpr("item_id AS item_b", "phash AS ph_b")
    return (
        cand.join(x, "item_a")
        .join(y, "item_b")
        .selectExpr(
            "item_a",
            "item_b",
            "n_pixels",
            "CAST(bit_count(ph_a ^ ph_b) AS BIGINT) AS hamming",
        )
        .filter(F.col("hamming") <= 2)
    )


@register(
    "multimodal_wav_decode",
    oracle="""
WITH d AS (SELECT doc_id AS did, doc_id % 50 + 20 AS n,
                  8000 + (doc_id % 3) * 4000 AS rate
           FROM documents WHERE doc_id < 100),
sm AS (
  SELECT did, n, rate, i, ((did * 31 + i * 7) % 2048) - 1024 AS s
  FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) u
),
lg AS (SELECT *, LAG(s) OVER (PARTITION BY did ORDER BY i) AS lag_s FROM sm)
SELECT did AS item_id, CAST(rate AS INT) AS sample_rate,
       CAST(n AS INT) AS n_samples,
       CAST(SUM(abs(s)) AS BIGINT) AS sum_abs,
       CAST(SUM(CASE WHEN i > 0 AND s * lag_s < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings
FROM lg
GROUP BY 1, 2, 3
""",
    tags=("multimodal", "codec", "wav", "audio", "pandas-udf"),
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GENUINE audio decode behind the multimodal seam
    (operators.multimodal.wav_encode/wav_decode — stdlib ``wave``
    RIFF containers, 16-bit mono PCM, no external codec libs): 100
    deterministic synthetic waveforms are encoded into real WAV files
    executor-side, decoded back through the container, and reduced to
    INTEGER audio features — Σ|sample| (loudness proxy) and the strict
    zero-crossing count (pitch proxy). The oracle re-derives every
    sample from the pattern formula, so a hash-green row proves the
    decoder recovered rate, length, and PCM content through the RIFF
    chunks — the audio sibling of `multimodal_bmp_decode`; with it the
    multimodal family has real image AND audio codecs behind the one
    mapInPandas seam (video frame-sampling shares the byte-range
    machinery of `multimodal_frame_sample`)."""
    from ..operators.multimodal import decode_wav_features, encode_synthetic

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id")
    return decode_wav_features(encode_synthetic(d, "doc_id", "wav"))


@register(
    "pipeline_dataset_card",
    oracle="""
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT)
           AS n_exact_dup_docs,
         CAST(MIN(n_chars) AS BIGINT) AS min_chars,
         CAST(MAX(n_chars) AS BIGINT) AS max_chars,
         quantile_cont(n_chars, 0.5) AS p50_chars
  FROM documents
)
SELECT metric, value FROM (
  SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM a
  UNION ALL SELECT 'total_chars', CAST(total_chars AS DOUBLE) FROM a
  UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM a
  UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM a
  UNION ALL SELECT 'n_exact_dup_docs', CAST(n_exact_dup_docs AS DOUBLE) FROM a
  UNION ALL SELECT 'min_chars', CAST(min_chars AS DOUBLE) FROM a
  UNION ALL SELECT 'max_chars', CAST(max_chars AS DOUBLE) FROM a
  UNION ALL SELECT 'mean_chars_floor',
                   CAST(total_chars // n_docs AS DOUBLE) FROM a
  UNION ALL SELECT 'p50_chars', p50_chars FROM a
) t
""",
    tags=("pipeline", "report", "dataset-card"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD summary block — the corpus-level numbers a
    published training set ships with (docs, bytes, source/language
    diversity, exact-dup rate, length distribution), folded into ONE
    scan with multi-distinct aggregation and unpivoted to (metric,
    value) rows so downstream tooling renders the card directly.

    Exactness: counts/sums/min/max are integers carried as exact
    doubles; the median uses the proven percentile ≡ quantile_cont
    (n−1)·p identity; the dup count is n − distinct(md5). Scale: one
    fact scan — Catalyst's Expand rewrite evaluates the three DISTINCT
    aggregates in the same pass (the profiling query's plan shape) —
    then a 1-row stack."""
    d = _docs(spark, sf_dir)
    a = d.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        (F.count("*") - F.countDistinct(F.md5("text")))
        .cast("long")
        .alias("n_exact_dup_docs"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
    )
    return a.selectExpr(
        "stack(9,"
        " 'n_docs', CAST(n_docs AS DOUBLE),"
        " 'total_chars', CAST(total_chars AS DOUBLE),"
        " 'n_sources', CAST(n_sources AS DOUBLE),"
        " 'n_langs', CAST(n_langs AS DOUBLE),"
        " 'n_exact_dup_docs', CAST(n_exact_dup_docs AS DOUBLE),"
        " 'min_chars', CAST(min_chars AS DOUBLE),"
        " 'max_chars', CAST(max_chars AS DOUBLE),"
        " 'mean_chars_floor', CAST(total_chars DIV n_docs AS DOUBLE),"
        " 'p50_chars', p50_chars"
        ") AS (metric, value)"
    )


@register(
    "dedup_containment_pairs",
    oracle="""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM t WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id)
SELECT cand.doc_a, cand.doc_b,
       CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(x.s)
         AS containment
FROM cand
JOIN sh x ON cand.doc_a = x.doc_id
JOIN sh y ON cand.doc_b = y.doc_id
WHERE CAST(len(list_intersect(x.s, y.s)) AS DOUBLE) / len(x.s) >= 0.8
""",
    tags=("dedup", "ngram", "containment", "exact", "scale"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-containment ≥ 0.8 pairs over the FULL corpus
    (operators.dedup.containment_pairs) — the asymmetric near-dup
    relation: a quote, excerpt, or boilerplate-wrapped copy scores low
    Jaccard against its source (the union is dominated by the longer
    document) but high containment, so this catches the inclusion
    duplicates the symmetric join structurally cannot. Prefix
    filtering prunes the PROBE side (any qualifying pair shares one of
    the probe's rarest shingles); the full shingle index serves the
    other side; the exact verify makes the pair set identical to the
    brute-force oracle."""
    from ..operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir), threshold=0.8)


#: Collocation mining support threshold: bigrams below this count are
#: noise; the PMI computation runs only on the survivors.
PMI_MIN_COUNT = 20


def _pmi_oracle_sql() -> str:
    """Generated oracle for the PMI collocations — the det-ln stage
    fragments shared verbatim with the Spark plan; PMI in integer
    micro-nats via ln(c_xy·N_t²) − ln(N_b·c_x·c_y), both arguments
    exact int64 inside det_ln's domain at the gated SFs."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    return f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
),
bg AS (
  SELECT toks[i] AS w1, toks[i+1] AS w2
  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
),
cb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_xy
       FROM bg GROUP BY 1, 2),
ct AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_t
  FROM (SELECT unnest(toks) AS tok FROM t) s GROUP BY 1
),
sc AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
              (SELECT CAST(SUM(c_xy) AS BIGINT) FROM cb) AS n_b
       FROM ct),
k AS (
  SELECT cb.w1, cb.w2, cb.c_xy, x.c_t AS c_x, y.c_t AS c_y,
         sc.n_t, sc.n_b
  FROM cb JOIN ct x ON cb.w1 = x.tok JOIN ct y ON cb.w2 = y.tok
  CROSS JOIN sc
  WHERE cb.c_xy >= {PMI_MIN_COUNT}
),
x1 AS (SELECT *, CAST(c_xy * n_t * n_t AS DOUBLE) AS x FROM k),
r1 AS (SELECT w1, w2, c_xy, c_x, c_y, n_b, x,
              {st['e']} AS e, {st['m']} AS m FROM x1),
t1 AS (SELECT w1, w2, c_xy, c_x, c_y, n_b, e, {st['tt']} AS tt FROM r1),
l1 AS (SELECT w1, w2, c_xy, c_x, c_y, n_b, {st['ln']} AS ln_num FROM t1),
x2 AS (SELECT w1, w2, c_xy, ln_num,
              CAST(n_b * c_x * c_y AS DOUBLE) AS x FROM l1),
r2 AS (SELECT w1, w2, c_xy, ln_num, x,
              {st['e']} AS e, {st['m']} AS m FROM x2),
t2 AS (SELECT w1, w2, c_xy, ln_num, e, {st['tt']} AS tt FROM r2),
l2 AS (SELECT w1, w2, c_xy, ln_num, {st['ln']} AS ln_den FROM t2)
SELECT w1, w2, c_xy,
       CAST(floor((ln_num - ln_den) * 1000000) AS BIGINT) AS pmi_micro
FROM l2
ORDER BY pmi_micro DESC, w1, w2
LIMIT 20
"""


@register(
    "text_pmi_collocations",
    oracle=_pmi_oracle_sql(),
    tags=("text", "collocations", "pmi", "det-ln", "scale"),
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information — the
    corpus-linguistics gate for tokenizer/quality diagnostics: which
    adjacent word pairs co-occur far beyond chance
    (PMI = ln(p(xy)/(p(x)·p(y)))). Bigrams with support ≥ 20 only;
    PMI is carried in integer micro-nats via
    ``det_ln(c_xy·N_t²) − det_ln(N_b·c_x·c_y)`` — both arguments exact
    int64 products inside det_ln's [1, 2^64) domain at the gated
    scale factors (at 100 TB split into the five-term ln sum so each
    argument stays a single count).

    Scale shape: bigram extraction is SHUFFLE-FREE (arrays_zip of the
    token array against its own tail — no posexplode+window), then one
    bigram-count groupBy, one vocab-count groupBy, two vocab joins on
    the support-filtered survivors, one broadcast scalar row, and the
    fixed det-ln projection chain; TakeOrdered top-20."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    d = _docs(spark, sf_dir)
    t = d.select(F.expr(tokens_sql("text")).alias("toks"))
    bg = t.selectExpr(
        "explode(arrays_zip(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1))) AS p"
    ).selectExpr("p['0'] AS w1", "p['1'] AS w2")
    cb = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c_xy"))
    ct = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c_t"))
        # vocab-sized; consumed by the scalar row AND two joins
        .localCheckpoint(eager=True)
    )
    nt = ct.agg(F.sum("c_t").cast("long").alias("n_t"))
    nb = cb.agg(F.sum("c_xy").cast("long").alias("n_b"))
    k = (
        cb.filter(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(
            ct.select(F.col("tok").alias("w1"), F.col("c_t").alias("c_x")),
            "w1",
        )
        .join(
            ct.select(F.col("tok").alias("w2"), F.col("c_t").alias("c_y")),
            "w2",
        )
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
    )
    keep1 = ["w1", "w2", "c_xy", "c_x", "c_y", "n_b"]
    l1 = (
        k.selectExpr(*keep1, "CAST(c_xy * n_t * n_t AS DOUBLE) AS x")
        .selectExpr(*keep1, "x", f"{st['e']} AS e", f"{st['m']} AS m")
        .selectExpr(*keep1, "e", f"{st['tt']} AS tt")
        .selectExpr(*keep1, f"{st['ln']} AS ln_num")
    )
    keep2 = ["w1", "w2", "c_xy", "ln_num"]
    l2 = (
        l1.selectExpr(*keep2, "CAST(n_b * c_x * c_y AS DOUBLE) AS x")
        .selectExpr(*keep2, "x", f"{st['e']} AS e", f"{st['m']} AS m")
        .selectExpr(*keep2, "e", f"{st['tt']} AS tt")
        .selectExpr(*keep2, f"{st['ln']} AS ln_den")
    )
    return (
        l2.selectExpr(
            "w1",
            "w2",
            "c_xy",
            "CAST(floor((ln_num - ln_den) * 1000000) AS BIGINT)"
            " AS pmi_micro",
        )
        .orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(20)
    )


#: shared by the BMP and PNG phash near-dup twins: the oracle derives
#: fingerprints from the synthetic PATTERN, so a green hash on each
#: codec proves that codec's decode produced the identical content
_PHASH64_WORDS_ORACLE = """
WITH d AS (SELECT doc_id AS did FROM documents WHERE doc_id < 100),
px AS (
  SELECT did, p,
         ((did * 7919 + (p // 8) * 31 + (p % 8) * 3 + 0) % 256
        + (did * 7919 + (p // 8) * 31 + (p % 8) * 3 + 1) % 256
        + (did * 7919 + (p // 8) * 31 + (p % 8) * 3 + 2) % 256) AS gray
  FROM d, LATERAL (SELECT unnest(range(0, 64)) AS p) u
),
tot AS (SELECT did, CAST(SUM(gray) AS BIGINT) AS total FROM px GROUP BY did),
wd AS (
  SELECT px.did, px.p // 56 AS wi,
         CAST(SUM(CASE WHEN px.gray * 64 > tot.total
                       THEN 1 << (px.p % 56) ELSE 0 END) AS BIGINT) AS word
  FROM px JOIN tot ON px.did = tot.did
  GROUP BY px.did, px.p // 56
),
ph AS (SELECT did,
              MAX(CASE WHEN wi = 0 THEN word END) AS w0,
              MAX(CASE WHEN wi = 1 THEN word END) AS w1
       FROM wd GROUP BY did),
bd AS (
  SELECT wd.did, u.b, (wd.word // (1 << (8 * (u.b % 7)))) % 256 AS v
  FROM wd, LATERAL (SELECT unnest(range(0, 8)) AS b) u
  WHERE wd.wi = u.b // 7
),
cand AS (SELECT DISTINCT a.did AS item_a, b.did AS item_b
         FROM bd a JOIN bd b ON a.b = b.b AND a.v = b.v AND a.did < b.did)
SELECT cand.item_a, cand.item_b,
       CAST(bit_count(xor(x.w0, y.w0))
          + bit_count(xor(x.w1, y.w1)) AS BIGINT) AS hamming
FROM cand JOIN ph x ON cand.item_a = x.did JOIN ph y ON cand.item_b = y.did
WHERE bit_count(xor(x.w0, y.w0)) + bit_count(xor(x.w1, y.w1)) <= 2
"""


def _phash64_words_near_dup(
    spark: SparkSession, sf_dir: str, fmt: str
) -> DataFrame:
    """Shared body of the phash64 near-dup entries: 100 synthetic 8x8
    ``fmt`` images encoded, decoded, fingerprinted into two 56-bit
    words, and near-dup pairs found by the derived banding."""
    from ..operators.multimodal import (
        decode_pixels,
        encode_synthetic,
        perceptual_hash_words,
        phash_band_count,
    )

    n_bands = phash_band_count(64)  # 8 bands of 8 bits over 64 bits
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id")
    ph = perceptual_hash_words(
        decode_pixels(encode_synthetic(d, "doc_id", fmt, width=8, height=8))
    )
    bands = ph.selectExpr(
        "item_id",
        "words",
        f"explode(sequence(0, {n_bands - 1})) AS b",
    ).selectExpr(
        "item_id",
        "b",
        "(words[b DIV 7] DIV (CAST(1 AS BIGINT) << (8 * (b % 7)))) % 256"
        " AS v",
    )
    a = bands.selectExpr("item_id AS item_a", "b", "v")
    bb = bands.selectExpr("item_id AS item_b", "b", "v")
    cand = (
        a.join(bb, ["b", "v"])
        .filter(F.col("item_a") < F.col("item_b"))
        .select("item_a", "item_b")
        .distinct()
    )
    x = ph.selectExpr("item_id AS item_a", "words AS wa")
    y = ph.selectExpr("item_id AS item_b", "words AS wb")
    return (
        cand.join(x, "item_a")
        .join(y, "item_b")
        .selectExpr(
            "item_a",
            "item_b",
            "CAST(aggregate(zip_with(wa, wb, (u, v) -> bit_count(u ^ v)),"
            " 0, (acc, h) -> acc + h) AS BIGINT) AS hamming",
        )
        .filter(F.col("hamming") <= 2)
    )


@register(
    "multimodal_phash64_words_near_dup",
    oracle=_PHASH64_WORDS_ORACLE,
    tags=("multimodal", "dedup", "phash", "words", "pandas-udf"),
)
def multimodal_phash64_words_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CANONICAL 8x8 = 64-bit aHash — the size the single-int64
    perceptual_hash cannot hold (bit 63 overflows signed packing; the
    operator now refuses n > 63 loudly) — through the word-packed
    variant (operators.multimodal.perceptual_hash_words): bits packed
    into 56-bit words so every value stays < 2^56 on both engines and
    every 8-bit band lives inside one word. 100 real 8x8 BMP
    containers are encoded, decoded, fingerprinted into two words, and
    near-dup pairs found by the derived banding
    (phash_band_count(64) = 8 bands; Hamming <= 2 flips <= 2 bands, so
    >= 6 agree — the banded equi-join is lossless by pigeonhole).
    Hamming distance is the word-wise popcount fold
    (aggregate(zip_with(xor))) — the shape that generalizes to any
    image size, closing the ADVICE r9 overflow finding as a working
    operator rather than just a guard.

    The oracle re-derives all 64 pixels per image from the synthetic
    formula and replays the identical word packing, banding, and
    verify, so hash-green rows pin the decoded content bit-for-bit."""
    return _phash64_words_near_dup(spark, sf_dir, "bmp")


@register(
    "multimodal_png_decode",
    oracle="""
WITH d AS (SELECT doc_id, doc_id % 5 + 2 AS w, 7 AS h
           FROM documents WHERE doc_id < 100)
SELECT doc_id AS item_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       lower(array_to_string(
         list_transform(range(0, w * h * 3),
           i -> lpad(to_hex((doc_id * 7919 + (i // (w * 3)) * 31
                             + ((i % (w * 3)) // 3) * 3 + (i % 3)) % 256),
                     2, '0')),
         '')) AS pixel_hex
FROM d
""",
    tags=("multimodal", "codec", "png", "zlib", "pandas-udf"),
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A COMPRESSED image decode behind the multimodal seam
    (operators.multimodal.png_encode/png_decode — stdlib zlib, no
    codec libs): 100 synthetic patterns are encoded into real PNGs
    (chunk CRCs, one deflate-compressed IDAT, scanline filters cycling
    None/Sub/Up/Average/Paeth per row) and decoded back to canonical
    RGB. Where the BMP twin proves container parsing, THIS proves the
    dominant-web-format machinery: zlib inflate plus all five filter
    reconstructions — any botched predictor corrupts every later
    scanline of its image (filters chain on the prior row), so the
    pixel hash gate is unforgiving. Mixed widths (2-6) x height 7
    guarantee every filter type runs on every image; the oracle
    re-derives the pixels from the integer pattern formula, same as
    `multimodal_bmp_decode`."""
    return _decoded_pixel_hex(spark, sf_dir, "png", height=7)


@register(
    "pipeline_snapshot_diff",
    oracle="""
WITH v1 AS (SELECT doc_id, md5(text) AS fp FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 5 THEN md5(text || ' v2')
              ELSE md5(text) END AS fp
  FROM documents WHERE doc_id % 17 <> 3
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, md5(text) AS fp
  FROM documents WHERE doc_id % 19 = 7
),
j AS (
  SELECT CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN v1.fp <> v2.fp THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT change_type, CAST(count(*) AS BIGINT) AS n_docs
FROM j GROUP BY change_type
""",
    tags=("pipeline", "versioning", "diff"),
)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the data-versioning primitive every
    training-data release needs: given two corpus versions, count the
    added / removed / changed / unchanged documents, comparing content
    by fingerprint so the diff never shuffles text. Version 2 is
    derived deterministically from the fixture corpus (every 17th doc
    deleted, every 13th edited, every 19th cloned as a new id) so both
    engines construct the identical pair of versions and the gate pins
    the whole classification.

    Scale shape: each side reduces to (doc_id, md5) BEFORE the full
    outer join — the join key is the id and the payload is a 32-byte
    fingerprint, so a 100 TB corpus diffs by shuffling ids+hashes, not
    documents; the classification is a null-pattern CASE over the
    joined pair and the result is a 4-row aggregate."""
    d = _docs(spark, sf_dir)
    v1 = d.select("doc_id", F.md5("text").alias("fp"))
    v2 = (
        d.filter(F.col("doc_id") % 17 != 3)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 13 == 5,
                F.md5(F.concat(F.col("text"), F.lit(" v2"))),
            )
            .otherwise(F.md5("text"))
            .alias("fp"),
        )
        .unionAll(
            d.filter(F.col("doc_id") % 19 == 7).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5("text").alias("fp"),
            )
        )
    )
    j = v1.withColumnRenamed("fp", "fp1").join(
        v2.withColumnRenamed("fp", "fp2")
        .withColumnRenamed("doc_id", "doc_id2"),
        F.col("doc_id") == F.col("doc_id2"),
        "full_outer",
    )
    return (
        j.select(
            F.when(F.col("doc_id").isNull(), F.lit("added"))
            .when(F.col("doc_id2").isNull(), F.lit("removed"))
            .when(F.col("fp1") != F.col("fp2"), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("change_type")
        )
        .groupBy("change_type")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


@register(
    "pipeline_group_aware_split_leakage",
    oracle=f"""
WITH d AS (
  SELECT doc_id, md5(substr(text, 1, 64)) AS fp,
         ((((doc_id % {SHUFFLE_ID_MOD}) * {SPLIT_HASH_A})
           % {SHUFFLE_HASH_MOD}) % 100) AS naive_pct
  FROM documents
),
s AS (
  SELECT doc_id, fp,
         CASE WHEN naive_pct < 80 THEN 'train'
              WHEN naive_pct < 90 THEN 'val' ELSE 'test' END AS naive_split,
         CASE WHEN CAST(('0x' || substr(md5(fp), 1, 15)) AS BIGINT) % 100 < 80
                THEN 'train'
              WHEN CAST(('0x' || substr(md5(fp), 1, 15)) AS BIGINT) % 100 < 90
                THEN 'val' ELSE 'test' END AS aware_split
  FROM d
),
g AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT naive_split) AS BIGINT) AS naive_splits,
         CAST(count(DISTINCT aware_split) AS BIGINT) AS aware_splits
  FROM s GROUP BY fp
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS multi_doc_groups,
       CAST(SUM(CASE WHEN naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS leaked_groups_naive,
       CAST(SUM(CASE WHEN aware_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS leaked_groups_aware
FROM g
""",
    tags=("pipeline", "split", "dedup", "leakage"),
)
def pipeline_group_aware_split_leakage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/test LEAKAGE audit of split assignment: documents sharing
    a content fingerprint (here the 64-char-prefix hash — the cheap
    blocking key of the near-dup family) are one GROUP; a group
    spanning train and test contaminates evaluation. The naive
    id-hash split (`pipeline_train_val_test_split`'s assignment)
    splits multi-doc groups whenever its members' ids hash apart —
    measured side by side with the GROUP-AWARE assignment (split =
    hash of the group fingerprint), which structurally cannot leak:
    every member inherits the group's split. The query reports both
    leak counts from one scan, so the gated row proves
    ``leaked_groups_aware = 0`` while naive leaks > 0 on the same
    corpus — the reason dedup must run BEFORE splitting at 100 TB.

    Scale shape: one scan projects (doc_id, fp, two pure-arithmetic
    split labels); one fingerprint groupBy with two small DISTINCTs
    inside bounded groups; a one-row summary aggregate."""
    d = _docs(spark, sf_dir)
    naive_pct = (
        ((F.col("doc_id") % SHUFFLE_ID_MOD) * SPLIT_HASH_A) % SHUFFLE_HASH_MOD
    ) % 100
    fp = F.md5(F.substring("text", 1, 64))
    aware_pct = F.expr(tok_hash_portable_sql("fp")) % 100
    s = d.select(fp.alias("fp"), naive_pct.alias("naive_pct")).select(
        "fp",
        F.when(F.col("naive_pct") < 80, F.lit("train"))
        .when(F.col("naive_pct") < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("naive_split"),
        F.when(aware_pct < 80, F.lit("train"))
        .when(aware_pct < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("aware_split"),
    )
    g = s.groupBy("fp").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("naive_split").cast("long").alias("naive_splits"),
        F.countDistinct("aware_split").cast("long").alias("aware_splits"),
    )
    return g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("multi_doc_groups"),
        F.sum(F.when(F.col("naive_splits") > 1, 1).otherwise(0))
        .cast("long")
        .alias("leaked_groups_naive"),
        F.sum(F.when(F.col("aware_splits") > 1, 1).otherwise(0))
        .cast("long")
        .alias("leaked_groups_aware"),
    )


@register(
    "text_readability_flesch",
    oracle="""
WITH counts AS (
  SELECT doc_id,
         GREATEST(CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT), 1)
           AS words,
         GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT), 1)
           AS sentences,
         GREATEST(CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT), 1)
           AS syllables
  FROM documents
)
SELECT doc_id, words, sentences, syllables,
       CAST(floor(206835.0 - 1015.0 * words / sentences
                  - 84600.0 * syllables / words) AS BIGINT) AS flesch_milli
FROM counts
""",
    tags=("text", "quality"),
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document in exact milli-units, from three
    deterministic regex counts (word runs, sentence-punctuation runs,
    vowel-group syllable proxy — the standard dictionary-free
    heuristic). Pure per-row JVM regex work — no shuffle at all, scales
    as a map-only pass; the integer milli-unit floor makes the score
    hash-exact (the inner ratios are BIGINT/BIGINT → identical IEEE
    doubles on both engines). A quality-filter building block alongside
    text_quality_score: readability bands are a standard pretraining
    mix dimension."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        F.greatest(
            F.expr("CAST(size(regexp_extract_all(text, '[A-Za-z]+', 0)) AS BIGINT)"),
            F.lit(1).cast("bigint"),
        ).alias("words"),
        F.greatest(
            F.expr("CAST(size(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)"),
            F.lit(1).cast("bigint"),
        ).alias("sentences"),
        F.greatest(
            F.expr(
                "CAST(size(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)) AS BIGINT)"
            ),
            F.lit(1).cast("bigint"),
        ).alias("syllables"),
    )
    return counts.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.expr(
            "CAST(floor(206835.0 - 1015.0 * words / sentences"
            " - 84600.0 * syllables / words) AS BIGINT)"
        ).alias("flesch_milli"),
    )


ZIPF_TOP_R = 100
#: micro-unit quantization of the det-ln values keeps every regression
#: component an exact int64 (ln ≤ ~21 even at 2^30-token corpora →
#: xq·yq ≤ ~4.4e14, ×R rows ≪ 2^63)
_ZIPF_Q = 1_000_000
_ZIPF_SLOPE = (
    "CAST(r * sxy - sx * sy AS DOUBLE) / CAST(r * sxx - sx * sx AS DOUBLE)"
)
_ZIPF_INTERCEPT = (
    f"(CAST(sy AS DOUBLE) / {_ZIPF_Q}.0"
    f" - ({_ZIPF_SLOPE}) * CAST(sx AS DOUBLE) / {_ZIPF_Q}.0)"
    " / CAST(r AS DOUBLE)"
)


def _zipf_oracle_sql() -> str:
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()

    def stages(pfx: str, src: str, x_expr: str, keep: str, out: str) -> str:
        return f"""
{pfx}x AS (SELECT {keep}, ({x_expr}) AS x FROM {src}),
{pfx}r AS (SELECT {keep}, x, {st['e']} AS e, {st['m']} AS m FROM {pfx}x),
{pfx}t AS (SELECT {keep}, e, {st['tt']} AS tt FROM {pfx}r),
{pfx}l AS (SELECT {keep}, {st['ln']} AS {out} FROM {pfx}t)"""

    return f"""
WITH c AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS tok
        FROM documents) t
  GROUP BY tok
),
top AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
  FROM c ORDER BY n DESC, tok LIMIT {ZIPF_TOP_R}
),{stages("zx", "top", "CAST(rnk AS DOUBLE)", "n", "lx")},
withlx AS (SELECT n, lx FROM zxl),{stages("zy", "withlx", "CAST(n AS DOUBLE)", "lx", "ly")},
q AS (
  SELECT CAST(round(lx * {_ZIPF_Q}) AS BIGINT) AS xq,
         CAST(round(ly * {_ZIPF_Q}) AS BIGINT) AS yq
  FROM zyl
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS r,
         CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
         CAST(SUM(xq * yq) AS BIGINT) AS sxy,
         CAST(SUM(xq * xq) AS BIGINT) AS sxx
  FROM q
)
SELECT r AS n_ranks, {_ZIPF_SLOPE} AS zipf_slope,
       {_ZIPF_INTERCEPT} AS zipf_intercept
FROM s
"""


@register(
    "text_zipf_rank_frequency_fit",
    oracle=_zipf_oracle_sql(),
    tags=("text", "statistics", "detln"),
)
def text_zipf_rank_frequency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: OLS slope of
    ln(frequency) on ln(rank) over the top 100 tokens — natural text
    lands near −1, and a corpus whose slope drifts (template spam,
    boilerplate floods, deduplication bugs) fails the curation gate.
    Cross-engine exact: both ln's run the shared det-ln pipeline
    (bit-equal by construction), each ln is quantized to int64
    micro-units so the regression components are exact integer sums,
    and slope/intercept are fixed-order doubles over those integers.
    Scale: token counting is the partial-agg explode every text query
    uses; the fit itself touches only the TakeOrdered top-100."""
    from pyspark.sql import Window as W

    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    d = _docs(spark, sf_dir)
    top = (
        d.select(F.explode(F.expr(tokens_sql("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "tok")
        .limit(ZIPF_TOP_R)
        .withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("n"), "tok"))
        )
    )

    def ln_stages(df: DataFrame, x_expr: str, keep: list[str], out: str) -> DataFrame:
        return (
            df.selectExpr(*keep, f"({x_expr}) AS x")
            .selectExpr(*keep, "x", f"{st['e']} AS e", f"{st['m']} AS m")
            .selectExpr(*keep, "e", f"{st['tt']} AS tt")
            .selectExpr(*keep, f"{st['ln']} AS {out}")
        )

    lx = ln_stages(top, "CAST(rnk AS DOUBLE)", ["n"], "lx")
    ly = ln_stages(lx, "CAST(n AS DOUBLE)", ["lx"], "ly")
    s = ly.selectExpr(
        f"CAST(round(lx * {_ZIPF_Q}) AS BIGINT) AS xq",
        f"CAST(round(ly * {_ZIPF_Q}) AS BIGINT) AS yq",
    ).agg(
        F.count("*").alias("r"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.expr("xq * yq")).cast("long").alias("sxy"),
        F.sum(F.expr("xq * xq")).cast("long").alias("sxx"),
    )
    return s.selectExpr(
        "r AS n_ranks",
        f"{_ZIPF_SLOPE} AS zipf_slope",
        f"{_ZIPF_INTERCEPT} AS zipf_intercept",
    )


@register(
    "multimodal_png_phash_near_dup",
    oracle=_PHASH64_WORDS_ORACLE,
    tags=("multimodal", "dedup", "phash", "png", "pandas-udf"),
)
def multimodal_png_phash_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The phash64 near-dup chain over REAL PNGs — same synthetic
    patterns as the BMP twin, but the payloads travel through zlib
    compression, CRC-checked chunks, and all five scanline filters
    before the fingerprint. The oracle is IDENTICAL to the BMP twin's
    (it re-derives from the pattern formula): both queries green means
    both codecs decode to the same bits — the codec-agnostic pipeline
    contract (decode seam → fingerprint → banding → verify) holds
    regardless of container, which is exactly what a multi-format
    100 TB image corpus requires."""
    return _phash64_words_near_dup(spark, sf_dir, "png")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (SentencePiece EM shape) — the oracle
# steps IDENTICAL EM iterations in pure SQL: the Viterbi lattice is a
# recursive-CTE integer DP with a sliding 5-value best window, the
# backtrack a second recursive CTE replaying the longest-piece-first
# tie-break, and the M-step the shared det-ln micro-nat pipeline.
# ---------------------------------------------------------------------------


def _unigram_lm_oracle_sql() -> str:
    """Generated oracle twin of text_unigram_lm_train_vocab. All
    constants (max piece 4, seed cap, word cap, EM rounds, INF
    sentinel) come from operators.tokenizer; all doubles flow through
    the same det-ln stage fragments as the Spark plan, so every
    micro-nat integer — and therefore every lattice decision — is
    bit-equal across engines."""
    from ..functions.detmath import det_ln_stage_exprs
    from ..operators.tokenizer import (
        UNIGRAM_EM_ROUNDS,
        UNIGRAM_INF,
        UNIGRAM_MAX_PIECE,
        UNIGRAM_MAX_WORD,
        UNIGRAM_SEED_MULTI,
    )

    assert UNIGRAM_MAX_PIECE == 4  # the DP window below is hand-unrolled
    st = det_ln_stage_exprs()
    inf = f"CAST({UNIGRAM_INF} AS BIGINT)"

    def nll_block(r: int, src: str) -> str:
        return f""",
n{r}t AS (SELECT CAST(SUM(f) AS BIGINT) AS t FROM {src}),
n{r}x AS (SELECT piece, CAST(t AS DOUBLE) / CAST(f AS DOUBLE) AS x
          FROM {src} CROSS JOIN n{r}t),
n{r}r AS (SELECT piece, x, {st['e']} AS e, {st['m']} AS m FROM n{r}x),
n{r}s AS (SELECT piece, e, {st['tt']} AS tt FROM n{r}r),
n{r} AS MATERIALIZED (
  SELECT piece, CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS nll_ppm
  FROM n{r}s)"""

    def em_block(r: int) -> str:
        # round r consumes n{r-1}; emits counts c{r} and smoothed v{r}
        p = r - 1
        return f""",
dp{r} AS (
  SELECT word, wcount, len, 0 AS i,
         CAST(0 AS BIGINT) AS q0, {inf} AS q1, {inf} AS q2,
         {inf} AS q3, {inf} AS q4
  FROM w
  UNION ALL
  SELECT d.word, d.wcount, d.len, d.i + 1,
         LEAST(
           CASE WHEN p1.nll_ppm IS NULL THEN {inf}
                ELSE d.q0 + p1.nll_ppm END,
           CASE WHEN p2.nll_ppm IS NULL THEN {inf}
                ELSE d.q1 + p2.nll_ppm END,
           CASE WHEN p3.nll_ppm IS NULL THEN {inf}
                ELSE d.q2 + p3.nll_ppm END,
           CASE WHEN p4.nll_ppm IS NULL THEN {inf}
                ELSE d.q3 + p4.nll_ppm END
         ) AS q0,
         d.q0 AS q1, d.q1 AS q2, d.q2 AS q3, d.q3 AS q4
  FROM dp{r} d
  LEFT JOIN n{p} p1 ON p1.piece = substr(d.word, d.i + 1, 1)
  LEFT JOIN n{p} p2 ON d.i >= 1 AND p2.piece = substr(d.word, d.i, 2)
  LEFT JOIN n{p} p3 ON d.i >= 2 AND p3.piece = substr(d.word, d.i - 1, 3)
  LEFT JOIN n{p} p4 ON d.i >= 3 AND p4.piece = substr(d.word, d.i - 2, 4)
  WHERE d.i < d.len
),
dm{r} AS MATERIALIZED (SELECT * FROM dp{r}),
bt{r} AS (
  SELECT word, wcount, len AS i, CAST(NULL AS VARCHAR) AS piece FROM w
  UNION ALL
  SELECT word, wcount, i - l AS i,
         substr(word, CAST(i - l + 1 AS INT), CAST(l AS INT)) AS piece
  FROM (
    SELECT b.word, b.wcount, b.i,
           CASE WHEN b.i >= 4 AND e4.nll_ppm IS NOT NULL
                     AND d.q4 + e4.nll_ppm = d.q0 THEN 4
                WHEN b.i >= 3 AND e3.nll_ppm IS NOT NULL
                     AND d.q3 + e3.nll_ppm = d.q0 THEN 3
                WHEN b.i >= 2 AND e2.nll_ppm IS NOT NULL
                     AND d.q2 + e2.nll_ppm = d.q0 THEN 2
                ELSE 1 END AS l
    FROM bt{r} b
    JOIN dm{r} d ON d.word = b.word AND d.i = b.i
    LEFT JOIN n{p} e2 ON b.i >= 2 AND e2.piece = substr(b.word, b.i - 1, 2)
    LEFT JOIN n{p} e3 ON b.i >= 3 AND e3.piece = substr(b.word, b.i - 2, 3)
    LEFT JOIN n{p} e4 ON b.i >= 4 AND e4.piece = substr(b.word, b.i - 3, 4)
    WHERE b.i > 0
  )
),
c{r} AS MATERIALIZED (
  SELECT piece, CAST(SUM(wcount) AS BIGINT) AS cnt
  FROM bt{r} WHERE piece IS NOT NULL GROUP BY piece
),
v{r} AS MATERIALIZED (
  SELECT v0.piece, CAST(COALESCE(c{r}.cnt, 0) + 1 AS BIGINT) AS f
  FROM v0 LEFT JOIN c{r} USING (piece)
)"""

    rounds = "".join(
        em_block(r) + nll_block(r, f"v{r}")
        for r in range(1, UNIGRAM_EM_ROUNDS + 1)
    )
    last = UNIGRAM_EM_ROUNDS
    return f"""
WITH RECURSIVE
w AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcount,
         CAST(length(word) AS INT) AS len
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
          AS word
        FROM documents)
  GROUP BY word
  HAVING length(word) <= {UNIGRAM_MAX_WORD}
),
s1 AS (SELECT word, wcount, len, unnest(range(1, len + 1)) AS pos FROM w),
s2 AS (SELECT word, wcount, pos,
              unnest(range(1, least({UNIGRAM_MAX_PIECE},
                                    len - pos + 1) + 1)) AS plen
       FROM s1),
sub AS MATERIALIZED (
  SELECT substr(word, CAST(pos AS INT), CAST(plen AS INT)) AS piece,
         CAST(SUM(wcount) AS BIGINT) AS f
  FROM s2 GROUP BY piece
),
v0 AS MATERIALIZED (
  SELECT piece, f FROM sub WHERE length(piece) = 1
  UNION ALL
  SELECT piece, f FROM (
    SELECT piece, f FROM sub WHERE length(piece) > 1
    ORDER BY f DESC, piece LIMIT {UNIGRAM_SEED_MULTI})
){nll_block(0, 'v0')}{rounds}
SELECT v0.piece AS piece,
       CAST(COALESCE(c{last}.cnt, 0) AS BIGINT) AS cnt,
       n{last}.nll_ppm AS nll_ppm
FROM v0
LEFT JOIN c{last} USING (piece)
JOIN n{last} USING (piece)
"""


@register(
    "text_unigram_lm_train_vocab",
    oracle=_unigram_lm_oracle_sql(),
    tags=("text", "tokenizer", "unigram", "em", "scale"),
)
def text_unigram_lm_train_vocab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece shape) beside BPE:
    seed vocab = capped substrings of the corpus-collapsed distinct
    words (chars always kept), then EM rounds of Viterbi E-step +
    +1-smoothed det-ln M-step — see operators.tokenizer.unigram_lm_train
    for the full scale design (the only 100 TB pass is the word
    collapse; every EM round runs over the distinct-word table, Python
    touches it only via Arrow, and all lattice arithmetic is integer
    micro-nats so the result is bit-equal to this query's generated
    recursive-CTE oracle)."""
    from ..operators.tokenizer import unigram_lm_train

    return unigram_lm_train(load_table(spark, sf_dir, "documents"))


@register(
    "multimodal_gif_decode",
    oracle="""
WITH d AS (SELECT doc_id, doc_id % 5 + 6 AS w, 8 AS h
           FROM documents WHERE doc_id < 100)
SELECT doc_id AS item_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       lower(array_to_string(
         list_transform(range(0, w * h * 3),
           i -> lpad(to_hex(
             CASE (i % 3)
               WHEN 0 THEN (doc_id * 37
                 + ((doc_id * 7919 + (i // (w * 3)) * 31
                     + (((i % (w * 3)) // 3) // 2) * 3) % 16) * 11) % 256
               WHEN 1 THEN (doc_id * 59
                 + ((doc_id * 7919 + (i // (w * 3)) * 31
                     + (((i % (w * 3)) // 3) // 2) * 3) % 16) * 23) % 256
               ELSE (doc_id * 83
                 + ((doc_id * 7919 + (i // (w * 3)) * 31
                     + (((i % (w * 3)) // 3) // 2) * 3) % 16) * 29) % 256
             END), 2, '0')),
         '')) AS pixel_hex
FROM d
""",
    tags=("multimodal", "codec", "gif", "lzw", "pandas-udf"),
)
def multimodal_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The THIRD compression family behind the codec seam
    (operators.multimodal.gif_encode/gif_decode — stdlib-only): 100
    synthetic palette patterns are encoded into real GIF87a files
    (global color table, LZW-compressed sub-blocks) and decoded back
    to canonical RGB. BMP proved containers and PNG proved
    zlib/deflate; GIF-LZW is a genuinely different algorithm — a
    variable-width code table grown symmetrically by encoder and
    decoder (3→12-bit codes, CLEAR/EOI control codes, the cScSc
    self-reference case) where one misplaced width bump corrupts every
    later code in the stream, so the pixel hash gate is unforgiving.
    The div-2 run structure in the pattern forces real multi-symbol
    dictionary entries; the oracle re-derives every pixel from the
    integer palette formula, same as the BMP/PNG twins."""
    return _decoded_pixel_hex(spark, sf_dir, "gif")


@register(
    "multimodal_gif_frame_sample",
    oracle="""
WITH d AS (SELECT doc_id, doc_id % 4 + 5 AS w, 6 AS h,
                  doc_id % 3 + 4 AS n_frames
           FROM documents WHERE doc_id < 50),
fr AS (SELECT doc_id, w, h, CAST(unnest(range(0, n_frames)) AS BIGINT) AS f
       FROM d)
SELECT doc_id AS item_id,
       CAST(f AS INT) AS frame_idx,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       lower(array_to_string(
         list_transform(range(0, w * h * 3),
           i -> lpad(to_hex(
             CASE (i % 3)
               WHEN 0 THEN (doc_id * 37
                 + ((doc_id * 7919 + f * 101 + (i // (w * 3)) * 31
                     + (((i % (w * 3)) // 3) // 2) * 3) % 16) * 11) % 256
               WHEN 1 THEN (doc_id * 59
                 + ((doc_id * 7919 + f * 101 + (i // (w * 3)) * 31
                     + (((i % (w * 3)) // 3) // 2) * 3) % 16) * 23) % 256
               ELSE (doc_id * 83
                 + ((doc_id * 7919 + f * 101 + (i // (w * 3)) * 31
                     + (((i % (w * 3)) // 3) // 2) * 3) % 16) * 29) % 256
             END), 2, '0')),
         '')) AS pixel_hex
FROM fr WHERE f % 2 = 0
""",
    tags=("multimodal", "codec", "gif", "video", "frame-sample"),
)
def multimodal_gif_frame_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VIDEO-shaped decode behind the codec seam: 50 synthetic
    animations (4-6 frames each) are encoded into REAL animated GIF89a
    containers (per-frame Graphic Control Extensions + independent LZW
    streams) and frame-SAMPLED — every 2nd frame decoded, the rest
    skipped at the container level — the training-pipeline read where
    a job never inflates the whole stream
    (operators.multimodal.sample_gif_frames). A genuine end-to-end
    decode beside the byte-range frame sampler: the oracle
    re-derives every sampled frame's pixels from the integer pattern
    formula, so a hash-green row pins container walking (extension
    skipping, sub-block framing), per-frame LZW, and the sampling rule
    all at once."""
    from ..operators.multimodal import (
        encode_synthetic_gif_animations,
        sample_gif_frames,
    )

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50).select("doc_id")
    clips = encode_synthetic_gif_animations(d, "doc_id")
    sampled = sample_gif_frames(clips.select("item_id", "payload"))
    return sampled.select(
        "item_id",
        "frame_idx",
        "width",
        "height",
        F.lower(F.hex("pixels")).alias("pixel_hex"),
    )


#: RAG/training-prep chunking geometry: 32-token windows, stride 24
#: (25% overlap) — the standard context-window packing shape. Both
#: constants are shared with the generated oracle SQL.
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


@register(
    "text_chunk_sliding_tokens",
    oracle=f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(s // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(s AS INT) AS start_tok,
       CAST(least(len(toks) - s, {CHUNK_TOKENS}) AS INT) AS n_chunk_tokens,
       md5(array_to_string(
             list_slice(toks, s + 1, s + {CHUNK_TOKENS}), ' '))
         AS chunk_hash
FROM d, unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS g(s)
""",
    tags=("text", "chunking", "rag", "scale"),
)
def text_chunk_sliding_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking — the RAG / context-window packing
    primitive: every document becomes overlapping 32-token
    chunks at stride 24 (25% overlap so no boundary
    sentence is lost to a cut). Emitted as (doc, chunk_idx, start,
    length, md5-of-chunk-text) — the hash both keeps the gated result
    small and IS the downstream chunk-level dedup key.

    Scale shape: one tokenize + one ``explode(sequence(...))`` per row
    — a pure per-document flatMap, no shuffle, no window; output rows ≈
    tokens/stride. At 100 TB this is a single WholeStageCodegen scan
    stage whose cost is the regexp split it already shares with every
    token-level query."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.expr(tokens_sql("text")).alias("toks")
    )
    s = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(f"sequence(0, size(toks) - 1, {CHUNK_STRIDE})")
        ).alias("s"),
    )
    return s.select(
        "doc_id",
        (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
        F.col("s").cast("int").alias("start_tok"),
        F.least(
            F.size("toks") - F.col("s"), F.lit(CHUNK_TOKENS)
        ).cast("int").alias("n_chunk_tokens"),
        F.md5(
            F.array_join(
                F.slice(F.col("toks"), F.col("s") + 1, CHUNK_TOKENS), " "
            )
        ).alias("chunk_hash"),
    )


#: Content-defined chunking cut rule: a chunk boundary falls AFTER any
#: token whose portable 60-bit hash ≡ 0 (mod 8) — expected chunk length
#: 8 tokens. Content-defined (FastCDC/rsync-style) boundaries survive
#: insertions: editing one sentence only re-chunks its neighborhood,
#: so chunk-hash dedup still matches everything downstream of the edit.
CDC_BOUNDARY_MOD = 8


@register(
    "text_chunk_content_defined",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(text, '\\s+')) AS tok,
         CAST(unnest(generate_series(
             1, len(regexp_split_to_array(text, '\\s+')))) - 1 AS INT) AS pos
  FROM documents
),
b AS (
  SELECT doc_id, tok, pos,
         CASE WHEN CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                   % {CDC_BOUNDARY_MOD} = 0
              THEN 1 ELSE 0 END AS cut_after
  FROM t
),
c AS (
  SELECT doc_id, tok, pos,
         CAST(COALESCE(SUM(cut_after) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS INT) AS chunk_idx
  FROM b
)
SELECT doc_id, chunk_idx,
       CAST(MIN(pos) AS INT) AS start_tok,
       CAST(COUNT(*) AS INT) AS n_chunk_tokens,
       md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
FROM c
GROUP BY doc_id, chunk_idx
""",
    tags=("text", "chunking", "cdc", "scale"),
)
def text_chunk_content_defined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking: boundaries fall where token content
    says so (portable hash ≡ 0 mod 8, expected chunk
    ≈ 8 tokens), not at fixed offsets — the dedup-stable chunker
    (FastCDC / rsync lineage): inserting a sentence shifts every
    fixed-window chunk after it, but content-defined cut points
    re-align immediately, so chunk-hash dedup still matches the
    untouched tail. Chunk identity = md5 of the joined chunk text.

    Scale shape: posexplode → hash flag (WholeStageCodegen) → one
    cumulative sum windowed PER DOCUMENT (bounded state: a document's
    tokens, never the corpus) → one (doc, chunk) aggregation with
    map-side partials. The only shuffle is doc-keyed; skew is bounded
    by max document length."""
    return content_defined_chunks(_docs(spark, sf_dir))


def content_defined_chunks(docs: DataFrame) -> DataFrame:
    """The CDC chunker core over any (doc_id, text) frame — shared by
    the registered batch query, the chunk-overlap near-dup join, and
    the streaming incremental-dedup ledger (which chunks each
    micro-batch with this exact plan, so the streamed ledger is
    definitionally the batch derivation)."""
    d = docs.select("doc_id", F.expr(tokens_sql("text")).alias("toks"))
    t = d.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    b = t.withColumn(
        "cut_after",
        F.when(
            F.expr(tok_hash_portable_sql("tok")) % CDC_BOUNDARY_MOD == 0, 1
        ).otherwise(0),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = b.withColumn(
        "chunk_idx", F.coalesce(F.sum("cut_after").over(w), F.lit(0)).cast("int")
    )
    return (
        c.groupBy("doc_id", "chunk_idx")
        .agg(
            F.min("pos").cast("int").alias("start_tok"),
            F.count("*").cast("int").alias("n_chunk_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("chunk_hash"),
        )
        .select(
            "doc_id", "chunk_idx", "start_tok", "n_chunk_tokens", "chunk_hash"
        )
    )


#: chi-squared feature selection: minimum document frequency for a
#: token to be considered (kills singleton noise), and the per-class
#: report size.
CHI2_MIN_DF = 5
CHI2_TOP_K = 10


def _chi2_oracle_sql() -> str:
    """Oracle twin of text_chi2_token_lang — identical contingency
    counts and the identical two-step integer floor-divide (HUGEINT on
    the DuckDB side, DECIMAL(38,0) on Spark's), so the ranking statistic
    is bit-equal by construction."""
    return f"""
WITH pres AS (
  SELECT DISTINCT doc_id, lang,
         unnest(regexp_split_to_array(text, '\\s+')) AS tok
  FROM documents
),
a AS (
  SELECT tok, lang, CAST(COUNT(*) AS BIGINT) AS a
  FROM pres GROUP BY tok, lang
),
dfreq AS (SELECT tok, CAST(SUM(a) AS BIGINT) AS df FROM a GROUP BY tok),
lt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS dl
       FROM documents GROUP BY lang),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS d_all FROM documents),
cells AS (
  SELECT a.tok, a.lang, a.a, dfreq.df - a.a AS b,
         lt.dl - a.a AS c, tot.d_all - lt.dl - (dfreq.df - a.a) AS d,
         dfreq.df, lt.dl, tot.d_all
  FROM a JOIN dfreq USING (tok) JOIN lt USING (lang) CROSS JOIN tot
  WHERE dfreq.df >= {CHI2_MIN_DF} AND dfreq.df < tot.d_all
),
scored AS (
  SELECT tok, lang,
         a, b, c, d,
         CAST(((CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
               * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
               // (CAST(df AS HUGEINT) * (d_all - df)))
              * d_all * 1000000
              // (CAST(dl AS HUGEINT) * (d_all - dl)) AS BIGINT)
           AS chi2_ppm
  FROM cells
  WHERE CAST(a AS HUGEINT) * d > CAST(b AS HUGEINT) * c
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY lang
               ORDER BY chi2_ppm DESC, tok) AS INT) AS rank
  FROM scored
)
SELECT lang, tok, a AS n_docs_in_class, b AS n_docs_other,
       chi2_ppm, rank
FROM ranked WHERE rank <= {CHI2_TOP_K}
"""


@register(
    "text_chi2_token_lang",
    oracle=_chi2_oracle_sql(),
    tags=("text", "feature-selection", "chi2", "integer-exact", "scale"),
)
def text_chi2_token_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared feature selection: the top tokens most indicative of
    each language label by the 2×2 document-presence contingency test —
    the classic supervised vocabulary-pruning step before training a
    quality/topic classifier (keep the K strongest features per class,
    drop the rest of the embedding table). Restricted to POSITIVE
    association (ad > bc) so "indicative of" means over-represented,
    not merely non-independent; tokens present in every document carry
    zero signal and are excluded with the df < N guard (their 2×2 row
    margin is degenerate — χ² would divide by zero).

    Exactness: χ²·1e6 = N·(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is evaluated
    as the two-step integer floor-divide ((ad−bc)² // (df·(N−df))) ·
    N · 1e6 // (D_l·(N−D_l)) in DECIMAL(38,0)/HUGEINT — both engines
    run the identical step order, so the statistic is bit-equal (the
    intermediate stays < 10^38 for any corpus below ~10^9 documents
    per analysis; beyond that the first divide must move inboard,
    documented like detmath's domain bound).

    Scale shape: one DISTINCT over (doc, lang, token) presence
    (map-side partial dedup), two stacked aggregations (token×class,
    then token margins), one 5-row broadcast of class totals, and a
    per-class WindowGroupLimit for the top-K — no all-pairs stage,
    output bounded by classes × K."""
    d = _docs(spark, sf_dir)
    pres = d.select(
        "doc_id", "lang", F.explode(F.expr(tokens_sql("text"))).alias("tok")
    ).distinct()
    a = pres.groupBy("tok", "lang").agg(F.count("*").cast("long").alias("a"))
    dfreq = a.groupBy("tok").agg(F.sum("a").cast("long").alias("df"))
    lt = d.groupBy("lang").agg(F.count("*").cast("long").alias("dl"))
    tot = d.agg(F.count("*").cast("long").alias("d_all"))
    cells = (
        a.join(dfreq, "tok")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("df") >= CHI2_MIN_DF) & (F.col("df") < F.col("d_all"))
        )
        .selectExpr(
            "tok",
            "lang",
            "a",
            "df - a AS b",
            "dl - a AS c",
            "d_all - dl - (df - a) AS d",
            "df",
            "dl",
            "d_all",
        )
    )
    scored = cells.selectExpr(
        "tok",
        "lang",
        "a",
        "b",
        "c",
        "d",
        "CAST(((CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)"
        "      * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)"
        "      DIV (CAST(df AS DECIMAL(38,0)) * (d_all - df)))"
        "     * d_all * 1000000"
        "     DIV (CAST(dl AS DECIMAL(38,0)) * (d_all - dl)) AS BIGINT)"
        " AS chi2_ppm",
    ).where(
        F.expr("CAST(a AS DECIMAL(38,0)) * d > CAST(b AS DECIMAL(38,0)) * c")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("chi2_ppm"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= CHI2_TOP_K)
        .select(
            "lang",
            "tok",
            F.col("a").alias("n_docs_in_class"),
            F.col("b").alias("n_docs_other"),
            "chi2_ppm",
            "rank",
        )
    )


#: Naive-Bayes train/serve split: the portable doc_id hash mod 5 — the
#: same deterministic splitter family as pipeline_train_val_test_split
#: (bucket 0 = held-out test fold, 1-4 = train).
NB_SPLIT_MOD = 5


def _nb_oracle_sql() -> str:
    """Oracle twin of text_naive_bayes_langid_confusion — the same
    hash split, add-one-smoothed multinomial model, and per-value
    det-ln→micro-nat quantization, so every class score is an exact
    int64 and the argmax (score desc, lang asc) is deterministic."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()

    def chain(src: str, xexpr: str, out: str, keep: str) -> str:
        return f"""
{out}_x AS (SELECT {keep}, CAST({xexpr} AS DOUBLE) AS x FROM {src}),
{out}_r AS (SELECT {keep}, x, {st['e']} AS e, {st['m']} AS m FROM {out}_x),
{out}_t AS (SELECT {keep}, e, {st['tt']} AS tt FROM {out}_r),
{out} AS (SELECT {keep},
          CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS lnv
          FROM {out}_t)"""

    return f"""
WITH split AS (
  SELECT *,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
           % {NB_SPLIT_MOD} = 0 AS is_test
  FROM documents
),
ttoks AS (
  SELECT doc_id, lang,
         unnest(regexp_split_to_array(text, '\\s+')) AS tok
  FROM split WHERE NOT is_test
),
wl AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM ttoks GROUP BY lang, tok),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab FROM ttoks),
lstat AS (
  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS t_l
  FROM wl GROUP BY lang
),
dstat AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS d_l
  FROM split WHERE NOT is_test GROUP BY lang
),
{chain('wl', 'cnt + 1', 'wln', 'lang, tok')},
{chain('lstat, v', 't_l + vocab', 'ltv', 'lang')},
{chain('dstat', 'd_l', 'ldl', 'lang')},
etoks AS (
  SELECT doc_id, lang AS actual_lang,
         unnest(regexp_split_to_array(text, '\\s+')) AS tok
  FROM split WHERE is_test
),
edocs AS (
  SELECT doc_id, actual_lang, CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM etoks GROUP BY doc_id, actual_lang
),
s1 AS (
  SELECT e.doc_id, w.lang, CAST(SUM(w.lnv) AS BIGINT) AS sum_ln
  FROM etoks e JOIN wln w USING (tok)
  GROUP BY e.doc_id, w.lang
),
scores AS (
  SELECT d.doc_id, d.actual_lang, ltv.lang,
         COALESCE(s1.sum_ln, 0)
           - d.n_tokens * ltv.lnv + ldl.lnv AS score_ppm
  FROM edocs d
  CROSS JOIN ltv
  JOIN ldl ON ldl.lang = ltv.lang
  LEFT JOIN s1 ON s1.doc_id = d.doc_id AND s1.lang = ltv.lang
),
pred AS (
  SELECT doc_id, actual_lang, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_ppm DESC, lang) AS rk
  FROM scores
)
SELECT actual_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rk = 1
GROUP BY actual_lang, pred_lang
"""


@register(
    "text_naive_bayes_langid_confusion",
    oracle=_nb_oracle_sql(),
    tags=("text", "classifier", "naive-bayes", "integer-exact", "scale"),
)
def text_naive_bayes_langid_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAINED text classifier, fastText-shape: a multinomial Naive
    Bayes language identifier fit on the 80% train fold (portable
    doc_id hash mod 5 ≠ 0) and evaluated on the held-out 20%, reported
    as the (actual, predicted) confusion matrix. This is the
    quality/domain-classifier training stage of an LLM data pipeline
    (CCNet/Dolma-style) reduced to its counting core: fit = one
    (class, token) aggregation, serve = one token-keyed join — next to
    text_langid_confusion's zero-training heuristic, this is the
    supervised path.

    Model: add-one smoothing, score(doc, l) = Σ_tok L(cnt[tok,l]+1)
    − n_tokens·L(T_l + V) + L(D_l), every L a det-ln floored to integer
    micro-nats so scores are exact int64 and argmax (score desc, lang
    asc) is bit-deterministic; the shared −n·ln-denominator form means
    tokens unseen in a class contribute exactly their smoothed mass
    without materializing the dense (vocab × class) table. Domain:
    every class must appear in the train fold (L(D_l) needs D_l ≥ 1) —
    guaranteed by any stratified corpus.

    Scale shape: train is one groupBy over (class, token) with
    map-side partials; det-ln runs over the VOCAB×class table only,
    never the token stream; serve is one equi-join on token (the
    model side is vocab-sized — broadcastable when the vocabulary is;
    here AQE decides) followed by a (doc, class) aggregation and a
    5-row-per-doc argmax window. Output is classes², not rows."""
    d = nb_split_docs(_docs(spark, sf_dir))
    train = d.where(~F.col("is_test"))
    test = d.where(F.col("is_test"))
    return nb_confusion_from_counts(
        nb_train_counts(train), nb_doc_counts(train), test
    )


def nb_split_docs(docs: DataFrame) -> DataFrame:
    """The NB train/test splitter: portable doc_id hash mod
    NB_SPLIT_MOD, bucket 0 held out (adds ``is_test``)."""
    return docs.withColumn(
        "is_test",
        F.expr(tok_hash_portable_sql("CAST(doc_id AS STRING)")) % NB_SPLIT_MOD == 0,
    )


def nb_train_counts(train: DataFrame) -> DataFrame:
    """The NB model's ADDITIVE state: (lang, tok, cnt) multinomial
    counts over the train fold — one map-side-combinable groupBy.
    Additivity is what lets the streaming twin maintain this table per
    micro-batch under the exactly-once commit-log protocol."""
    ttoks = train.select(
        "lang", F.explode(F.expr(tokens_sql("text"))).alias("tok")
    )
    return ttoks.groupBy("lang", "tok").agg(
        F.count("*").cast("long").alias("cnt")
    )


def nb_doc_counts(train: DataFrame) -> DataFrame:
    """The prior's additive state: per-class train document counts."""
    return train.groupBy("lang").agg(
        F.count("*").cast("long").alias("d_l")
    )


def _detln_chain(df: DataFrame, xexpr: str, keep: list[str]) -> DataFrame:
    """Four narrow det-ln projections over ``df`` (column ``lnv`` out,
    floored integer micro-nats) — the per-row form shared by the NB
    batch query, its streaming twin, and the WOE encoder."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    d1 = df.selectExpr(*keep, f"CAST({xexpr} AS DOUBLE) AS x")
    d2 = d1.selectExpr(*keep, "x", f"{st['e']} AS e", f"{st['m']} AS m")
    d3 = d2.selectExpr(*keep, "e", f"{st['tt']} AS tt")
    return d3.selectExpr(
        *keep, f"CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS lnv"
    )


def nb_confusion_from_counts(
    wl: DataFrame, dstat: DataFrame, test: DataFrame
) -> DataFrame:
    """The NB serve tail shared by the batch query and the streaming
    twin: given the committed model state — (lang, tok, cnt) counts and
    per-class doc counts — score the test fold and report the
    (actual, predicted) confusion matrix. Because the state tables are
    additive, a streaming-maintained final state EQUALS the batch
    aggregation and this tail is gated by the identical oracle."""
    chain = _detln_chain
    vocab = int(wl.select("tok").distinct().count())
    lstat = wl.groupBy("lang").agg(F.sum("cnt").cast("long").alias("t_l"))

    wln = chain(wl, "cnt + 1", ["lang", "tok"])
    ltv = chain(lstat, f"t_l + {vocab}", ["lang"]).withColumnRenamed(
        "lnv", "ln_tv"
    )
    ldl = chain(dstat, "d_l", ["lang"]).withColumnRenamed("lnv", "ln_dl")
    langs = ltv.join(ldl, "lang")

    etoks = test.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        F.explode(F.expr(tokens_sql("text"))).alias("tok"),
    )
    edocs = etoks.groupBy("doc_id", "actual_lang").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    s1 = (
        etoks.join(wln, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum("lnv").cast("long").alias("sum_ln"))
    )
    scores = (
        edocs.crossJoin(F.broadcast(langs))
        .join(s1, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "actual_lang",
            "lang",
            (
                F.coalesce(F.col("sum_ln"), F.lit(0))
                - F.col("n_tokens") * F.col("ln_tv")
                + F.col("ln_dl")
            ).alias("score_ppm"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_ppm"), "lang")
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .groupBy("actual_lang", F.col("lang").alias("pred_lang"))
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def text_bpe_encode_sql() -> str:
    """Oracle for operators.tokenizer.bpe_encode_doc_lengths: the
    shared unrolled training chain's final symbol table s{n} collapsed
    to per-word piece counts, joined back to the per-document word
    stream — the encode step carried by the identical generated SQL
    that already gates training and vocab."""
    from ..operators.tokenizer import BPE_N_MERGES

    n = BPE_N_MERGES
    return f"""{_bpe_ctes(n)},
wlen AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS n_pieces
  FROM s{n} GROUP BY word
),
dwords AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> ''))
           AS word
  FROM documents
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_pieces) AS BIGINT) AS n_bpe_pieces,
       CAST(SUM(n_pieces) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         AS pieces_per_word
FROM dwords JOIN wlen USING (word)
GROUP BY doc_id"""


@register(
    "text_bpe_encode_lengths",
    oracle=text_bpe_encode_sql(),
    tags=("text", "tokens", "bpe", "encode"),
)
def text_bpe_encode_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the serve half the train/vocab queries were
    missing: per-document token counts under the learned merge table,
    the number sequence packing and context-window budgeting actually
    consume (text_bpe_token_count's regex is the zero-training
    ESTIMATE; this is the real tokenizer's answer). Encoding a word
    depends only on the word, so the plan encodes the DISTINCT-word
    table once (the same corpus-collapsed symbol chain the trainer
    runs) and joins piece counts back to the word stream — the token
    stream is scanned once, never segmented row-by-row
    (operators.tokenizer.bpe_encode_doc_lengths)."""
    from ..operators.tokenizer import bpe_encode_doc_lengths

    return bpe_encode_doc_lengths(_docs(spark, sf_dir))


@register(
    "streaming_naive_bayes_langid",
    oracle=_nb_oracle_sql(),
    tags=("text", "classifier", "naive-bayes", "streaming", "integer-exact"),
)
def streaming_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Naive-Bayes language classifier TRAINED ON THE STREAM: each
    micro-batch's train-fold (class, token) and (class, doc) counts
    are appended to committed model tables and summed on read under
    the exactly-once commit-log protocol (streaming.pipeline.
    nb_counts_batch_fn — high-watermark replay guard, append-only
    parquet state, the same machinery as the PSI/CMS/KMV/MG/AUC
    streaming families); after the bounded corpus drains, the
    committed model EQUALS the batch aggregation, so serving the
    held-out fold through the shared tail is gated by the IDENTICAL
    oracle as `text_naive_bayes_langid_confusion` — online classifier
    training with a bit-exact correctness story. Model state is
    vocab×class-sized, never corpus-sized."""
    from ..streaming.pipeline import run_bounded_nb_training

    return run_bounded_nb_training(spark, sf_dir)


def _gif_pix_sql(fexpr: str) -> str:
    """The synthetic animation's exact per-byte RGB value at frame
    ``fexpr``, byte index ``i`` (the same integer pattern formula the
    GIF frame-sample oracle re-derives) — shared by the motion-profile
    oracle below so SAD is computed from first principles."""
    c = (
        f"((doc_id * 7919 + ({fexpr}) * 101 + (i // (w * 3)) * 31"
        " + (((i % (w * 3)) // 3) // 2) * 3) % 16)"
    )
    return (
        f"CASE (i % 3)"
        f" WHEN 0 THEN (doc_id * 37 + {c} * 11) % 256"
        f" WHEN 1 THEN (doc_id * 59 + {c} * 23) % 256"
        f" ELSE (doc_id * 83 + {c} * 29) % 256 END"
    )


@register(
    "multimodal_gif_motion_profile",
    oracle=f"""
WITH d AS (SELECT doc_id, doc_id % 4 + 5 AS w, 6 AS h,
                  doc_id % 3 + 4 AS n_frames
           FROM documents WHERE doc_id < 50),
pr AS (SELECT doc_id, w, h,
              CAST(unnest(range(0, n_frames - 1)) AS BIGINT) AS f
       FROM d)
SELECT doc_id AS item_id,
       CAST(f AS INT) AS frame_from,
       CAST(f + 1 AS INT) AS frame_to,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         list_transform(range(0, w * h * 3),
           i -> CAST(abs(({_gif_pix_sql('f')}) - ({_gif_pix_sql('f + 1')}))
                AS BIGINT))),
         (acc, x) -> acc + x) AS BIGINT) AS sad,
       CAST(w * h * 3 AS INT) AS n_bytes
FROM pr
""",
    tags=("multimodal", "codec", "gif", "video", "motion"),
)
def multimodal_gif_motion_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shot-boundary / motion estimation over REAL decoded animation:
    every consecutive frame pair's exact integer sum-of-absolute-RGB-
    differences (operators.multimodal.gif_motion_profile) — the
    video-pipeline read behind cut detection and static-clip pruning (a
    scene cut is a SAD spike, frozen footage a SAD floor). Decodes the
    full animated-GIF LZW stream; diffs are vectorized in the Arrow
    batch and the payload never shuffles — output is n_frames−1 narrow
    rows per clip at any resolution. The oracle re-derives both frames'
    pixels from the integer pattern formula and replays the identical
    |a−b| fold, so a green row pins decode AND the motion arithmetic."""
    from ..operators.multimodal import (
        encode_synthetic_gif_animations,
        gif_motion_profile,
    )

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50).select("doc_id")
    clips = encode_synthetic_gif_animations(d, "doc_id")
    return gif_motion_profile(clips.select("item_id", "payload"))


@register(
    "multimodal_wav_autocorrelation",
    oracle="""
WITH d AS (SELECT doc_id AS did, doc_id % 50 + 20 AS n
           FROM documents WHERE doc_id < 100),
sm AS (
  SELECT did, n, i, ((did * 31 + i * 7) % 2048) - 1024 AS s
  FROM d, LATERAL (SELECT unnest(range(0, n)) AS i) u
),
r0 AS (SELECT did, CAST(SUM(s * s) AS BIGINT) AS r0 FROM sm GROUP BY did),
lagged AS (
  SELECT a.did, l.lag,
         CAST(SUM(a.s * b.s) AS BIGINT) AS r_lag
  FROM sm a
  CROSS JOIN (VALUES (CAST(1 AS INT)), (CAST(2 AS INT)), (CAST(4 AS INT)))
    l(lag)
  JOIN sm b ON b.did = a.did AND b.i = a.i - l.lag
  GROUP BY a.did, l.lag
)
SELECT lagged.did AS item_id, lagged.lag, r0.r0, lagged.r_lag,
       CAST(lagged.r_lag * 1000000 // r0.r0 AS BIGINT) AS r_ppm
FROM lagged JOIN r0 ON r0.did = lagged.did
""",
    tags=("multimodal", "codec", "wav", "audio", "integer-exact"),
)
def multimodal_wav_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audio periodicity/pitch profile over REAL decoded WAV: integer
    autocorrelation at lags 1/2/4 beside the total energy R(0)
    (operators.multimodal.wav_autocorrelation) — the spectral-shaped
    feature that stays EXACTLY representable (a DFT's transcendental
    twiddle factors can never cross-engine match; autocorrelation is
    pure int64 products). The oracle re-derives every sample from the
    synthetic waveform formula and replays the identical lag products,
    so a green row pins the container decode AND the estimator. r_ppm
    divides the same two integers on both engines (truncation toward
    zero verified for the engines' DIV//)."""
    from ..operators.multimodal import encode_synthetic, wav_autocorrelation

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id")
    wavs = encode_synthetic(d, "doc_id", "wav")
    return wav_autocorrelation(wavs.select("item_id", "payload"))


#: chunk-overlap near-dup thresholds: chunks present in more than
#: CHUNK_DF_CAP documents are boilerplate (headers, license blocks) and
#: excluded from pairing — the stopword move, applied at chunk
#: granularity; pairs sharing at least half the smaller document's
#: distinct chunks are flagged.
CHUNK_DF_CAP = 20
CHUNK_OVERLAP_MIN_PPM = 500_000


def _chunk_overlap_oracle_sql() -> str:
    """Oracle twin of dedup_chunk_overlap_pairs: the identical
    content-defined chunk derivation (shared cut rule), boilerplate
    cap, pair join, and integer overlap threshold."""
    return f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(text, '\\s+')) AS tok,
         CAST(unnest(generate_series(
             1, len(regexp_split_to_array(text, '\\s+')))) - 1 AS INT) AS pos
  FROM documents
),
b AS (
  SELECT doc_id, tok, pos,
         CASE WHEN CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                   % {CDC_BOUNDARY_MOD} = 0
              THEN 1 ELSE 0 END AS cut_after
  FROM t
),
c AS (
  SELECT doc_id, tok, pos,
         CAST(COALESCE(SUM(cut_after) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS INT) AS chunk_idx
  FROM b
),
ch AS (
  SELECT DISTINCT doc_id,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
  FROM c GROUP BY doc_id, chunk_idx
),
keep AS (
  SELECT chunk_hash FROM ch GROUP BY chunk_hash
  HAVING COUNT(*) <= {CHUNK_DF_CAP}
),
chk AS (SELECT ch.* FROM ch JOIN keep USING (chunk_hash)),
nsz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks
        FROM chk GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS shared_chunks
  FROM chk a JOIN chk b
    ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, p.shared_chunks,
       na.n_chunks AS n_a, nb.n_chunks AS n_b,
       CAST(p.shared_chunks * 1000000
            // least(na.n_chunks, nb.n_chunks) AS BIGINT) AS overlap_ppm
FROM pairs p
JOIN nsz na ON na.doc_id = p.doc_a
JOIN nsz nb ON nb.doc_id = p.doc_b
WHERE p.shared_chunks * 1000000
      >= {CHUNK_OVERLAP_MIN_PPM} * least(na.n_chunks, nb.n_chunks)
"""


@register(
    "dedup_chunk_overlap_pairs",
    oracle=_chunk_overlap_oracle_sql(),
    tags=("dedup", "chunking", "cdc", "near-dup", "integer-exact", "scale"),
)
def dedup_chunk_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PAYOFF of content-defined chunking: chunk-granularity
    near-duplicate detection — documents sharing ≥ 50% of the smaller
    side's distinct chunks are flagged, with the overlap fraction in
    integer ppm (shared·1e6 ≥ threshold·min — the comparison itself is
    the integer cross-multiplication, no float ratio). Because CDC cut
    points survive edits (unit-proven locality), a document that copies
    half of another still shares its untouched chunks verbatim — the
    rsync/FastCDC dedup economics applied to corpus curation, catching
    partial copies that whole-document hashing misses and that
    shingle-Jaccard underweights when the copy is embedded in a larger
    document. Chunks present in more than CHUNK_DF_CAP documents are
    boilerplate and excluded BEFORE pairing (the stopword/prefix-filter
    move at chunk granularity), so no chunk bucket can exceed
    CHUNK_DF_CAP² pairs — the join is hot-key-bounded by construction.

    Scale shape: the chunker's per-document window + one (chunk, doc)
    distinct, one chunk-frequency filter, one capped equi-join on
    chunk_hash, one pair aggregation — all shuffles carry hashes,
    never text."""
    ch = (
        text_chunk_content_defined(spark, sf_dir)
        .select("doc_id", "chunk_hash")
        .distinct()
    )
    keep = (
        ch.groupBy("chunk_hash")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= CHUNK_DF_CAP)
        .select("chunk_hash")
    )
    chk = ch.join(keep, "chunk_hash")
    nsz = chk.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks")
    )
    a = chk.select(F.col("doc_id").alias("doc_a"), "chunk_hash")
    b = chk.select(F.col("doc_id").alias("doc_b"), "chunk_hash")
    pairs = (
        a.join(b, "chunk_hash")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("shared_chunks"))
    )
    na = nsz.select(F.col("doc_id").alias("doc_a"), F.col("n_chunks").alias("n_a"))
    nb = nsz.select(F.col("doc_id").alias("doc_b"), F.col("n_chunks").alias("n_b"))
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(
            F.col("shared_chunks") * 1_000_000
            >= CHUNK_OVERLAP_MIN_PPM * F.least("n_a", "n_b")
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "shared_chunks",
            "n_a",
            "n_b",
            "CAST(shared_chunks * 1000000"
            " DIV least(n_a, n_b) AS BIGINT) AS overlap_ppm",
        )
    )


#: batch derivation of the chunk ledger — shared verbatim by the
#: append and bucket-partitioned streaming maintenances: the
#: partial-rewrite economics must change NOTHING about the answer.
_CHUNK_LEDGER_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(text, '\\s+')) AS tok,
         CAST(unnest(generate_series(
             1, len(regexp_split_to_array(text, '\\s+')))) - 1 AS INT) AS pos
  FROM documents
),
b AS (
  SELECT doc_id, tok, pos,
         CASE WHEN CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)
                   % {CDC_BOUNDARY_MOD} = 0
              THEN 1 ELSE 0 END AS cut_after
  FROM t
),
c AS (
  SELECT doc_id, tok, pos,
         CAST(COALESCE(SUM(cut_after) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS INT) AS chunk_idx
  FROM b
),
ch AS (
  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
  FROM c GROUP BY doc_id, chunk_idx
)
SELECT chunk_hash,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM ch GROUP BY chunk_hash
"""


@register(
    "streaming_chunk_incremental_dedup",
    oracle=_CHUNK_LEDGER_ORACLE,
    tags=("dedup", "chunking", "streaming", "cdc", "integer-exact"),
)
def streaming_chunk_incremental_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental corpus dedup ON THE STREAM — the production "ingest
    only what's new" shape: every arriving document is content-defined
    chunked with the exact batch chunker plan, and the chunk ledger
    (chunk_hash → first owner, occurrence count) is appended per
    micro-batch and folded on read under the exactly-once commit-log
    protocol
    (streaming.pipeline.chunk_ledger_batch_fn). MIN and SUM are
    order-free and batch-split-free, so the drained ledger EQUALS the
    whole-corpus derivation and is gated by the batch oracle — a chunk
    already in the ledger is a known duplicate the moment it arrives,
    which is what lets a 100 TB crawler skip re-storing boilerplate in
    flight. State is distinct-chunk-sized, never corpus-sized.

    Scale caveat (the production twin fixes it): this fixture rewrites
    the FULL committed ledger every micro-batch — O(total distinct
    chunks) per batch. See streaming_chunk_incremental_dedup_bucketed
    for the bucket-partitioned partial-rewrite shape."""
    from ..streaming.pipeline import run_bounded_chunk_ledger

    return run_bounded_chunk_ledger(spark, sf_dir)


@register(
    "streaming_chunk_incremental_dedup_bucketed",
    oracle=_CHUNK_LEDGER_ORACLE,
    tags=(
        "dedup",
        "chunking",
        "streaming",
        "cdc",
        "integer-exact",
        "lakehouse",
    ),
)
def streaming_chunk_incremental_dedup_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The incremental chunk-dedup ledger on a BUCKET-PARTITIONED
    snapshot-manifest table
    (streaming.pipeline.chunk_ledger_bucketed_batch_fn over
    sources.snapshot.SnapshotTable) — the 100 TB shape for the one
    streaming family whose state grows with corpus content: per
    micro-batch only the chunk-hash buckets the batch touches are read,
    merged, and rewritten; untouched buckets carry forward BY MANIFEST
    REFERENCE with their data files byte-identical (filesystem-pinned
    unit). Per-batch cost is O(touched-bucket ledger). The atomic
    manifest rename is the exactly-once commit point (batch id =
    snapshot id; poisoned-replay unit). Gated by the IDENTICAL batch
    oracle as the append twin: the economics change nothing about the
    answer.

    Honest caveat: under UNIFORM chunk hashing a corpus-sized
    micro-batch touches every bucket, degrading partial rewrite back
    to full rewrite — the LSM twin
    (streaming_chunk_incremental_dedup_lsm) is the shape that stays
    O(batch) regardless."""
    from ..streaming.pipeline import run_bounded_chunk_ledger_bucketed

    return run_bounded_chunk_ledger_bucketed(spark, sf_dir)


@register(
    "streaming_chunk_incremental_dedup_lsm",
    oracle=_CHUNK_LEDGER_ORACLE,
    tags=(
        "dedup",
        "chunking",
        "streaming",
        "cdc",
        "integer-exact",
        "lakehouse",
        "lsm",
    ),
)
def streaming_chunk_incremental_dedup_lsm(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The chunk ledger as an LSM (append-delta) snapshot table
    (streaming.pipeline.chunk_ledger_lsm_batch_fn +
    SnapshotTable.commit_append): each micro-batch appends ONLY its own
    per-chunk partials — O(batch) write, no read of committed state —
    because MIN/SUM are associative the read-side fold of base+deltas
    equals the whole-corpus derivation. This is the write-optimized
    dual of the partial-rewrite twin and the honest 100 TB shape for
    UNIFORMLY-hashed arrivals, where any corpus-sized batch touches
    every bucket and rewrite economics degrade; read amplification is
    bounded by merge-compaction cadence (the runner compacts at drain:
    fold → commit as new base → expire → vacuum). Exactly-once by the
    manifest-rename commit point — a replayed batch must not append
    its delta twice. Gated by the IDENTICAL batch oracle as both other
    maintenances."""
    from ..streaming.pipeline import run_bounded_chunk_ledger_lsm

    return run_bounded_chunk_ledger_lsm(spark, sf_dir)
