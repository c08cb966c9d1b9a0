"""BPE tokenizer training at corpus scale (SURVEY §2.10 family —
training-data pipeline extensions; the reference engine has no
tokenizer surface, cf. core.clj's fixed text-free meter schema).

Byte-pair-encoding training is the canonical "needs the whole corpus"
pipeline step: repeatedly find the globally most frequent adjacent
symbol pair and merge it. The scale design follows the standard
production shape:

1. **Collapse the corpus once.** One groupBy over the exploded tokens
   yields ``(word, wcount)`` — the only pass that touches the full
   corpus (100 TB in, vocab-sized out). Every training iteration runs
   on this table, whose size is the number of DISTINCT words, not the
   token count.
2. **Relational symbol table, not array folds.** Each word becomes
   ``(word, wcount, pos, sym)`` rows; pair counting is a ``lead``
   window + groupBy, and the merge rewrite is three window functions —
   all partitioned by ``word``, so no global window, no Python row
   path, and every engine-side comparison is exact integer/string
   arithmetic (the whole training loop is float-free, hence bit-equal
   to the unrolled DuckDB oracle in plans.text_queries).
3. **Greedy non-overlapping merge without a sequential scan.** A pair
   occurrence merges iff it is a match AND not shadowed by the merge
   of the previous position. For ``l != r`` matches can never overlap
   (overlap forces l == r), so every match merges. For ``l == r``,
   matches overlap inside runs of the symbol; greedy left-to-right
   keeps the occurrences at EVEN offsets within each maximal run,
   which is computable per-row from a gaps-and-islands group id
   (``pos - cumulative-count-of-l``) and the island's min(pos) — two
   windows, no recursion.
4. **Driver state is merge-sized.** Each iteration collects exactly
   one (l, r, cnt) row (the argmax with the deterministic tie-break
   cnt DESC, l, r); the result DataFrame is the n_merges-row merge
   table. The per-iteration persist pins the vocab-sized symbol table
   so iteration k+1 reads the materialized k-th state instead of
   recomputing the whole chain; every cached frame is unpersisted
   before returning (no cache outlives the call).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_sql

#: default number of merge rules learned by the catalog query — small
#: because each merge is one full pass over the vocab table; real
#: tokenizers run tens of thousands of merges with the identical shape
BPE_N_MERGES = 8

#: result schema of :func:`bpe_train` (merge_rank is 1-based)
BPE_MERGES_SCHEMA = (
    "merge_rank int, left_sym string, right_sym string, pair_count long"
)


def bpe_word_counts(docs: DataFrame) -> DataFrame:
    """The corpus-collapsing pass: whitespace words of ``text`` with
    exact corpus frequencies. The ONLY full-corpus scan in BPE
    training."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wcount"))
    )


def _symbol_rows(words: DataFrame) -> DataFrame:
    """(word, wcount) → one row per character position: (word, wcount,
    pos 1-based, sym). substring arithmetic rather than split-on-empty
    so the Spark plan and the DuckDB oracle share the exact char
    extraction semantics."""
    return words.select(
        "word",
        "wcount",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
    ).select(
        "word",
        "wcount",
        "pos",
        F.expr("substring(word, pos, 1)").alias("sym"),
    )


def _merge_pair(p: DataFrame, l: str, r: str) -> DataFrame:
    """Rewrite the symbol table after adopting merge (l, r): greedy
    non-overlapping left-to-right, per the module docstring. ``p``
    must carry (word, wcount, pos dense 1-based, sym, nxt=lead(sym))."""
    wword = Window.partitionBy("word").orderBy("pos")
    mtch = (F.col("sym") == F.lit(l)) & (F.col("nxt") == F.lit(r))
    if l == r:
        # gaps-and-islands over the rows whose sym == l: inside one
        # maximal run, pos - (cumulative count of l-rows) is constant,
        # and distinct runs get strictly increasing group ids
        arnk = F.sum(
            F.when(F.col("sym") == F.lit(l), F.lit(1)).otherwise(F.lit(0))
        ).over(wword)
        g = p.withColumn(
            "grp",
            F.when(F.col("sym") == F.lit(l), F.col("pos") - arnk),
        )
        wisl = Window.partitionBy("word", "grp")
        mstart = mtch & (
            ((F.col("pos") - F.min("pos").over(wisl)) % 2) == 0
        )
    else:
        g, mstart = p, mtch
    g = g.withColumn("mstart", F.coalesce(mstart, F.lit(False)))
    kept = g.withColumn("pm", F.lag("mstart").over(wword)).filter(
        ~F.coalesce(F.col("pm"), F.lit(False))
    )
    return kept.select(
        "word",
        "wcount",
        F.row_number().over(wword).alias("pos"),
        F.when(F.col("mstart"), F.lit(l + r))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )


def _train(
    docs: DataFrame, n_merges: int, cache: bool
) -> tuple[list[tuple[int, str, str, int]], DataFrame, list[DataFrame]]:
    """The training loop: returns (adopted merges, the symbol table
    AFTER applying all of them, the persisted frames if ``cache``).
    With ``cache`` each iteration pins its input so iteration k+1
    reads materialized state; without it the chain is pure recomputable
    lineage (fine for small merge counts — each argmax re-derives from
    the vocab-sized s0, and the caller gets a cache-free frame)."""
    wword = Window.partitionBy("word").orderBy("pos")
    cur = _symbol_rows(bpe_word_counts(docs))
    cached: list[DataFrame] = []
    merges: list[tuple[int, str, str, int]] = []
    for it in range(n_merges):
        if cache:
            cur = cur.persist()
            cached.append(cur)
        p = cur.withColumn("nxt", F.lead("sym").over(wword))
        best = (
            p.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("sym").alias("l"), F.col("nxt").alias("r"))
            .agg(F.sum("wcount").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not best:
            break  # vocabulary fully merged — nothing adjacent remains
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((it + 1, l, r, cnt))
        cur = _merge_pair(p, l, r)
    return merges, cur, cached


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus.
    Returns (merge_rank, left_sym, right_sym, pair_count) — rank is
    adoption order, pair_count the exact corpus-weighted frequency at
    adoption time. Ties break deterministically on (count DESC,
    left_sym, right_sym) in binary string order, identically in Spark
    and the generated DuckDB oracle."""
    merges, _, cached = _train(docs, n_merges, cache=True)
    out = docs.sparkSession.createDataFrame(merges, schema=BPE_MERGES_SCHEMA)
    for c in cached:  # the result is driver-local: no lineage to free
        c.unpersist()
    return out


def bpe_vocab(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
) -> DataFrame:
    """The encode side of training: corpus token statistics under the
    learned merges. Tokenizing a word depends only on the word, so the
    corpus-collapsed symbol table after the final merge IS the encoded
    corpus; one groupBy yields, per final symbol, the exact
    corpus-weighted occurrence count and the number of distinct words
    containing it. Built cache-free (pure lineage) so the returned
    frame is safe to evaluate any time with no pinned blocks."""
    _, final, _ = _train(docs, n_merges, cache=False)
    return final.groupBy("sym").agg(
        F.sum("wcount").alias("token_count"),
        F.countDistinct("word").alias("n_words"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (SentencePiece shape) — the other
# tokenizer family a training-data pipeline ships beside BPE.
# ---------------------------------------------------------------------------

#: max piece length considered by the seed vocabulary and the Viterbi
#: lattice (SentencePiece defaults to 16; 4 keeps the generated oracle
#: bounded while exercising the full multi-length lattice)
UNIGRAM_MAX_PIECE = 4

#: multi-character pieces kept at seeding, ranked (freq DESC, piece) —
#: single characters are ALWAYS kept (SentencePiece's required-char
#: rule), which also guarantees every word stays segmentable
UNIGRAM_SEED_MULTI = 96

#: EM rounds run by the catalog query (each is one Viterbi E-step over
#: the distinct-word table + one det-ln M-step over the vocab)
UNIGRAM_EM_ROUNDS = 2

#: words longer than this are excluded from training in BOTH engines —
#: bounds the lattice depth (SentencePiece's max-sentence-length analog)
UNIGRAM_MAX_WORD = 24

#: unreachable-lattice sentinel; real paths are ≤ 24 pieces × ~30 nats
#: ≪ this, and sentinel+nll drift stays far below 2^63
UNIGRAM_INF = 1 << 60


def unigram_words(docs: DataFrame) -> DataFrame:
    """Corpus collapsed once to (word, wcount), capped at
    UNIGRAM_MAX_WORD chars — the only full-corpus pass in unigram
    training; every EM round runs on this distinct-word table."""
    return bpe_word_counts(docs).filter(
        F.length("word") <= UNIGRAM_MAX_WORD
    )


def unigram_seed_vocab(words: DataFrame) -> DataFrame:
    """Seed pieces: every substring of length 1..UNIGRAM_MAX_PIECE of
    every distinct word, corpus-frequency weighted. All single chars
    kept; multi-char pieces ranked (freq DESC, piece) and capped at
    UNIGRAM_SEED_MULTI. Returns (piece, f) with f ≥ 1."""
    subs = (
        words.select(
            "word",
            "wcount",
            F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
        )
        .select(
            "word",
            "wcount",
            "pos",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(UNIGRAM_MAX_PIECE),
                        F.length("word") - F.col("pos") + 1,
                    ),
                )
            ).alias("plen"),
        )
        .select(
            F.expr("substring(word, pos, plen)").alias("piece"),
            "wcount",
        )
        .groupBy("piece")
        .agg(F.sum("wcount").cast("long").alias("f"))
    )
    chars = subs.filter(F.length("piece") == 1)
    multi = (
        subs.filter(F.length("piece") > 1)
        .orderBy(F.desc("f"), "piece")
        .limit(UNIGRAM_SEED_MULTI)
    )
    return chars.unionAll(multi)


def unigram_piece_nll(vocab: DataFrame) -> DataFrame:
    """M-step: (piece, f) → (piece, nll_ppm) where nll_ppm =
    FLOOR(ln(total/f)·1e6) via the fixed-order det-ln pipeline — the
    identical four projections the DuckDB oracle runs, so the integer
    micro-nat table is bit-equal across engines. Runs over the
    vocab-sized table only, never data."""
    from ..functions.detmath import det_ln_stage_exprs

    st = det_ln_stage_exprs()
    total = vocab.agg(F.sum("f").alias("t"))
    vx = vocab.crossJoin(F.broadcast(total)).selectExpr(
        "piece", "f", "CAST(t AS DOUBLE) / CAST(f AS DOUBLE) AS x"
    )
    vr = vx.selectExpr("piece", "f", "x", f"{st['e']} AS e", f"{st['m']} AS m")
    vt = vr.selectExpr("piece", "f", "e", f"{st['tt']} AS tt")
    return vt.selectExpr(
        "piece",
        "f",
        f"CAST(FLOOR(({st['ln']}) * 1000000) AS BIGINT) AS nll_ppm",
    )


def _viterbi_segment(word: str, nll: dict) -> list[str]:
    """Integer Viterbi over the piece lattice, then longest-piece-first
    backtrack — the tie-break the oracle's CASE chain replays exactly.
    All arithmetic is int (micro-nats): no float order-dependence."""
    L = len(word)
    best = [UNIGRAM_INF] * (L + 1)
    best[0] = 0
    for i in range(1, L + 1):
        b = UNIGRAM_INF
        for l in range(1, min(UNIGRAM_MAX_PIECE, i) + 1):
            n = nll.get(word[i - l : i])
            cand = best[i - l] + n if n is not None else UNIGRAM_INF
            if cand < b:
                b = cand
        best[i] = b
    pieces: list[str] = []
    i = L
    while i > 0:
        chosen = 1
        for l in range(min(UNIGRAM_MAX_PIECE, i), 0, -1):
            p = word[i - l : i]
            n = nll.get(p)
            if n is not None and best[i - l] + n == best[i]:
                chosen = l
                break
        pieces.append(word[i - chosen : i])
        i -= chosen
    return pieces


def unigram_estep_counts(words: DataFrame, nll_rows: list) -> DataFrame:
    """E-step: Viterbi-segment every DISTINCT word under the current
    piece NLLs (a broadcast-by-closure dict — the vocab is bounded at
    chars + UNIGRAM_SEED_MULTI rows) and emit exact corpus-weighted
    piece counts. Python touches only the distinct-word table, via
    Arrow; the count aggregation is a JVM groupBy."""
    import pandas as pd

    nll = {r["piece"]: int(r["nll_ppm"]) for r in nll_rows}

    def segment(batches):
        for pdf in batches:
            out_p: list[str] = []
            out_c: list[int] = []
            for word, wcount in zip(pdf["word"], pdf["wcount"]):
                for p in _viterbi_segment(word, nll):
                    out_p.append(p)
                    out_c.append(int(wcount))
            yield pd.DataFrame({"piece": out_p, "wc": out_c})

    return (
        words.mapInPandas(segment, schema="piece string, wc long")
        .groupBy("piece")
        .agg(F.sum("wc").cast("long").alias("cnt"))
    )


def unigram_lm_train(
    docs: DataFrame,
    em_rounds: int = UNIGRAM_EM_ROUNDS,
) -> DataFrame:
    """Unigram-LM tokenizer training (the SentencePiece EM shape,
    fixed seed vocab, +1-smoothed M-step, no pruning — pruning is a
    trivial filter on the returned counts):

    1. collapse the corpus to distinct words (the only 100 TB pass),
    2. seed pieces = capped substrings, chars always kept,
    3. per EM round: Viterbi E-step over distinct words (integer
       micro-nat lattice, longest-piece backtrack) → exact piece
       counts; M-step nll'(p) = ln(Σ(cnt+1)/(cnt(p)+1)) via det-ln.

    Returns one row per seed piece: (piece, cnt, nll_ppm) — the final
    E-step's exact count and the final M-step's micro-nat NLL.
    Deterministic end-to-end: integer DP, binary-string tie-breaks,
    det-ln quantization — value-hash-equal to the generated DuckDB
    oracle stepping identical EM iterations. Driver state is
    vocab-sized (the NLL dict per round); words/counts never collect.
    """
    if em_rounds < 1:
        raise ValueError("em_rounds must be >= 1")
    words = unigram_words(docs).localCheckpoint(eager=True)
    vocab = unigram_seed_vocab(words).localCheckpoint(eager=True)
    nll_rows = unigram_piece_nll(vocab).collect()
    counts = None
    for _ in range(em_rounds):
        counts = unigram_estep_counts(words, nll_rows)
        smoothed = vocab.join(counts, "piece", "left").select(
            "piece",
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1)).alias("f"),
        )
        nll_rows = unigram_piece_nll(smoothed).collect()
    final_counts = {r["piece"]: int(r["cnt"]) for r in counts.collect()}
    nll_map = {r["piece"]: int(r["nll_ppm"]) for r in nll_rows}
    spark = docs.sparkSession
    rows = [
        (p, final_counts.get(p, 0), nll_map[p])
        for p in sorted(nll_map)
    ]
    return spark.createDataFrame(
        rows, schema="piece string, cnt long, nll_ppm long"
    )


def bpe_encode_doc_lengths(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
) -> DataFrame:
    """The ENCODE step a pipeline runs after training: token counts per
    document (``doc_id``, ``text``) under the learned merges — the
    number a token-budget planner (sequence packing, context-window
    chunking, cost
    estimation) actually consumes. Tokenizing a word depends only on
    the word, so encoding never touches the token stream twice: the
    corpus-collapsed symbol table after the final merge gives each
    DISTINCT word its piece count, and one equi-join back to the
    per-document word stream + one doc-keyed aggregation yields exact
    per-document encoded lengths. Scale: the join's build side is
    vocab-sized (distinct words — broadcastable when the vocabulary
    is; AQE decides), the probe side is one pass over the corpus.
    Float-free throughout except the final pieces-per-word ratio
    (one IEEE division of two exact integers — deterministic)."""
    _, final, _ = _train(docs, n_merges, cache=False)
    wlen = final.groupBy("word").agg(
        F.count("*").cast("long").alias("n_pieces")
    )
    words = docs.select(
        "doc_id", F.explode(F.expr(tokens_sql("`text`"))).alias("word")
    ).filter(F.col("word") != "")
    return (
        words.join(wlen, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_bpe_pieces"),
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "n_bpe_pieces",
            "CAST(n_bpe_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)"
            " AS pieces_per_word",
        )
    )
