"""Round-12 operator units: algorithmic properties of the chunkers,
the supervised NB classifier, chi-squared feature selection, WOE/IV,
BPE encode, and weighted label propagation — adversarial fixtures the
corpus-level parity gate can't construct (parity pins cross-engine
equality; these pin the MATH on inputs chosen to break it)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cassaforte_meter_transmission_gen_spark.operators.graph import (
    label_propagation,
)
from cassaforte_meter_transmission_gen_spark.operators.tokenizer import (
    bpe_encode_doc_lengths,
)
from cassaforte_meter_transmission_gen_spark.plans.catalog import REGISTRY


def test_lpa_barbell_two_communities(spark):
    """Two triangles joined by ONE weak bridge edge: 3 LPA rounds must
    resolve two communities labelled by each triangle's min vertex —
    the bridge (weight 1 vs in-triangle 10) can never outvote."""
    tri1 = [(1, 2), (1, 3), (2, 3)]
    tri2 = [(4, 5), (4, 6), (5, 6)]
    rows = [(a, b, 10) for a, b in tri1 + tri2] + [(3, 4, 1)]
    und = spark.createDataFrame(
        rows + [(b, a, w) for a, b, w in rows], "src long, dst long, w long"
    )
    got = {
        r["v"]: r["lab"] for r in label_propagation(und, n_iters=3).collect()
    }
    assert {v for v in got if got[v] == got[1]} == {1, 2, 3}
    assert {v for v in got if got[v] == got[4]} == {4, 5, 6}
    assert got[1] != got[4]


def test_lpa_star_round1_and_bipartite_oscillation(spark):
    """A star is bipartite, synchronous LPA's known pathological case:
    after round 1 every leaf holds the hub's label (its only neighbor)
    and the hub holds the smallest leaf label (4-way tie at weight 5 →
    deterministic min tie-break); round 2 swaps them back — the
    2-cycle oscillation the deterministic unrolled oracle must (and
    does) reproduce exactly rather than hide."""
    rows = [(0, i, 5) for i in range(1, 5)]
    und = spark.createDataFrame(
        rows + [(b, a, w) for a, b, w in rows], "src long, dst long, w long"
    )
    r1 = {
        r["v"]: r["lab"] for r in label_propagation(und, n_iters=1).collect()
    }
    assert all(r1[i] == 0 for i in range(1, 5)) and r1[0] == 1
    r2 = {
        r["v"]: r["lab"] for r in label_propagation(und, n_iters=2).collect()
    }
    assert all(r2[i] == 1 for i in range(1, 5)) and r2[0] == 0


def test_bpe_encode_counts_pieces(spark):
    """Corpus of one repeated word: with enough merges the word becomes
    ONE piece; with zero merges the count is its character length."""
    docs = spark.createDataFrame(
        [(1, "abab abab abab"), (2, "abab")], "doc_id long, text string"
    )
    one = {
        r["doc_id"]: (r["n_words"], r["n_bpe_pieces"])
        for r in bpe_encode_doc_lengths(docs, n_merges=2).collect()
    }
    # merge1: a+b -> ab (freq 8); merge2: ab+ab -> abab => 1 piece/word
    assert one == {1: (3, 3), 2: (1, 1)}
    zero = {
        r["doc_id"]: r["n_bpe_pieces"]
        for r in bpe_encode_doc_lengths(docs, n_merges=0).collect()
    }
    assert zero == {1: 12, 2: 4}


def test_cdc_chunking_local_reshuffle(spark, sf_small, tmp_path):
    """The content-defined property: flipping ONE token near the end of
    a document leaves every chunk hash before the edited token's chunk
    identical — fixed-window chunking cannot make this guarantee (an
    insertion shifts all later windows); here even the EDIT keeps all
    earlier cut points."""
    q = REGISTRY["text_chunk_content_defined"]
    base = q.fn(spark, sf_small).filter(F.col("doc_id") == 3).collect()
    assert len(base) > 2, "fixture doc must span several chunks"

    import duckdb

    con = duckdb.connect()
    txt = con.execute(
        f"SELECT text FROM read_parquet('{sf_small}/documents.parquet')"
        " WHERE doc_id = 3"
    ).fetchone()[0]
    toks = txt.split(" ")
    toks[-1] = toks[-1] + "X"  # append-edit inside the LAST token
    edited = " ".join(toks)
    ed_dir = tmp_path / "sf_edit"
    ed_dir.mkdir()
    con.execute(
        f"""COPY (
          SELECT doc_id, CASE WHEN doc_id = 3 THEN ? ELSE text END AS text,
                 lang, source, n_chars
          FROM read_parquet('{sf_small}/documents.parquet')
        ) TO '{ed_dir}/documents.parquet' (FORMAT PARQUET)""",
        [edited],
    )
    after = q.fn(spark, str(ed_dir)).filter(F.col("doc_id") == 3).collect()
    b = {r["chunk_idx"]: r["chunk_hash"] for r in base}
    a = {r["chunk_idx"]: r["chunk_hash"] for r in after}
    last = max(b)
    assert all(b[i] == a[i] for i in range(last)), (
        "an edit in the final chunk must not disturb earlier chunk hashes"
    )
    assert b[last] != a[last]


def test_chi2_planted_class_token(spark, tmp_path):
    """A token planted ONLY in one class's documents must rank #1 for
    that class (and be absent from other classes' positive lists)."""
    import duckdb

    rows = []
    for i in range(40):
        lang = "aa" if i < 20 else "bb"
        extra = " zzmarker" if lang == "aa" else ""
        rows.append((i, f"common words here{extra}", lang, "s", 1))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", rows)
    d = tmp_path / "sf_chi2"
    d.mkdir()
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")
    got = REGISTRY["text_chi2_token_lang"].fn(spark, str(d)).collect()
    by_lang = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append((r["rank"], r["tok"]))
    assert ("aa" in by_lang) and min(by_lang["aa"])[1] == "zzmarker"
    assert all(t != "zzmarker" for _, t in by_lang.get("bb", []))


def test_woe_uninformative_bucket_near_zero(spark, tmp_path):
    """A feature bucket whose pos/neg split equals the global split
    carries |WOE| within quantization noise of 0 and IV contribution
    ~0; a pure-positive bucket has strongly positive WOE."""
    import duckdb

    rows = []
    eid = 0
    # bucket 0 (value 0-9): 10 pos, 10 neg == global 50/50 balance part
    for i in range(10):
        rows.append((eid := eid + 1, 5.0, "purchase"))
        rows.append((eid := eid + 1, 5.0, "view"))
    # bucket 1 (value 10-19): pure positive
    for i in range(10):
        rows.append((eid := eid + 1, 15.0, "purchase"))
    # bucket 2: pure negative (rebalances the global split)
    for i in range(10):
        rows.append((eid := eid + 1, 25.0, "view"))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e (event_id BIGINT, value DOUBLE, event_type VARCHAR)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?)", rows)
    d = tmp_path / "sf_woe"
    d.mkdir()
    con.execute(
        f"""COPY (SELECT event_id, TIMESTAMP '2024-01-01' AS ts,
                  event_id % 7 AS user_id, event_type, value,
                  '{{}}' AS props FROM e)
            TO '{d}/events.parquet' (FORMAT PARQUET)"""
    )
    got = {
        r["bucket"]: r
        for r in REGISTRY["events_woe_value_buckets"].fn(spark, str(d)).collect()
    }
    assert abs(got[0]["woe_ppm"]) < 5_000  # ~0 (smoothing-scale noise)
    assert got[1]["woe_ppm"] > 1_000_000  # pure-pos: woe >> 1 nat
    assert got[2]["woe_ppm"] < -1_000_000
    assert got[1]["iv_ppm"] > 0 and got[2]["iv_ppm"] > 0


def test_nb_separable_corpus_perfect_diag(spark, tmp_path):
    """A fully separable two-class corpus (disjoint vocabularies) must
    classify every held-out document correctly — the confusion matrix
    is diagonal."""
    import duckdb

    rows = []
    for i in range(60):
        lang = "aa" if i % 2 == 0 else "bb"
        text = ("alpha beta gamma" if lang == "aa" else "uno dos tres")
        rows.append((i, text, lang, "s", len(text)))
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany("INSERT INTO t VALUES (?,?,?,?,?)", rows)
    d = tmp_path / "sf_nb"
    d.mkdir()
    con.execute(f"COPY t TO '{d}/documents.parquet' (FORMAT PARQUET)")
    got = (
        REGISTRY["text_naive_bayes_langid_confusion"]
        .fn(spark, str(d))
        .collect()
    )
    assert got, "held-out fold must be non-empty"
    assert all(r["actual_lang"] == r["pred_lang"] for r in got)


def test_nb_stream_training_replay_is_exactly_once(spark, tmp_path):
    """The streaming NB model merge must be idempotent under batch
    replay: multinomial counts are additive, so a double-applied batch
    would EXACTLY double a word's count. Replaying batch 1 under the
    same id with DIFFERENT documents must change nothing — the
    committed model after the poisoned replay equals the model after
    the two genuine batches."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _NB,
        nb_counts_batch_fn,
        read_fold_table,
    )

    table = str(tmp_path / "model")
    commits = str(tmp_path / "_commits")
    fn = nb_counts_batch_fn(table, commits)

    def batch(rows):
        # doc_ids chosen in the TRAIN fold (portable hash mod 5 != 0)
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        )

    # hash(doc_id) mod 5: pick train-fold ids by probing the splitter
    from cassaforte_meter_transmission_gen_spark.plans.text_queries import (
        nb_split_docs,
    )

    probe = spark.createDataFrame(
        [(i, "x", "aa") for i in range(40)], "doc_id long, text string, lang string"
    )
    train_ids = [
        r["doc_id"]
        for r in nb_split_docs(probe).where("NOT is_test").collect()
    ]
    i0, i1, i2 = train_ids[0], train_ids[1], train_ids[2]

    fn(batch([(i0, "alpha alpha beta", "aa")]), 0)
    fn(batch([(i1, "alpha gamma", "aa")]), 1)
    # poisoned replay: same id, different content — must be a no-op
    fn(batch([(i2, "alpha alpha alpha poison", "aa")]), 1)

    wl = read_fold_table(spark, f"{table}/wl", commits, _NB["wl"])
    got = {r["tok"]: r["cnt"] for r in wl.collect()}
    assert got == {"alpha": 3, "beta": 1, "gamma": 1}
    dl = read_fold_table(spark, f"{table}/dl", commits, _NB["dl"])
    assert {r["lang"]: r["d_l"] for r in dl.collect()} == {"aa": 2}


def test_wav_autocorrelation_negative_lag_truncates_toward_zero(spark):
    """An alternating ±A square wave has R(1) = −R(0)·(n−2)/n < 0: the
    normalized ppm must use TRUNC division toward zero (matching Spark
    DIV / DuckDB //), not Python floor — floor on a negative quotient
    would be off by one ppm whenever R(0) ∤ |R(1)|·1e6."""
    from cassaforte_meter_transmission_gen_spark.operators.multimodal import (
        wav_autocorrelation,
        wav_encode,
    )

    n = 21  # odd length → R(0) never divides |R(1)|·1e6 evenly here
    samples = [300 if i % 2 == 0 else -300 for i in range(n)]
    payload = wav_encode(8000, samples)
    df = spark.createDataFrame([(1, payload)], "item_id long, payload binary")
    got = {r["lag"]: r for r in wav_autocorrelation(df).collect()}
    r0 = n * 300 * 300
    r1 = -(n - 1) * 300 * 300
    assert got[1]["r0"] == r0 and got[1]["r_lag"] == r1
    # trunc toward zero: -(|r1|*1e6 // r0), NOT floor((r1*1e6)/r0)
    expect = -(abs(r1) * 1_000_000 // r0)
    assert got[1]["r_ppm"] == expect
    # lag 2 realigns the square wave: perfectly positive correlation
    assert got[2]["r_lag"] == (n - 2) * 300 * 300


def test_chunk_ledger_replay_is_exactly_once(spark, tmp_path):
    """The streaming chunk ledger's MIN/SUM merge must be idempotent
    under batch replay: a re-delivered batch id with DIFFERENT
    documents must change nothing — occurrence counts are additive, so
    a leaked replay would double-count, and a smaller doc_id in the
    poisoned batch would corrupt first_doc_id."""
    from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
        _CHUNK_LEDGER,
        chunk_ledger_batch_fn,
        read_fold_table,
    )

    table = str(tmp_path / "ledger")
    commits = str(tmp_path / "_commits")
    fn = chunk_ledger_batch_fn(table, commits)

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # single-token docs: every token hashes to SOME chunk; the ledger
    # keys on chunk content, so identical text => identical chunk_hash
    fn(batch([(10, "alpha"), (11, "alpha")]), 0)
    fn(batch([(12, "alpha"), (13, "beta")]), 1)
    # poisoned replay: same id, smaller doc_id, new content
    fn(batch([(1, "alpha"), (2, "gamma")]), 1)

    led = read_fold_table(spark, table, commits, _CHUNK_LEDGER)
    got = {
        r["chunk_hash"]: (r["first_doc_id"], r["n_occurrences"])
        for r in led.collect()
    }
    assert len(got) == 2, got  # alpha-chunk + beta-chunk, no gamma
    assert (10, 3) in got.values()  # alpha: first owner 10, 3 copies
    assert (13, 1) in got.values()  # beta


def test_asof_nearest_directions_and_ties(spark):
    """Operator-level pin of asof_join_nearest's decision table: prev
    closer → prev; next closer → next; exactly equidistant → prev (the
    documented backward preference); right row AT the left timestamp →
    distance-0 prev; no prior → forward match; empty key group →
    nulls."""
    from cassaforte_meter_transmission_gen_spark.operators.asof import (
        asof_join_nearest,
    )

    L = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 100),  # prev @5 (300s) vs next @12 (120s) -> next
            (1, "2024-01-01 00:03:00", 101),  # prev @0 (180s) vs next @5 (120s) -> next
            (1, "2024-01-01 00:08:30", 102),  # prev @5 (210s) = next @12 (210s) -> prev (tie)
            (1, "2024-01-01 00:05:00", 103),  # right row AT ts -> prev, distance 0
            (2, "2024-01-01 00:00:00", 104),  # key 2: only a later right -> next
            (3, "2024-01-01 00:00:00", 105),  # key 3: no right rows at all
        ],
        "k long, ts string, lid long",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "lid")
    R = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10),
            (1, "2024-01-01 00:05:00", 11),
            (1, "2024-01-01 00:12:00", 12),
            (2, "2024-01-01 00:30:00", 20),
        ],
        "k long, ts string, v long",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts", "v")

    got = {
        r["lid"]: (r["match_dir"], r["v_asof"])
        for r in asof_join_nearest(L, R, on=["k"], value_cols=["v"]).collect()
    }
    assert got[100] == ("next", 12)
    assert got[101] == ("next", 11)
    assert got[102] == ("prev", 11)  # equidistant tie -> backward
    assert got[103] == ("prev", 11)  # exact-timestamp match, distance 0
    assert got[104] == ("next", 20)  # forward-only
    assert got[105] == (None, None)  # no right rows in the group
