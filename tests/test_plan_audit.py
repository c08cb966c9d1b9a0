"""Physical-plan audits (the 100 TB design pass, SURVEY §4): assert the
properties that keep the catalog fast at scale — filters reach the
parquet scan, column pruning reaches the reader, small dimensions
broadcast, top-k plans as TakeOrderedAndProject, and the meter
generator path stays shuffle-free. These are plan-shape assertions, not
timings, so they hold regardless of machine noise."""

from __future__ import annotations

import pytest

from cassaforte_meter_transmission_gen_spark.plans import REGISTRY


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _single_partition_children(plan: str) -> list[str]:
    """The immediate child line of every ``Exchange SinglePartition``
    node in a tree-string plan (the tree prints depth-first, so the
    next line is the exchange's input)."""
    lines = plan.splitlines()
    return [
        lines[i + 1]
        for i, line in enumerate(lines)
        if "Exchange SinglePartition" in line
    ]


def _is_bounded_offsets_agg(child: str) -> bool:
    """True when a SinglePartition exchange feeds packing.
    global_running_total's per-bucket totals aggregate — keyed by the
    synthetic bucket id, so the exchanged relation is bounded by
    n_partitions (32 rows), never the data. This is the ONE allowed
    single-partition shape on the prefix-sum queries since the r14
    in-plan offsets change (the cross-bucket offsets window runs over
    these ≤32 rows in-plan instead of a driver collect)."""
    return "HashAggregate(keys=[__pid#" in child


def test_q01_pushdown_and_pruning(spark, sf_small):
    df = REGISTRY["q01_pricing_summary"].fn(spark, sf_small)
    plan = _plan(df)
    # shipdate predicate reaches the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: unneeded columns never leave the scan
    read_schema = plan[plan.index("ReadSchema"):].splitlines()[0]
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_shipdate"):
        pass  # l_shipdate IS needed; check true negatives below
    for unneeded in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert unneeded not in read_schema, f"{unneeded} not pruned: {read_schema}"


def test_q03_broadcasts_dimension(spark, sf_small):
    plan = _plan(REGISTRY["q03_shipping_priority"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan


def test_q05_broadcasts_all_dims(spark, sf_small):
    plan = _plan(REGISTRY["q05_local_supplier_volume"].fn(spark, sf_small))
    assert plan.count("BroadcastHashJoin") >= 3  # customer/supplier side dims


def test_top_k_plans_take_ordered(spark, sf_small):
    plan = _plan(REGISTRY["sort_limit_top100_lineitems"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan


def test_meter_joules_second_is_shuffle_free(spark, sf_small):
    """The per-second energy table: generator → broadcast of the 1-row
    tick energy → project. Any Exchange here would shuffle the full raw
    stream at 100 TB."""
    plan = _plan(REGISTRY["meter_joules_second"].fn(spark, sf_small))
    # the only exchange allowed is the broadcast of the 1-row tick DF
    import re

    shuffles = re.findall(r"Exchange (?!SinglePartition)\w*[Hh]ash", plan)
    assert not shuffles, f"unexpected shuffle exchange:\n{plan}"
    assert "BroadcastNestedLoopJoin" in plan


def test_rollup_chain_single_shuffle_per_grain(spark, sf_small):
    """minute rollup = exactly one hash-partitioned exchange (partial →
    shuffle → final agg); the raw side must not shuffle separately."""
    plan = _plan(REGISTRY["meter_rollup_minute"].fn(spark, sf_small))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_whole_stage_codegen_covers_scan_agg(spark, sf_small):
    # AQE finalizes the physical plan only on execution — run the
    # query, then audit the final plan for codegen coverage
    df = REGISTRY["q06_forecast_revenue"].fn(spark, sf_small)
    df.collect()
    # `*(n)` operator prefixes mark WholeStageCodegen stages in the
    # final adaptive plan; scan+filter+partial-agg must be inside one
    assert "*(1) HashAggregate" in _plan(df), _plan(df)


def test_semi_join_stays_semi(spark, sf_small):
    """q20's IN-subqueries must plan as semi joins (no row duplication
    before aggregation)."""
    plan = _plan(REGISTRY["q20_excess_shipment_suppliers"].fn(spark, sf_small))
    assert "LeftSemi" in plan


def test_exact_dedup_partial_aggregates(spark, sf_small):
    """Exact dedup shuffles only (fingerprint, partial-agg) pairs —
    the map-side partial aggregation must appear before the exchange."""
    df = REGISTRY["dedup_exact_by_hash"].fn(spark, sf_small)
    plan = _plan(df)
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan
    assert "HashAggregate" in plan[:first_exchange] or "partial" in plan.lower()


def test_minhash_signatures_shuffle_free(spark, sf_small):
    """MinHash signatures are a narrow per-row Project (hash array once,
    array_min per permutation): the plan must contain NO hash-partitioned
    exchange and NO aggregate — at 100 TB the explode+groupBy(min) shape
    would shuffle (doc_id, hash) pairs for every shingle."""
    from cassaforte_meter_transmission_gen_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _plan(minhash_signatures(docs))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_simhash_signatures_shuffle_free(spark, sf_small):
    """Same property for SimHash: 60 bit-count array aggregates inside
    one Project, no explode, no shuffle, no grouped aggregation."""
    from cassaforte_meter_transmission_gen_spark.operators.dedup import simhash_signatures

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    plan = _plan(simhash_signatures(docs))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Generate explode" not in plan, plan


def test_rolling_energy_single_shuffle_serves_agg_and_window(spark, sf_small):
    """meter_rolling_energy_5m: repartition("said") before the rollup
    makes hash(said) satisfy both the groupBy's (said, minute)
    distribution and the window's partitionBy(said) — exactly ONE
    hash-partitioned exchange for agg + time-range window combined.
    The naive plan (agg keyed (said, minute), then window re-shuffling
    on said) costs two."""
    plan = _plan(REGISTRY["meter_rolling_energy_5m"].fn(spark, sf_small))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan and "RangeFrame" in plan, plan


def test_lsh_ann_broadcasts_query_side(spark, sf_small):
    """lsh_topk: the (tiny) query set must broadcast to the candidate
    side — at 100 TB the candidate table never shuffles for this join;
    only bucket keys are computed per row."""
    plan = _plan(REGISTRY["ann_lsh_bucketed_topk"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan, plan


def test_embedding_lsh_dedup_no_cartesian(spark, sf_small):
    """The hyperplane-LSH dedup must plan its candidate join as a
    bucket equi-join (SortMergeJoin/ShuffledHashJoin on table_idx +
    bucket), never a cartesian/nested-loop over the vector table."""
    plan = _plan(REGISTRY["dedup_embedding_cosine_lsh"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    # the only nested-loop allowed is none at all: both sides are the
    # full table, so any BNLJ is a missed equi-join
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivf_probe_join_broadcasts_queries(spark, sf_small):
    """ivf_topk's final probe join: the exploded (query, probe-cell)
    side is tiny and must broadcast; candidates are only ever joined by
    cluster_id equality (no cross product)."""
    plan = _plan(REGISTRY["ann_ivf_topk"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_int8_ann_band_and_rerank_broadcast(spark, sf_small):
    """int8_topk: the quantized query side broadcasts into the scoring
    pass (the candidate table never shuffles to be scored), and the
    rerank band's query-vector re-attach broadcasts too. No cartesian
    over the candidate table — the only nested-loop is the deliberate
    broadcast of the tiny query set."""
    plan = _plan(REGISTRY["ann_int8_quantized_topk"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "Broadcast" in plan, plan


def test_semantic_dedup_cluster_equijoin_no_cartesian(spark, sf_small):
    """semantic_duplicates_clustered: the pairwise pass must plan as an
    equi-join on cluster_id (the whole point — quadratic work confined
    to cells), never a cartesian over the vector table; the verify
    joins re-attach vectors by id equality."""
    plan = _plan(REGISTRY["dedup_semantic_clusters"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_repetition_filter_is_narrow_map(spark, sf_small):
    """The repetition quality filter is per-row array math — any
    Exchange would shuffle the full corpus at 100 TB for no reason."""
    plan = _plan(REGISTRY["text_repetition_filter"].fn(spark, sf_small))
    assert "Exchange" not in plan, plan


def test_incremental_minhash_broadcasts_increment(spark, sf_small):
    """dedup_incremental_minhash: the arriving batch's band keys and
    shingles broadcast; the corpus side never self-joins and never
    cartesians — the whole point of the incremental form is zero
    corpus-sized shuffle."""
    plan = _plan(REGISTRY["dedup_incremental_minhash"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_duplicated_spans_partial_agg_single_shuffle(spark, sf_small):
    """The duplicated-span detector must collapse each document's
    repeated windows map-side before anything travels: the correct
    distributed count-distinct is TWO phases — partial (fp, doc_id)
    dedup+counts before a (fp, doc_id) exchange, then the per-fp merge
    on an fp exchange — and both exchanges carry fingerprints and
    partial counts, never window text. Assert exactly that shape (a
    third shuffle or a missing partial agg means rows travel raw)."""
    plan = _plan(REGISTRY["dedup_duplicated_ngram_spans"].fn(spark, sf_small))
    assert "partial_count" in plan, plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) == 2, f"expected 2 shuffles, got {len(shuffles)}:\n{plan}"
    # the window text itself must die at the Generate: no exchange row
    # wider than (fp, doc_id, counts) — text/toks never reach one
    for ex in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in ex.group(1) and "toks" not in ex.group(1), plan


def test_shard_assignment_single_shuffle_no_global_sort(spark, sf_small):
    """The corpus shuffle partitions by shard hash and ranks WITHIN
    each shard: exactly one hash exchange, and no global (range) sort
    — a rangepartitioning exchange here would serialize the 100 TB
    corpus through a total order."""
    plan = _plan(REGISTRY["pipeline_shuffle_shard_assignment"].fn(spark, sf_small))
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "rangepartitioning" not in plan, plan


def test_pq_encode_is_narrow_map(spark, sf_small):
    """PQ encoding is a pure projection: codes must come out of the
    scan stage with no exchange at all — at 100 TB the encoded table
    is written partition-local."""
    from pyspark.sql import functions as F

    from cassaforte_meter_transmission_gen_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )
    from cassaforte_meter_transmission_gen_spark.schemas import load_table

    e = load_table(spark, sf_small, "embeddings")
    books = pq_codebooks(e, train_sample_denom=None)
    plan = _plan(pq_encode(e, books))
    assert "Exchange" not in plan, plan


def test_bpe_corpus_pass_prunes_and_merge_windows_partitioned(spark, sf_small):
    """BPE training's one full-corpus pass (bpe_word_counts) must read
    ONLY the text column (column pruning at the scan) and partial-agg
    before its single exchange — at 100 TB this is the pass that
    touches every byte. The per-iteration merge rewrite must contain
    NO single-partition window (every window partitions by word, so
    the vocab table stays distributed)."""
    from cassaforte_meter_transmission_gen_spark.operators.tokenizer import (
        _merge_pair,
        _symbol_rows,
        bpe_word_counts,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    wc = bpe_word_counts(docs)
    plan = _plan(wc)
    read_schema = plan[plan.index("ReadSchema"):].splitlines()[0]
    for unneeded in ("doc_id", "lang", "n_chars", "quality"):
        assert unneeded not in read_schema, f"{unneeded} not pruned: {read_schema}"
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange], plan  # map-side partial

    syms = _symbol_rows(wc).withColumn(
        "nxt",
        F.lead("sym").over(Window.partitionBy("word").orderBy("pos")),
    )
    for pair in (("a", "b"), ("a", "a")):  # both merge paths incl. islands
        mplan = _plan(_merge_pair(syms, *pair))
        assert "Exchange SinglePartition" not in mplan, mplan
        assert "Window" in mplan, mplan


def test_bloom_prune_sits_below_the_join(spark, sf_small):
    """The bloom membership filter must run on the fact side BEFORE
    the semi join (that pre-shuffle placement is its whole point at
    100 TB): the plan's Filter with the bitset element_at test appears
    strictly below/after the join operator in the plan text, and the
    join itself is still a real semi join."""
    df = REGISTRY["join_bloom_pruned_semi_revenue"].fn(spark, sf_small)
    plan = _plan(df)
    assert "element_at" in plan, plan
    join_at = min(
        i
        for i in (
            plan.find("SortMergeJoin"),
            plan.find("BroadcastHashJoin"),
            plan.find("ShuffledHashJoin"),
        )
        if i >= 0
    )
    assert "LeftSemi" in plan, plan
    # plan trees print parents first: a filter BELOW the join appears
    # AFTER the join operator line
    assert plan.index("element_at") > join_at, plan


def test_cms_estimate_broadcasts_grid_and_partial_aggs(spark, sf_small):
    """The CMS query's probe join must broadcast the grid side (at most
    depth*width rows — shuffling 20 probes against it would be absurd),
    and the corpus pass must partial-aggregate before its exchange so
    each task ships at most a grid's worth of cells."""
    df = REGISTRY["sketch_cms_heavy_hitters"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[:first_exchange], plan


def test_gapfill_no_cartesian_no_global_window(spark, sf_small):
    """Gap-fill must stay distributed: the grid joins observations on
    (said, bucket) — never a cartesian — and the LOCF window partitions
    by meter (a single-partition window would serialize the dense grid
    through one task at 100 TB)."""
    df = REGISTRY["meter_gapfill_locf_minute"].fn(spark, sf_small)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    # the LOCF window itself must partition by said ([said#N] spec) —
    # the single-partition Exchange elsewhere in the plan is the
    # generator's accepted one-row broadcast-scalar tick attach
    window_line = next(l for l in plan.splitlines() if "Window [" in l)
    assert ", [said#" in window_line, window_line
    join_line = next(l for l in plan.splitlines() if "LeftOuter" in l)
    assert "BroadcastHashJoin" in join_line or "SortMergeJoin" in join_line, (
        join_line
    )


def test_cdc_apply_broadcasts_changed_keys_no_snapshot_shuffle(spark, sf_small):
    """CDC apply's whole cost model is 'the snapshot never shuffles':
    the anti join on changed keys must be a broadcast join, and the
    only hash exchanges in the plan belong to the changelog's window
    (keyed by o_orderkey over the sliver of changes), never to a
    repartition of the snapshot scan feeding the anti join."""
    df = REGISTRY["cdc_changelog_apply_orders"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    anti = plan.index("LeftAnti")
    # the anti join's streamed (snapshot) side is above any exchange:
    # no Exchange hashpartitioning may appear before the join operator
    assert "Exchange hashpartitioning" not in plan[:anti], plan


def test_histogram_single_shuffle_reads_one_column(spark, sf_small):
    """The value histogram must stay a partial+final hash aggregation:
    exactly one bucket-keyed exchange (map-side combine shrinks 100 TB
    of rows to bucket-count partials before the wire), and the scan
    must read only the measured column."""
    df = REGISTRY["agg_histogram_order_value"].fn(spark, sf_small)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    read_schema = plan[plan.index("ReadSchema"):].splitlines()[0]
    assert "o_totalprice" in read_schema, read_schema
    for unneeded in ("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"):
        assert unneeded not in read_schema, f"{unneeded} not pruned: {read_schema}"


def test_percent_rank_partitioned_window_no_global_sort(spark, sf_small):
    """percent_rank/cume_dist must run inside the per-priority window
    partitioning — one keyed exchange, never an all-rows-to-one
    SinglePartition window (the classic unpartitioned-Window trap that
    serializes the whole table through one task)."""
    df = REGISTRY["window_percent_rank_order_value"].fn(spark, sf_small)
    plan = _plan(df)
    assert "Window" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_split_manifest_narrow_map_single_shuffle(spark, sf_small):
    """Train/val/test manifest: assignment + token count must stay a
    narrow Project feeding one three-group aggregation — one keyed
    exchange, and the scan must not read columns the manifest never
    touches."""
    df = REGISTRY["pipeline_train_val_test_split"].fn(spark, sf_small)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    read_schema = plan[plan.index("ReadSchema"):].splitlines()[0]
    for unneeded in ("lang", "source"):
        assert unneeded not in read_schema, f"{unneeded} not pruned: {read_schema}"


def test_profile_one_scan_prunes_unprofiled_columns(spark, sf_small):
    """Column profiling must make exactly ONE pass over the table (the
    multi-distinct Expand rewrite, not one scan per column) and read
    only the profiled columns."""
    df = REGISTRY["profile_column_stats_orders"].fn(spark, sf_small)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    read_schema = plan[plan.index("ReadSchema"):].splitlines()[0]
    for unneeded in ("o_totalprice", "o_orderkey"):
        assert unneeded not in read_schema, f"{unneeded} not pruned: {read_schema}"


def test_equidepth_deciles_no_global_sort(spark, sf_small):
    """The equi-depth decile report must NEVER plan the oracle's shape
    (ntile over an unpartitioned global sort = one task at 100 TB): no
    range-partitioned global sort, every DATA exchange a keyed hash
    partitioning — the rank comes from the bucketed two-pass prefix
    sum. The only SinglePartition exchange allowed is the one feeding
    the ≤32-row per-bucket offsets window (r14 in-plan offsets)."""
    df = REGISTRY["agg_equidepth_price_deciles"].fn(spark, sf_small)
    plan = _plan(df)
    for child in _single_partition_children(plan):
        assert _is_bounded_offsets_agg(child), f"{child}\n{plan}"
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange hashpartitioning" in plan, plan


def test_zscore_broadcasts_type_stats(spark, sf_small):
    """The anomaly scan must broadcast the tiny per-type stats frame —
    a shuffle join here would re-exchange the full day-grain table on
    event_type (a handful of hot keys: maximal skew) for no reason."""
    df = REGISTRY["events_zscore_daily_anomaly"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_source_mix_broadcasts_total(spark, sf_small):
    """The mixing-weight normalizer is one row; its join must be a
    broadcast nested loop, never a shuffle."""
    df = REGISTRY["text_source_mix_temperature"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan or plan.count("Exchange hashpartitioning") >= 1


def test_markov_single_user_window_no_global_sort(spark, sf_small):
    """The transition matrix's only full-data shuffle is the per-user
    lead window; the row-normalizer window runs over the tiny
    type-pair matrix. No SinglePartition exchange may appear."""
    df = REGISTRY["events_markov_transitions"].fn(spark, sf_small)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Window") >= 2, plan


def test_skew_report_broadcasts_totals_takeordered(spark, sf_small):
    """Skew diagnosis: one-row totals broadcast (never a shuffle
    join), top-20 planned as TakeOrderedAndProject (per-partition heap,
    not a global sort)."""
    df = REGISTRY["profile_join_key_skew_orders"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_time_weighted_avg_keyed_window_partial_agg(spark, sf_small):
    """TWA: the lead window must be keyed (user_id, day) — never a
    SinglePartition sweep — and the weighted sums must partial-agg
    before their exchange."""
    df = REGISTRY["events_time_weighted_value"].fn(spark, sf_small)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" in plan and "partial" in plan.lower(), plan


def test_integrity_audit_prunes_dims_to_key_column(spark, sf_small):
    """Every FK check must prune the dimension scan to its key column —
    reading full dimension rows to test key existence is wrong at any
    scale."""
    df = REGISTRY["profile_referential_integrity"].fn(spark, sf_small)
    plan = _plan(df)
    for wide_col in ("c_name", "c_acctbal", "o_totalprice", "n_name"):
        assert wide_col not in plan, f"{wide_col} read by integrity audit:\n{plan}"


def test_trailing_7d_broadcasts_day_list(spark, sf_small):
    """The rolling-distinct range join must broadcast the tiny day
    list against the (day, user) pairs — a shuffle implementation of a
    ≤7-frame fan-out would move the whole pair set twice."""
    df = REGISTRY["events_trailing_7d_active_users"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_weighted_sample_take_ordered_no_global_sort(spark, sf_small):
    """The weighted sample's top-k must plan as TakeOrderedAndProject
    (per-partition heap + driver merge of k rows) — the det-ln stages
    are narrow projections, so the whole query is scan → maps → heap."""
    df = REGISTRY["text_weighted_sample_topk"].fn(spark, sf_small)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_mode_partial_aggs_and_group_limit_below_shuffles(spark, sf_small):
    """Mode's heavy shuffle must carry (group, value, partial count) —
    partial_count sits below the (group, value) exchange — and Spark's
    WindowGroupLimit must run a Partial pass BEFORE the window exchange
    (each task forwards only its local rank-1 candidates, so the window
    shuffle carries one row per group per task)."""
    df = REGISTRY["agg_mode_quantity_per_flag"].fn(spark, sf_small)
    plan = _plan(df)
    assert "partial_count" in plan, plan
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_rfm_broadcasts_anchor(spark, sf_small):
    """RFM's recency anchor is one row — it must broadcast."""
    df = REGISTRY["events_rfm_user_value"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_gini_no_global_sort(spark, sf_small):
    """Gini's rank must come from the bucketed prefix sum, never the
    oracle's one-task global window: no SinglePartition or range
    exchange below the final one-row aggregate."""
    df = REGISTRY["agg_gini_order_value"].fn(spark, sf_small)
    plan = _plan(df)
    assert "Exchange rangepartitioning" not in plan, plan
    # the only SinglePartition exchanges allowed: the final 1-row
    # global agg (keyless) and the ≤32-row per-bucket offsets feed
    for child in _single_partition_children(plan):
        assert _is_bounded_offsets_agg(child) or "HashAggregate(keys=[]" in child, (
            f"{child}\n{plan}"
        )
    assert "Exchange hashpartitioning" in plan, plan


def test_quartiles_no_single_partition_window(spark, sf_small):
    """The quartile summary must never plan the oracle's global-window
    shape: the rank comes from the bucketed prefix sum, so no
    unpartitioned Window over DATA — the only SinglePartition exchange
    allowed feeds the ≤32-row per-bucket offsets window."""
    df = REGISTRY["window_ntile_acctbal_quartiles"].fn(spark, sf_small)
    plan = _plan(df)
    for child in _single_partition_children(plan):
        assert _is_bounded_offsets_agg(child), f"{child}\n{plan}"
    assert "Exchange rangepartitioning" not in plan, plan


def test_unigram_nll_detln_runs_on_vocab_not_tokens(spark, sf_small):
    """The det-ln projections must run over the VOCAB aggregate, never
    the exploded token stream: the plan's token→vocab equi-join carries
    only (tok, nll_ppm) from the vocab side, and there is no cartesian
    or nested-loop anywhere."""
    df = REGISTRY["text_unigram_logprob_filter"].fn(spark, sf_small)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "Generate explode" in plan, plan
    # det-ln's CASE range-reduction appears once (vocab side), below
    # an aggregate, not applied to the raw exploded stream
    assert plan.count("WHEN (x >=") <= 90, plan  # one 41-arm chain x2 uses


def test_tfidf_group_limit_below_window_shuffle(spark, sf_small):
    """TF-IDF top terms: the rank<=3 must push below the per-doc window
    exchange (WindowGroupLimit Partial), and the det-ln stages run on
    the vocab side of an equi-join — no cartesian anywhere."""
    df = REGISTRY["text_tfidf_top_terms"].fn(spark, sf_small)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_scd2_single_window_no_self_join(spark, sf_small):
    """SCD2 history must be one key-partitioned window over
    snapshot ∪ changes — any join in the plan means the operator
    regressed to the self-join formulation."""
    plan = _plan(REGISTRY["cdc_scd2_orders_history"].fn(spark, sf_small))
    assert "Window" in plan
    assert "Join" not in plan, plan


def test_fuzzy_join_broadcasts_catalog(spark, sf_small):
    """The deduped catalog broadcasts; the probe side never shuffles
    for the match, and best-match-per-probe uses the partial
    WindowGroupLimit (rank pushed below the window shuffle)."""
    plan = _plan(REGISTRY["join_fuzzy_blocked_levenshtein"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_attribution_single_touch_join(spark, sf_small):
    """Linear attribution: ONE purchase↔touch join (the n_touches count
    is a window over the join output, not a second join)."""
    plan = _plan(REGISTRY["events_attribution_linear_7d"].fn(spark, sf_small))
    assert plan.count("Join") == 1, plan
    assert "Window" in plan


def test_copurchase_broadcasts_part_take_ordered(spark, sf_small):
    """Brand pairs: the part dimension broadcasts (the fact side never
    shuffles for it) and the top-30 is a TakeOrdered, never a global
    sort."""
    plan = _plan(REGISTRY["agg_copurchase_brand_pairs"].fn(spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_kmv_sketch_take_ordered_partial_agg(spark, sf_small):
    """Each KMV sketch is distinct-of-hash (map-side partial agg) into
    a TakeOrdered — never a single-partition global-sort window."""
    from cassaforte_meter_transmission_gen_spark.operators.sketches import (
        kmv_sketch,
    )

    df = spark.range(10000).selectExpr("CONCAT('k', id) AS k")
    plan = _plan(kmv_sketch(df, "k"))
    assert "TakeOrderedAndProject" in plan
    # the distinct is a two-phase hash agg (map-side partial), and the
    # sketch never plans a single-partition sort
    assert plan.count("HashAggregate") >= 2
    assert "Sort " not in plan, plan


def test_pagerank_edges_pinned_no_fact_rescan(spark, sf_small):
    """The PageRank iterations must run over the localCheckpoint-pinned
    edge list: a lineitem/orders parquet scan in the returned plan
    means the 4-table fact join is being re-derived per iteration."""
    plan = _plan(REGISTRY["graph_pagerank_nation_trade"].fn(spark, sf_small))
    assert "lineitem" not in plan and "orders" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the nation name join


def test_triangle_edges_pinned_no_fact_rescan(spark, sf_small):
    plan = _plan(REGISTRY["graph_triangle_count_brands"].fn(spark, sf_small))
    assert "lineitem" not in plan and "part.parquet" not in plan, plan


def test_pagerank_dangling_edges_pinned_no_fact_rescan(spark, sf_small):
    """The dangling variant adds a one-row aggregate + crossJoin per
    iteration — still no fact rescan and no unbroadcast cartesian."""
    plan = _plan(
        REGISTRY["graph_pagerank_dangling_trade"].fn(spark, sf_small)
    )
    assert "lineitem" not in plan and "orders" not in plan, plan
    assert "CartesianProduct" not in plan, plan  # scalars broadcast


def test_triangle_wedge_join_is_equi_on_oriented_source(spark, sf_small):
    """The wedge join must hash/sort-merge on the oriented source
    vertex u (equi key), with the degree-order tiebreak as a residual
    condition — NOT a cartesian with a filter. A cartesian here is the
    deg² blowup the degree orientation exists to prevent."""
    plan = _plan(REGISTRY["graph_triangle_count_brands"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    # the wedge equi key (u2 = u1) survives into a real join operator
    assert "u1" in plan and "u2" in plan, plan


def test_ewma_group_limit_below_window_shuffle(spark, sf_small):
    """Trailing EWMA: the rn ≤ 8 predicate must push as a partial
    WindowGroupLimit so each task forwards at most 8 rows per user to
    the window shuffle."""
    plan = _plan(REGISTRY["events_ewma_user_value"].fn(spark, sf_small))
    assert "WindowGroupLimit" in plan, plan


def test_pattern_detection_single_window_no_self_join(spark, sf_small):
    """drop-drop-spike: all three lags come from ONE user-partitioned
    window pass — any join means the three-self-joins formulation."""
    plan = _plan(REGISTRY["events_pattern_drop_drop_spike"].fn(spark, sf_small))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_partitioned_read_prunes_directories(spark, sf_small):
    """source_partitioned_pruned_read: the day-range predicate must
    reach the scan as PartitionFilters (directory-level pruning before
    any file opens), never as a post-scan Filter alone."""
    df = REGISTRY["source_partitioned_pruned_read"].fn(spark, sf_small)
    plan = _plan(df)
    idx = plan.index("PartitionFilters")
    seg = plan[idx : idx + 200]
    assert "day" in seg and "2024-01-08" in seg, seg


def test_cusum_single_shuffle_no_python(spark, sf_small):
    """The CUSUM fold runs as Catalyst higher-order functions over the
    per-user collected sequence: exactly one hash-partitioned exchange
    (the groupBy user), no window-sort pass, and no Python evaluation
    anywhere in the plan."""
    plan = _plan(REGISTRY["events_cusum_user_value_shift"].fn(spark, sf_small))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan and "Arrow" not in plan, plan


def test_quantile_sample_sketch_is_take_ordered(spark, sf_small):
    """Each shard sketch and the merge must plan as TakeOrdered
    (per-partition top-k heaps + one k-row merge) — never a global
    sort — the same audit the KMV sketch carries."""
    from cassaforte_meter_transmission_gen_spark.operators.sketches import (
        quantile_sample_sketch,
    )

    docs = spark.read.parquet(f"{sf_small}/orders.parquet")
    plan = _plan(quantile_sample_sketch(docs, "o_orderkey", "o_totalprice"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan, plan


def test_shortest_path_edges_pinned_no_fact_rescan(spark, sf_small):
    """The Bellman-Ford rounds must relax over the pinned edge list:
    any lineitem/orders scan in the returned plan means the 4-table
    fact join re-derives per round."""
    plan = _plan(REGISTRY["graph_shortest_path_trade"].fn(spark, sf_small))
    assert "lineitem" not in plan and "orders" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the nation name join


def test_psi_drift_fact_scan_pinned_once(spark, sf_small):
    """The PSI gate reads the fact table exactly once — the 10-row
    bucket-count state is localCheckpoint-pinned (the PageRank edge
    move) because BOTH the totals aggregate and the share projection
    consume it; an events scan in the returned plan means each
    consumer re-derives the scan."""
    plan = _plan(REGISTRY["profile_psi_value_drift"].fn(spark, sf_small))
    assert "events.parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan  # scalars broadcast
    # the pinned scan itself prunes: only value + ts are read
    from cassaforte_meter_transmission_gen_spark.schemas import load_table

    ev = load_table(spark, sf_small, "events")
    import pyspark.sql.functions as F

    scan = _plan(
        ev.select(
            F.least(F.floor(F.col("value") / F.lit(50.0)), F.lit(9)).alias(
                "bucket"
            ),
            F.dayofmonth("ts").alias("dom"),
        )
    )
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    for unneeded in ("props", "event_type", "user_id", "event_id"):
        assert unneeded not in read_schema, read_schema


def test_zorder_blocks_scan_prunes_columns(spark, sf_small):
    """The z-order stats read exactly (l_orderkey, l_partkey) — the
    interleave is a projection, never a wide scan."""
    plan = _plan(REGISTRY["pipeline_zorder_layout_blocks"].fn(spark, sf_small))
    assert plan.count("lineitem") == 1, plan
    rs = plan.index("ReadSchema")
    read_schema = plan[rs:].splitlines()[0]
    for unneeded in ("l_comment", "l_extendedprice", "l_shipdate"):
        assert unneeded not in read_schema, read_schema


def test_inverted_index_bounded_window_and_no_uncapped_set(spark, sf_small):
    """The posting-head rank filter must plan as WindowGroupLimit
    (partial + final): every map task keeps ≤ 64 rows per term BEFORE
    the window shuffle, so a stopword's posting sort is bounded
    instead of one task sorting its whole document list — the
    straggler that kills naive index builds. No uncapped collect_set
    may appear anywhere (per-term state is the ≤ 64-id list), and the
    (term, doc_id) pre-collapse partial-aggregates map-side."""
    plan = _plan(REGISTRY["text_inverted_index_postings"].fn(spark, sf_small))
    assert "WindowGroupLimit" in plan, plan
    assert "partial_count" in plan, plan  # map-side combine below exch 1
    assert "collect_set" not in plan, plan  # only the rank-gated list


def test_feature_hashing_one_exchange_no_text(spark, sf_small):
    """Explode → hash → ONE groupBy exchange with map-side partial
    aggregation; the shuffled schema is int64 triples — document text
    must never cross the wire."""
    import re

    plan = _plan(
        REGISTRY["pipeline_feature_hashing_sparse"].fn(spark, sf_small)
    )
    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) == 1, plan
    assert "partial_count" in plan, plan
    # text is consumed by the explode below the exchange; the exchange
    # input carries only (doc_id, feature_id)
    exch = plan[plan.index("Exchange hashpartitioning"):]
    first_proj = exch[exch.index("+- "):].splitlines()[0]
    assert "text" not in first_proj, first_proj


def test_seasonal_backtest_is_one_fact_scan(spark, sf_small):
    """Train and holdout sums come from ONE conditional-aggregation
    pass — a second events scan means the windows were aggregated
    separately."""
    plan = _plan(
        REGISTRY["events_seasonal_naive_backtest"].fn(spark, sf_small)
    )
    assert plan.count("events.parquet") == 1, plan
    rs = plan.index("ReadSchema")
    read_schema = plan[rs:].splitlines()[0]
    for unneeded in ("props", "user_id", "event_id"):
        assert unneeded not in read_schema, read_schema


def test_mad_outliers_daily_state_pinned(spark, sf_small):
    """The two median passes and the flag join must run over the
    pinned daily table: an events scan in the returned plan means a
    percentile pass re-derived the fact aggregation."""
    plan = _plan(
        REGISTRY["events_mad_robust_daily_outliers"].fn(spark, sf_small)
    )
    assert "events.parquet" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan  # per-type stats broadcast


def test_prefix_filter_jaccard_no_cartesian(spark, sf_small):
    """The exact set-similarity join must be equi-joins end to end —
    a cartesian/nested-loop anywhere means the prefix filter degraded
    to all-pairs — and the shingle table must be derived ONCE: a
    documents scan in the returned plan means a consumer (prefix or
    a verify side) re-derived the tokenize→shingle projection instead
    of reading the localCheckpoint pin."""
    plan = _plan(
        REGISTRY["dedup_prefix_filter_jaccard_pairs"].fn(spark, sf_small)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "documents.parquet" not in plan, plan


def test_phash_near_dup_banded_equi_join_only(spark, sf_small):
    """The perceptual-hash pair search must be the banded equi-join —
    a cartesian/nested-loop anywhere means the pigeonhole pruning
    degraded to all-pairs image comparison."""
    plan = _plan(REGISTRY["multimodal_phash_near_dup"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_phash64_words_near_dup_banded_equi_join_only(spark, sf_small):
    """The word-packed 64-bit aHash pair search must also be the
    banded equi-join — the derived banding (8 bands over 2 words) has
    to prune exactly like the single-word variant."""
    plan = _plan(
        REGISTRY["multimodal_phash64_words_near_dup"].fn(spark, sf_small)
    )
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dataset_card_is_one_fact_scan(spark, sf_small):
    """All card metrics — including the three DISTINCT aggregates —
    must come from ONE documents scan (Catalyst's Expand rewrite);
    a second scan means a metric was computed in its own pass."""
    plan = _plan(REGISTRY["pipeline_dataset_card"].fn(spark, sf_small))
    assert plan.count("documents.parquet") == 1, plan
    assert "Expand" in plan, plan


def test_aqp_sample_filter_reaches_scan(spark, sf_small):
    """The 1/16 hash-sample predicate must reach the sample-side scan
    as a data filter (pure key arithmetic, evaluable at the reader) —
    sampling AFTER a full materialization forfeits the 16x read."""
    plan = _plan(REGISTRY["agg_aqp_hash_sampled_revenue"].fn(spark, sf_small))
    assert plan.count("lineitem") == 2, plan  # sample side + exact twin
    import re

    # the sample branch's scan carries the modular-arithmetic filter
    assert re.search(r"Filter .*2654435761", plan), plan


def test_containment_pairs_no_cartesian(spark, sf_small):
    """The asymmetric containment join must stay equi-joins end to
    end — probe-prefix against the full shingle index, never
    all-pairs."""
    plan = _plan(REGISTRY["dedup_containment_pairs"].fn(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # shingle table pinned once — no consumer re-derives from the scan
    assert "documents.parquet" not in plan, plan


def test_wow_movers_take_ordered_and_broadcast(spark, sf_small):
    """Top-20 swings plan as TakeOrderedAndProject (per-partition
    heaps, no global sort) with the customer dimension broadcast."""
    plan = _plan(REGISTRY["window_wow_revenue_movers"].fn(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_pmi_bigram_extraction_shuffle_free(spark, sf_small):
    """Bigram extraction must be the arrays_zip-against-own-tail
    projection — a posexplode+window formulation would shuffle every
    TOKEN by doc before any aggregation. Only count groupBys and the
    survivor joins may exchange."""
    from pyspark.sql import functions as F

    from cassaforte_meter_transmission_gen_spark.functions.text import tokens_sql

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    bg = docs.select(F.expr(tokens_sql("text")).alias("toks")).selectExpr(
        "explode(arrays_zip(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1))) AS p"
    )
    plan = _plan(bg)
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_bucketed_sortmerge_join_zero_exchange(spark, sf_small):
    """The whole bucketed plan — scan → SMJ → groupBy(custkey) — must
    contain no Exchange: both scans report bucket HashPartitioning and
    the aggregate's clustering contains the bucket key."""
    df = REGISTRY["join_bucketed_sortmerge_revenue"].fn(spark, sf_small)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan


def test_heavy_hitters_candidates_broadcast_below_exact_pass(spark, sf_small):
    """Two-pass heavy hitters: the verify pass must join the fact
    against BROADCAST candidates (never shuffle the fact on the join),
    with the Python summary stage present exactly once."""
    df = REGISTRY["agg_heavy_hitters_two_pass"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # the MG summary itself was materialized by the eager pin (one
    # Python pass total), so no MapInPandas may appear in the verify plan
    assert "MapInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_cuped_user_state_pinned_once(spark, sf_small):
    """CUPED reads the per-user frame twice (moment row + variant
    report); the pin must keep the events fact scan out of the final
    plan entirely."""
    df = REGISTRY["events_ab_cuped_adjusted"].fn(spark, sf_small)
    plan = _plan(df)
    assert "events.parquet" not in plan, "fact scan re-derived past the pin"
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_hits_edges_pinned_no_fact_rescan(spark, sf_small):
    """All 6 HITS half-steps must reuse the pinned edge list — no
    lineitem/orders scan may survive into the iteration plan."""
    df = REGISTRY["graph_hits_nation_trade"].fn(spark, sf_small)
    plan = _plan(df)
    assert "lineitem" not in plan and "orders" not in plan


def test_hits_pins_edges_once_and_runs_few_jobs(spark, sf_small, monkeypatch):
    """HITS is one lazy plan over the pinned edge list: building the
    frame calls localCheckpoint exactly once (the edges), and build
    plus execution stay within 30 Spark jobs — pinning every
    half-step's state took about 80."""
    df_class = type(spark.range(1))
    real = df_class.localCheckpoint
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    monkeypatch.setattr(df_class, "localCheckpoint", counting)
    df = REGISTRY["graph_hits_nation_trade"].fn(spark, sf_small)
    monkeypatch.undo()
    assert len(calls) == 1
    assert df.count() > 0
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 30, f"{len(jobs)} jobs"


@pytest.mark.parametrize("op", ["pagerank", "shortest_path", "hits"])
def test_graph_iterations_read_previous_state_once(spark, op):
    """Each iteration of an iterative graph operator reads the previous
    state once. A state read twice is copied into the plan twice, so the
    plan doubles per iteration: the pinned edge list appeared 79 times
    in PageRank at 3 iterations and 191 times in shortest path at 6
    hops. Counted as ``LogicalRDD`` leaves of the optimized plan over a
    pinned toy edge list, at the registry queries' iteration counts: one
    more iteration adds at most 2, and HITS holds at most
    ``2·HITS_ITERS + 1``."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        HITS_ITERS,
        hop_bounded_shortest_path,
        integer_hits,
        integer_pagerank,
    )

    edges = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 1), (2, 0, 3), (2, 3, 1)],
        "src INT, dst INT, w BIGINT",
    ).localCheckpoint()

    def leaves(df) -> int:
        return _optimized(df).count("LogicalRDD")

    if op == "hits":
        assert leaves(integer_hits(edges)) <= 2 * HITS_ITERS + 1
        return
    if op == "pagerank":
        k, build = 3, lambda n: integer_pagerank(edges, n)
    else:
        cost = edges.withColumnRenamed("w", "cost")
        k, build = 6, lambda n: hop_bounded_shortest_path(cost, 0, n)
    at_k, at_k1 = leaves(build(k)), leaves(build(k + 1))
    assert at_k <= 10 and at_k1 - at_k <= 2, (at_k, at_k1)


def test_benford_counts_pinned_once(spark, sf_small):
    """The 9-row digit-count state feeds the total row and the report;
    the pin must keep the lineitem scan out of the final plan."""
    df = REGISTRY["profile_benford_first_digit"].fn(spark, sf_small)
    plan = _plan(df)
    assert "lineitem" not in plan


def test_scaler_and_winsorize_broadcast_stats(spark, sf_small):
    """Fit/apply queries: the one-row stats side must broadcast (the
    apply is map-side) — a shuffled stats join would mean the plan
    repartitions the fact to meet a 1-row relation."""
    for name in (
        "pipeline_standard_scaler_monthly",
        "pipeline_winsorize_monthly_revenue",
        "pipeline_target_encoding_loo",
    ):
        plan = _plan(REGISTRY[name].fn(spark, sf_small))
        assert (
            "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        ), name
        assert "SortMergeJoin" not in plan, name


def test_pca_arrow_kernel_one_shuffle_fixed_width(spark, sf_small):
    """The Gram query's only exchange is the 2 080-key aggregate over
    per-task partials; the Python stage appears once and reads ONLY the
    vector column (column pruning through mapInPandas)."""
    df = REGISTRY["vector_pca_second_moments"].fn(spark, sf_small)
    plan = _plan(df)
    assert plan.count("MapInPandas") == 1
    read_schema = plan[plan.index("ReadSchema") :].splitlines()[0]
    assert "embedding" in read_schema and "vec_id" not in read_schema


def test_kcore_peel_pinned_edges_broadcast_survivors(spark, sf_small):
    """The k-core result plan must read only pinned peel state (no
    lineitem/orders fact scan survives into it) and join survivors by
    BROADCAST — the per-round economics the operator documents."""
    df = REGISTRY["graph_kcore_trade"].fn(spark, sf_small)
    plan = _plan(df)
    assert "lineitem.parquet" not in plan, "fact scan re-derived past the pin"
    assert "CartesianProduct" not in plan


def test_unigram_estep_python_only_on_distinct_words(spark, sf_small):
    """Unigram-LM training: the E-step's Arrow stage must consume the
    PINNED distinct-word table — the corpus scan (documents.parquet)
    must not survive into the result plan, and the result itself is a
    driver-assembled vocab-sized table (no Python stage in it)."""
    df = REGISTRY["text_unigram_lm_train_vocab"].fn(spark, sf_small)
    plan = _plan(df)
    assert "documents.parquet" not in plan
    assert "MapInPandas" not in plan


def test_funnel_passes_copartition_on_user(spark, sf_small):
    """The 3-step funnel must contain no cartesian product and no
    broadcast of the FACT side — step joins are hash equi-joins keyed
    on user_id (co-partitioned after the first shuffle)."""
    df = REGISTRY["events_funnel_view_click_purchase"].fn(spark, sf_small)
    plan = _plan(df)
    assert "CartesianProduct" not in plan


def test_cohort_activity_collapsed_before_join(spark, sf_small):
    """Cohort retention joins DISTINCT (user, week) activity against
    the cohort map — an aggregate must sit below the join on the
    activity side (HashAggregate before the join in the plan), and the
    cohort-size decoration must broadcast."""
    df = REGISTRY["events_cohort_weekly_retention"].fn(spark, sf_small)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_auc_exact_window_bucketed_not_single_partition(spark, sf_small):
    """events_model_auc_exact's negatives-below prefix must run through
    the bucketed two-pass prefix sum: every Window in the plan
    partitions by the bucket id (__pid), never a global unpartitioned
    sort — the single-partition Exchange that remains belongs to the
    final one-row totals aggregate, not to any Window."""
    df = REGISTRY["events_model_auc_exact"].fn(spark, sf_small)
    plan = _plan(df)
    window_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert window_lines, plan
    for line in window_lines:
        assert "__pid#" in line, line


def test_kcore_survivor_broadcast_is_size_gated(spark, sf_small):
    """The k-core peel's survivor join must broadcast ONLY while the
    survivor set is small (VERDICT r11: a forced hint at a billion
    vertices is a driver OOM): under the threshold the join is
    broadcast-hinted; over it the hint is dropped and the equi-join
    shuffles."""
    from cassaforte_meter_transmission_gen_spark.operators.graph import (
        _kcore_peel_join,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "a long, b long"
    )
    keep = spark.createDataFrame([(1,), (2,), (3,)], "v long")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # kill size-based auto-broadcast so only the HINT decides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        hinted = _plan(
            _kcore_peel_join(edges, keep, n_survivors=3, broadcast_max=100)
        )
        assert "BroadcastHashJoin" in hinted, hinted
        gated = _plan(
            _kcore_peel_join(edges, keep, n_survivors=101, broadcast_max=100)
        )
        assert "BroadcastHashJoin" not in gated, gated
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pr_auc_windows_bucketed_not_single_partition(spark, sf_small):
    """events_model_pr_auc_exact rides the same bucketed prefix-sum
    machinery as the exact AUC — every Window partitions by __pid."""
    df = REGISTRY["events_model_pr_auc_exact"].fn(spark, sf_small)
    plan = _plan(df)
    window_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert window_lines, plan
    for line in window_lines:
        assert "__pid#" in line, line


def test_ks_statistic_windows_bucketed_not_single_partition(spark, sf_small):
    """events_model_ks_statistic rides the bucketed prefix sums — every
    Window partitions by __pid; max/argmax are plain aggregates."""
    df = REGISTRY["events_model_ks_statistic"].fn(spark, sf_small)
    plan = _plan(df)
    window_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert window_lines, plan
    for line in window_lines:
        assert "__pid#" in line, line


def test_chunk_sliding_no_shuffle(spark, sf_small):
    """text_chunk_sliding_tokens is a pure per-document flatMap — the
    plan must contain NO Exchange at all: tokenize, explode(sequence),
    project, done."""
    plan = _plan(REGISTRY["text_chunk_sliding_tokens"].fn(spark, sf_small))
    assert "Exchange" not in plan, plan


def test_chunk_cdc_window_per_document(spark, sf_small):
    """text_chunk_content_defined's cumulative boundary count must
    window PER DOCUMENT (state bounded by doc length), never an
    unpartitioned global sort."""
    plan = _plan(REGISTRY["text_chunk_content_defined"].fn(spark, sf_small))
    window_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert window_lines, plan
    for line in window_lines:
        assert "doc_id#" in line.split("windowspecdefinition")[-1], line


def test_weighted_quartiles_window_bucketed_not_single_partition(
    spark, sf_small
):
    """agg_weighted_quartiles_price's cumulative weight must ride the
    bucketed two-pass prefix sum (__pid-partitioned windows), never a
    single-task global-sort window — the equi-depth/AUC machinery."""
    df = REGISTRY["agg_weighted_quartiles_price"].fn(spark, sf_small)
    plan = _plan(df)
    window_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert window_lines, plan
    for line in window_lines:
        assert "__pid#" in line, line


def test_chi2_broadcasts_class_totals(spark, sf_small):
    """text_chi2_token_lang's 5-row class-totals and 1-row corpus-total
    joins must broadcast — the token-keyed aggregates stay the only
    shuffles."""
    plan = _plan(REGISTRY["text_chi2_token_lang"].fn(spark, sf_small))
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2, plan


def test_nb_detln_on_vocab_not_token_stream(spark, sf_small):
    """The NB classifier's det-ln projections must run over the
    vocab×class aggregate, never the exploded token stream: every
    det-ln stage (the FLOOR(...*1000000) projection) sits ABOVE an
    aggregate in the plan. Proxy check: the plan contains the det-ln
    marker and at least two HashAggregates below the serve join."""
    df = REGISTRY["text_naive_bayes_langid_confusion"].fn(spark, sf_small)
    plan = _plan(df)
    assert "1000000" in plan  # the micro-nat quantization projection
    assert plan.count("HashAggregate") >= 4, plan


def test_knn_probes_broadcast(spark, sf_small):
    """vector_knn_label_confusion's fixed-size probe set must broadcast
    against the train fold (the brute-force scorer's shape) — the scan
    over the corpus is the only wide stage."""
    plan = _plan(REGISTRY["vector_knn_label_confusion"].fn(spark, sf_small))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan
    )


def test_asof_nearest_single_union_merge_exchange(spark, sf_small):
    """events_asof_nearest_click must keep the union-merge economics:
    exactly ONE user-keyed Exchange feeds both window passes (the
    forward sort reuses the backward pass's partitioning), and no
    range join appears."""
    import re

    df = REGISTRY["events_asof_nearest_click"].fn(spark, sf_small)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan or "range" not in plan.lower()
    # exchanges keyed on user_id ALONE (the union-merge shuffle); the
    # (user_id, __ts) exchange belongs to the right-side tie dedup
    ex = re.findall(r"Exchange hashpartitioning\(user_id#\d+L, \d+\)", plan)
    assert len(set(ex)) == 1, plan
    # both carry passes sort inside that one partitioning
    assert plan.count("Window [") == 2, plan


def test_table_checksums_no_shuffle_per_table(spark, sf_small):
    """pipeline_table_checksums is one map-side-combinable aggregation
    per table: the only Exchanges are the 1-row partial→final
    SinglePartition gathers — no hashpartitioning shuffle of row
    data."""
    plan = _plan(REGISTRY["pipeline_table_checksums"].fn(spark, sf_small))
    assert "Exchange hashpartitioning" not in plan, plan


def test_scale_tag_matches_scale_paths():
    """The 'scale' tag and bench.SCALE_PATHS must be the SAME set, both
    directions — when a query is retired from the scaling harness (the
    LSH-quadratic protocol) its tag must flip to 'parity-twin' in the
    same commit, and a new scale-path family must be tagged. A silent
    drift here is a lie to any future consumer that keys off tags."""
    import bench
    from cassaforte_meter_transmission_gen_spark.plans import REGISTRY

    tagged = {n for n, q in REGISTRY.items() if "scale" in q.tags}
    paths = set(bench.SCALE_PATHS)
    assert tagged == paths, sorted(tagged ^ paths)


def test_rotating_parity_slice_contract():
    """The rotating verification slice must be deterministic for a
    round, exactly 50 names, DISJOINT from the driver's alphabetical
    first-50 window, and must vary across rounds — so external-style
    verification accumulates over the registry instead of re-checking
    the same prefix."""
    from parity_report import rotate_slice
    from cassaforte_meter_transmission_gen_spark.plans import REGISTRY

    names = sorted(REGISTRY)
    s13 = rotate_slice(names, 13)
    assert s13 == rotate_slice(names, 13)  # deterministic
    assert len(s13) == 50
    assert not set(s13) & set(names[:50])  # disjoint from driver window
    assert set(s13) != set(rotate_slice(names, 14))  # rotates
