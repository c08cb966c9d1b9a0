#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline catalog
queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print the headline as the LAST stdout
line, kept compact so the driver's tail capture always parses it:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The FULL detail dict (scale-path timings, batch-size curves, pruning
evidence) is written to ``BENCH_DETAIL_r{N}.json`` next to this script
(round inferred like parity_report.py; override with
$SPARK_GRAFT_BENCH_DETAIL) — round 8 proved that printing it inline
outgrows the driver's stdout tail window and silently clips data. A
SHORT pointer line with the headline detail numbers is printed before
the compact headline line.

Contention self-defense (round-8 lesson: a loaded box committed a 2×
phantom regression as the graded record): the run refuses to trust
itself silently — it records the starting load average, re-runs the
ingest benchmark a third time when the first two disagree by >1.5×,
and stamps ``contended: true`` into the headline JSON when either
signal trips, so a poisoned record is at least self-labelled.

Each query is forced end-to-end with a noop-format write (full
materialization, no driver collect). Wall time per query includes plan
+ execution; the JVM/session warmup is excluded via a warmup query.
Every timed run also records, under ``query_codegen`` in the detail
file, the whole-stage classes it compiled and their compile seconds
(``session.codegen_stats`` read before and after), so a compiled-class
cache thrash or a rise in a query's class count shows in the record.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cassaforte_meter_transmission_gen_spark.plans import REGISTRY  # noqa: E402
from cassaforte_meter_transmission_gen_spark.session import codegen_stats, get_spark  # noqa: E402
from parity_report import REPO, _infer_round  # noqa: E402

#: headline set: the reference's own pipeline (generator → joules →
#: rollups → report) plus the heaviest catalog shapes per family.
HEADLINE = [
    "meter_joules_second",
    "meter_rollup_minute",
    "meter_rollup_day",
    "meter_daily_report",
    "meter_rolling_energy_5m",
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q18_large_volume_customers",
    "window_running_total",
    "events_sessionization_30m",
    "sort_limit_top100_lineitems",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash_signatures",
    "ann_bruteforce_cosine_topk",
    "text_token_top50",
    "pipeline_training_prep",
]

#: scale-path variants timed separately so the 17-query HEADLINE total
#: stays comparable across rounds; these are the bucketed/quantized
#: forms whose value is the 100 TB shape, not the sf0.1 wall-clock.
#: dedup_embedding_cosine_lsh was REMOVED in round 12 (VERDICT r11
#: #1): measured exponent 1.90 at 10× — at threshold 0.4 LSH pruning
#: is mathematically impossible, so it is now an explicitly bounded
#: verification fixture (vec_id < EMB_LSH_VERIFY_BOUND) and its
#: 0.4-threshold scale semantics ride dedup_semantic_clusters
#: (measured exp 0.84) below.
SCALE_PATHS = [
    # round 12: the 0.8-threshold LSH form left the scale path — its
    # banded join admits a constant FRACTION of all pairs (≈6%, its own
    # sizing math), i.e. quadratic; the 10x exponent 0.89 was fixed-cost
    # masking and the staged-100x probe (200k vectors) exhausted 78 GB
    # of shuffle spill. Scale semantics at 0.8 ride the adaptive-cell
    # path below (the VERDICT r11 resolution applied to this threshold);
    # the LSH form stays registered as the oracle-gated parity twin.
    "vector_dedup_cosine_cells_hi",
    "ann_lsh_bucketed_topk",
    "ann_ivf_topk",
    "ann_int8_quantized_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "dedup_semantic_clusters",
    "dedup_incremental_minhash",
    "text_duplicated_span_fraction",
    "text_bm25_topk",
    "text_hybrid_rrf_topk",
    "join_bloom_pruned_semi_revenue",
    # round-7 additions: the token-stream vocab-NLL join (the heaviest
    # new path) and the bucketed prefix-sum global rank
    "text_unigram_logprob_filter",
    "agg_equidepth_price_deciles",
    # round-8 additions: the 4-table fact join feeding 3 integer
    # PageRank iterations, and the 7-day interval-join attribution
    "graph_pagerank_nation_trade",
    "events_attribution_linear_7d",
    # round-10 additions: the shingle-heavy exact set-similarity joins
    # and the PMI collocation miner — the r9 word_shingles rewrite won
    # 5-7x here and would be invisible to regression without a timed
    # record (VERDICT r9 item 3)
    "dedup_prefix_filter_jaccard_pairs",
    "dedup_containment_pairs",
    "text_pmi_collocations",
    # round-10 additions: the zero-Exchange bucketed SMJ (first run
    # pays the fingerprint-cached layout write; the rerun is the
    # steady-state serve figure), the two-pass exact heavy hitters,
    # the PCA moment matrix, and the 3-iteration integer HITS
    "join_bucketed_sortmerge_revenue",
    "agg_heavy_hitters_two_pass",
    "vector_pca_second_moments",
    "graph_hits_nation_trade",
    # round-11 additions: the adaptive-cell SemDeDup fix is tracked
    # here (its 10x regression story lives in SCALING_r11.json), plus
    # the unigram-LM trainer and the k-core peel — the round's new
    # iterative families, both measured sublinear at 10x
    "text_unigram_lm_train_vocab",
    "graph_kcore_trade",
    # round-12 additions: the chunkers (token-stream flatMap + the
    # per-doc cumulative-sum window), the supervised NB classifier
    # (vocab×class det-ln + token-keyed serve join), and the χ²
    # feature selector (presence-distinct + stacked aggs) — the new
    # token-stream-heavy families, all linear by construction
    "text_chunk_sliding_tokens",
    "text_chunk_content_defined",
    "text_naive_bayes_langid_confusion",
    "text_chi2_token_lang",
    # the chunk-granularity near-dup join (df-capped chunk buckets —
    # hot-key-bounded by construction; the CDC chunking payoff)
    "dedup_chunk_overlap_pairs",
]

#: scale-path names re-timed a second time with the min reported:
#: the ANN serve family compiles huge generated expressions, so its
#: first run is JIT/GC-sensitive (±45% swings measured in r7/r9 with
#: no code change) — steady-state serve latency is the honest figure.
#: The bucketed SMJ's first run pays the fingerprint-cached layout
#: write (train-once), so its rerun is the serve figure too; the PCA
#: arrow kernel's first run pays Python-worker startup (measured 3.5 s
#: cold vs 0.7 s steady at sf0.1).
#: Both runs land in the detail file so the variance stays visible.
BEST_OF_TWO = ("ann_", "join_bucketed_", "vector_pca_")


def _scan_metrics(node, out: list) -> None:
    """Collect per-Scan metric maps from an executed plan tree — the
    measured partitions/files evidence behind the pruning claims."""
    if "Scan" in node.nodeName():
        m, keys = node.metrics(), node.metrics().keys().iterator()
        d = {}
        while keys.hasNext():
            k = keys.next()
            d[k] = m.apply(k).value()
        out.append(d)
    for i in range(node.children().size()):
        _scan_metrics(node.children().apply(i), out)


def _detail_path() -> str:
    """BENCH_DETAIL_r{N}.json beside this script, N = the round in
    progress (parity_report._infer_round); $SPARK_GRAFT_BENCH_DETAIL
    overrides."""
    return os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        REPO, f"BENCH_DETAIL_r{_infer_round():02d}.json"
    )


def main() -> None:
    bench_t0 = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    load_at_start = [round(x, 2) for x in os.getloadavg()]
    if load_at_start[0] > 8:
        print(
            f"WARNING: load average {load_at_start[0]} at start — another"
            " workload is likely running; timings will read uniformly slow."
            " Drain the box and re-run before committing this record.",
            file=sys.stderr,
        )
    spark = get_spark("cassaforte-bench")

    # warmup: JVM + parquet footer caches, not counted
    REGISTRY["q06_forecast_revenue"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # the reference's own headline first (on a fresh heap): the
    # five-table write fan-out (generate → raw + second + minute/hour/
    # day), measured end-to-end to real parquet. Reference throughput =
    # 15k samples/meter/sec × 2 meters = 30k samples/sec (BASELINE.md);
    # ours is derived the same way: meter-seconds × 15000 / elapsed.
    import shutil
    import tempfile

    from cassaforte_meter_transmission_gen_spark.operators.ingest import ingest_batch

    n_meters, n_seconds = 4, 7200

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    #: per timed query, one entry per run: classes compiled, compile s
    query_codegen: dict[str, list[dict]] = {}

    def _record_codegen(name: str, before: tuple[int, float]) -> None:
        n, s = codegen_stats(spark)
        query_codegen.setdefault(name, []).append(
            {"classes": n - before[0], "compile_s": round(s - before[1], 3)}
        )

    for name in HEADLINE:
        cg0 = codegen_stats(spark)
        t0 = time.perf_counter()
        # failure-isolated: one broken query must not null the whole
        # round's bench — record the error and keep timing the rest
        try:
            REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            # drop persisted intermediates (e.g. dedup shingle caches) so
            # one query's cache doesn't pressure the next one's heap
            spark.catalog.clearCache()
            _record_codegen(name, cg0)

    # train-once/serve-many: the ANN quantizer artifacts (IVF coarse
    # centroids, PQ codebooks) are trained and persisted ONCE here, into
    # a fresh store so the numbers are honest — training time is
    # reported separately (ann_train_sec, detail line) and the ann_*
    # scale-path timings below measure pure SERVING, which is the shape
    # a 100 TB deployment pays per query.
    import atexit

    from cassaforte_meter_transmission_gen_spark.operators.similarity import (
        IVFPQ_SUBSPACES,
    )
    from cassaforte_meter_transmission_gen_spark.sources.ann_store import (
        ANN_STORE_ENV,
        trained_ivf_centroids,
        trained_ivfpq_index,
        trained_pq_codebooks,
        trained_pq_codes,
    )

    ann_store_dir = tempfile.mkdtemp(prefix="bench_ann_store_")
    os.environ[ANN_STORE_ENV] = ann_store_dir
    atexit.register(shutil.rmtree, ann_store_dir, ignore_errors=True)
    ann_train_sec: dict[str, float] = {}
    for label, train in (
        ("ivf_centroids", lambda: trained_ivf_centroids(spark, sf_dir)),
        ("pq16_codebooks", lambda: trained_pq_codebooks(spark, sf_dir)),
        (
            "pq8_codebooks",
            lambda: trained_pq_codebooks(
                spark, sf_dir, n_subspaces=IVFPQ_SUBSPACES
            ),
        ),
        # index-DATA builds (encode/assign scans, paid once per corpus
        # like the parameter training above): the serve queries read
        # these persisted tables, so their cost belongs here
        ("pq16_codes", lambda: trained_pq_codes(spark, sf_dir)),
        ("ivfpq8_index", lambda: trained_ivfpq_index(spark, sf_dir)),
    ):
        t0 = time.perf_counter()
        try:
            train()
            ann_train_sec[label] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            errors[f"ann_train_{label}"] = f"{type(exc).__name__}: {exc}"[:500]
        finally:
            spark.catalog.clearCache()

    scale_times: dict[str, float] = {}
    scale_reruns: dict[str, list[float]] = {}
    for name in SCALE_PATHS:
        runs: list[float] = []
        n_runs = 2 if name.startswith(BEST_OF_TWO) else 1
        for _ in range(n_runs):
            cg0 = codegen_stats(spark)
            t0 = time.perf_counter()
            try:
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                break
            finally:
                spark.catalog.clearCache()
                _record_codegen(name, cg0)
        if runs:
            scale_times[name] = min(runs)
            if len(runs) > 1:
                scale_reruns[name] = runs

    # the write-heavy ingest benchmark runs AFTER the query loop: its
    # 28800 × 15k-float raw arrays leave the heap under GC pressure
    # that would otherwise bleed ~45 s into whichever query runs next
    # (measured on q01 before the reorder). Like the query loop, the
    # write path gets its own (small, untimed) warmup first — the timed
    # run otherwise measures mostly parquet-writer JIT, not throughput
    # (measured: one-shot ≈ 11 s vs ≈ 9.5 s steady state) — and a
    # requested full GC drains the query loop's garbage so the timed
    # run measures the write path, not the previous queries' cleanup.
    spark.sparkContext._jvm.System.gc()
    time.sleep(2)
    warm = tempfile.mkdtemp(prefix="bench_ingest_warm_")
    try:
        ingest_batch(spark, warm, num_meters=2, seconds=600)
    except Exception:  # noqa: BLE001
        pass
    finally:
        shutil.rmtree(warm, ignore_errors=True)
    # two timed runs, best reported (both recorded): the first run
    # still pays for whatever old-gen garbage survived the requested
    # GC, so it measures heap history as much as the write path —
    # steady-state is the honest throughput figure and both numbers
    # are in the JSON for the variance to be visible.
    ingest_runs: list[float] = []

    def _timed_ingest() -> bool:
        out = tempfile.mkdtemp(prefix="bench_ingest_")
        t0 = time.perf_counter()
        try:
            ingest_batch(spark, out, num_meters=n_meters, seconds=n_seconds)
            ingest_runs.append(round(time.perf_counter() - t0, 3))
            return True
        except Exception as exc:  # noqa: BLE001
            errors["ingest_five_tables"] = f"{type(exc).__name__}: {exc}"[:500]
            return False
        finally:
            shutil.rmtree(out, ignore_errors=True)

    for _ in range(2):
        if not _timed_ingest():
            break
    # contention tripwire (round-8 lesson): the FIRST run always pays
    # old-gen warmup (documented above), so runs 1 vs 2 disagreeing is
    # normal — when they disagree >1.5× run a third, and call the box
    # contended only if the two BEST runs still disagree >1.5× (steady
    # state itself unstable = something else is eating the cores).
    if len(ingest_runs) == 2 and max(ingest_runs) > 1.5 * min(ingest_runs):
        print(
            f"note: ingest runs {ingest_runs} differ by >1.5x —"
            " timing a third to separate warmup from contention.",
            file=sys.stderr,
        )
        _timed_ingest()
    best = sorted(ingest_runs)[:2]
    ingest_contended = len(best) == 2 and best[1] > 1.5 * best[0]
    if ingest_contended:
        print(
            f"WARNING: steady-state ingest runs {ingest_runs} still"
            " disagree by >1.5x — box contention suspected; stamping"
            " contended:true. Re-run on a drained box before committing.",
            file=sys.stderr,
        )
    ingest_sec = min(ingest_runs) if ingest_runs else None

    # the STREAMING five-table path (exactly-once commit-log sink),
    # measured separately: the honest price of delivery semantics the
    # reference doesn't have. Bounded file stream driven to completion.
    # Measured across micro-batch SIZES (maxFilesPerTrigger over the
    # 32-file stage): per-batch fixed costs (trigger planning, five
    # writes, the marker) are constant per batch, so samples/s should
    # rise with batch size — the curve quantifies
    # how much of the default-size figure is fixed cost. The default
    # size (8 → 4 micro-batches) stays the headline
    # `streaming_ingest_sec` for cross-round comparability.
    stream_meters, stream_seconds = 4, 1800
    stream_ingest_sec = None
    stream_curve: dict[str, dict] = {}
    try:
        from cassaforte_meter_transmission_gen_spark.streaming.pipeline import (
            run_bounded_streaming_ingest,
        )

        for files_per_trigger in (4, 8, 32):
            sout = tempfile.mkdtemp(prefix="bench_stream_ingest_")
            t0 = time.perf_counter()
            try:
                run_bounded_streaming_ingest(
                    spark,
                    sout,
                    num_meters=stream_meters,
                    seconds=stream_seconds,
                    max_files_per_trigger=files_per_trigger,
                )
                sec = round(time.perf_counter() - t0, 3)
            finally:
                shutil.rmtree(sout, ignore_errors=True)
            stream_curve[str(files_per_trigger)] = {
                "sec": sec,
                "samples_per_sec": round(
                    stream_meters * stream_seconds * 15000 / sec
                ),
            }
            if files_per_trigger == 8:
                stream_ingest_sec = sec
    except Exception as exc:  # noqa: BLE001
        errors["streaming_ingest"] = f"{type(exc).__name__}: {exc}"[:500]

    # extend the curve PAST the 32-file stage until it BENDS: r9's
    # 512-file stage measured 128→256→512 at 35.3→36.4→43.1M samples/s
    # — still RISING at the largest trigger, so the knee was not yet
    # located (VERDICT r9 item 1). Round 10 doubles the stage: a
    # 32×-longer stream staged ONCE (untimed) as 1024 files of the
    # SAME per-file shape as r9 (225 meter-seconds each, contiguous
    # slices — see transmissions(slices=)), triggers 256/512/1024.
    # 256 and 512 are per-file comparable with r9's points (identical
    # file meaning, 4× and 2× more batches); 1024 is one mega-batch =
    # the batch limit on this stage. The final point is where the
    # curve must go flat-or-falling — if it still rises, the committed
    # narrative must say so and place the operating point at the
    # measured argmax. Each point is skipped if the whole bench has
    # already run long (the headline line must never be lost to a
    # driver-side timeout; budget raised 900→1200 s for the 2× data).
    ext_meters, ext_seconds, ext_files = 4, 32 * stream_seconds, 1024
    stream_curve_ext: dict[str, dict] = {}
    ext_stage = tempfile.mkdtemp(prefix="bench_stream_stage_")
    try:
        from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
            transmissions,
        )

        transmissions(
            spark, num_meters=ext_meters, seconds=ext_seconds, slices=ext_files
        ).write.mode("overwrite").parquet(ext_stage)
        for files_per_trigger in (256, 512, 1024):
            if time.perf_counter() - bench_t0 > 1200:
                errors["streaming_ingest_ext"] = (
                    f"curve truncated before {files_per_trigger}:"
                    " bench elapsed > 1200s"
                )
                break
            sout = tempfile.mkdtemp(prefix="bench_stream_ext_")
            t0 = time.perf_counter()
            try:
                run_bounded_streaming_ingest(
                    spark,
                    sout,
                    num_meters=ext_meters,
                    seconds=ext_seconds,
                    max_files_per_trigger=files_per_trigger,
                    stage_files=ext_files,
                    stage_dir=ext_stage,
                )
                sec = round(time.perf_counter() - t0, 3)
            finally:
                shutil.rmtree(sout, ignore_errors=True)
            stream_curve_ext[str(files_per_trigger)] = {
                "sec": sec,
                "samples_per_sec": round(
                    ext_meters * ext_seconds * 15000 / sec
                ),
            }
    except Exception as exc:  # noqa: BLE001
        errors["streaming_ingest_ext"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        shutil.rmtree(ext_stage, ignore_errors=True)

    # Evidence sections (ANN recall collects, pruning stats, layout
    # probes) run AFTER every timed section (r15, VERDICT r14 #8):
    # they are untimed evidence, and running them between the query
    # loop and the ingest/streaming timings widened the contention
    # window the graded figures sit in. Order within the evidence
    # block, the timed methodology, and the stdout contract (pointer
    # line + compact headline LAST) are unchanged.
    # ANN retrieval-quality artifact (VERDICT r10 #2): recall@5 of
    # every approximate serve path against the exact brute-force top-5
    # at the graded operating points (nprobe, codebook sizes). A
    # codebook/banding regression that stayed deterministic would pass
    # every value-hash gate while silently degrading retrieval — this
    # records the quality number per round; tests/test_ann_store.py
    # floors the same statistic.
    ann_recall_at_5: dict[str, float] = {}
    try:
        exact_pairs: dict = {}
        for r in (
            REGISTRY["ann_bruteforce_cosine_topk"].fn(spark, sf_dir).collect()
        ):
            exact_pairs.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for name in (
            "ann_lsh_bucketed_topk",
            "ann_ivf_topk",
            "ann_int8_quantized_topk",
            "ann_pq_topk",
            "ann_ivfpq_topk",
        ):
            try:
                approx: dict = {}
                for r in REGISTRY[name].fn(spark, sf_dir).collect():
                    approx.setdefault(r["query_id"], set()).add(
                        r["neighbor_id"]
                    )
                recalls = [
                    len(approx.get(q, set()) & s) / len(s)
                    for q, s in exact_pairs.items()
                ]
                ann_recall_at_5[name] = round(
                    sum(recalls) / len(recalls), 4
                )
            except Exception as exc:  # noqa: BLE001
                errors[f"ann_recall_{name}"] = f"{type(exc).__name__}: {exc}"[:500]
            finally:
                spark.catalog.clearCache()
    except Exception as exc:  # noqa: BLE001
        errors["ann_recall_baseline"] = f"{type(exc).__name__}: {exc}"[:500]

    # the 100 TB LSH-dedup pruning claim, measured: the hi config
    # (16 tables × 8 planes, threshold 0.8) should confine the verify
    # join to ≈ 16·0.5⁸ ≈ 6% of all pairs (vs the documented
    # near-quadratic 0.4-threshold regime). Single-row stats query —
    # the same plan the vector_dedup_cosine_lsh_hi oracle gates.
    lsh_hi_stats = None
    try:
        row = REGISTRY["vector_dedup_cosine_lsh_hi"].fn(spark, sf_dir).head()
        lsh_hi_stats = {
            "n_candidates": row["n_candidates"],
            "n_pairs": row["n_pairs"],
            "candidate_fraction": round(row["candidate_fraction"], 6),
        }
    except Exception as exc:  # noqa: BLE001
        errors["lsh_hi_stats"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        spark.catalog.clearCache()

    # the two-pass heavy-hitter pruning claim, measured: how many
    # candidate keys the Misra–Gries pass admits into the exact verify
    # shuffle vs the distinct-key universe the naive plan would shuffle.
    hh_prune_stats = None
    try:
        from cassaforte_meter_transmission_gen_spark.operators.sketches import (
            misra_gries_candidates,
        )
        from cassaforte_meter_transmission_gen_spark.schemas import load_table

        from pyspark.sql import functions as F

        li = load_table(spark, sf_dir, "lineitem")
        cand = (
            misra_gries_candidates(li, "l_partkey", k=1500)
            .filter(F.col("key").isNotNull())
            .select("key")
            .distinct()
            .count()
        )
        distinct_keys = li.select("l_partkey").distinct().count()
        hh_prune_stats = {
            "mg_candidates": cand,
            "distinct_keys": distinct_keys,
            "admitted_fraction": round(cand / max(1, distinct_keys), 6),
        }
    except Exception as exc:  # noqa: BLE001
        errors["hh_prune_stats"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        spark.catalog.clearCache()

    # the bucketed-layout claim, asserted on the live plan: the SMJ +
    # groupBy over the fingerprint-cached bucketed tables must contain
    # ZERO Exchange nodes (the same property test_plan_audit pins at
    # sf0.001, recorded here at the bench scale).
    bucketed_plan_stats = None
    try:
        df = REGISTRY["join_bucketed_sortmerge_revenue"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        bucketed_plan_stats = {
            "sort_merge_join": "SortMergeJoin" in plan,
            "exchange_count": plan.count("Exchange"),
        }
    except Exception as exc:  # noqa: BLE001
        errors["bucketed_plan_stats"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        spark.catalog.clearCache()

    # the bloom pre-join pruning claim, measured: the fraction of the
    # fact side the bloom filter admits into the semi-join shuffle
    # (true members + false positives). With ~20% of lineitems urgent
    # and FPR ≈ 4% at sf0.1 the admitted fraction should sit ≈ 0.23.
    bloom_prune_stats = None
    try:
        from cassaforte_meter_transmission_gen_spark.operators.bloom import (
            bloom_build,
            bloom_prune,
        )
        from cassaforte_meter_transmission_gen_spark.plans.tpch_queries import (
            BLOOM_JOIN_BITS,
        )
        from cassaforte_meter_transmission_gen_spark.schemas import load_table

        from pyspark.sql import functions as F

        fact = load_table(spark, sf_dir, "lineitem")
        keys = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select(F.col("o_orderkey").alias("l_orderkey"))
        )
        words = bloom_build(keys, "l_orderkey", BLOOM_JOIN_BITS)
        n_fact = fact.count()
        n_admitted = bloom_prune(
            fact, "l_orderkey", words, BLOOM_JOIN_BITS
        ).count()
        bloom_prune_stats = {
            "fact_rows": n_fact,
            "admitted_rows": n_admitted,
            "admitted_fraction": round(n_admitted / n_fact, 6),
        }
    except Exception as exc:  # noqa: BLE001
        errors["bloom_prune_stats"] = f"{type(exc).__name__}: {exc}"[:500]
    finally:
        spark.catalog.clearCache()

    # the reference's flagship READ claim, measured at file level every
    # round: day-partition + said-bucket pruning on the primary-key
    # layout (setup_and_notes.txt:46). 8 meters × 3 days × 4 buckets =
    # 12 directories; the 6-hour/2-meter query must touch ≤ 2.
    flagship_prune = None
    try:
        from cassaforte_meter_transmission_gen_spark.sources.layout import (
            read_meter_time_range,
            write_time_partitioned,
        )
        from cassaforte_meter_transmission_gen_spark.sources.meter_generator import (
            T0_EPOCH,
            meter_samples_second,
        )

        lay = tempfile.mkdtemp(prefix="bench_layout_")
        try:
            write_time_partitioned(
                meter_samples_second(spark, num_meters=8, seconds=3 * 86400),
                lay,
                said_buckets=4,
            )
            q = read_meter_time_range(
                spark,
                lay,
                T0_EPOCH + 86400,
                T0_EPOCH + 86400 + 6 * 3600,
                meters=[42000, 42003],
                said_buckets=4,
            )
            rows_out = q.count()
            q.collect()

            scans: list[dict] = []
            _scan_metrics(q._jdf.queryExecution().executedPlan(), scans)
            flagship_prune = {
                "partitions_total": 12,
                "partitions_read": scans[0]["numPartitions"],
                "files_read": scans[0]["numFiles"],
                "rows_out": rows_out,
            }
        finally:
            shutil.rmtree(lay, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["flagship_prune"] = f"{type(exc).__name__}: {exc}"[:500]

    # the IVF storage-layout claim, measured like flagship_prune: the
    # embedding table persisted as an inverted file (one directory per
    # k-means cell) must serve a 4-of-16-probe ANN read by scanning
    # ~4/16 of the partitions/files — probing prunes DIRECTORIES, not
    # rows, which is the 100 TB form of ann_ivf_topk's candidate
    # reduction.
    ivf_prune = None
    try:
        from pyspark.sql import functions as F

        from cassaforte_meter_transmission_gen_spark.operators.similarity import (
            assign_probes,
        )
        from cassaforte_meter_transmission_gen_spark.schemas import load_table
        from cassaforte_meter_transmission_gen_spark.sources.layout import (
            read_ivf_partitioned,
            write_ivf_partitioned,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = trained_ivf_centroids(spark, sf_dir)  # store cache hit
        ivf_dir = tempfile.mkdtemp(prefix="bench_ivf_layout_")
        try:
            write_ivf_partitioned(emb, ivf_dir, cents)
            probes = [
                r["p"]
                for r in assign_probes(
                    emb.filter(F.col("vec_id") == 0), cents, n_probes=4
                )
                .select(F.explode("probe_ids").alias("p"))
                .collect()
            ]
            q = read_ivf_partitioned(spark, ivf_dir).filter(
                F.col("cluster_id").isin(probes)
            )
            rows_out = q.count()
            q.collect()
            scans: list[dict] = []
            _scan_metrics(q._jdf.queryExecution().executedPlan(), scans)
            ivf_prune = {
                "partitions_total": 16,
                "partitions_read": scans[0]["numPartitions"],
                "files_read": scans[0]["numFiles"],
                "rows_out": rows_out,
            }
        finally:
            shutil.rmtree(ivf_dir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["ivf_prune"] = f"{type(exc).__name__}: {exc}"[:500]

    # the PQ IO claim, measured: the encoded table (16 int codes per
    # vector) written as parquet vs the float32 embedding table it
    # replaces for candidate scans — the on-disk ratio IS the 100 TB
    # scan/shuffle reduction ann_pq_topk's ADC path buys.
    pq_io = None
    try:
        from cassaforte_meter_transmission_gen_spark.operators.similarity import (
            pq_encode,
        )
        from cassaforte_meter_transmission_gen_spark.schemas import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        books = trained_pq_codebooks(spark, sf_dir)  # store cache hit
        pq_dir = tempfile.mkdtemp(prefix="bench_pq_codes_")
        try:
            pq_encode(emb, books).write.mode("overwrite").parquet(pq_dir)
            codes_bytes = sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(pq_dir)
                for f in fs
                if f.endswith(".parquet")
            )
            emb_bytes = os.path.getsize(os.path.join(sf_dir, "embeddings.parquet"))
            pq_io = {
                "embeddings_bytes": emb_bytes,
                "codes_bytes": codes_bytes,
                "scan_reduction": round(emb_bytes / max(codes_bytes, 1), 2),
            }
        finally:
            shutil.rmtree(pq_dir, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001
        errors["pq_io"] = f"{type(exc).__name__}: {exc}"[:500]

    total = round(sum(times.values()), 3)
    load_at_end = [round(x, 2) for x in os.getloadavg()]
    contended = ingest_contended or load_at_start[0] > 8

    # the streaming OPERATING POINT (VERDICT r9 item 2): the default
    # 8-files/trigger headline understates the engine ~5× vs its own
    # curve and moves with the default, not the engine. The argmax
    # across every measured curve point is the figure a deployment
    # tuned to throughput actually gets; both numbers are reported.
    all_points = {
        f"{k}@stage32": v for k, v in stream_curve.items()
    } | {f"{k}@stage{ext_files}": v for k, v in stream_curve_ext.items()}
    op_point = None
    if all_points:
        op_key = max(all_points, key=lambda k: all_points[k]["samples_per_sec"])
        op_point = {
            "files_per_trigger": int(op_key.split("@")[0]),
            "stage_files": int(op_key.split("@stage")[1]),
            "sec": all_points[op_key]["sec"],
            "samples_per_sec": all_points[op_key]["samples_per_sec"],
        }

    # parity-artifact freshness gate (VERDICT r9 item 8): the r8 defect
    # was a committed PARITY artifact predating the registry it claims
    # to cover. The bench — which the driver always runs at snapshot —
    # now checks the current round's artifact against the LIVE registry
    # name set and stamps the result into the graded record, so a stale
    # artifact is self-labelling rather than procedurally avoided.
    parity_fresh: dict = {"checked": False}
    try:
        # round inferred from committed BENCH_r*.json, not from the
        # detail path (which may be overridden to a round-less name)
        ppath = os.path.join(REPO, f"PARITY_r{_infer_round():02d}.json")
        if not os.path.exists(ppath):
            parity_fresh = {
                "checked": True,
                "fresh": False,
                "reason": f"{os.path.basename(ppath)} missing",
            }
        else:
            with open(ppath) as f:
                pj = json.load(f)
            missing = sorted(set(REGISTRY) - set(pj.get("queries", {})))
            extra = sorted(set(pj.get("queries", {})) - set(REGISTRY))
            fails = pj.get("fail", -1)
            parity_fresh = {
                "checked": True,
                "fresh": not missing and not extra and fails == 0,
                "registry_total": len(REGISTRY),
                "artifact_total": pj.get("total"),
                "artifact_fail": fails,
            }
            if missing:
                parity_fresh["missing_from_artifact"] = missing[:20]
            if extra:
                parity_fresh["stale_in_artifact"] = extra[:20]
        if parity_fresh.get("checked") and not parity_fresh.get("fresh", True):
            print(
                f"WARNING: parity artifact stale vs live registry: "
                f"{parity_fresh}. Regenerate with parity_report.py before"
                " snapshotting.",
                file=sys.stderr,
            )
    except Exception as exc:  # noqa: BLE001
        parity_fresh = {"checked": False, "error": f"{exc}"[:200]}
    # The FULL detail dict goes to a committed file — round 7 AND round
    # 8 both proved a long stdout line outgrows the driver's tail
    # window and silently clips data (r7: the headline; r8: the
    # scale-path timings). Stdout carries only a short pointer line and
    # the compact headline LAST, small and stable-size.
    detail = {
        "detail": True,
        "scale_path_queries": scale_times,
        "scale_path_reruns_sec": scale_reruns,
        "query_codegen": query_codegen,
        "streaming_operating_point": op_point,
        "parity_artifact_check": parity_fresh,
        "ann_train_sec": ann_train_sec,
        "ann_recall_at_5": ann_recall_at_5,
        "lsh_hi_candidate_pruning": lsh_hi_stats,
        "flagship_prune": flagship_prune,
        "ivf_prune": ivf_prune,
        "pq_io": pq_io,
        "bloom_prune": bloom_prune_stats,
        "hh_prune": hh_prune_stats,
        "bucketed_plan": bucketed_plan_stats,
        "ingest_runs_sec": ingest_runs,
        "streaming_ingest_batch_size_curve": stream_curve,
        "streaming_ingest_batch_size_curve_ext": {
            "stage_files": ext_files,
            "seconds": ext_seconds,
            "points": stream_curve_ext,
        },
        "load_avg_start": load_at_start,
        "load_avg_end": load_at_end,
        "contended": contended,
    }
    detail_file = _detail_path()
    with open(detail_file, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        json.dumps(
            {
                "detail_file": os.path.basename(detail_file),
                "scale_paths_total_sec": round(sum(scale_times.values()), 3),
                "ext_curve_samples_per_sec": {
                    k: v["samples_per_sec"]
                    for k, v in stream_curve_ext.items()
                },
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_catalog_runtime",
                "value": total,
                "unit": "sec",
                "queries": times,
                "errors": errors,
                "sf": sf,
                "contended": contended,
                "ingest_five_tables_sec": ingest_sec,
                "streaming_ingest_sec": stream_ingest_sec,
                "streaming_ingest_samples_per_sec": (
                    round(
                        stream_meters * stream_seconds * 15000 / stream_ingest_sec
                    )
                    if stream_ingest_sec
                    else None
                ),
                "streaming_ingest_operating_point_samples_per_sec": (
                    op_point["samples_per_sec"] if op_point else None
                ),
                "streaming_operating_point_files_per_trigger": (
                    op_point["files_per_trigger"] if op_point else None
                ),
                "ingest_samples_per_sec": (
                    round(n_meters * n_seconds * 15000 / ingest_sec)
                    if ingest_sec
                    else None
                ),
                "reference_samples_per_sec": 30000,
            }
        )
    )


if __name__ == "__main__":
    main()
