"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Run directly: ``python bench.py``. Session, evaluator and the
warm-up/min-of-2 loop come from ``harness.py``. Environment knobs:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[] parallelism (default 32)
  BENCH_QUERIES       comma-separated subset to run (default headline set)
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402

SF_DIR = harness.SF_DIR

#: The scan/join/agg-heavy queries that dominate engine cost. Cheap
#: point lookups are excluded: they measure session overhead, not the
#: engine.
HEADLINE = [
    "flagship_search",
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "a2_top_keywords",
    "j1_broadcast_user_join",
    "j3_collect_assembly",
    "j4_semi_join",
    "t1_topk_multisort",
    "t6_group_topk",
    "a4_conditional_counts",
    # log-analytics tier
    "w1_tumbling_window_agg",
    "s9_sessionization",
    "a8_salted_skew_agg",
    "j6_asof_join",
    "j7_range_join",
    # training-data pipeline tier (dedup / text / similarity)
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "text_fingerprint",
    "text_quality_features",
    "text_bigram_topk",
    "text_tfidf_topk",
    "text_unit_dedup",
    "text_chunk_windows",
    "sim_cosine_topk",
    "sim_knn_join",
    "c13_json_extract",
    "corpus_curation",
    # TPC-H shape quartet (round 3)
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_effect",
    "q22_dormant_customers",
    # corpus-curation tier (round 3); sim_kmeans_ivf is excluded — it
    # is an iterative TRAINING job (3 Lloyd rounds), not a query.
    "text_pii_scrub",
    "text_decontaminate",
    "text_repetition_quality",
    "corpus_pack_sequences",
    "corpus_domain_mix",
    "corpus_training_set",
    # rollup / shuffle-order / Q15+Q21 (round 3, late).
    # ts_hourly_rollup re-added round 8: it had a record but fell out
    # of the headline when ts_rollup_reagg superseded it — every
    # recorded query should appear in the sweep artifact.
    "ts_hourly_rollup",
    "ts_rollup_reagg",
    "corpus_shuffle_order",
    "q15_top_supplier",
    "q21_waiting_suppliers",
    # Q4 (EXISTS agg) + Q8 (8-table market share) — round 5
    "q4_order_priority",
    "q8_market_share",
    # Q7 (bilateral volume), Q17 (correlated avg), Q19 (disjunctive
    # join predicate) — round 5, late
    "q7_volume_shipping",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q16_supplier_count",
    "q11_important_nations",
    # Q9 (profit rollup), Q12 (conditional counts), Q20 (nested-IN
    # decorrelation) — round 6; completes the 22-shape TPC-H sweep
    "q9_product_profit",
    "q12_shipmode_priority",
    "q20_excess_suppliers",
    # production-path twin of the dedup_minhash_lsh row: the catalog
    # row times the md5 oracle-portable hash family (~1.4x slower,
    # BASELINE.md round-5 note); this row times the xxhash64 library
    # default so regressions on the REAL path stay visible.
    "dedup_minhash_lsh_xxhash64",
    # ExactSubstr-style duplicated-span stats — round 6. The catalog
    # row (raw-string join keys, the oracle twin) and the xxhash64
    # production keying, same split rationale as minhash above.
    "text_dup_spans",
    "text_dup_spans_xxhash64",
    # unigram-LM cross-entropy quality score + vocab coverage — round 6
    "text_unigram_xent",
    "text_vocab_coverage",
    # keep-best-per-cluster canonical selection — round 6
    "dedup_canonical",
    # batch-vs-corpus incremental exact dedup — round 6
    "dedup_incremental",
    # real multimodal kernels: NN image resize, PV01 frame sampling,
    # PCM audio resample
    "mm_resize_images",
    "mm_frame_sample",
    "mm_resample_audio",
    # weighted domain upsampling (epochs-per-domain mix) — round 6
    "corpus_weighted_repeat",
    # NB quality classifier + budget selection — round 6
    "text_nb_classifier",
    "corpus_budget_select",
    # the ExactSubstr CUT (actionable form of text_dup_spans) — round 6
    "text_cut_dup_spans",
    # bigram stupid-backoff LM + per-source corpus card — round 6
    "text_bigram_xent",
    "corpus_report",
    # hashing-trick vectorizer + train/val leakage report — round 6
    "text_hash_bow",
    "corpus_split_leakage",
    # O(log n) star connected components on the real near-dup graph
    "dedup_clusters_star",
    # BPE tokenizer train (even half) + encode (odd half) — round 6.
    # Train collects the Heaps-bounded word-TYPE table and loops in
    # Python (the classic trainer shape); encode is one map-only
    # replace-chain pass. The distributed-rounds trainer path is
    # exercised in tests.
    "text_bpe_tokenize",
    # SemDeDup: k-means clusters + in-cell cosine pruning — round 6
    "dedup_semantic",
    # exact-integer PageRank over event-derived interaction edges
    "graph_pagerank",
    # salted skew JOIN (a8 covers the agg half) + Morton layout key
    "j9_salted_skew_join",
    "layout_zorder_key",
    # product-analytics tier: ordered-step funnel, cohort retention,
    # SCD2 dimension-history build
    "funnel_conversion",
    "cohort_retention",
    "scd2_intervals",
    # triangle counting (degree-ordered orientation) + Count-Min
    "graph_triangles",
    "sketch_countmin_topk",
    # co-occurrence PMI (map-side pair triangle) + trailing z-score
    "text_cooccur_pmi",
    "ts_anomaly_zscore",
    # single-pass declarative data-quality gate
    "dq_constraint_report",
    # perceptual image hash (real kernel, closed-form oracle)
    "mm_image_ahash",
    # equi-depth rank bucketing (Z-order skew normalizer)
    "layout_rank_bucketize",
    # record-linkage tier: lossless PPJoin set-similarity join,
    # blocked levenshtein linkage, Bloom-prefiltered decontamination
    # (result-identical twin of text_decontaminate), per-brand skyline
    "j10_set_similarity_join",
    "j11_fuzzy_blocked_linkage",
    "text_decontaminate_bloom",
    "a15_skyline_pareto",
    # deterministic sampling tier: content-stable stratified rates +
    # integer-exact A-ES weighted sample without replacement
    "corpus_stratified_sample",
    "corpus_weighted_sample",
    # single-scan column profiler (stats sibling of the dq gate)
    "dq_column_profile",
    # interval-INTERVAL overlap self-join (grid cells + max-start-cell
    # dup-free assignment; bucket ~= interval length)
    "j12_interval_overlap_join",
    # batch multi-touch attribution (linear/first/last in one pass)
    "attribution_multitouch",
    # asymmetric containment pairs (one-sided prefix filter) +
    # exactly-k-per-stratum content-stable sample
    "dedup_containment",
    "corpus_fixed_k_sample",
    # exact sliding-window cardinality (distinct-collapse -> x7 window
    # explode -> dedup -> count; no windowed count-distinct in Spark)
    "ts_rolling_distinct_users",
    # within-session event-path mining (discovery sibling of funnel)
    "s10_event_paths",
    # order-independent table content checksum (replication sign-off)
    "dq_table_fingerprint",
    # exact-arithmetic least-squares daily trend per event type
    "ts_trend_slope",
    # 3-hop BFS neighborhood (frontier + visited anti-join rounds)
    "graph_bfs_khop",
    # lexicon sentiment per source (EDBT'16 Twitter-on-Spark shape)
    "text_sentiment_lexicon",
    # 5/95 winsorized mean with exact-integer accumulation
    "ts_winsorized_mean",
    # real audio loudness kernel (PCM parse + numpy reduction)
    "mm_audio_stats",
    # RAKE keyphrases (integer degree/frequency ranking)
    "text_keyphrases_rake",
    # CUSUM change-point per event type (integer-scaled statistic)
    "ts_changepoint_cusum",
    # Benford leading-digit profile (decimal-rendering extraction)
    "dq_benford_digits",
    # sorted-neighborhood linkage pass (third ER candidate generator)
    "j13_sorted_neighborhood",
    # sweep-line peak interval concurrency (+1/-1 running sum)
    "ts_peak_concurrency",
    # gaps-and-islands longest streak + MAD robust spread
    "ts_longest_streak",
    "ts_mad_robust",
    # ABC/Pareto contribution classes (integer cross-multiplied knees)
    "a18_abc_classification",
    # RFM segmentation by quantile thresholds (map-only scoring)
    "a19_rfm_segments",
    # Gini concentration (exact rank-weighted sum) + market baskets
    "a20_gini_concentration",
    "a21_copurchase_pairs",
    # degree assortativity (exact integer moments over edge ends)
    "graph_assortativity",
    # order-to-ship latency SLA percentiles per priority
    "t11_ship_latency_percentiles",
    # the 100 TB approx-percentile swap, benched next to its exact
    # twin a7 (round-8 catalog addition)
    "a7_percentiles_approx",
    # the combined robust-stats approx tier (round-9 catalog
    # addition): approx-percentile winsorize/MAD envelopes + HLL
    # rolling distinct, certified against their exact twins in-row
    "ts_robust_approx",
]

#: Pinned control queries: code UNCHANGED since their BASELINE.md
#: records were taken (q1: pure scan-agg, no joins; ngram: shingle
#: inverted index). measured/record on rows whose code cannot have
#: regressed isolates machine drift, so the judge can normalize the
#: whole table instead of trusting prose. If either query's code ever
#: changes, re-pin here AND reset its BASELINE.md record.
# Round-7 note: the per-row FORCE_ALL_COLUMNS allowlist is gone — the
# all-columns hash aggregate is now the DEFAULT evaluator for every
# non-top-k row (see harness.evaluate), because the count() evaluator
# was found to let Catalyst prune joins (triangles/funnel), windows (as-of,
# scd2, gini) and aggregate measures (q1's 7 decimal sums) — an
# allowlist can only ever chase that class row by row.


CONTROL_RECORDS = {
    # Re-pinned at the round-7 evaluator re-basing (BASELINE.md): the
    # hash-forced evaluation makes q1 compute its actual 7 decimal
    # sums (the count() basis timed a 3-column distinct — 0.42 s was
    # never the query's cost). Code of all three queries is UNCHANGED
    # since their records; a control whose own cost moves normalizes
    # every other row wrong, so when round 11 changed
    # ngram_jaccard_pairs' shape (persisted shingle index) that
    # control was RETIRED per the BASELINE.md rule and replaced by
    # j10_set_similarity_join — same shuffle-heavy join cost class,
    # code untouched since its round-7 record.
    # Three controls in three COST CLASSES (round-8 ADVICE: two
    # shuffle-heavy controls let one class's drift mis-normalize the
    # others): q1 = scan + wide partial agg, j10 = shuffle-heavy
    # prefix-filtered self-join, text_fingerprint = pure map-only
    # projection (no Exchange in its plan) — the geomean averages over
    # the classes a real regression would have to fight.
    "q1_pricing_summary": 1.24,        # round-7 box, hash-forced basis
    "j10_set_similarity_join": 3.667,  # round-7 box, hash-forced basis
    "text_fingerprint": 0.55,          # round-7 box, hash-forced basis;
                                       # map-only control (r8: 1.01 raw
                                       # under cf 1.63 → 0.62 normalized)
}


def _extra_queries():
    """Bench-only entries that are not catalog queries (variant twins)."""
    from twitter_analysis_spark.operators import dedup as _dedup
    from twitter_analysis_spark.sources.io import load_table

    def minhash_xxhash64(spark, sf_dir):
        # same pipeline/parameters as catalog dedup_minhash_lsh, but
        # the xxhash64 production hash family (catalog.py docstring)
        return _dedup.minhash_lsh_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            n=3, num_hashes=32, bands=8, threshold=0.1,
            hash_fn="xxhash64")

    def dup_spans_xxhash64(spark, sf_dir):
        # same pipeline/parameters as catalog text_dup_spans, but the
        # xxhash64 production join keys (8 bytes; r16 renamed the
        # operator's use_hash_key=True param to key_mode="xxhash64" —
        # the measured computation is unchanged)
        from twitter_analysis_spark.operators import curation as _cur
        return _cur.duplicated_spans(
            load_table(spark, sf_dir, "documents"), "doc_id", "text",
            window=8, key_mode="xxhash64")

    return {"dedup_minhash_lsh_xxhash64": minhash_xxhash64,
            "text_dup_spans_xxhash64": dup_spans_xxhash64}


def rows() -> dict:
    """Row name -> query builder for this run: the BENCH_QUERIES subset,
    else every HEADLINE row (catalog queries and the bench-only twins)."""
    from twitter_analysis_spark import catalog

    fns = {**catalog.QUERIES, **_extra_queries()}
    names = os.environ.get("BENCH_QUERIES")
    names = names.split(",") if names else [n for n in HEADLINE if n in fns]
    return {n: fns[n] for n in names}


def main() -> None:
    fns = rows()
    spark = harness.session("bench")

    def run(name: str) -> None:
        harness.evaluate(fns[name](spark, SF_DIR), name)

    timings = {name: r["min_sec"]
               for name, r in harness.best_of(spark, list(fns), run).items()}

    # Machine-checkable drift normalization (BASELINE.md): geometric
    # mean of measured/record over the pinned unchanged-code controls.
    # A factor of ~1.0 means this box matches the record box; divide
    # raw row times by control_factor before reading regressions.
    controls = {n: {"sec": timings[n], "record": rec,
                    "factor": round(timings[n] / rec, 3)}
                for n, rec in CONTROL_RECORDS.items() if n in timings}
    control_factor = None
    control_spread = None
    if controls:
        import math
        control_factor = round(math.exp(
            sum(math.log(c["factor"]) for c in controls.values())
            / len(controls)), 3)
        # Per-class drift agreement (r15 VERDICT directive 8): max/min
        # over the three cost-class control factors. ~1.0 means the
        # classes drifted together and control_factor normalizes every
        # row fairly; >> BASELINE.md's ~1.1x same-class rule means
        # per-row normalized ratios carry class-sized error bars and
        # cross-round comparisons should lean on within-session A/Bs.
        fs = [c["factor"] for c in controls.values()]
        control_spread = round(max(fs) / min(fs), 3)

    # Automated regression flags against the machine-readable record
    # map (BASELINE_RECORDS.json, extracted from BASELINE.md prose):
    # a row regresses when measured / control_factor > 2 x record.
    # The bloom twin's documented bound is relative to its exact-row
    # sibling in the SAME sweep (broadcast-threshold economics), so it
    # is checked that way rather than against a fixed record.
    records_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BASELINE_RECORDS.json")
    regressions: list[dict] = []
    if os.path.exists(records_path):
        with open(records_path) as fh:
            records = json.load(fh)["records"]
        cf = control_factor or 1.0
        for name, sec in timings.items():
            rec = records.get(name)
            if rec is None:
                continue
            normalized = sec / cf
            if name == "text_decontaminate_bloom":
                exact = timings.get("text_decontaminate")
                if exact is not None and sec > 2.5 * exact:
                    regressions.append({
                        "query": name, "sec": sec,
                        "bound": round(2.5 * exact, 3),
                        "rule": "<=2.5x text_decontaminate same sweep"})
                continue
            # Absolute slack on top of the 2x relative bound, but ONLY
            # for near-noise-floor records (< 0.2 s): those rows are
            # mostly fixed stage overhead — a 0.07 s record must not
            # flag a 0.15 s run. Rows at or above 0.2 s keep the
            # honest bare-2x gate; a blanket +0.25 s let a sub-second
            # row regress ~5.6x before flagging (round-8 ADVICE).
            slack = 0.25 if rec["record_sec"] < 0.2 else 0.0
            if normalized > 2 * rec["record_sec"] + slack:
                regressions.append({
                    "query": name, "sec": sec,
                    "normalized_sec": round(normalized, 3),
                    "record_sec": rec["record_sec"],
                    "rule": ("normalized > 2x record + 0.25s"
                             if slack else "normalized > 2x record")})

    artifact = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "controls": controls,
        "control_factor": control_factor,
        "control_spread": control_spread,
        "regressions": regressions,
        "sf": harness.sf_value(),
    }
    # Full per-query artifact goes to a sidecar file; the printed line
    # must stay well under the driver's ~2000-char stdout capture (the
    # round-6 117-row line overflowed it and the round recorded
    # parsed:null — BENCH_r06 postmortem). Print the compact line with
    # the totals/controls/regressions intact and as many of the most
    # expensive per-query rows as fit the budget. A BENCH_QUERIES
    # subset run must NOT clobber the full-sweep sidecar (a 3-row
    # debugging run would silently replace the round's 117-row
    # artifact); subsets write a separate scratch file.
    sidecar = ("BENCH_FULL.json" if not os.environ.get("BENCH_QUERIES")
               else "BENCH_SUBSET.json")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           sidecar), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)

    print(compact_line(artifact))


def compact_line(artifact: dict, line_budget: int = 1900) -> str:
    """Shrink the artifact to ONE stdout line <= ``line_budget`` chars,
    guaranteed (the driver captures only ~2000 chars; an over-budget
    line records parsed:null for the whole round — BENCH_r06).
    Shrink order: per-query rows cheapest-first, then — because a
    heavily-regressed run can make the `regressions` array itself the
    bulk, and that is exactly the run whose artifact must parse —
    drop queries entirely and truncate regressions worst-first,
    recording how many were cut. Totals/controls always survive."""
    timings = artifact.get("queries", {})
    regressions = artifact.get("regressions", [])
    compact = dict(artifact)
    by_cost = sorted(timings, key=timings.get, reverse=True)
    keep = len(by_cost)
    line = json.dumps(compact)
    while keep > 0 and len(line) > line_budget:
        keep = max(keep - 5, 0)
        compact["queries"] = {n: timings[n] for n in by_cost[:keep]}
        compact["queries_truncated_to_top"] = keep
        line = json.dumps(compact)
    if len(line) > line_budget:
        compact["queries"] = {}
        worst = sorted(regressions,
                       key=lambda r: r.get("sec", 0), reverse=True)
        n = len(worst)
        while n >= 0:
            compact["regressions"] = worst[:n]
            compact["regressions_truncated"] = len(worst) - n
            line = json.dumps(compact)
            if len(line) <= line_budget:
                break
            n -= 1
    if len(line) > line_budget:
        # Last resort: even regressions=[] didn't fit, i.e. the
        # envelope itself (controls dict / long metric names) blew the
        # budget. A minimal summary envelope must still parse — the
        # whole point of this function is never reproducing the
        # BENCH_r06 parsed:null failure. Everything dropped here
        # survives in the sidecar artifact.
        line = json.dumps({
            "metric": artifact.get("metric"),
            "value": artifact.get("value"),
            "unit": artifact.get("unit"),
            "sf": artifact.get("sf"),
            "control_factor": artifact.get("control_factor"),
            "n_regressions": len(regressions),
            "truncated": "envelope_exceeded_budget_see_sidecar",
        })
    return line


if __name__ == "__main__":
    main()
