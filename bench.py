"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed through tools/qtime.py's loop: the session is
warmed up first, so measured times are plan+execute, not startup, and
every leg runs the query to completion on the noop sink. The full
record goes to BENCH_LOCAL.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_streams_homework_spark import queries as Q
from tools import qtime

BENCH_QUERIES = [
    "price_alerts",
    "price_alerts_priced",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "windowed_sum",
    "latest_by_key",
    "sessionize",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "knn_bruteforce",
    "token_count",
    "asof_join",
    "interval_join",
    "rollup_agg",
    "running_total",
    "frame_sample",
    "hierarchical_rollup",
    "training_data_prep",
    "media_resize",
    "salted_join",
    "semi_join",
    "anti_join",
    # round-2 additions (cheap single-pass ops; dedup_embedding_lsh and
    # split_leakage_free run in the correctness gate but are excluded
    # here — at τ=0.35 LSH candidate volume is inherently ~all-pairs,
    # and the CC loop is multi-action — see operators docstrings)
    "stratified_sample",
    "pii_scrub",
    "lm_score",
    # round-2 second-wave additions
    "lm_score_bigram",
    "q7_volume_shipping",
    "q10_returned_items",
    "q12_priority_shipping",
    "q18_large_orders",
    "q19_disjunctive_pushdown",
    "windowed_distinct",
    "distinct_rollup_hll",
    "udtf_chunks",
    "decontaminate",
    "repetition_score",
    "knn_filtered",
    "training_data_prep_v2",
    "kafka_wire_roundtrip",
    # round-2 third-wave: the two heaviest shapes from the completed
    # TPC-H battery (widest join tree; semi+anti self-joins)
    "q8_market_share",
    "q21_waiting_orders",
    # round-4 additions: Avro serde edge (pure-Python codec when the
    # jar is absent), substring-level span dedup, driver-visible
    # stateful Processor twin
    "avro_wire_roundtrip",
    "substring_dedup",
    "streaming_stateful_alerts",
    # round-5 additions: normalized dedup, weighted sampling, graph
    # iteration, schema evolution, and the (now sample-fit) IVF-PQ
    "dedup_exact_normalized",
    "importance_sample",
    "copurchase_topk",
    "copurchase_pagerank",
    "avro_schema_evolution",
    "knn_ivfpq",
    # round-4 continuation: quality classifier (map-only), time-series
    # gap fill, degree-oriented triangles, centroid-outlier pruning
    "classifier_score",
    "timeseries_resample",
    "triangle_count",
    "embedding_outliers",
    "dedup_containment",
    "association_rules",
    "kmv_distinct",
    # round-5 additions: sort-based skyline, PMI collocations,
    # common-neighbor link prediction, trailing-window anomaly score,
    # lag-polynomial EWMA
    "skyline_pareto",
    "collocations_pmi",
    "neighbor_jaccard",
    "rolling_anomaly",
    "ewma_smooth",
    # round-5 second wave: corpus-drift JS divergence, one-scan DQ
    # audit, weekly trend
    "js_divergence",
    "dq_rules",
    "period_over_period",
    # round-5 third wave: hybrid retrieval fusion, tick-store rollup,
    # one-scan moment statistics
    "rrf_hybrid_search",
    "ohlc_bars",
    "corr_matrix",
    # round-5 fourth wave: unadapted TPC-H over the derived partsupp
    # view (Q9's composite-key fact⋈fact join and Q11's persisted
    # two-consumer aggregate are the heavy shapes) and the
    # unbounded-state-safe append-mode sessionization twin
    "q9_product_profit_ps",
    "q11_important_stock_ps",
    "streaming_sessionize_append",
    # round-5 closing waves: band-bucketed similarity join, the
    # key-cardinality pre-flight audits, rolling distinct actives,
    # and the foreachBatch stream-static asof escape
    "band_join_prices",
    "key_skew_profile",
    "join_explosion_audit",
    "rolling_active_users",
    "streaming_asof_join",
    # round-5 final wave: runtime-filter semi join, maintained
    # aggregate merge, touch-band attribution, Poisson bootstrap
    # (B=100 map-side replicates), exact KS test
    "bloom_prune_join",
    "incremental_agg",
    "linear_attribution",
    "bootstrap_ci",
    "ks_test",
    # real-codec round-trips (Arrow-batched Python — honest codec CPU)
    # and the oracle-checked exact simhash twin
    "wav_pipeline",
    "png_pipeline",
    "dedup_simhash_exact",
    # round-5 late continuation: perceptual image dedup over real
    # decode, cell-blocked spatial join, wedge-join link indices,
    # brand-partition modularity, Heaps curve, entropy filter + real
    # DEFLATE ratio, STL-lite decomposition, two-axis as-of, Qini,
    # version diff, quality-aware canonical election, IPF raking
    "image_ahash_dedup",
    "geo_radius_join",
    "link_prediction",
    "graph_modularity",
    "vocab_growth",
    "char_entropy",
    "compression_ratio",
    "trend_seasonal_decompose",
    "bitemporal_lookup",
    "uplift_deciles",
    "snapshot_diff",
    "dedup_canonical_pick",
    "ipf_raking",
    # round-6 additions (VERDICT r5 task 3): the four heavy ops that
    # were neither benched nor named-excluded. kcore_members joins now
    # that the localCheckpoint peel cut it ~80s -> ~10s end-to-end at
    # sf0.1; dtw_distance / graph_hops / entity_resolution measured
    # 2.3 / 12.5 / 12.9 s — benchable regression signals. fuzzy_join
    # stays out with a named rationale in BASELINE.md (output-bound on
    # the adversarial shared-prefix substrate: >9 min at sf0.1 because
    # true pair VOLUME grows quadratically there by construction).
    "kcore_members",
    "dtw_distance",
    "graph_hops",
    "entity_resolution",
    # cell-blocked exact nearest neighbor — the production twin of the
    # named-excluded 25s broadcast brute force (same oracle rows)
    "geo_nearest_supplier_cells",
    # round-7 additions (VERDICT r6 task 3): the four round-6-final
    # registry entries, closing the "every query benched or
    # named-excluded" gap — all four measured benchable at sf0.1
    # (jpeg ~1.1s warm / video ~1.9s / threshold curve ~3.7s /
    # cluster sizes ~7.7s)
    "jpeg_pipeline",
    "video_pipeline",
    "dedup_threshold_curve",
    "dedup_cluster_sizes",
    # round-7 new operators: learned BPE merge training (the 20-step
    # driver loop is the signal — ~10s warm at sf0.1, loop-overhead
    # dominated) and the streaming decayed top-20 (~2.5s warm).
    # bpe_fertility is named-excluded in BASELINE.md: it re-runs the
    # identical training loop plus one trivial scan, so it carries no
    # independent regression signal at 2x the cost.
    "bpe_train",
    "streaming_decayed_leaderboard",
    # MMR diversified re-ranking (~4s warm: broadcast top-pool scan +
    # 4 checkpointed bounded greedy steps)
    "mmr_rerank",
    # streaming histogram quantiles (~1.8s warm: value-range-bounded
    # per-(day,bucket) counts; exact quantile read downstream)
    "streaming_quantile_hist",
    # round-8 addition: streaming OHLC (~1.9s warm: mergeable
    # min_by/max_by state per (series, hour)). streaming_bpe_encode is
    # named-excluded in BASELINE.md (bpe_fertility precedent): ~8.6s of
    # which ~8s is the identical bpe_train loop re-run — no independent
    # regression signal worth the cost.
    "streaming_ohlc_bars",
    # round-8 second wave: the custom-stateful KMV sketch (the one
    # applyInPandasWithState path in the set — Python state-handler
    # regression signal) and the stateless docs-stream quality gate
    # (~1s: docs readStream + append collector machinery)
    "streaming_kmv_distinct",
    "streaming_quality_score",
    # streaming drift monitor (complete-mode day/bin histogram state +
    # read-side PSI arithmetic over the bounded emitted table)
    "streaming_psi_drift",
    # round-8 continuation: statistical-learning relational plans
    # (distinct-first rank tests, the 200-fold permutation explode,
    # Gini split argmax, WOE binning, LOO target encoding), the
    # referential-integrity audit, two more graph centralities, the
    # relational naive-Bayes classifier, R/S long-memory, Shapley
    # coalition attribution, cosine range search, and the 35-bit
    # integer-exact DCT perceptual hash over real PNG decode
    "kruskal_wallis",
    "permutation_test",
    "decision_stump",
    "woe_iv_binning",
    "target_encoding",
    "dq_referential",
    "hits_scores",
    "clustering_coefficient",
    "naive_bayes_lang",
    "hurst_exponent",
    "shapley_attribution",
    "knn_radius",
    "image_phash_dedup",
    # round-8 continuation second wave: repeated-measures rank test,
    # the privacy second gate, exact two-phase class balancing, and
    # model-at-ingest classification (stateless broadcast-model fold)
    "friedman_test",
    "l_diversity_audit",
    "class_balance_sample",
    "streaming_naive_bayes",
    # intermittent-demand smoothing (closed-form decay, ~2.6s warm)
    # and the 3-round relational AdaBoost driver loop (~7s warm:
    # 2 bounded collects/round over the distinct-value cell table)
    "croston_forecast",
    "adaboost_stumps",
    # causal 2x2 panel estimator (one 4-cell agg) and the Cox
    # partial-likelihood Newton solve (3 bounded collects over the
    # duration-cardinality risk table)
    "diff_in_diff",
    "cox_regression",
    # retrieval-eval MAP (composed from benched members) and the
    # ingest-side z-score monitor (stream-static broadcast join)
    "map_at_k",
    "streaming_anomaly_zscore",
    # robust per-type standardization (integer-exact quartile
    # crossings) and the 2-parameter logistic Newton calibration
    "robust_scale",
    "platt_scaling",
    # closed-form leave-one-out SE for the ratio estimator (one
    # broadcast of two integer totals + one variance pass)
    "jackknife_ratio",
    # round-9 additions: integer-exact moment normality test, robust
    # variance-homogeneity gate (median-crossing deviations), nested
    # lag-1 OLS causality screen over the bounded daily grain,
    # chi-square token feature ranking (vocab x classes grid),
    # doubly-robust off-policy value, and the Page-Hinkley sequential
    # mean-shift monitor
    "jarque_bera",
    "levene_test",
    "granger_lag1",
    "chi2_token_ranking",
    "doubly_robust_eval",
    "page_hinkley_drift",
    # online PH at ingest (second applyInPandasWithState custom-state
    # op in the set — Python state-handler regression signal)
    "streaming_page_hinkley",
    # tokenizer coverage metric (one corpus scan + bounded rank) and
    # the NB classifier evaluation (composes the shared scoring pass)
    "vocab_oov_rate",
    "nb_class_metrics",
    # per-doc OOV coverage gate at ingest (stateless broadcast-array
    # membership filter)
    "streaming_oov_gate",
    # reciprocal-rank eval of the LSH index (composes the benched
    # knn members; bounded k-row rankings)
    "mrr_eval",
    # round-10 additions: Kendall tau-b between the daily series
    # (day-grain-bounded pair expansion), Hill tail-index over the
    # top-k order statistics (bounded two-phase rank + fixed-point
    # log sum), negative-binomial overdispersion fit (one
    # user-cardinality rollup + one exact moment agg)
    "kendall_tau_b",
    "hill_tail_index",
    "negbin_fit",
    # int8 scalar-quantized cosine top-k (the 4x-denser storage path
    # next to knn_pq; oracle-hash-checked, unlike the sketch members)
    "knn_sq8",
    # sliding-window admission gate, batch RANGE window + the O(K)-
    # state applyInPandasWithState twin (third custom-stateful op)
    "rate_gate",
    "streaming_rate_gate",
    # median-rank-regression Weibull fit of inter-purchase gaps (one
    # per-user lag window + bounded rank + exact moment agg)
    "weibull_fit",
    # Gumbel EVT fit of daily maxima (calendar-bounded block rollup)
    "gumbel_fit",
    # round-11 additions: the at-ingest ANN cell assignment (stateless
    # broadcast argmax through the streaming machinery), the fourth
    # custom-stateful op (per-user greedy funnel, 3 scalars of state),
    # vocab-bounded TextRank (3 pagerank iterations on the
    # co-occurrence graph), one-scan readability, the PR curve over
    # the score-cardinality grid, and the now-oracle-exact fixed-point
    # PCA (its Gram scan is the data-sized term)
    "streaming_ann_ingest",
    "streaming_funnel_steps",
    "textrank_keywords",
    "flesch_reading_ease",
    "pr_curve",
    "pca_projection",
    # r11 late wave: streaming multimodal ingest + integer-exact LPA
    "streaming_media_resize",
    "label_propagation",
    "audio_vad",
    "silhouette_simplified",
    "wilcoxon_signed_rank",
    "runs_test",
    "gif_pipeline",
    "katz_centrality",
    "seq_pattern_support",
    "bartlett_test",
    "tukey_outlier_fences",
    "count_min_sketch",
    "rouge_n_pairs",
    "streaming_count_min",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # Box-state self-description (VERDICT r7 task 3): sample load
    # BEFORE any Spark work — at this point the 1-minute load average
    # is entirely COMPETING work, so a loaded-box run (like the
    # driver's +12% BENCH_r07) is machine-attributable on its face
    # instead of via per-query stddev forensics. The end sample is
    # mostly bench-self-induced (local[32] saturates the box) and is
    # recorded for completeness only.
    ncpus = os.cpu_count() or 1
    load_start = os.getloadavg()
    spark = qtime.start("bench", sf_dir)
    registry = Q.queries()

    # median-of-3: robust to one-off box-contention spikes (the round
    # driver shares this machine) without rewarding a lucky fast run the
    # way best-of-N does. Per-query stddev is emitted so a reader can
    # separate noise from a real plan regression.
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    legs: dict[str, list[float]] = {}
    min_s: dict[str, float] = {}
    stall_dumps: list[str] = []

    for name in BENCH_QUERIES:
        run = qtime.legs(spark, registry[name], sf_dir, runs_per_query)
        samples = sorted(leg.seconds for leg in run)
        # sub-second queries: ~50 ms of JVM jitter exceeds 10%, so buy
        # extra cheap samples to stabilize the median. Four extras
        # (r7, was two): the r6 artifact showed 0.3 s queries reading
        # 3x on sample-epoch contention (importance_sample sigma=0.24);
        # a 7-sample median rides out a 2-3 sample slow epoch.
        if samples[len(samples) // 2] < 1.0:
            run += qtime.legs(spark, registry[name], sf_dir, 4)
            samples = sorted(leg.seconds for leg in run)
        # BASELINE.md's round-10 closing leg recorded a 20.9-25.6 s
        # in-session stall that was never root-caused; qtime's watchdog
        # dumps JVM and Python stacks mid-stall so the evidence lands in
        # the artifact
        stall_dumps += [d for leg in run for d in leg.dumps]
        median = samples[len(samples) // 2]
        mean = sum(samples) / len(samples)
        sd = (sum((s - mean) ** 2 for s in samples) / len(samples)) ** 0.5
        timings[name] = round(median, 3)
        spreads[name] = round(sd, 3)
        # VERDICT r9 task 7: the raw per-run legs AND their minimum go
        # into the artifact. On an epoch-noisy box the median of a
        # violent sample set can plant a 2x false regression; min_s is
        # the contention-floor estimate a later judge can trust, and
        # the legs let them see the spread without rerunning.
        legs[name] = [round(s, 3) for s in samples]
        min_s[name] = round(samples[0], 3)

    total = round(sum(timings.values()), 3)
    load_end = os.getloadavg()
    # Three-state verdict (refined after the r8 calibration runs):
    # - loaded:   competing work RIGHT NOW (1-min load >= 0.25*ncpus);
    # - settling: idle now but the box was busy within the last
    #   ~15 min (15-min load >= ncpus/8) — page cache and scheduler
    #   state still biased; r8 measured such runs +3-7% across the
    #   board vs a truly quiet run minutes later with identical code;
    # - quiet:    both clear — the only state whose totals should be
    #   compared round-over-round (BASELINE.md stability note).
    if load_start[0] >= 0.25 * ncpus:
        verdict = "loaded"
    elif load_start[2] >= ncpus / 8:
        verdict = "settling"
    else:
        verdict = "quiet"
    box_load = {
        "ncpus": ncpus,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in load_end],
        "verdict": verdict,
    }
    if verdict != "quiet":
        # loud, unmissable, and self-describing in the artifact too
        # (VERDICT r8 task 3): a non-quiet run must never be committed
        # as a round-over-round reference by accident.
        warn = (
            f"BENCH WARNING: box verdict is '{verdict}' "
            f"(loadavg_start={box_load['loadavg_start']}, ncpus={ncpus}) — "
            "totals from this run are NOT comparable round-over-round; "
            "re-run on a quiet box before recording a baseline."
        )
        print(f"\n!!! {warn}\n", file=sys.stderr)
        box_load["warning"] = warn
    full = {
        "metric": "total_bench_time",
        "value": total,
        "unit": "sec",
        "box_load": box_load,
        # the headline set GROWS round over round — compare
        # per-query times or value/n_queries, not raw totals
        "n_queries": len(timings),
        "queries": timings,
        "stddev": spreads,
        "legs": legs,
        "min_s": min_s,
        # mid-stall evidence files (empty = no leg exceeded
        # max(3x its query's fastest leg, 6 s); see tools/qtime.py)
        "stall_dumps": stall_dumps,
        "total_min_s": round(sum(min_s.values()), 3),
        "runs_per_query": runs_per_query,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The driver captures only a ~2 KB tail of stdout; at 58 queries the
    # full per-query map + stddev overflows it and the round artifact is
    # truncated mid-object (BENCH_r04 `parsed: null`). Write the full
    # record to a file and keep the PRINTED line compact and guaranteed
    # parseable (total / n_queries / sf / pointer only).
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    with open(out_path, "w") as fh:
        json.dump(full, fh, indent=1)
        fh.write("\n")
    print(
        json.dumps(
            {
                "metric": "total_bench_time",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "runs_per_query": runs_per_query,
                "sf": full["sf"],
                "box_load": box_load,
                # top-10 slowest inline so the tail still carries
                # per-query signal; the full map is in the file
                "slowest": dict(
                    sorted(timings.items(), key=lambda kv: -kv[1])[:10]
                ),
                "queries_file": "BENCH_LOCAL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
