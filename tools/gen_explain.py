"""Regenerate EXPLAIN.md: formatted physical plans of representative
queries at sf0.01 (plan-quality evidence for README §Scale design)."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if REPO not in sys.path:
    sys.path.insert(0, REPO)

PICKS = {
    "wordcount": "Flagship aggregation: partial->final HashAggregate, pruned scan",
    "q5_local_supplier_volume": "Multi-join: dims broadcast, one fact shuffle",
    "q6_forecast_revenue": "Full predicate pushdown to parquet",
    "minhash_near_dup": "LSH dedup: single-shuffle signatures, candidate-bounded verify",
    "similarity_topk": "Broadcast probe, TakeOrderedAndProject top-k",
    "tumbling_event_counts": "Event-time windows",
    "wordcount_skewed": "Zipf-hot key absorbed by map-side combine (partial->final)",
    "simhash_fingerprint": "60 bit sums as ONE wide aggregate; no bit-position explode",
    "q2_min_cost_supplier": "Correlated min as window over partsupp; dims broadcast",
    "near_dup_jaccard_capped": "Hot-shingle DF cap before candidate self-join",
    "repeated_span_screen": "Spans hashed to int64 BEFORE shuffle; agg-then-self-join",
    "event_rollup_multires": "Day grain re-aggregates hour grain: one fact scan",
    "context_pack_stats": "Per-stratum prefix-sum window, integer DIV packing",
    "rollup_region_nation_sales": "ROLLUP as one Expand over one fact scan",
    "copurchase_part_pairs": "Key-bounded self-join; TakeOrderedAndProject top-k",
    "median_price_by_flag": "Exact percentile aggregate (3 groups bound reducers)",
    "salted_join_revenue": "Deterministic salt spreads hot keys across reducers",
    "heavy_hitter_tokens": "Two map-combinable aggs + broadcast totals join",
    "unigram_logprob_score": "Token-keyed freq join, doc-keyed NLL reduce",
    "near_dup_jaccard_prefix": "Rarest-first prefix postings; candidate-bounded verify",
    "latest_event_per_user": "max_by: one combinable agg, 1 shuffle row per user",
    "copurchase_triangles": "Ordered-edge wedge join + closing semi-join over the checkpointed edge set",
    "copurchase_triangles_approx": "DOULION md5-coin sparsifier over the shared triangle plan",
    "bm25_top_docs": "Term-filtered postings before the tf shuffle; broadcast stats; TakeOrdered top-k",
    "copurchase_pagerank": "3 power iterations over one checkpointed edge relation",
    "user_type_scd2": "Gaps-and-islands: three window passes, ONE user_id exchange",
    "zorder_cell_census": "Morton interleave as mask+shift ints; 1-row bounds broadcast",
    "gap_filled_minute_counts": "Spine explode -> day repartition -> parallel ffill windows",
    "mad_value_anomaly": "Two exact-median passes broadcast back into one fact scan",
    "rolling_7d_active_users": "Bounded 7x explode replaces unscalable COUNT(DISTINCT) OVER",
    "hll_distinct_trigrams": "Mergeable HLL: register state is a 256-row max-aggregate per group",
    "winnowing_fingerprints": "Per-doc ROWS-frame window min; fingerprint volume ~2/(w+1) of tokens",
    "copurchase_common_neighbors": "Support-filtered wedge join + anti-join vs checkpointed edges",
    "pareto_frontier_parts": "Skyline sweep: window over the deduped price grid, broadcast back",
    "hourly_count_autocorr": "Grid-sized hour-index equi-join; exact integer Pearson moments",
    "hll_rolling_7d_users": "Daily register rollup once; 7x bounded offset-explode merge",
    "item_cosine_similarity": "Customer-keyed inverted index; degree broadcasts; TakeOrdered",
    "asof_next_purchase_census": "Forward as-of via reversed window frame — no per-row probe",
    "winnow_near_dup_candidates": "df-capped fingerprint postings before the pair join",
    "temperature_mixture_sample": "Broadcast rate table; map-side md5 admission; combinable census",
    "semantic_dedup_census": "Broadcast-centroid argmax; cluster-id equi-join pair stage (no cross join)",
    "bucketed_join_revenue": "Bucketed scans -> SortMergeJoin with zero join-input Exchange",
    "heldout_bigram_ppl": "Vocabulary-keyed left joins off a checkpointed count table; vocab census broadcast",
    "ann_lsh_topk": "Multi-probe: integer-only band join; probe-side bucket expansion; candidate-bounded cosine",
    "item_cosine_similarity_capped": "md5-ranked basket cap bounds pair volume at cap^2 per customer",
    "quality_classifier_score": "Integer-milli logit: zero-shuffle scoring scan, |langs| output rows",
    "source_mixture_census": "Map-side token count; 1-row grand total broadcast (no second scan)",
    "ann_ivf_lloyd_topk": "Unrolled Lloyd: map-only fold assignment off 1-row centroid broadcasts; only the mean updates shuffle",
    "duplicate_span_removal": "Int lead()-fold span hashes; dup min/count agg; island merge = 2 windows per doc",
    "dup_cluster_canonical": "CC labels join corpus once; per-cluster combinable merge (sorted source set)",
    "mixture_epochs_plan": "Map-side token count; integer-milli sqrt weights; two 1-row broadcasts",
    "bitext_margin_mining": "Broadcast target block; per-source rank window; fixed-column top-4 pivot",
    "contrastive_triplet_export": "MinHash pair stage + map-side hash-seeded negatives (1-row count broadcast)",
    "histogram_quantile_census": "1024-cell combinable histogram off 1-row min/max broadcast; cumulative walk over bins",
    # round 6
    "ann_pq_topk": "Persisted PQ index: codes-only ADC scan (ReadSchema has no embedding), driver-computed probe tables, exact re-rank fetches survivors",
    "ann_ivf_pq_topk": "IVF-PQ off the cell-partitioned index: PartitionFilters prunes to the probed cells; ADC reads codes only",
    "ann_ivf_indexed_topk": "Persisted IVF parquet index: PartitionFilters cell pruning, broadcast probe cells, windowed top-k over candidates",
    "ann_ivf_pq_residual_topk": "IVFADC residual index: per-(probe,cell) additive centroid term + codes-only residual ADC; same pruned plan as IVF-PQ",
    "sql_region_rollup": "Literal shared SQL: ROLLUP as one Expand over one fact scan, dims broadcast",
    "multimodal_jpeg420_stats": "Arrow-batched 4:2:0 JPEG decode where the bytes live; single combinable aggregate, no shuffle of pixels",
    "multimodal_jpeg_progressive_stats": "Arrow-batched progressive (SOF2) JPEG decode; same shuffle-free per-doc aggregate shape as the baseline twin",
    "kmv_set_ops_census": "Per-side distinct-hash shuffle + TakeOrdered k-min; 64-row broadcast semi-joins; 1-row sketch aggregates crossJoined broadcast",
    "priority_sample_census": "TakeOrdered top-(k+1) priorities (no global window over data); estimator over 33 broadcast rows; one exact-total scan",
    # round 7
    "embedding_near_dup": "Plain name now the both-sides-blocked GEMM (r7 swap): block-pair shuffle + FlatMapGroupsInPandas, no nested-loop self-join",
    "tfidf_cosine_pairs_capped": "df-capped candidate postings; exact verify joins bounded by candidates; no corpus-linear broadcast hints",
    "kll_quantile_census": "Hash-level sampler: 49-row combinable level histogram; windows over <= k survivors; 3-broadcast-row exact-rank scan",
    "ann_ivf_lloyd_indexed_topk": "Persisted Lloyd index: PartitionFilters cell pruning, 16 broadcast centroid rows, windowed top-k over candidates",
    "semantic_dedup_lloyd_indexed": "Persisted Lloyd assignment: one index scan + cluster-id equi-join pair stage (training amortized into the build)",
    "multimodal_flac_stats": "Arrow-batched lossless FLAC decode where the bytes live; shuffle-free per-asset aggregate (same shape as the JPEG twins)",
    "sql_histogram_quantile": "Literal shared SQL: equi-width histogram + cumulative-window ceil-rank readout",
    "decontamination_census": "Asymmetric gram equi-join between md5 splits; 1-row hits broadcast; nothing quadratic",
    "multimodal_gif_stats": "Arrow-batched LZW decode where the bytes live; shuffle-free per-asset aggregate",
    "kll_compactor_quantile_census": "mapInPandas Arrow-batched partition sketches -> driver merge; exact-rank readout = one scan vs 3 broadcast rows",
    "bitext_margin_mining_ivf": "Lloyd-cell equi-join candidates; per-source rank window; no corpus-linear broadcast",
    "stream_kll_quantiles": "windowed sketch state; readout windows over <= k survivors per window",
    "multimodal_flac_stereo_stats": "Arrow-batched stereo FLAC decode; fixture synth spread by the caller's `spread_scan`",
    # round 8
    "tfidf_cosine_pairs_exact_spec": "r8 rename of the plain tf-idf: exact-spec inverted index, unbounded candidates kept solely for the oracle",
    "bitext_margin_mining_ivf_indexed": "Persisted Lloyd index serves mining: PartitionFilters on probed cells, 16 broadcast centroid rows, cell equi-join candidates",
    "ann_admission_census": "Build-then-admit artifact scan: partition-pruned read of base+appended cells; per-cell combinable census",
    "decontamination_span_removal": "Positional-gram equi-join vs the distinct eval set; island merge = 2 windows per train doc",
    "multimodal_jpeg_arith_stats": "Arrow-batched SOF9 QM-coder decode where the bytes live; shuffle-free per-asset aggregate",
    "retrieval_quality_census": "Term-filtered postings -> TakeOrdered top-10 candidates; windows over 10 rows; integer metric aggregate",
    "ann_admission_drift_census": "Artifact scan + broadcast centroid join (map-only); 2-group integer aggregate",
    "aqp_revenue_estimate": "AQP estimator: sample + exact in ONE map-combinable scan; 3-group shuffle; CI math on the aggregate row",
    "copurchase_label_propagation": "3 LPA rounds: vertex-keyed joins on the checkpointed edge leaf; struct-max top-1, no sort window",
    "dsir_importance_resample": "DSIR: broadcast 512-row log-ratio table; per-doc integer sums; TakeOrdered top-k",
    "zonemap_skipping_census": "Zone maps: two-pass distributed row numbers; envelope table x 8 predicates, one-pass match counts",
    "hilbert_cell_census": "Hilbert xy->d as unrolled CASE/XOR ints in codegen; 1-row bounds broadcast",
    "image_dhash_near_dup": "dHash: Arrow decode+hash; 4x16-bit banded equi-join, pigeonhole-exact recall",
    "multimodal_png_deflate_stats": "Native DEFLATE IDAT encoded+decoded where the bytes live; shuffle-free per-asset aggregate",
    # round 9
    "suffix_array_census": "Suffix array served from the cross-session parquet artifact (r10); per-doc combinable checksum aggregate",
    "suffix_repeated_phrases": "Adjacent-LCP gather as pos+i equi-joins (never a range join); TakeOrdered top-k",
    "exact_duplicate_span_census": "Per-position LCP max union; doc-partitioned islands windows; combinable coverage aggregate",
    "audio_fingerprint_near_dup": "Arrow WAV decode+fingerprint; 4x16-bit banded equi-join, pigeonhole-exact recall",
    "video_dhash_near_dup": "Frame-walk + per-frame dHash in Arrow; inverted frame-hash equi-join; integer Jaccard verify",
    "compression_quality_census": "Native-DEFLATE ratio where the text lives; per-lang map-combinable rollup",
    "fingerprint_hamming_topk": "K-bounded probe broadcast (8 rows) x one fingerprint scan; per-probe rank window",
    # round 10
    "exact_duplicate_span_removal": "Covered offsets via sequence-explode; left-anti equi-join (no range join); per-doc kept-text digest",
    "gif_animation_census": "Arrow multi-frame LZW decode + composition where the bytes live; shuffle-free per-frame aggregate",
    "cross_modal_dup_census": "Token postings + two banded fingerprint joins + inverted frame index; doc_id-keyed flag joins",
    # r10 second wave
    "textrank_keywords": "3 weighted power iterations over one checkpointed co-occurrence relation; doc_id equi-join, never cartesian",
    "copurchase_hits": "Bipartite hub/authority half-steps: vertex-keyed joins + combinable sums; 1-row norm broadcasts",
    "ffd_packing_census": "Sequential FFD fold per (lang, shard) via Arrow applyInPandas; groups are the parallelism unit",
    "zipf_slope_census": "Partitioned per-lang vocab ranking + 5-sum OLS reduce; no global sort",
    "token_burstiness_census": "Two map-combinable aggs; hapax-pruning HAVING; rounded-value TakeOrdered",
    "multimodal_flac_depth_stats": "Arrow decode at 8/12/16/20/24-bit sample depths; shuffle-free per-asset aggregate",
    "k_anonymity_census": "QI-tuple combinable groupBy + 4-band rollup; two hash shuffles, no joins",
    "corpus_health_census": "one tokenized base feeds Zipf/Heaps OLS + entropy + burstiness; per-lang vocab window only, grid broadcasts",
    "t_closeness_census": "checkpointed customer-orders rollup feeds all four branches; EMD over a broadcast <=10-band spine",
    "dp_noisy_count_release": "one combinable count shuffle; Laplace transform is O(groups) scalar arithmetic",
    "heaps_law_fit": "First-occurrence minima + 5-row grid broadcasts; no cumulative distinct, no windows",
    "copurchase_assortativity": "Two vertex-keyed degree joins into one 4-accumulator combinable reduce",
    # round 11 second wave
    "ks_two_sample_census": "Type-alphabet broadcast grid + per-type window cumsum; pair equi-join on value; integer gap max",
    "cusum_changepoint_census": "Gap-filled hour grid via sequence-explode; per-type cumsum + argmax windows; one final division",
    "rake_keywords": "Islands trick (pos minus row_number) for phrase runs; integer degree/freq join; rounded-score TakeOrdered",
}


def main() -> None:
    from mapreduce511_spark import queries as suite
    from mapreduce511_spark.session import get_spark

    spark = get_spark("gen-explain")
    spark.sparkContext.setLogLevel("ERROR")
    q = suite.all_queries()
    out = [
        "# EXPLAIN — formatted physical plans of representative queries",
        "",
        "Generated by `python tools/gen_explain.py` at sf0.01.",
        "Evidence for the plan-quality claims in README §Scale design:",
        "`PushedFilters`/`ReadSchema` pruning, `BroadcastHashJoin` on dims,",
        "partial->final `HashAggregate` pairs, no `CartesianProduct` anywhere.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    # plans over a checkpointed intermediate: execute first and print
    # the FINAL adaptive plan — the edge set appears as one
    # ExistingRDD leaf (materialized exactly once at construction),
    # which is the point being evidenced
    POST_EXEC = {
        "copurchase_triangles",
        "copurchase_triangles_approx",
        "copurchase_pagerank",
    }
    for name, blurb in PICKS.items():
        df = q[name](spark, "/root/testdata/sf0.01")
        if name in POST_EXEC:
            df.collect()  # count() would execute a different plan
            plan = (
                "(final adaptive plan, after execution)\n"
                + df._jdf.queryExecution().executedPlan().toString()
            )
        else:
            plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", "", blurb, "", "```", plan.strip(), "```", ""]
    Path(REPO, "EXPLAIN.md").write_text("\n".join(out))
    print(f"EXPLAIN.md: {len(PICKS)} plans")


if __name__ == "__main__":
    main()
