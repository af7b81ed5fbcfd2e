"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Per-query timing = plan construction + full execution, materialized with
``count()`` — every operator runs (nothing is short-circuited by a limit)
but multi-million-row results (e.g. near-dup pair sets) are not
serialized to the driver, so the number measures engine throughput, not
driver transfer.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from gfw_pixetl_spark import harness
from gfw_pixetl_spark.session import DEFAULT_CPUS, get_spark

# Headline set: one per operator family; heavy dedup/similarity included
# because they are the scale-critical paths.
#
# EXCLUSION RULE — this list is NOT the full registry. A registry query
# is excluded from the bench iff it is (a) a Structured Streaming
# micro-batch harness (q25-adjacent streaming variants: wall time is
# trigger latency, not engine throughput), (b) a trivial constant-size
# seed/metadata query whose runtime is pure fixed overhead (grid seeds,
# status tallies), or (c) a duplicate plan shape already timed under
# another family member. Every scale-bearing operator family has at
# least one entry here; the registry size is len(harness.QUERIES), not
# len(BENCH_QUERIES).
BENCH_QUERIES = [
    "q01_pricing_summary",
    "q02_scan_pushdown",
    "q05_semi_join",
    "q06_anti_join",
    "q07_range_join",
    "q08_ordered_paint_last_order",
    "q09_rasterize_value",
    "q10_rasterize_count",
    "q11_resample_time",
    "q12_resample_percentiles",
    "q13_resample_mode",
    "q14_band_stats",
    "q15_histogram",
    "q18_sort_limit",
    "q19_union_dedup",
    "q20_case_calc",
    "q21_window_funcs",
    "q25_sessionize",
    "q26_dedup_exact",
    "q27_jaccard_pairs",
    "q28_minhash_sigs",
    "q29_minhash_lsh_pairs",
    "q30_simhash",
    "q32_language_id",
    "q33_quality_score",
    "q34_token_counts",
    "q35_fingerprint",
    "q36_embed_topk",
    "q37_embed_lsh_ann",
    "q40_multimodal_meta",
    "q52_embed_ivf_ann",
    "q44_file_pruning",
    "q47_vrt_first_nonnull",
    "q53_dedup_components",
    "q54_domain_cap_sample",
    "q55_stratified_sample",
    "q56_tfidf_topterms",
    "q57_normalized_dedup",
    "q61_centroid_assign",
    "q59_asof_join",
    "q63_quality_filter",
    "q65_multimodal_ahash",
    "q66_shingle_jaccard",
    "q67_rollup",
    "q68_pivot",
    "q69_debounce",
    "q70_funnel",
    "q71_raster_tile_job",
    "q72_vector_tile_job",
    "q74_boilerplate_rate",
    "q75_contamination",
    "q79_pii_scrub",
    "q80_repetition",
    "q82_cohort_retention",
    "q83_zonal_stats",
    "q85_cdc_compaction",
    "q86_gapfill_locf",
    "q87_hll_distinct",
    "q88_weighted_sample",
    "q89_cube",
    "q90_heavy_hitters_cms",
    "q91_fuzzy_join",
    "q92_sequence_packing",
    "q96_winsorize",
    "q98_transitions",
    "q99_concurrency",
    "q100_salted_join",
    "q101_shipping_priority",
    "q102_regional_revenue",
    "q103_setops_cohorts",
    "q106_equidepth_hist",
    "q108_calendar_rollup",
    "q109_above_avg_orders",
    "q110_pareto_parts",
    "q111_rolling_hour",
    "q112_dq_audit",
    "q113_activity_islands",
    "q114_revenue_share",
    "q116_first_last_event",
    "q117_pagerank_nations",
    "q118_bm25",
    "q119_audio_energy",
    "q120_custdist",
    "q121_big_orders",
    "q122_cumulative_distinct",
    "q123_trade_flows",
    "q124_unpivot_measures",
    "q125_nullsafe_join",
    "q126_stream_upsert",
    "q127_zoom_pyramid",
    "q128_tile_diff",
    "q129_weighted_quantiles",
    "q130_priority_check",
    "q131_forecast_revenue",
    "q132_promo_share",
    "q133_brand_bands",
    "q134_idle_wealthy",
    "q135_grouped_quantiles",
    "q136_prefix_ssjoin",
    "q137_stream_agg_view",
    "q138_stream_sliding_rollup",
    "q139_stream_trending",
    "q140_unigram_surprisal",
    "q142_mad_outliers",
    "q143_topk_with_ties",
    "q144_recent_error_rate",
    "q145_band_join",
    "q146_event_trigrams",
    "q147_basket_lift",
    "q148_mom_growth",
    "q150_semdedup",
    "q151_filter_funnel",
    "q152_raster_sql_zonal",
    "q153_image_decode_resize",
    "q154_market_share",
    "q155_returned_items",
    "q156_top_supplier",
    "q157_small_qty_orders",
    "q158_bigram_perplexity",
    "q159_dup_substrings",
    "q160_kmeans_iteration",
    "q161_stream_enrich",
    "q162_webdataset_roundtrip",
    "q163_mixture_interleave",
    "q164_bpe_pair_counts",
    "q165_ann_recall",
    "q166_lsh_quality",
    "q167_doc_chunking",
    "q168_bloom_decontaminate",
    "q169_focal_stencil",
    "q170_embed_covariance",
    "q171_decimated_read",
    "q172_horn_slope",
    "q173_train_val_test_split",
    "q174_pq_encode",
    "q175_image_patches",
    "q176_matryoshka_recall",
    "q177_cdc_boundaries",
    "q178_hard_negatives",
    "q179_stream_chunk_dedup",
    "q180_bm25_ndcg",
    "q181_triangle_count",
    "q182_ewma",
    "q183_morton_layout",
    "q184_schema_evolution",
    "q185_terrain_indices",
    "q186_curation_pipeline",
    "q187_multiband_ndvi",
    "q188_source_overlap",
    "q189_split_drift",
    "q190_poisson_bootstrap",
    "q191_pmi_collocations",
    "q192_quantile_normalize",
    "q193_dataset_card",
    "q194_materialized_raster",
    "q195_ab_readout",
    "q196_pixel_trend",
    "q197_embedding_ood",
    "q198_popular_unseen",
    "q199_welford_merge",
    "q200_bbox_pruned_read",
    "q201_jsonl_roundtrip",
    "q202_sliding_hll",
    "q203_hourly_entropy",
    "q204_user_burstiness",
    "q205_csv_roundtrip",
    "q206_source_kl_divergence",
    "q207_vocab_coverage",
    "q208_cluster_size_histogram",
    "q209_positive_pairs",
    "q210_warp_cubicspline",
    "q211_jpeg_decode",
    "q212_rrf_fusion",
    "q213_raster_polygonize",
    "q214_median_composite",
    "q215_temperature_mixture",
    "q216_char_entropy",
    "q217_snapshot_time_travel",
    "q218_snapshot_incremental",
    "q219_color_relief",
    "q220_png_tile_export",
    "q221_epoch_shuffle_shards",
    "q222_padding_waste",
    "q223_orc_roundtrip",
    "q224_snapshot_compaction",
    "q225_waiting_suppliers",
    "q226_parts_supplier_bands",
    "q227_image_normalize",
    "q228_contour_crossings",
    "q229_bpe_apply",
    "q230_hist_equalization",
    "q231_domain_centroid_sim",
    "q232_progressive_jpeg",
    "q233_snapshot_delete",
    "q234_wav_decode",
    "q235_mulaw_expand",
    "q236_hillshade",
    "q237_aspect",
    "q238_snapshot_skipping",
    "q239_stream_snapshot_ingest",
    "q240_snapshot_cdf",
    "q241_tile_store_versions",
    "q242_k_anonymity",
    "q243_dp_noisy_counts",
    "q244_mmr_select",
    "q245_min_cost_supplier",
    "q246_product_profit",
    "q247_important_parts",
    "q248_excess_stock_suppliers",
    "q249_raster_sieve",
    "q250_raster_proximity",
    "q251_url_canonicalize",
    "q252_fillnodata",
    "q253_sq8_recall",
    "q254_snapshot_merge",
    "q255_calibration_ece",
    "q256_span_corruption",
    "q257_annotator_kappa",
    "q259_unicode_fold",
    "q260_hashed_classifier",
    "q261_png_jpeg_transcode",
    "q262_token_budget_select",
    "q263_image_neardup",
    "q264_entity_resolution",
    "q266_chi_square_independence",
    "q267_conversion_latency",
    "q270_readability",
    "q271_registrable_domain",
    "q272_bpe_train",
    "q273_kmv_distinct",
    "q274_daily_acf",
    "q275_benford_digits",
    "q276_d8_flow",
    "q277_audio_zcr",
    "q278_blocking_quality",
    "q279_weekday_seasonality",
    "q280_kmv_merge",
    "q281_gini_spend",
    "q282_oov_rate",
    "q283_winsorized_stats",
    "q284_kmv_intersection",
    "q285_pca_power_iteration",
    "q286_mann_kendall",
    "q287_theil_sen",
    "q288_cusum_changepoint",
    "q289_seasonal_mase",
    "q290_l_diversity",
    "q291_fd_profile",
    "q292_point_sampling",
    "q293_tokenizer_fertility",
    "q294_nn_spatial_join",
    "q295_mixed_script",
    "q296_ks_two_sample",
    "q297_mann_whitney_u",
    "q298_kaplan_meier",
    "q299_rfm_segmentation",
    "q300_referential_audit",
    "q301_sentence_dedup",
    "q302_flow_path_length",
    "q303_zipf_slope",
    "q304_t_closeness",
    "q305_cuped",
    "q306_audio_decimate",
    "q307_hubness",
    "q308_stupid_backoff",
    "q309_table_digest",
    "q310_phrase_search",
    "q311_kcenter_coreset",
    "q312_tree_rollup",
    "q313_knn_label_probe",
    "q314_bitmap_distinct",
    "q315_time_weighted_avg",
    "q316_trigram_index_search",
    "q317_business_day_lag",
    "q318_cms_join_estimate",
    "q319_gains_table",
    "q320_flow_accumulation",
    "q321_containment_attribution",
    "q322_winnowing",
    "q323_incremental_dedup",
    "q324_analyze_stats",
    "q325_byte_histogram",
    "q326_secret_scan",
    "q327_clustering_coefficient",
    "q328_ctfidf_topterms",
    "q329_wordpiece",
    "q330_suffix_array",
    "q331_dbscan",
    "q332_isotonic_calibration",
    "q333_luhn_pii",
    "q334_fixed_width_roundtrip",
    "q335_cheapest_route",
    "q336_polygon_validity",
    "q337_assortativity",
    "q338_cooccurrence",
    "q339_span_f1",
    "q340_heaps_law",
    "q341_apriori_itemsets",
    "q342_random_walks",
    "q343_adamic_adar",
    "q344_feature_hash_collisions",
    "q345_jackknife",
    "q346_neyman_allocation",
    "q347_diff_in_diff",
    "q348_cidr_join",
    "q349_rolling_backtest",
    "q350_higher_moments",
    "q351_spearman",
    "q352_slo_burn",
    "q353_haar_energy",
    "q354_bh_fdr",
    "q355_greedy_set_cover",
    "q356_good_turing",
    "q357_abc_xyz",
    "q358_duplicate_payments",
    "q359_cohort_ltv",
    "q360_bmff_frames",
    "q361_flac_decode",
    "q362_bucketed_incremental_dedup",
    "q363_spec_evolution",
    "q364_bmff_audio_track",
    "q365_snapshot_tags",
    "q366_dedup_canonicalize",
    "q367_partition_overwrite",
    "q368_domain_blocklist",
    "q369_hits_bipartite",
    "q370_robots_rules",
    "q371_warc_ingest",
    "q372_html_extract",
    "q373_pdf_extract",
    "q374_docx_extract",
    "q375_exif_audit",
    "q376_markdown_to_text",
    "q377_data_uri_images",
    "q378_sitemap_parse",
    "q379_access_log_parse",
    "q380_srt_cues",
    "q381_pdf_xref_stream",
    "q382_zstd_jsonl",
    "q383_unigram_train",
    "q384_exif_orientation",
    "q385_ntv2_datum_shift",
    "q386_mp3_audit",
    "q387_gif_frames",
    "q388_unigram_apply",
    "q389_tfrecord_shards",
    "q390_avro_roundtrip",
    "q391_lz4_jsonl",
    "q392_kcore",
    "q393_label_propagation",
    "q394_seqfile_ingest",
    "q395_avro_evolution",
    "q397_avi_mjpeg_frames",
    "q398_adpcm_decode",
    "q399_bz2_xz_jsonl",
    "q401_chat_sft_render",
    "q402_preference_pairs",
    "q403_webp_decode",
    "q404_bleu",
    "q405_rouge",
    "q406_kmv_set_ops",
    "q407_mbox_ingest",
    "q408_pdf_encrypted",
    "q409_binary_quantization",
    "q410_hilbert_layout",
    "q411_kneser_ney",
    "q412_integral_image",
    "q413_idna_hosts",
    "q414_arrow_ipc",
    "q415_safetensors",
    "q416_kafka_segment",
    "q418_content_encoding_br",
    "q419_cdx_lookup",
    "q420_wet_wat",
    "q421_delta_log",
    "q422_iceberg_interop",
    "q423_http_decode_chain",
    "q424_zstd_dict_frames",
    "q425_dict_training",
    "q426_delta_optimize",
    "q427_iceberg_mor_deletes",
    "q428_proto_audit",
    "q429_wikipedia_dump",
    "q430_main_content",
    "q431_optout_governance",
    "q432_epub_ingest",
    "q433_pg_datasource_scan",
    "q434_bng_datum_warp",
    "q435_projstring_warp",
    "q436_h264_keyframe_index",
    "q437_colormap_symbology",
    "q438_geodesic_distance",
    "q439_geodesic_neardup",
    "q440_geodesic_direct",
    "q441_parquet_footer_audit",
    "q442_zone_map_audit",
    "q443_rowgroup_pruning",
    "q444_orc_roundtrip",
    "q445_orc_spark_native",
    # q446 excluded under rule (b): footer-only constant-size metadata
    "q447_orc_stripe_pruning",
    "q448_avro_roundtrip",
    "q449_avro_codecs",
    "q450_avro_array_blocks",
    "q451_hudi_snapshot",
    "q452_hudi_incremental",
    # q453 excluded under rule (a): streaming micro-batch harness
    "q454_dft_spectrum",
    "q455_fm_index_search",
    "q456_bitemporal_asof",
    "q457_join_card_estimate",
    "q458_parquet_page_decode",
    "q459_parquet_write_back",
    "q460_lakehouse_trio",
    "q461_format_matrix",
    "q462_orc_temporal_decimal",
    "q463_avro_decimal_date",
    "q464_iceberg_rename",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("gfw_pixetl_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    cpus = spark.sparkContext.defaultParallelism

    # JVM/codegen warm-up on the smallest SF so steady-state throughput is
    # what gets measured, not first-query classloading.
    warm = harness.QUERIES["q01_pricing_summary"](spark, "/root/testdata/sf0.001")
    warm.collect()

    # The box's load varies run-to-run by up to ±50% (ROADMAP perf notes),
    # so each query is timed REPS times in interleaved rounds (never
    # back-to-back, so one load spike can't poison all samples of a
    # query) and the per-query MEDIAN is reported.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # One full warm-up round, EXCLUDED from the medians: per-query
    # first-touch costs (codegen compile, shuffle-file page cache,
    # parquet footer cache) landed in the measured samples and tripped
    # the round-over-round 1.3x noise gate on sub-second queries
    # (VERDICT r5: q181/q188 were bench noise, not regressions).
    warmup = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))
    samples: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    for rnd in range(-warmup, reps):
        for name in BENCH_QUERIES:
            fn = harness.QUERIES[name]
            t0 = time.perf_counter()
            try:
                n = fn(spark, sf_dir).count()
            except Exception as e:  # noqa: BLE001
                print(f"bench {name} FAILED: {e}", file=sys.stderr)
                continue
            dt = time.perf_counter() - t0
            if rnd >= 0:
                samples[name].append(dt)
            print(
                f"bench {'warmup' if rnd < 0 else f'r{rnd + 1}'} "
                f"{name}: {dt:.2f}s rows={n}",
                file=sys.stderr,
            )

    from statistics import median

    timings = {
        name: round(median(xs), 3) if xs else -1.0
        for name, xs in samples.items()
    }
    total = round(sum(t for t in timings.values() if t >= 0), 3)

    # At-size stress pipelines (>=100 MB each), r3–r7 verdicts. Each is
    # timed SPARK_GRAFT_STRESS_REPS times (default 3, interleaved rounds
    # like the query loop) and the MEDIAN wall time is reported — the
    # r07 stamped numbers came from single passes on a loaded box and
    # swung ±50% run-to-run (r7 verdict blemish #1). golden = every rep
    # verified; the non-timing facts come from the final rep.
    # SPARK_GRAFT_BENCH_STRESS=0 opts out for quick local iterations.
    STRESS_SPECS = [
        # (result key, harness module, facts -> extra report fields)
        ("scale_stress", "scale_stress", lambda f: {
            "source_mb": f["source_bytes_uncompressed"] // 2**20,
            "max_batch_mb": round(f["max_batch_bytes"] / 2**20, 1)}),
        ("scale_stress_vector", "scale_stress_vector", lambda f: {
            "coord_mb": f["coord_bytes"] // 2**20,
            "max_batch_mb": round(f["max_batch_bytes"] / 2**20, 1)}),
        ("scale_stress_crawl", "scale_stress_crawl", lambda f: {
            "warc_mb": f["warc_bytes_uncompressed"] // 2**20,
            "survivors": f["snapshot_rows"],
            "max_batch_mb": round(f["max_batch_bytes"] / 2**20, 1)}),
        ("scale_stress_video", "scale_stress_video", lambda f: {
            "video_mb": f["total_bytes"] // 2**20,
            "io_fraction": f["io_fraction"]}),
        ("scale_stress_export", "scale_stress_export", lambda f: {
            "tfrecord_mb": f["export_bytes"] // 2**20,
            "zstd_ratio": round(f["zstd_comp_bytes"] / f["zstd_raw_bytes"], 3),
            "max_batch_mb": round(f["max_shard_bytes"] / 2**20, 1)}),
        ("scale_stress_lakehouse", "scale_stress_lakehouse", lambda f: {
            "data_mb": f["data_bytes"] // 2**20,
            "head_files": f["head_files"],
            "pruned_files": f["pruned_files"]}),
    ]
    stress_results: dict[str, dict | None] = {k: None for k, _, _ in STRESS_SPECS}
    if os.environ.get("SPARK_GRAFT_BENCH_STRESS", "1") != "0":
        import importlib
        import tempfile

        stress_reps = max(
            1, int(os.environ.get("SPARK_GRAFT_STRESS_REPS", "3"))
        )
        stress_samples: dict[str, list[float]] = {
            k: [] for k, _, _ in STRESS_SPECS
        }
        stress_golden: dict[str, bool] = {k: True for k, _, _ in STRESS_SPECS}
        stress_facts: dict[str, dict] = {}
        for rep in range(stress_reps):
            for key, modname, _extra in STRESS_SPECS:
                if not stress_golden[key]:
                    continue  # a failed pipeline won't heal; skip reruns
                mod = importlib.import_module(
                    f"gfw_pixetl_spark.harness.{modname}"
                )
                try:
                    t0 = time.perf_counter()
                    facts = mod.run(spark, tempfile.mkdtemp())
                    problems = mod.verify_outputs(facts)
                    stress_samples[key].append(
                        round(time.perf_counter() - t0, 3)
                    )
                    stress_golden[key] = stress_golden[key] and not problems
                    stress_facts[key] = facts
                    print(
                        f"bench stress r{rep + 1} {key}: "
                        f"{stress_samples[key][-1]:.2f}s "
                        f"golden={not problems}",
                        file=sys.stderr,
                    )
                except Exception as e:  # noqa: BLE001
                    print(f"bench {key} FAILED: {e}", file=sys.stderr)
                    stress_golden[key] = False
        from statistics import median as _median

        for key, _modname, extra in STRESS_SPECS:
            xs = stress_samples[key]
            if not xs:
                stress_results[key] = {"sec": -1.0, "golden": False}
                continue
            facts = stress_facts[key]
            row = {
                "sec": round(_median(xs), 3),
                "sec_samples": xs,
                "sec_full_pipeline": facts["sec_full_pipeline"],
                "golden": stress_golden[key],
            }
            row.update(extra(facts))
            stress_results[key] = row
    stress = stress_results["scale_stress"]
    stress_vec = stress_results["scale_stress_vector"]
    stress_crawl = stress_results["scale_stress_crawl"]
    stress_video = stress_results["scale_stress_video"]
    stress_export = stress_results["scale_stress_export"]
    stress_lakehouse = stress_results["scale_stress_lakehouse"]

    # Full per-query medians go to a file (the driver's tail capture is
    # ~2 KB; a 169-entry map overflows it — r2 verdict #2). The LAST stdout
    # line is a compact summary the driver can always parse.
    detail = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": cpus,
        "reps": reps, "warmup_rounds": warmup,
        "aggregation": "median_per_query",
        "scale_stress": stress,
        "scale_stress_vector": stress_vec,
        "scale_stress_crawl": stress_crawl,
        "scale_stress_video": stress_video,
        "scale_stress_export": stress_export,
        "scale_stress_lakehouse": stress_lakehouse,
    }
    repo = Path(__file__).resolve().parent
    # A run off the session's default core count is not comparable with
    # the default runs, so it writes its own files and leaves theirs.
    tag = "" if cpus == DEFAULT_CPUS else f"_c{cpus}"
    detail_path = repo / f"BENCH_DETAIL{tag}.json"
    detail_path.write_text(json.dumps(detail, indent=1) + "\n")
    # Also archive per-round (BENCH_DETAIL.json is overwritten in place,
    # which made cross-round per-query diffs require git archaeology —
    # r3 verdict #5). Round = 1 + the latest driver-recorded BENCH_r{N}.
    rounds = [int(p.stem.split("_r")[-1]) for p in repo.glob("BENCH_r*.json")
              if p.stem.split("_r")[-1].isdigit()]
    rnd = max(rounds) + 1 if rounds else 1
    rnd_path = repo / f"BENCH_DETAIL_r{rnd:02d}{tag}.json"
    # never clobber an already-archived round (multiple bench runs can
    # happen within one round; the earlier archive stays authoritative
    # and later runs get a letter suffix)
    suffix = ord("b")
    while rnd_path.exists():
        rnd_path = repo / f"BENCH_DETAIL_r{rnd:02d}{chr(suffix)}{tag}.json"
        suffix += 1
    rnd_path.write_text(json.dumps(detail, indent=1) + "\n")

    slowest = sorted(
        ((n, t) for n, t in timings.items() if t >= 0),
        key=lambda kv: -kv[1],
    )[:5]
    ok = [t for t in timings.values() if t >= 0]
    ok.sort()
    p50 = round(ok[len(ok) // 2], 3) if ok else -1.0
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_time",
                "value": total,
                "unit": "sec",
                "queries": dict(slowest),
                "n_queries": len(ok),
                "n_failed": sum(1 for t in timings.values() if t < 0),
                "p50": p50,
                "sf": float(sf),
                "cpus": cpus,
                "reps": reps, "warmup_rounds": warmup,
                "aggregation": "median_per_query",
                "scale_stress": stress,
                "scale_stress_vector": stress_vec,
                "scale_stress_crawl": stress_crawl,
                "scale_stress_video": stress_video,
                "scale_stress_export": stress_export,
                "scale_stress_lakehouse": stress_lakehouse,
                "detail": str(detail_path),
            }
        )
    )


if __name__ == "__main__":
    main()
