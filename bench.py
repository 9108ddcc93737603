#!/usr/bin/env python
"""Benchmark runner: executes the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with a noop sink (full physical plan, no
driver-side collect). Add ``--scaling`` to run the same suite at two
parallelism levels (local[8] vs local[32]) and report scaling efficiency —
the sandbox stand-in for the N vs 4N executor criterion.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline queries: the flagship fire pipeline entries are added to this list
# as they land; relational entries exercise each operator family at sf scale.
HEADLINE = [
    "cell_knn_count",
    "radius_join",
    "interval_join",
    "merge_upsert",
    "broadcast_lookup",
    "bottom_pct_threshold",
    "exact_median_mad",
    "stencil_adjacency",
    "window_host_count",
    "priority_paint",
    "group_stats_gamma",
    "planck_bt",
    "union_candidates_dedup",
    # training-data ops
    "exact_dedup",
    "minhash_lsh_pairs",
    "dup_components",
    "simhash_docs",
    "text_analysis",
    "sample_stratified",
    "tfidf_topterms",
    "ann_topk_bruteforce",
    "ann_lsh_bucketed",
    "ann_ivf_topk",
    "embedding_neardup",
    # round-2 additions
    "ntl_climatology",
    "frame_sample",
    "media_features",
    "geos_fp_urls",
    # round-3 additions
    "hex_compact",
    "hex_uncompact",
    "hex_polyfill",
    "idw_interpolate",
    "trajectory_speed",
    "pii_scrub",
    "knn_join",
    "scd2_history",
    "spatiotemporal_join",
    "hll_registers",
    "weighted_sample",
    "track_interpolate",
    "pagerank",
    "hex_line",
    # round-4 additions
    "zorder_key",
    "geohash_encode",
    "geohash_decode",
    "tile_pyramid",
    "dbscan_clusters",
    "getis_ord_gi",
    "mann_kendall_trend",
    "stay_points",
    "count_min_registers",
    "kmv_set_ops",
    "cusum_changepoint",
    "bloom_registers",
    "bloom_semi_prune",
    "snap_to_segments",
    "grid_contour",
    "polygon_stats",
    "emerging_hotspots",
    "local_moran",
    "log_quantiles",
    "slope_aspect",
    "triangle_count",
    "sssp",
    "od_flows",
    "hilbert_key",
    "ripley_k",
    "knox_pairs",
    "kde_epanechnikov",
    "track_simplify",
    "quadtree_bins",
    "colocation_patterns",
    "focal_majority",
    "hillshade",
    "empirical_variogram",
    "d8_flow_dir",
    "flow_accumulation",
    "theil_sen_trend",
    "join_counts",
    "std_ellipse",
    "chunk_documents",
    "boilerplate_chunks",
    "k_core",
    "watershed_basins",
    # round-4 session-5 additions
    "contamination_check",
    "geary_c",
    "terrain_ruggedness",
    "flow_length",
    "gopher_repetition",
    "unigram_logprob",
    "sequence_pack",
    "histogram_equalize",
    "clark_evans",
    "line_of_sight",
    "kmeans_assign",
    # round-4 session-7 additions
    "skyline_2d",
    "extreme_points",
    "bpe_merge_step",
    "window_funnel",
    "retention_cohorts",
    # round-4 session-8 additions
    "cost_distance",
    "rasterize_segments",
    "winnowing_fingerprint",
    "domain_mix_weights",
    # round-4 session-9 additions
    "quadrat_chi2",
    "bilinear_resample",
    "acf_lags",
    "common_neighbors",
    "bm25_score",
    "markov_transitions",
    "lorenz_gini",
    "entropy_score",
    "benford_deviation",
    "ab_test_ztest",
    "edit_distance_pairs",
    "image_phash",
    "phash_neardup",
    "audio_segments",
    # round-4 session-10 additions
    "moran_correlogram",
    "huff_gravity",
    "runs_test",
    "jsd_divergence",
    "vector_quantize",
    "area_weighted_regrid",
    "morph_close",
    "two_sfca",
    "ols_trend",
    "pmi_pairs",
    "nearest_facility_dist",
    "directional_variogram",
    "hits_scores",
    "seasonal_residuals",
    "vocab_prune",
    # round-4 session-11 additions
    "adamic_adar",
    "radiation_model",
    "ewma_smooth",
    "trajectory_hausdorff",
    "twi",
    "label_propagation",
    "change_detection",
    "space_time_scan",
    "mobility_metrics",
    "rrf_fusion",
    "holt_linear",
    "profile_correlation",
    "turning_stats",
    "harmonic_centrality",
    "zonal_histogram",
    "viewshed",
    "interval_union",
    "dasymetric_downscale",
    "normalized_difference",
    "burstiness_index",
    "strahler_order",
    "sequence_mining",
    "soundex_blocking",
    "laplacian_curvature",
    "kfold_assign",
    "bivariate_moran",
    "ks_test",
    "graph_assortativity",
    "lexical_diversity",
    "ann_pq_search",
    "segment_intersections",
    "quantile_normalize",
    "item_cooccurrence",
    "top_paths",
    "home_work_inference",
    "gravity_calibration",
    "triad_census",
    "theil_decomposition",
    "ohlc_bars",
    "langid_confusion",
    "ridge_regression",
    "pca_project",
    "mutual_information",
    "chi2_features",
    "hurst_exponent",
    "local_clustering",
    "modularity_score",
    "powerlaw_alpha",
    "reciprocity",
    "k_truss",
    "dsir_weights",
    "flesch_reading",
    "zipf_alpha",
    "bigram_surprisal",
    "ngram_novelty",
    "gfunction_nn",
    "cross_k",
    "bearing_rose",
    "pit_fill",
    "motion_vectors",
    "auc_mannwhitney",
    "naive_bayes_lang",
    "boxcount_dimension",
    "trend_surface",
    "rect_union_area",
    "decision_stump",
    "fdr_bh",
    "silhouette_simplified",
    "ar2_yule_walker",
    "markov_stationary",
    "ridge_cv_mse",
    "calibration_bins",
    "psi_drift",
    "small_cell_suppress",
    "block_bootstrap_var",
    "percolation_clusters",
    "local_maxima_nms",
    "kaplan_meier",
    "entropy_rate",
    "heaps_law",
    "kruskal_wallis",
    "anova_f",
    "chao1_richness",
    "jackknife_variance",
    "burrows_delta",
    "spearman_rho",
    "kendall_tau",
    "levene_test",
    "cramers_v",
    "cohen_kappa",
    "diurnal_harmonics",
    "pacf_durbin",
    "cross_correlation",
    "max_drawdown",
    "nelson_aalen",
    "yule_k",
    "good_turing",
    "simpson_diversity",
    "kneser_ney_bigram",
    "dice_collocations",
    "graph_diameter",
    "closeness_landmarks",
    "ppr_seeds",
    "rayleigh_test",
    "mcnemar_test",
    "solar_position",
    "geodesic_destination",
    "line_densify",
    "tissot_sinusoidal",
    "catmull_rom_smooth",
    "roc_points",
    "lift_deciles",
    "ndcg_at_k",
    "langid_f1",
    "cohens_d",
    "attribution_linear",
    "rfm_scores",
    "page_hinkley",
    "apriori_rules",
    "qq_normal_points",
    "trimmed_mean",
    "grubbs_test",
    "wilcoxon_signed_rank",
    "siegel_slopes",
    "textrank_scores",
    "spatial_thinning",
    "hypsometric_curve",
    "exp_fit_ks",
    "cohort_ltv",
    "partial_correlation",
    "mahalanobis_outliers",
    "haar_energy",
    "label_centroids",
    "turning_point_test",
    "gumbel_fit_extremes",
    "bradley_terry",
    "spectral_coherence",
    "permutation_entropy",
    "odds_ratio_ci",
    "ground_track",
    "swath_coverage",
    "woe_iv",
    "target_encoding_loo",
    "embedding_drift",
    "friedman_test",
    "cochran_q",
    "page_trend_test",
    "rank_distance",
    "hhi_concentration",
    "gpd_tail_fit",
    "topk_per_group",
    "median_polish",
    "price_elasticity",
    "vwap_twap",
    "solar_irradiance_daily",
    "vocab_coverage",
    "dau_wau_stickiness",
    "record_statistics",
    "conversion_lag_quantiles",
    "l_moments",
    "line_sinuosity",
    "dup_rate_by_source",
    "renyi_spectrum",
    "weekday_anova",
    "cramer_von_mises_2s",
    "anderson_darling_2s",
    "qte_deciles",
    "logrank_test",
    "mood_median_test",
    "seasonal_mann_kendall",
    "chi2_residuals",
    "weighted_kappa",
    "spectral_entropy",
    "quantile_shape",
    # stream_sessions / fire_rate_windowed / stream_dedup / hotspot_track:
    # streaming entries are correctness-gated (sf0.01 oracle parity) but NOT
    # benchmarked — the per-file micro-batch fixture replays ~100 sequential
    # triggers at bench geometry, measuring the harness, not the operator
    # round-5 additions
    "semdedup_prune",
    "quadkey_encode",
    "containment_dedup",
    "substring_dup_coverage",
]


def run_suite(master: str, shuffle_partitions: int) -> tuple[dict[str, float], dict]:
    from filda_spark import fire_queries
    from filda_spark.session import get_spark

    # build the synthetic granule corpus before any timing starts
    geom = fire_queries._geom_for(SF_DIR)
    corpus = fire_queries.corpus_dir(geom)

    spark = get_spark("filda-bench", master=master, shuffle_partitions=shuffle_partitions)
    try:
        # one-time table maintenance (Iceberg bucket(N, doc_id) analogue),
        # not per-batch work — outside the timers like the corpus build
        from filda_spark import pipeline as _pl

        _pl.ensure_bucketed_media(spark, corpus)
        import __spark_entry__ as entrymod

        qmap = entrymod.queries()
        times: dict[str, float] = {}
        # --only a,b,c: time just those queries and skip the fire pipeline
        # (fast per-batch verification; the driver's plain run is unaffected)
        only = None
        for i, a in enumerate(sys.argv):
            if a == "--only" and i + 1 < len(sys.argv):
                only = set(sys.argv[i + 1].split(","))
        suite = [n for n in HEADLINE if only is None or n in only]
        for name in suite:
            if name not in qmap:
                continue
            # construction is inside the timer: iterative queries
            # (dup_components) materialize during plan building
            t0 = time.perf_counter()
            qmap[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
            times[name] = round(time.perf_counter() - t0, 3)

        # headline fire pipeline, production path: decode -> detect ->
        # enrich -> write detections -> global kNN dedup -> tiles
        # (the BASELINE.json metric: granules/hour, detections/sec)
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from filda_spark import runner

        if only is not None:
            return times, {}

        out = tempfile.mkdtemp(prefix="filda_bench_out_")
        try:
            t0 = time.perf_counter()
            runner.run_incremental(spark, fire_queries.corpus_dir(geom), out, fire_queries._nl(geom))
            agg = (
                spark.read.parquet(f"{out}/detections")
                .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("docs"))
                .collect()[0]
            )
            fire_wall = time.perf_counter() - t0
        finally:
            shutil.rmtree(out, ignore_errors=True)
        times["fire_pipeline"] = round(fire_wall, 3)
        fire = dict(
            granules=int(agg.docs),
            detections=int(agg.n),
            granules_per_hour=round(agg.docs * 3600.0 / fire_wall, 1),
            detections_per_sec=round(agg.n / fire_wall, 1),
        )
        return times, fire
    finally:
        spark.stop()


def _contention_control(lo_n: int, hi_n: int) -> float:
    """Hardware-contention control: the SAME fixed numpy kernel run in plain
    multiprocessing pools of lo_n and hi_n workers. Returns the per-task
    CPU-time inflation factor at hi_n vs lo_n. On this single-socket
    (virtualized) box, concurrent workers slow each other down even when
    compute-bound — a ceiling no software can beat; a real 4N-executor
    cluster brings 4N sockets and does not see it."""
    import multiprocessing as mp

    import numpy as np  # noqa: F401

    n_tasks = hi_n * 4
    out: dict[int, float] = {}
    for n in (lo_n, hi_n):
        with mp.Pool(n) as pool:
            ts = pool.map(_control_task, range(n_tasks))
        out[n] = sum(ts) / n_tasks
    return out[hi_n] / out[lo_n]


def _control_task(_i: int) -> float:
    import numpy as np

    a = np.random.default_rng(_i).normal(size=(384, 480))
    # CPU time, not wall-clock: scheduler/hypervisor wait must not count
    # toward the inflation factor (it would overstate the ceiling reduction);
    # memory-stall contention DOES show up in process_time, which is the
    # effect the control is meant to measure.
    t0 = time.process_time()
    for _ in range(12):
        np.fft.rfft2(a, (512, 640))
        b = np.sort(a.ravel())
        _ = (a - b.reshape(a.shape)) ** 2
    return time.process_time() - t0


def run_scaling() -> dict:
    """Fire-pipeline throughput at local[8] vs local[32] on the SAME corpus —
    the sandbox stand-in for the N vs 4N executor criterion. Reports raw
    scaling efficiency plus the hardware-attainable ceiling from the
    multiprocessing control (single box: both 'clusters' share one memory
    subsystem; 4N executors on a real cluster would not)."""
    import shutil
    import tempfile

    from filda_spark import fire_queries, runner
    from filda_spark.session import get_spark

    geom = fire_queries.SCALING_GEOM
    corpus = fire_queries.corpus_dir(geom)
    nl = fire_queries._nl(geom)
    lo_n, hi_n = 8, int(CPUS)
    walls: dict[int, float] = {}
    map_walls: dict[int, float] = {}
    fires: dict[int, dict] = {}
    for n in (lo_n, hi_n):
        spark = get_spark(f"filda-scaling-{n}", master=f"local[{n}]", shuffle_partitions=n)
        try:
            from filda_spark import pipeline

            pipeline.ensure_bucketed_media(spark, corpus)  # one-time layout
            # warm-up: spawn python workers + ship broadcasts once
            det_plan = pipeline.detect_detections(spark, corpus, nl)
            det_plan.write.mode("overwrite").format("noop").save()
            # map-phase throughput: the detect kernel only, fit included (the
            # per-granule compute that grows with corpus size; the batch tail
            # is constant)
            t0 = time.perf_counter()
            det_plan.write.mode("overwrite").format("noop").save()
            map_walls[n] = time.perf_counter() - t0
            out = tempfile.mkdtemp(prefix=f"filda_scaling_{n}_")
            t0 = time.perf_counter()
            runner.run_incremental(spark, corpus, out, nl)
            wall = time.perf_counter() - t0
            from pyspark.sql import functions as F

            agg = (
                spark.read.parquet(f"{out}/detections")
                .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("docs"))
                .collect()[0]
            )
            shutil.rmtree(out, ignore_errors=True)
            walls[n] = wall
            fires[n] = dict(
                granules=int(agg.docs),
                detections=int(agg.n),
                granules_per_hour=round(agg.docs * 3600.0 / wall, 1),
                detections_per_sec=round(agg.n / wall, 1),
            )
        finally:
            spark.stop()
    raw_speedup = walls[lo_n] / walls[hi_n]
    cores_ratio = hi_n / lo_n
    inflation = _contention_control(lo_n, hi_n)
    attainable = cores_ratio / inflation
    return {
        "metric": f"fire pipeline scaling local[{lo_n}] vs local[{hi_n}] (N vs 4N stand-in)",
        "value": round(walls[hi_n], 3),
        "unit": "sec",
        "queries": {f"fire_pipeline_local[{lo_n}]": round(walls[lo_n], 3), f"fire_pipeline_local[{hi_n}]": round(walls[hi_n], 3)},
        "sf": float(geom["n_docs"]),
        "fire": fires[hi_n],
        "scaling": {
            f"local[{lo_n}]": fires[lo_n],
            f"local[{hi_n}]": fires[hi_n],
            "raw_speedup": round(raw_speedup, 3),
            "raw_efficiency": round(raw_speedup / cores_ratio, 3),
            "hw_contention_inflation": round(inflation, 3),
            "attainable_speedup_on_this_box": round(attainable, 3),
            "efficiency_vs_attainable": round(raw_speedup / attainable, 3),
            "map_phase": {
                f"local[{lo_n}]_sec": round(map_walls[lo_n], 3),
                f"local[{hi_n}]_sec": round(map_walls[hi_n], 3),
                "raw_speedup": round(map_walls[lo_n] / map_walls[hi_n], 3),
                "raw_efficiency": round(map_walls[lo_n] / map_walls[hi_n] / cores_ratio, 3),
                "efficiency_vs_attainable": round(
                    map_walls[lo_n] / map_walls[hi_n] / attainable, 3
                ),
            },
        },
    }


def run_skew() -> dict:
    """Hot-cell skew bench: pipeline.dedup on the bench corpus detections
    (a) as-is, (b) with a degenerate hot cell — N_HOT detections moved into
    ONE level-14 cell, far above pipeline.DEDUP_SALT_THRESHOLD — and (c) the same
    skew with salting disabled. Evidence that the salted cell-neighborhood
    join + AQE keep throughput when one cell goes quadratic (persistent
    flare / city-light skew at production scale)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from filda_spark import fire_queries, pipeline
    from filda_spark.session import get_spark

    N_HOT = int(1.6 * pipeline.DEDUP_SALT_THRESHOLD)  # 1.6x over threshold
    geom = fire_queries.BENCH_GEOM
    corpus = fire_queries.corpus_dir(geom)
    nl = fire_queries._nl(geom)
    spark = get_spark("filda-skew", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    try:
        pipeline.ensure_bucketed_media(spark, corpus)  # one-time layout
        stage = tempfile.mkdtemp(prefix="filda_skew_")
        det = pipeline.detect_detections(spark, corpus, nl)
        det.write.mode("overwrite").parquet(f"{stage}/det")
        enr = pipeline.enrich(spark, spark.read.parquet(f"{stage}/det"), corpus)
        enr.write.mode("overwrite").parquet(f"{stage}/enr")
        base = spark.read.parquet(f"{stage}/enr")
        n_rows = base.count()

        # deterministic skew: the N_HOT lowest (doc_id, line, sample) keys
        # land inside one level-14 cell (~0.011 deg) with sub-cell jitter
        from pyspark.sql import Window

        w = Window.orderBy("doc_id", "FP_Line", "FP_Sample")
        ranked = base.withColumn("_rk", F.row_number().over(w))
        jit = (F.pmod(F.hash("doc_id", "FP_Line", "FP_Sample"), F.lit(1000)) / 1e5).cast(
            "double"
        )  # 0..0.01 deg, stays inside the cell
        skewed = (
            ranked.withColumn(
                "FP_Latitude",
                F.when(F.col("_rk") <= N_HOT, F.lit(40.0001) + jit).otherwise(
                    F.col("FP_Latitude")
                ),
            )
            .withColumn(
                "FP_Longitude",
                F.when(F.col("_rk") <= N_HOT, F.lit(-100.0001)).otherwise(
                    F.col("FP_Longitude")
                ),
            )
            .drop("_rk")
        )
        skewed.write.mode("overwrite").parquet(f"{stage}/skewed")
        skewed = spark.read.parquet(f"{stage}/skewed")

        def timed(df) -> float:
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            return round(time.perf_counter() - t0, 3)

        walls = {
            "dedup_uniform": timed(pipeline.dedup(base)),
            "dedup_hotcell_salt8": timed(pipeline.dedup(skewed)),
            "dedup_hotcell_salt32": timed(pipeline.dedup(skewed, n_salt=32)),
            # salting off: threshold above any count -> the hot cell's whole
            # quadratic pair set lands in ONE task
            "dedup_hotcell_unsalted": timed(
                pipeline.dedup(skewed, salt_threshold=1 << 30)
            ),
        }

        # spatiotemporal_join under the same degenerate skew: the op derives
        # lat/lon from event_id (id*7919%2000, id*104729%2400), so ids
        # congruent mod 12000 are the IDENTICAL point — one (cell, bucket)
        # holding N_HOT_ST events is the everything-at-one-flare-in-one-
        # bucket worst case (~N^2/2 pairs in one join key)
        from filda_spark import relational

        N_HOT_ST = 8_000  # lc*rc ~ 6.4e7 per hot key, well past ST_PAIR_CAP
        hot = spark.range(N_HOT_ST).select(
            (F.col("id") * 12_000 + 7).alias("event_id"),
            (F.col("id") % 1000 * 1000).alias("ms"),
        )
        tail = spark.range(20_000).select(
            (F.col("id") + 1_000_000_001).alias("event_id"),
            (F.col("id") * 7919 % 86_000_000).alias("ms"),
        )
        ev = hot.union(tail).select(
            "event_id", F.timestamp_millis(F.col("ms")).alias("ts")
        )
        ev.write.mode("overwrite").parquet(f"{stage}/st_ev")
        ev = spark.read.parquet(f"{stage}/st_ev")
        st = relational._spatiotemporal_pairs
        walls["st_join_hot_salt8"] = timed(st(spark, "", events=ev))
        walls["st_join_hot_salt32"] = timed(st(spark, "", n_salt=32, events=ev))
        walls["st_join_hot_unsalted"] = timed(
            st(spark, "", pair_cap=float("inf"), events=ev)
        )
        shutil.rmtree(stage, ignore_errors=True)
        return {
            "metric": "kNN dedup wall under degenerate hot-cell skew (salted vs not)",
            "value": walls["dedup_hotcell_salt8"],
            "unit": "sec",
            "queries": walls,
            "sf": float(geom["n_docs"]),
            "skew": {
                "n_detections": int(n_rows),
                "n_hot_cell": N_HOT,
                "salt_threshold": pipeline.DEDUP_SALT_THRESHOLD,
                "salt8_speedup_vs_unsalted": round(
                    walls["dedup_hotcell_unsalted"] / max(walls["dedup_hotcell_salt8"], 1e-9), 2
                ),
                "salt32_speedup_vs_unsalted": round(
                    walls["dedup_hotcell_unsalted"] / max(walls["dedup_hotcell_salt32"], 1e-9), 2
                ),
                "st_join_n_hot_key": N_HOT_ST,
                "st_join_pair_cap": relational.ST_PAIR_CAP,
                "st_join_salt8_speedup_vs_unsalted": round(
                    walls["st_join_hot_unsalted"] / max(walls["st_join_hot_salt8"], 1e-9), 2
                ),
                "st_join_salt32_speedup_vs_unsalted": round(
                    walls["st_join_hot_unsalted"] / max(walls["st_join_hot_salt32"], 1e-9), 2
                ),
            },
        }
    finally:
        spark.stop()


def _host_canary() -> dict:
    """Degraded-host canary (VERDICT.md r3): this virtualized box
    intermittently runs 5-10x slow on memory-bound work even at low CPU
    steal. Two probes with known healthy values are stamped into every
    bench JSON so a regressed suite number can be attributed to the host
    rather than the code: (a) single-thread np.sort of 20M doubles is
    ~2 s on a healthy boot (17.2 s observed on the degraded r3 boot);
    (b) importing numpy+pandas+pyarrow in a fresh interpreter burns
    ~0.3 s of sys-time healthy (2.2 s degraded)."""
    import subprocess

    import numpy as np

    a = np.random.default_rng(0).normal(size=20_000_000)
    t0 = time.perf_counter()
    np.sort(a)
    sort_s = round(time.perf_counter() - t0, 2)
    # warm repeat: on the degraded boots the pathology is first-touch page
    # allocation (cold 20x slower than warm), so the cold/warm ratio
    # separates "host memory subsystem sick" from "code slow"
    t0 = time.perf_counter()
    np.sort(a)
    sort_warm_s = round(time.perf_counter() - t0, 2)
    # import probe runs with BLAS pools pinned to one thread — the same env
    # the engine pins for every worker (session.get_spark). Unpinned, the
    # probe measures OpenBLAS spawning a 32-thread pool (3.3 s sys-time on
    # this host even when otherwise healthy), which is exactly the overhead
    # the engine no longer pays; pinned, a healthy boot shows ~0.05 s and a
    # genuinely sick filesystem/page-fault path still shows seconds.
    import os as _os

    env = dict(_os.environ)
    env.update(OPENBLAS_NUM_THREADS="1", OMP_NUM_THREADS="1", MKL_NUM_THREADS="1")
    import_sys_s = None
    try:
        r = subprocess.run(
            [
                sys.executable,
                "-c",
                "import resource; import numpy, pandas, pyarrow; "
                "print(resource.getrusage(resource.RUSAGE_SELF).ru_stime)",
            ],
            capture_output=True,
            text=True,
            timeout=120,
            env=env,
        )
        import_sys_s = round(float(r.stdout.strip().splitlines()[-1]), 2)
    except Exception:
        pass
    return {
        "np_sort_20m_cold_sec": sort_s,
        "np_sort_20m_warm_sec": sort_warm_s,
        "import_sys_sec_blas1": import_sys_s,
        "healthy_np_sort_sec": 2.0,
        "healthy_import_sys_sec_blas1": 0.05,
        "degraded": bool(sort_s > 6.0 or (import_sys_s or 0.0) > 1.0),
    }


def run_phases() -> dict:
    """Phase split of one full fire-pipeline batch at the bench corpus:
    where the wall goes (decode+detect/append/dedup+tiles/manifest/lineage).
    The non-map phases are the fixed per-batch driver tail that a 100x
    scale-up multiplies by batch count — the thing to keep <10% of wall."""
    import shutil
    import tempfile

    from filda_spark import fire_queries, runner
    from filda_spark.session import get_spark

    # --phases-big: 4x corpus — shows the tail is a FIXED per-batch term
    # (map phase grows ~4x, tail stays flat => tail_frac shrinks with
    # batch size, which is how a production batch would actually run)
    geom = (
        fire_queries.SCALING_GEOM if "--phases-big" in sys.argv else fire_queries.BENCH_GEOM
    )
    corpus = fire_queries.corpus_dir(geom)
    nl = fire_queries._nl(geom)
    spark = get_spark("filda-phases", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS))
    try:
        from filda_spark import pipeline as _pl

        _pl.ensure_bucketed_media(spark, corpus)  # one-time layout
        out = tempfile.mkdtemp(prefix="filda_phases_")
        timings: dict = {}
        t0 = time.perf_counter()
        runner.run_incremental(spark, corpus, out, nl, timings=timings)
        wall = round(time.perf_counter() - t0, 3)
        shutil.rmtree(out, ignore_errors=True)
        tail = round(sum(v for k, v in timings.items() if k != "decode_detect"), 3)
        return {
            "metric": "fire pipeline phase split (one batch, bench corpus)",
            "value": wall,
            "unit": "sec",
            "queries": timings,
            "sf": float(geom["n_docs"]),
            "phases": {
                "wall": wall,
                "map_phase": timings.get("decode_detect", 0.0),
                "tail": tail,
                "tail_frac": round(tail / wall, 3) if wall else None,
            },
        }
    finally:
        spark.stop()


def _cpu_stat() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except Exception:
        return None


def _steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Hypervisor CPU-steal fraction over the run — this virtualized box
    sees 0-20% steal depending on neighbors; numbers measured in a
    high-steal window are not comparable to quiet-window ones."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    total = sum(d)
    return round(100.0 * d[7] / total, 1) if total else None


def run_skew_cover() -> dict:
    """Degenerate-hot-cell bench for ``relational._salted_cover_join`` (the
    lever ripley_k / knox_pairs / colocation_patterns ride): N_HOT points in
    ONE cover cell — the invisible-quadratic shape — joined unsalted
    (threshold above N) vs salted 8 / 32 ways. Pair counts are asserted
    identical; the wall contrast is the evidence that the explicit
    (cell, salt) repartition spreads a hot cell's pair stream across
    tasks (byte-based planning cannot see pair workload)."""
    import time

    from pyspark.sql import functions as F

    from filda_spark import relational as R
    from filda_spark.session import get_spark

    N_HOT = 8000  # same magnitude as the pipeline.dedup hot-cell bench
    spark = get_spark(
        "filda-skew-cover", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    try:
        pts = spark.range(N_HOT).select(
            F.col("id").alias("event_id"),
            F.lit(0).cast("long").alias("gy"),
            F.lit(10).cast("long").alias("gx"),
        )
        pts.write.mode("overwrite").parquet("/tmp/filda_skew_cover")
        pts = spark.read.parquet("/tmp/filda_skew_cover")
        right = R._ring_explode(
            pts, F.col("gy"), F.col("gx"), [F.col("event_id").alias("eb")]
        )
        out: dict = {"metric": "salted cover join on a degenerate hot cell", "n_hot": N_HOT}
        counts = set()
        for label, kw in (
            ("unsalted", dict(pair_cap=float("inf"))),
            ("salt8", dict(n_salt=8)),
            ("salt32", dict(n_salt=32)),
        ):
            t0 = time.perf_counter()
            n = (
                R._salted_cover_join(spark, pts, right, ["gy", "gx"], "event_id", **kw)
                .filter(F.col("event_id") < F.col("eb"))
                .count()
            )
            out[label + "_sec"] = round(time.perf_counter() - t0, 3)
            counts.add(n)
        assert len(counts) == 1, f"pair counts diverged: {counts}"
        out["pairs"] = counts.pop()
        out["unit"] = "sec"
        return out
    finally:
        spark.stop()


def main() -> None:
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    canary = _host_canary()
    if "--scaling" in sys.argv:
        s0 = _cpu_stat()
        out = run_scaling()
        out["steal_pct"] = _steal_pct(s0, _cpu_stat())
        out["host_canary"] = canary
        print(json.dumps(out))
        return
    if "--skew-cover" in sys.argv:
        s0 = _cpu_stat()
        out = run_skew_cover()
        out["steal_pct"] = _steal_pct(s0, _cpu_stat())
        out["host_canary"] = canary
        print(json.dumps(out))
        return
    if "--skew" in sys.argv:
        s0 = _cpu_stat()
        out = run_skew()
        out["steal_pct"] = _steal_pct(s0, _cpu_stat())
        out["host_canary"] = canary
        print(json.dumps(out))
        return
    if "--phases" in sys.argv or "--phases-big" in sys.argv:
        s0 = _cpu_stat()
        out = run_phases()
        out["steal_pct"] = _steal_pct(s0, _cpu_stat())
        out["host_canary"] = canary
        print(json.dumps(out))
        return
    s0 = _cpu_stat()
    times, fire = run_suite(f"local[{CPUS}]", int(CPUS))
    print(
        json.dumps(
            {
                "metric": "headline operator suite wall time (incl. fire pipeline)",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "fire": fire,
                "steal_pct": _steal_pct(s0, _cpu_stat()),
                "host_canary": canary,
            }
        )
    )


if __name__ == "__main__":
    main()
