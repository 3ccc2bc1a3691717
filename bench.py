"""Benchmark harness: runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "sf": <sf>}

Queries materialize through the noop sink — full execution, no
driver-side collect skew. The ``dump_pipeline`` entry is the
end-to-end dump-equivalent from BASELINE.md: scan → column
normalization → partition derivation → Hive-partitioned parquet
write with dynamic partition overwrite.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pipelines_spark.functions.datetime_ops import derive_partition_columns
from pipelines_spark.naming import normalize_columns
from pipelines_spark.plans.staging import staging_scope
from pipelines_spark.queries import QUERIES
from pipelines_spark.session import get_spark
from pipelines_spark.sinks.partitioned import write_partitioned

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "revenue_by_month",
    "top_customers_by_revenue",
    "j1_orders_enriched",
    "j7_shipdate_range_join",
    "j9_idw_interpolation",
    "a3_latest_event_per_user",
    "a7_hourly_event_counts",
    "w4_rolling_hourly_sum",
    "t1_tumbling_5min",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    # the capped at-scale configuration of the same operator (r6
    # verdict: the headline should reflect the 100 TB posture; the
    # exact twin above stays for continuity)
    "dedup_ngram_capped",
    "text_quality_by_source",
    "text_fingerprints",
    "embed_knn_topk",
    "embed_srp_ann",
    "q4_order_priority",
    "q6_forecast_revenue",
    "j11_asof_enrichment",
    "w6_sessionize",
    "embed_ivf_ann",
    "dedup_clusters",
    "q7_nation_volume",
    "q8_market_share",
    "q10_returned_items",
    "text_pii_redaction",
    "text_repetition_stats",
    "text_decontamination",
    # r7: windowed funnel — the new sequence-analytics flagship (one
    # per-user shuffle + JVM HOF fold)
    "funnel_windowed_conversion",
    # r8: the composed curate_corpus chain (gates → source cap → exact
    # dedup → LSH canonical → split/shard) — the LLM-pipeline flagship
    # the way dump_pipeline is the reference flagship
    "curation_pipeline",
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def bench_dump_pipeline(spark, sf_dir: str, out_dir: str) -> None:
    """Dump-equivalent: lineitem scan → normalize → partition-derive →
    partitioned write (SURVEY §3.1 collapsed into one Spark job)."""
    df = normalize_columns(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    df = derive_partition_columns(df, "l_shipdate")
    write_partitioned(
        df.drop("mes_particao", "data_particao"),
        out_dir,
        ["ano_particao"],
        mode="overwrite_partitions",
    )


#: round-3 additions timed under their own key so the 32-entry
#: headline metric stays comparable round-over-round
EXTENDED = [
    "q11_important_suppliers",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    "w7_rank_gauntlet",
    "a14_cube_revenue",
    "embed_ivf_kmeans",
    "text_bm25_search",
    "sample_stratified_counts",
    "scd2_order_history",
    "text_chunk_windows",
    "a15_salted_event_totals",
    "a16_value_histogram",
    "a17_grouping_sets_revenue",
    "j12_asof_forward",
    "embed_quantized_knn",
    "j8b_best_overlap",
    "a18_heavy_hitter_users",
    "dedup_semantic",
    "o12_variant_props",
    "w8_resample_interpolate",
    "a20_cohort_retention",
    "w9_activity_islands",
    "j13_fuzzy_name_match",
    "a21_kmv_distinct",
    "a22_funnel_conversion",
    "w10_time_weighted_avg",
    "j14_max_concurrent_orders",
    "w11_last_touch_attribution",
    "a23_value_outliers",
    "j15_part_cooccurrence",
    "w12_cumulative_new_users",
    "j16_asof_tolerance",
    "a24_mode_per_group",
    "o13_token_positions",
    "j17_lateral_topk",
    "graph_pagerank",
    "graph_triangles",
    "a25_column_profile",
    "a26_benford_digits",
    "graph_khop_reach",
    "t3_sliding_window",
    "a27_seasonal_anomaly",
    "o14_snapshot_diff",
    "graph_hierarchy_rollup",
    "sample_weighted_topk",
    "text_tfidf_pairs",
    "a28_cms_frequencies",
    "text_ngram_entropy",
    "text_dup_spans",
    "dedup_containment",
    "sample_mixture_rates",
    "a29_hll_distinct",
    "text_bpe_merges",
    "text_bpe_top_tokens",
    "a30_hll_by_type",
    "a31_sampled_percentiles",
    "a32_psi_drift",
    "w13_ses_forecast",
    "a33_hll_rolling_distinct",
    "a34_kmv_set_ops",
    "embed_srp_multiprobe",
    "a35_mad_outliers",
    "embed_pq_adc",
    "embed_ivf_pq",
    "a36_kmv_by_type",
    # r7 additions
    "j18_interval_overlap",
    "a37_weighted_median",
    "a38_gini_concentration",
    # r6: the capped (100 TB posture) containment configuration; its
    # ngram twin was promoted into HEADLINE in r7 (the headline should
    # reflect the at-scale posture), so it is no longer timed here
    "dedup_containment_capped",
    # r7: LPA communities over the customer<->supplier trade graph
    "graph_communities",
    # r7: IVF-cell kNN edge list over the whole embeddings corpus
    "embed_knn_graph",
    # r7: RefinedWeb-style per-source quality cap
    "sample_source_cap",
    # r7: Bloom-prefiltered semi-join (semi-join reduction pattern)
    "j19_bloom_semi_reduction",
    # r7: CUSUM drift detection via the prefix-min window identity
    "a39_cusum_changepoints",
    # r7: Theil-Sen robust trend (pairwise-slope median on the daily agg)
    "trend_theilsen_by_type",
    # r7: Newman modularity of the LPA communities (shared staged edges)
    "graph_modularity",
    # r7: equi-depth histogram (broadcast decile boundaries, no ntile)
    "a40_equidepth_histogram",
    # r7: kNN graph's capped (at-scale) configuration
    "embed_knn_graph_capped",
    # r8: the stats view of the composed curation chain (the
    # collect_stats=True path: per-stage persists + bounded counts)
    "curation_funnel_stats",
    # r8: incremental batch-vs-store dedup (the production ingestion
    # shape: batch×store band-key equi-join, never store×store)
    "dedup_incremental_batch",
    # r8: the no-Expand profiler posture with oracle-replayable md5-HLL
    # estimates (a25/profile_documents keep the exact-Expand price)
    "profile_documents_approx",
    # r8: PPJoin prefix filtering — the lossless sub-quadratic
    # candidate engine (vs LSH's probabilistic recall and the full
    # inverted index's hot-shingle quadratics)
    "dedup_prefix_jaccard",
    # r8: CMS inner-product join-size estimate (planner discipline:
    # price a join from two bounded sketches before its shuffle)
    "a41_cms_join_size",
    # r8: PMI collocations (phrase mining for tokenizer/vocab passes)
    "text_pmi_collocations",
    # r8: RRF hybrid retrieval (BM25 leg + dense cosine leg fused)
    "search_hybrid_rrf",
    # r8: Matryoshka truncation recall audit (prices a dims/D index cut)
    "embed_truncated_recall",
    # r8: multiset set ops + measured Heaps'-law vocabulary growth
    "o15_multiset_ops",
    "text_heaps_law",
    # r8: end-to-end entity resolution (blocked fuzzy match →
    # transitive closure → canonical clusters)
    "er_part_name_clusters",
    # r8: the curation cascade with the CCNet entropy + span-dedup
    # gates on (its stats twin shares the plan and is not re-timed)
    "curation_pipeline_full",
    # r9: Spark-native session windows (the streaming-capable twin of
    # w6_sessionize)
    "t4_session_window",
    # r9: Zipf rank-frequency fit (companion to text_heaps_law)
    "text_zipf_fit",
    # r9: rendezvous-hash sharding + resharding-movement audit
    "sample_rendezvous_shards",
    # r9: two-sample KS drift (binning-free companion to a32_psi_drift)
    "a42_ks_drift",
    # r9: Cramér's V categorical association
    "a43_cramers_v",
    # r9: margin-based bitext mining (ratio margin over the corpus)
    "embed_bitext_margin",
    # r9: the at-scale margin-mining twin (SRP-bucket candidates, no
    # cross join, full corpus halves)
    "embed_bitext_margin_bucketed",
    # r9: GPT-style 2048-token sequence-packing audit
    "sample_sequence_packing",
    # r9: Mann-Kendall trend significance (Theil-Sen's companion)
    "trend_mann_kendall",
    # r9: Hamilton largest-remainder budget apportionment
    "sample_quota_allocation",
    # r9: pairwise source-vocabulary Jaccard (corpus-mix diagnostic)
    "text_source_overlap",
    # r9: fuzzy (containment-scored) benchmark decontamination
    "text_decontamination_fuzzy",
    # r9: temperature-scaled mixture rates (p^alpha sampling)
    "sample_temperature_mixture",
    # r9: daily-series autocorrelation, lags 1-7 (seasonality detector)
    "a44_acf_daily",
    # r9: label-centroid cohesion (SemDeDup prune-rate diagnostic)
    "embed_label_cohesion",
    # r9: referential-integrity audit (four FK legs, one frame)
    "a45_fk_integrity",
    # r9: Monroe-et-al log-odds discriminative terms per source
    "text_fightin_words",
    # r9: salted-hash tokenized join (PII-safe linkage, lossless)
    "j20_hashed_key_join",
    # r9: rolling 7-day median (robust trend, percentile window)
    "w14_rolling_median",
    # r9: Newman degree assortativity of the trade graph
    "graph_assortativity",
    # r9: winsorized mean per event type (robust location)
    "a47_winsorized_stats",
    # r9: categorical entropy/diversity profile (5 columns, 3 tables)
    "a48_column_entropy",
    # r9: lifetime-revenue deciles + shares (the 80/20 audit)
    "q23_revenue_deciles",
    # r9: bounded 3-core peel of the trade graph (visible convergence)
    "graph_kcore",
    # r9 batch 7: text-quality trio
    "text_readability_scores",
    "text_ngram_novelty",
    "text_quality_linear",
    # r9 batch 7: DSIR importance weights + epoch schedule
    "text_dsir_weights",
    "sample_epoch_schedule",
    # r9 batch 7: link prediction + MMR diverse selection
    "graph_adamic_adar",
    "embed_mmr_select",
    # r9 batch 7: key-space gap audit + table fingerprints
    "a49_id_gap_audit",
    "a50_table_checksums",
    # r9 batch 8: closed-form MATTR, runs test, rolling correlation
    "text_mattr_diversity",
    "a51_runs_test",
    "w15_rolling_corr",
    # r9 batch 8: the eight-stage scored curation cascade (classifier
    # gate on; its funnel twin shares the plan and is not re-timed)
    "curation_pipeline_scored",
    # r9 batch 8: measured SRP-ANN recall audit
    "embed_srp_recall_audit",
    # r9 batch 8: near-dup cluster over-merge audit
    "dedup_cluster_audit",
    # r9 batch 8: PCA top component by unrolled power iteration
    "embed_pca_power_iteration",
    # r9 batch 9: RAKE keyphrases, term burstiness, A/B health
    "text_keyword_rake",
    "text_burstiness",
    "a52_ab_experiment_health",
    # r9 batch 10: source JSD, Neyman allocation, seasonality strength
    "text_js_divergence_sources",
    "sample_neyman_allocation",
    "a53_seasonality_strength",
    # r11: curriculum ordering + BH drift FDR + PQ recall audit
    "sample_curriculum_order",
    "a54_bh_drift_fdr",
    "embed_pq_recall_audit",
    # r12: trained-codebook PQ at the audit-approved 32x16 config,
    # its recall re-audit, and the end-to-end pretraining composition
    "embed_pq_adc_trained",
    "embed_pq_trained_recall_audit",
    "pretrain_composition",
    "dedup_lsh_recall_audit",
    "embed_ivf_pq_trained",
]


#: queries re-run on the replicated corpus; ratios near n_copies mean
#: linear scaling, >> n_copies flags a super-linear operator
SCALE_PROBE_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "a3_latest_event_per_user",
    "w6_sessionize",
    "dedup_minhash_lsh",
    "embed_ivf_ann",
    # round-3 additions with explicit sub-linear claims to back:
    # KMV's shuffle is O(k x partitions) regardless of rows; cohort
    # retention's collect_set state is calendar-bounded per customer
    "a21_kmv_distinct",
    "a20_cohort_retention",
    # round-3 curation additions with linearity claims to back: the
    # LM scorer is two count aggs + linear joins; dup-span detection
    # is O(tokens) + a count>1 aggregation — no pairwise stage
    "text_ngram_entropy",
    "text_dup_spans",
    # round-5 graph rewrites with explicit scale claims: triangles'
    # per-edge adjacency intersection bounds work at m^1.5 via the
    # degree orientation (no pair materialization); pagerank's
    # iterations read checkpointed loop invariants
    "graph_triangles",
    "graph_pagerank",
    # round-6: the two most expensive extended entries without a probe
    # (r5 verdict) — containment's candidate volume is capped-quadratic
    # in hot-shingle df; BPE's per-merge cost is vocab-bounded, with
    # only the word table growing with the corpus
    "dedup_containment",
    "text_bpe_top_tokens",
    # and the capped posture, whose entire point is bounded growth —
    # BOTH capped entries: containment is the more candidate-heavy
    # configuration, so its cap needs its own measured ratio (r6
    # advice)
    "dedup_ngram_capped",
    "dedup_containment_capped",
    # r7: the funnel fold's claim is strict linearity (one pack agg,
    # O(1) fold state per user) — back it with a measured ratio
    "funnel_windowed_conversion",
    # r7: LPA is one O(|E|) join+agg+window per round over staged
    # invariants — the ratio should track the edge growth, like
    # pagerank. (embed_knn_graph is deliberately NOT probed: at a
    # FIXED n_centroids its per-cell pair volume is quadratic by
    # construction — the scale knob is n_centroids ∝ corpus, which a
    # fixed-config replay can't exercise; same reason dedup_semantic
    # isn't probed.)
    "graph_communities",
    # r7: the CAPPED kNN graph, by contrast, IS probe-worthy at a
    # fixed config: the per-cell neighbor cap bounds pair volume at
    # O(n · cap), so growth should track the corpus linearly — the
    # same claim-backing the capped dedup probes make
    "embed_knn_graph_capped",
    # r8: prefix filtering's claim is candidate volume quadratic only
    # in RARE-shingle document frequency (boilerplate drops out of the
    # index by the pigeonhole guarantee) — back it with a ratio next
    # to the capped/uncapped inverted-index twins
    "dedup_prefix_jaccard",
    # r8: incremental probe is one batch×store equi-join — growth
    # should track the band-table sizes, never store×store
    "dedup_incremental_batch",
    # r13: the PQ family joins the probe set so its per-row encode
    # cost is artifact-visible (the r12 verdict's ask): both entries
    # run the 4×16 encode config, where the compiled argmin keeps the
    # per-row cost flat at scale (the 32×16 trained config stays on
    # the interpreted fold by the measured chain-count cap)
    "embed_pq_adc",
    "embed_ivf_pq",
]


#: deeper headroom probe: one order beyond scale10x, on the queries
#: that showed the highest 10x ratios in round 2 — where shuffle
#: spill / quadratic behavior would first surface on this box
SCALE30_QUERIES = [
    "q1_pricing_summary",
    "a3_latest_event_per_user",
    "dedup_minhash_lsh",
    "embed_ivf_ann",
    # r7: the capped postures' whole claim is bounded growth — the 10x
    # ratios (1.60x / 1.46x) need a one-order-deeper confirmation that
    # the hot-shingle cap keeps holding where the uncapped twins went
    # 7-10x at 10x data
    "dedup_ngram_capped",
    "dedup_containment_capped",
]


def bench_scale_probe(
    spark,
    sf_dir: str,
    timings: dict[str, float],
    n: int = 10,
    query_names: list[str] | None = None,
    runs: int = 2,
) -> dict:
    """Replicate the corpus ``n``× (key-offset copies — real distinct
    keys, not duplicated rows) and re-run a probe subset, reporting
    wall-clock and the growth ratio vs this run's base timings. The
    headroom check: a plan that would die at 100 TB shows super-linear
    growth here long before production does."""
    import sys as _sys
    from pathlib import Path

    _sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
    from scale_probe import domain_strides, replicate

    out_dir = Path(tempfile.mkdtemp(prefix="bench_scale_"))
    try:
        strides = domain_strides(sf_dir)
        for table in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            replicate(table, out_dir, n, src=sf_dir, strides_by_col=strides)
        probe: dict[str, float] = {}
        ratios: dict[str, float] = {}
        for name in query_names or SCALE_PROBE_QUERIES:
            best = float("inf")
            with staging_scope():
                for _ in range(runs):
                    t0 = time.perf_counter()
                    _materialize(QUERIES[name](spark, str(out_dir)))
                    best = min(best, time.perf_counter() - t0)
            probe[name] = round(best, 3)
            if timings.get(name):
                ratios[name] = round(best / timings[name], 2)
        return {"n_copies": n, "queries": probe, "ratio_vs_base": ratios}
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


#: the cross-round comparison sentinels: re-timed best-of-3 in a FRESH
#: session at the very end of the bench, so every artifact carries its
#: own same-machine-state control. Cross-round deltas should be read as
#: ratios against THIS control, never as absolute seconds — same-code
#: runs on this box swing up to ~20% (and far more under contention;
#: the r8 artifact recorded 71 s for a suite an idle-box control put
#: at r7 levels, burning a round on a prose caveat).
CONTROL_SENTINELS = ["q1_pricing_summary", "dedup_clusters"]


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover - platform without getloadavg
        return []


#: Load gate (r10 verdict #2): two consecutive rounds recorded the
#: headline under loadavg 7-10 and had to be adjudicated through the
#: sentinel controls instead of the headline itself. The suite now
#: REFUSES to start hot: wait until the 1-min loadavg drops under the
#: threshold (default 2.0), up to a bounded wait; if the box never
#: quiets, the artifact carries ``headline_comparable: false`` so no
#: reader can mistake a contended number for a regression. Tune with
#: SPARK_GRAFT_LOAD_GATE (threshold; 0 disables) and
#: SPARK_GRAFT_LOAD_GATE_WAIT (max seconds to wait).
def _wait_for_quiet_box() -> dict:
    threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
    max_wait = int(os.environ.get("SPARK_GRAFT_LOAD_GATE_WAIT", "900"))
    gate = {"threshold": threshold, "waited_sec": 0}
    la = _loadavg()
    if threshold <= 0 or not la:
        gate.update({"loadavg": la, "quiet": None, "disabled": True})
        return gate
    waited = 0
    while la[0] > threshold and waited < max_wait:
        time.sleep(30)
        waited += 30
        la = _loadavg()
    gate.update(
        {"waited_sec": waited, "loadavg": la, "quiet": la[0] <= threshold}
    )
    return gate


def control_main() -> None:
    """Isolated sentinel control: best-of-3 on the sentinels + the
    dump pipeline in a FRESH SparkSession (invoked as a subprocess
    AFTER the main suite's session has stopped, so no cache/GC/JVM
    state from the ~115-query run pollutes it). Prints one JSON line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("pipelines_spark_bench_control")
    QUERIES["a6_distinct_segments"](spark, sf_dir).count()  # JVM warm-up
    control: dict[str, float] = {}
    for name in CONTROL_SENTINELS:
        best = float("inf")
        with staging_scope():
            for _ in range(3):
                t0 = time.perf_counter()
                _materialize(QUERIES[name](spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
        control[name] = round(best, 3)
    best = float("inf")
    for _ in range(3):
        out_dir = tempfile.mkdtemp(prefix="bench_dump_ctl_")
        try:
            t0 = time.perf_counter()
            bench_dump_pipeline(spark, sf_dir, out_dir)
            best = min(best, time.perf_counter() - t0)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    control["dump_pipeline"] = round(best, 3)
    control["loadavg"] = _loadavg()
    print(json.dumps(control))
    spark.stop()


def _run_isolated_control() -> dict:
    """Run control_main in a subprocess (fresh JVM) and parse its one
    JSON line; on any failure return the error string instead of
    killing the bench artifact."""
    import subprocess

    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--control"],
            capture_output=True,
            text=True,
            timeout=1800,
        )
        last = [ln for ln in proc.stdout.splitlines() if ln.strip()][-1]
        return json.loads(last)
    except Exception as exc:  # noqa: BLE001 - diagnostic, not control flow
        return {"error": f"{type(exc).__name__}: {exc}"}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    load_gate = _wait_for_quiet_box()
    loadavg_start = _loadavg()
    # Sentinel control FIRST (r11 verdict #2): the fresh-JVM best-of-3
    # control runs INSIDE the quiet window the gate just certified —
    # before the ~175-query suite self-loads the box — so sub-2 s
    # sentinel swings are adjudicated against a reading whose loadavg
    # is itself ≤ the gate threshold. (The r11 artifact measured its
    # control after the suite, at loadavg 6.7-8.4, making it useless
    # exactly when it was needed.) A post-suite control is kept under
    # ``control_post`` for continuity with r8-r11 artifacts.
    control: dict = {}
    if os.environ.get("SPARK_GRAFT_CONTROL", "1") != "0":
        control = _run_isolated_control()
    spark = get_spark("pipelines_spark_bench")

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    #: loadavg sampled at group boundaries (r11 verdict #7): lets a
    #: contaminated run be localized to a query group instead of
    #: discarded whole (end loadavg alone is self-load-dominated).
    loadavg_groups: dict[str, list[float]] = {"after_control": _loadavg()}

    # warm the JVM/session once on the smallest query so first-query
    # timing doesn't absorb session startup.
    QUERIES["a6_distinct_segments"](spark, sf_dir).count()

    # Best-of-2 per query: single-shot timings on a shared box are
    # jitter-dominated; the min is the reproducible cost (codegen
    # compile amortizes into run 1, so run 2 ≈ steady-state). All runs
    # are recorded in BENCH_full.json ("spreads") so noise is
    # machine-adjudicable instead of needing prose caveats.
    # Sub-2 s headline entries get a THIRD run (r11 verdict #3): at
    # that magnitude a single bad scheduling quantum moves the min by
    # tens of percent (r11's dedup_exact 0.73->1.17 s "regression"
    # was unadjudicatable from two runs); the extra run costs <2 s
    # and the full spread is recorded.
    # NOTE on staged operators (r11, docs/SCALE.md): operators whose
    # staging is localCheckpoint-based pay their full cold cost on
    # EVERY run — unlike the persist() era, where run 2's identical
    # plan hit CacheManager plan-matching reuse and skipped staged
    # subtrees. Cross-round comparisons against pre-r10 numbers for
    # such operators (e.g. dedup_incremental_batch) compare cold cost
    # against cache-warm cost; the cold number is the production one.
    for i, name in enumerate(HEADLINE):
        runs = []
        with staging_scope():
            for _ in range(2):
                t0 = time.perf_counter()
                _materialize(QUERIES[name](spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
            if min(runs) < 2.0:
                t0 = time.perf_counter()
                _materialize(QUERIES[name](spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(runs)
        spreads[name] = runs
        if (i + 1) % 12 == 0:
            loadavg_groups[f"headline_{i + 1}"] = _loadavg()
    loadavg_groups["after_headline"] = _loadavg()

    runs = []
    for _ in range(3):  # dump is a sub-2 s sentinel: best-of-3
        out_dir = tempfile.mkdtemp(prefix="bench_dump_")
        try:
            t0 = time.perf_counter()
            bench_dump_pipeline(spark, sf_dir, out_dir)
            runs.append(round(time.perf_counter() - t0, 3))
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    timings["dump_pipeline"] = min(runs)
    spreads["dump_pipeline"] = runs
    loadavg_groups["after_dump"] = _loadavg()

    extended: dict[str, float] = {}
    for i, name in enumerate(EXTENDED):
        runs = []
        with staging_scope():
            for _ in range(2):
                t0 = time.perf_counter()
                _materialize(QUERIES[name](spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
        extended[name] = min(runs)
        spreads[name] = runs
        if (i + 1) % 25 == 0:
            loadavg_groups[f"extended_{i + 1}"] = _loadavg()
    loadavg_groups["after_extended"] = _loadavg()

    total = round(sum(timings.values()), 3)
    # r13 (r12 verdict #8): per-query contention-suspect flagging. A
    # steady plan cost reproduces within ~20% across best-of runs on a
    # quiet box; a wide swing WITHIN one query's own runs means the
    # box (scheduling quantum, GC, competing load), not the code — the
    # r12 driver read 17 sub-second "regressions" at loadavg 4-8 that
    # its own 8-core artifact showed at or below prior levels. The
    # flag makes that adjudication machine-readable: cross-round
    # deltas on flagged entries should be read against the sentinel
    # controls, never as plan regressions. Additions-only: no existing
    # key changes.
    def _suspect(runs: list[float]) -> bool:
        lo = min(runs)
        if lo <= 0:
            return True
        ratio = max(runs) / lo
        return ratio > (1.5 if lo < 2.0 else 2.0)

    contention_suspect = sorted(
        name
        for name, runs in spreads.items()
        if len(runs) >= 2 and _suspect(runs)
    )
    result = {
        "metric": "headline_suite_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extended": extended,
        "spreads": spreads,
        "contention_suspect": contention_suspect,
        "sf": sf,
        "loadavg_start": loadavg_start,
        "loadavg_groups": loadavg_groups,
        "load_gate": load_gate,
        # the certified-quiet-window control (ran BEFORE the suite)
        "control": control,
        # False means the gate timed out on a hot box: the headline is
        # NOT round-over-round comparable and the sentinel controls are
        # the only valid cross-round signal in this artifact.
        "headline_comparable": load_gate.get("quiet") is not False,
    }
    # 10x-replication headroom probe — separate key so the headline
    # metric stays comparable round-over-round; disable with
    # SPARK_GRAFT_SCALE_PROBE=0
    if os.environ.get("SPARK_GRAFT_SCALE_PROBE", "1") != "0":
        # extended timings merged in so probe queries outside the
        # headline set still get a ratio_vs_base entry
        result["scale10x"] = bench_scale_probe(
            spark, sf_dir, {**timings, **extended}
        )
        # one order deeper, single-shot, worst-offender subset — the
        # spill-regime check the 10x probe can't see; disable with
        # SPARK_GRAFT_SCALE30=0
        if os.environ.get("SPARK_GRAFT_SCALE30", "1") != "0":
            # runs=2 like every other timing: best-of-N measures the
            # steady-state plan cost (codegen and file listings warm
            # up on run 1). A runs=1 entry here would
            # compare this probe's COLD build against the WARM base /
            # x10 numbers and report a phantom super-linear ratio —
            # exactly what the r03 draft artifact showed for minhash
            # (48 s cold vs 3.4 s steady-state at x30; the cold-to-cold
            # ratio is linear in the data multiple).
            result["scale30x"] = bench_scale_probe(
                spark, sf_dir, {**timings, **extended}, n=30,
                query_names=SCALE30_QUERIES, runs=2,
            )
    result["loadavg_end"] = _loadavg()
    spark.stop()
    # post-suite control kept for continuity with the r8-r11 artifact
    # layout; the canonical adjudicator is the PRE-suite ``control``
    # above (certified quiet window). Disable with SPARK_GRAFT_CONTROL=0
    if os.environ.get("SPARK_GRAFT_CONTROL", "1") != "0":
        result["control_post"] = _run_isolated_control()
    # Full detail (extended timings, spreads, scale probes) goes to a
    # file; the FINAL stdout line is a compact headline-only JSON small
    # enough for the driver's output-tail capture (round 3 lost its
    # bench artifact when this one line outgrew the capture window).
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_full.json"
    )
    with open(full_path, "w") as fh:
        json.dump(result, fh, indent=1)
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings) + len(extended),
        "queries": timings,
        "loadavg": [loadavg_start, result["loadavg_end"]],
        "load_gate": load_gate,
        "headline_comparable": result["headline_comparable"],
        "control": control,
        "contention_suspect": [
            n for n in contention_suspect if n in timings
        ],
        "detail": "BENCH_full.json",
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    if "--control" in sys.argv:
        sys.exit(control_main())
    sys.exit(main())
