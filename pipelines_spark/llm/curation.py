"""End-to-end corpus curation: the composed training-data pipeline.

The individual operators (quality scoring, language ID, near-dup
clustering, canonical selection, deterministic splits, token-shard
packing) each have their own oracle-checked query; this module wires
them into the one flow a 100 TB pretraining-data run actually
executes, in the cost-correct order:

1. map-only gates first (quality, language, length) — cheapest per
   byte, run at scan speed, shrink everything downstream;
2. exact dedup next (one hash shuffle);
3. near-dup clustering on the survivors (bucketed LSH, log-round
   connected components) with highest-quality canonical selection;
4. deterministic split + token-shard packing last, on the final
   corpus.

Every stage is observable: the returned stats frame counts what each
gate removed (the reference's "critical subset" logging discipline,
pipelines/rj_smtr/utils.py:436-465, applied to corpus hygiene).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipelines_spark.llm.dedup import (
    connected_components,
    exact_dedup,
    minhash_near_dup_pairs,
)
from pipelines_spark.llm.sampling import (
    assign_split,
    cap_per_source,
    pack_token_shards,
)
from pipelines_spark.llm.text import language_id, quality_score, token_count


#: The registered-query configuration of the composed pipeline
#: (queries.curation_pipeline / curation_funnel_stats). Interpolated
#: into BOTH engines — the Spark CurationConfig and the DuckDB oracle
#: CTE chain (oracles._CURATION_CTE) — so tuning it can never
#: desynchronize the two (the DEDUP_CAP discipline, llm/dedup.py:47).
BENCH_CONFIG: dict = {
    "min_quality": 0.3,
    "min_tokens": 5,
    "near_dup_threshold": 0.5,
    "shard_tokens": 2_000,
    "shard_buckets": 8,
    "max_per_source": 20,
}

#: the FULL-gate configuration: every optional stage on — the CCNet
#: LM-entropy gate (trained on the post-exact-dedup corpus) and the
#: span-dedup gate run between exact dedup and LSH. Thresholds picked
#: to BITE on the test corpus (h_bits p90 ≈ 4.95; 33 docs carry
#: duplicated 8-word windows at sf0.01) so the driver row actually
#: exercises the gates. Interpolated into the oracle cascade like
#: BENCH_CONFIG.
BENCH_CONFIG_FULL: dict = {
    **BENCH_CONFIG,
    "max_entropy_bits": 4.95,
    "max_dup_frac": 0.2,
}

#: the SCORED configuration: the full cascade plus the hashed-feature
#: linear-classifier gate (llm/text.py::linear_classifier_score) as
#: stage 1c — the RedPajama/CCNet "quality classifier" slot. 0.54
#: sits just below the corpus's score median so the gate bites
#: without starving the downstream dedup stages.
BENCH_CONFIG_SCORED: dict = {
    **BENCH_CONFIG_FULL,
    "min_classifier_score": 0.54,
}


@dataclass
class CurationConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    min_quality: float = 0.3
    allowed_langs: tuple[str, ...] | None = None
    min_tokens: int = 5
    near_dup_threshold: float = 0.5
    shard_tokens: int = 100_000
    shard_buckets: int = 8
    split: bool = True
    #: CCNet-style LM gate: drop docs whose bigram cross-entropy
    #: (bits, llm/text.py::ngram_cross_entropy — trained on the
    #: post-exact-dedup corpus) exceeds this. None disables.
    max_entropy_bits: float | None = None
    #: span-dedup gate: drop docs whose corpus-duplicated-window
    #: fraction (llm/text.py::duplicate_spans) exceeds this.
    #: None disables.
    max_dup_frac: float | None = None
    #: hashed-feature linear-classifier gate (the RedPajama "quality
    #: classifier" slot): drop docs whose
    #: llm/text.py::linear_classifier_score falls below this.
    #: Map-only (one JVM HOF, no shuffle). None disables.
    min_classifier_score: float | None = None
    #: RefinedWeb-style per-source cap: keep at most this many docs
    #: per ``source_col`` (highest quality first, id-asc ties), so no
    #: head domain dominates the token budget or the dedup stages'
    #: hot keys. None disables.
    max_per_source: int | None = None
    source_col: str = "source"
    extra: dict = field(default_factory=dict)


def curate_corpus(
    docs: DataFrame,
    config: CurationConfig | None = None,
    *,
    collect_stats: bool = True,
) -> tuple[DataFrame, DataFrame | None]:
    """Run the full curation pipeline; returns (curated, stats).

    ``curated``: one row per kept document with ``quality``,
    ``detected_lang``, ``n_tokens``, ``component_id`` (its near-dup
    cluster), plus ``split`` / ``bucket`` / ``shard_no`` assignment.
    ``stats``: (stage, n_docs) counts after each stage; the input
    count is an extra scan of the raw corpus and the per-stage counts
    are actions over staged frames — pass ``collect_stats=False``
    for a zero-extra-job plan — no counts, no eager actions (stats
    comes back ``None``).

    Cache lifecycle: every stage boundary (and the LSH staging tables
    inside ``minhash_near_dup_pairs``) is a lazy ``stage()``
    (plans/staging.py) that materializes once on first use and
    belongs to the caller's ``staging_scope``. Follow-up actions on
    ``curated`` inside that scope — the normal case: write-to-lake
    next — reuse stages 1-3; the scope releases every block on exit,
    so a long-lived application curating many corpora opens one
    scope per corpus.
    """
    cfg = config or CurationConfig()
    id_c, text_c = cfg.id_col, cfg.text_col
    spark = docs.sparkSession

    # r12 (guide §2.5): single-row-group / tiny-file inputs scan as
    # ONE partition, pinning every map-only gate (quality/lang/token
    # scoring, shingling) to one core; widen_scan round-robins the
    # input once when — and only when — the scan is under-parallel
    # (no-op on any real multi-split table), and every downstream
    # stage boundary inherits the parallel layout.
    #
    # Stage boundaries are lazy stage() calls: no extra job, but each
    # boundary materializes ONCE on first use instead of re-deriving
    # the whole upstream chain per consumer (the full-gate config has
    # ~6 consumers of the gated chain: measured 28.7 s → 8.1 s warm at
    # sf0.1). The lineage cut also hands connected_components a
    # shallow input, so its per-iteration re-analysis stays cheap.
    from pipelines_spark.plans.staging import stage, widen_scan

    docs = widen_scan(docs)

    counts: list[tuple[str, int]] = (
        [("input", docs.count())] if collect_stats else []
    )

    # 1. map-only gates (ride the scan; no shuffle)
    gated = (
        docs.withColumn("quality", quality_score(text_c))
        .withColumn("detected_lang", language_id(text_c))
        .withColumn("n_tokens", token_count(text_c))
        .filter(
            (F.col("quality") >= cfg.min_quality)
            & (F.col("n_tokens") >= cfg.min_tokens)
        )
    )
    if cfg.allowed_langs is not None:
        gated = gated.filter(F.col("detected_lang").isin(*cfg.allowed_langs))
    gated = stage(gated, eager=False)
    if collect_stats:
        counts.append(("quality_lang_gate", gated.count()))

    # 1b. optional linear-classifier gate. Two equivalent
    # formulations exist (equality pinned in tests): the map-only HOF
    # (llm/text.py::linear_classifier_score — zero shuffle, the
    # 1000-executor shape) and this explode + hash-aggregate +
    # semi-join one. Locally the HOF's interpreted per-element
    # lambdas (md5+conv per word) cost ~5× the codegen'd explode —
    # the same measured tradeoff behind minhash's explode formulation
    # (llm/dedup.py::_minhash_signatures) — so the composed pipeline
    # takes the codegen path; swap to the HOF when the extra doc_id
    # shuffle costs more than the lambda overhead.
    if cfg.min_classifier_score is not None:
        from pipelines_spark.llm.sampling import hash_bucket

        scores = (
            gated.select(
                id_c,
                F.explode(F.array_distinct(F.split(text_c, " "))).alias("_w"),
            )
            .select(
                id_c, ((hash_bucket("_w", buckets=64) % 21) - 10).alias("_wt")
            )
            .groupBy(id_c)
            .agg(
                F.sum("_wt").alias("_sw"), F.count(F.lit(1)).alias("_nf")
            )
            .select(
                id_c,
                F.round(
                    F.lit(1.0)
                    / (
                        F.lit(1.0)
                        + F.exp(
                            -(
                                F.lit(0.2)
                                + (F.col("_sw") / F.lit(10.0)) / F.col("_nf")
                            )
                        )
                    ),
                    6,
                ).alias("_score"),
            )
        )
        keep = scores.filter(
            F.col("_score") >= cfg.min_classifier_score
        ).select(id_c)
        gated = stage(gated.join(keep, id_c, "semi"), eager=False)
        if collect_stats:
            counts.append(("classifier_gate", gated.count()))

    # 1c. optional per-source cap (one window shuffle on the source
    # key, WindowGroupLimit-bounded) — before the dedup stages so
    # their shuffles see the already-shrunk, head-domain-free corpus
    if cfg.max_per_source is not None:
        gated = stage(
            cap_per_source(
                gated,
                source_col=cfg.source_col,
                id_col=id_c,
                order_col="quality",
                n_max=cfg.max_per_source,
            ),
            eager=False,
        )
        if collect_stats:
            counts.append(("source_cap", gated.count()))

    # 2. exact dedup: keep the min-id doc of each identical-text group
    canon = exact_dedup(gated, [text_c], id_c).select(
        F.col("canonical_id").alias(id_c)
    )
    exact_kept = stage(gated.join(canon, id_c, "semi"), eager=False)
    if collect_stats:
        counts.append(("exact_dedup", exact_kept.count()))

    # 2b. optional corpus-statistics gates, trained on the
    # post-exact-dedup corpus (CCNet order: dedup before the LM so
    # duplicated boilerplate can't dominate the model it is judged
    # by). Both are linear aggregate+join passes.
    if cfg.max_entropy_bits is not None:
        from pipelines_spark.llm.text import ngram_cross_entropy

        # left-join rather than semi: docs with <2 tokens produce no
        # bigrams and therefore no score row — they pass the gate
        # (h_bits IS NULL) instead of being silently dropped.
        scores = ngram_cross_entropy(
            exact_kept, id_col=id_c, text_col=text_c
        ).select(id_c, "h_bits")
        exact_kept = stage(
            exact_kept.join(scores, id_c, "left")
            .filter(
                F.col("h_bits").isNull()
                | (F.col("h_bits") <= cfg.max_entropy_bits)
            )
            .drop("h_bits"),
            eager=False,
        )
        if collect_stats:
            counts.append(("lm_entropy_gate", exact_kept.count()))
    if cfg.max_dup_frac is not None:
        from pipelines_spark.llm.text import duplicate_spans

        keep_ids = duplicate_spans(
            exact_kept, id_col=id_c, text_col=text_c
        ).filter(F.col("dup_frac") <= cfg.max_dup_frac).select(id_c)
        exact_kept = stage(exact_kept.join(keep_ids, id_c, "semi"), eager=False)
        if collect_stats:
            counts.append(("dup_span_gate", exact_kept.count()))

    # 3. near-dup clustering + best-quality canonical per component
    pairs = minhash_near_dup_pairs(
        exact_kept, id_col=id_c, text_col=text_c,
        threshold=cfg.near_dup_threshold,
        log_hot_buckets=collect_stats,
    )
    labels = connected_components(pairs).select(
        F.col("node").alias(id_c), "component_id"
    )
    labeled = exact_kept.join(labels, id_c, "left").withColumn(
        "component_id", F.coalesce("component_id", F.col(id_c))
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality").desc(), F.col(id_c).asc()
    )
    curated = stage(
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn"),
        eager=False,
    )
    if collect_stats:
        counts.append(("near_dup_canonical", curated.count()))

    # 4. deterministic split + token-shard packing
    if cfg.split:
        curated = assign_split(curated, id_c)
    curated = pack_token_shards(
        curated, id_c, "n_tokens",
        shard_tokens=cfg.shard_tokens, n_buckets=cfg.shard_buckets,
    )

    stats = (
        spark.createDataFrame(counts, "stage string, n_docs long")
        if collect_stats
        else None
    )
    return curated, stats
