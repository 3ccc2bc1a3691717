"""All-pairs TF-IDF cosine similarity join with lossless prefix
filtering (Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity
Search", WWW'07).

Complements the set-based near-dup family (llm/dedup.py): MinHash/
Jaccard treat a document as a shingle SET; the weighted cosine here
scores repeated and rare shingles differently (tf × idf), which is
the retrieval-grade similarity — two docs sharing only boilerplate
shingles (high df → low idf) score near 0 even when their Jaccard is
substantial.

Scale design:
- Features are integer-quantized (``wq = floor(tf·idf·1e4 + .5)``)
  so every dot product and norm is EXACT integer math — engine- and
  partitioning-independent, replayable by a SQL oracle. Doubles
  appear only in per-row normalization and the final per-pair cosine
  (deterministic given exact inputs).
- Candidate generation never goes all-pairs: a posting-list join
  where the indexed side keeps only each document's PREFIX — the
  shortest head, in a fixed global rarity order, whose remaining
  suffix bound Σ nw(t)·maxweight(t) cannot reach the threshold. Any
  true pair must share a prefix term of each member (suffix-only
  overlap is bounded below the threshold), so the filter is lossless;
  the bound carries a 1e-6 slack so float rounding in the running sum
  can only lengthen prefixes, never drop a true candidate.
- High-df terms are dropped from the vector space up front
  (``max_df_frac``) — the stopword cap that keeps posting lists
  bounded at 100 TB; it is part of the operator's semantics (both
  engines drop the same terms), not a lossy shortcut.
- Exact verification joins candidates to per-doc feature maps and
  computes the integer dot JVM-side (map_zip_with + aggregate) — no
  Python in the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pipelines_spark.plans.staging import stage


def tfidf_cosine_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_df_frac: float = 0.5,
    quant: float = 1e4,
) -> DataFrame:
    """Document pairs with TF-IDF cosine ≥ ``threshold`` over n-word
    shingle features; returns ``(doc_a, doc_b, cos_sim)`` with
    doc_a < doc_b and cos_sim on a 1e-9 grid.

    ``n_docs`` for idf is the full corpus count (one bounded driver
    action); idf = ln((N+1)/(df+1)).
    """
    n_docs = docs.count()
    words = F.split(F.col(text_col), " ")
    shingle_arr = F.when(
        F.size(words) < shingle_words, F.array().cast("array<string>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (shingle_words - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, shingle_words)),
        )
    )
    toks = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(shingle_arr).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )

    w_term = Window.partitionBy("term")
    feats = (
        toks.withColumn("df", F.count(F.lit(1)).over(w_term))
        .filter(F.col("df").cast("double") / n_docs <= max_df_frac)
        .withColumn(
            "wq",
            F.floor(
                F.col("tf")
                * F.log((n_docs + 1.0) / (F.col("df") + 1.0))
                * F.lit(quant)
                + 0.5
            ).cast("long"),
        )
    )
    w_doc = Window.partitionBy("doc_id")
    feats = feats.withColumn("n2", F.sum(F.col("wq") * F.col("wq")).over(w_doc))
    feats = feats.withColumn("nw", F.col("wq") / F.sqrt(F.col("n2").cast("double")))
    feats = feats.withColumn("mw", F.max("nw").over(w_term))
    # suffix bound in the global (df asc, term asc) rarity order:
    # cumulative over the REVERSED order = Σ over this term and rarer
    w_suffix = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("df").desc(), F.col("term").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    feats = feats.withColumn("suffix_bound", F.sum(F.col("nw") * F.col("mw")).over(w_suffix))
    # three consumers below (prefix postings, probe postings, doc
    # maps): without a lineage cut the 4-window feature pipeline runs
    # once per branch; the lazy stage materializes it once at the
    # first action
    feats = stage(feats, eager=False)

    prefix = feats.filter(F.col("suffix_bound") >= F.lit(threshold - 1e-6)).select(
        F.col("doc_id").alias("_pa"), "term"
    )
    probe = feats.select(F.col("doc_id").alias("_pb"), "term")
    candidates = (
        prefix.join(probe, "term")
        .filter(F.col("_pa") != F.col("_pb"))
        .select(
            F.least("_pa", "_pb").alias("doc_a"),
            F.greatest("_pa", "_pb").alias("doc_b"),
        )
        .distinct()
    )

    # exact verification: posting self-join on term + per-pair integer
    # sum, RESTRICTED to the candidate set (the semi-join is what
    # keeps this stage proportional to candidates at scale — every
    # non-candidate pair is provably below threshold, so dropping it
    # before the aggregate changes nothing). Per-pair work is the
    # shared-term count, all JVM integer math.
    fa = feats.select(
        F.col("doc_id").alias("doc_a"),
        "term",
        F.col("wq").alias("wq_a"),
        F.col("n2").alias("n2a"),
    )
    fb = feats.select(
        F.col("doc_id").alias("doc_b"),
        "term",
        F.col("wq").alias("wq_b"),
        F.col("n2").alias("n2b"),
    )
    scored = (
        fa.join(fb, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(candidates, ["doc_a", "doc_b"], "left_semi")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wq_a") * F.col("wq_b")).alias("dot_q"),
            F.first("n2a").alias("n2a"),
            F.first("n2b").alias("n2b"),
        )
    )
    cos = F.col("dot_q").cast("double") / (
        F.sqrt(F.col("n2a").cast("double")) * F.sqrt(F.col("n2b").cast("double"))
    )
    cos_q = F.floor(cos * F.lit(1e9)) / F.lit(1e9)
    return (
        scored.withColumn("cos_sim", cos_q)
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
    )
