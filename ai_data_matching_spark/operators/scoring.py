"""Phase 2 — vectorized candidate-pair scoring + best-match selection.

Graft analog of the reference's fuzzy phase
(/root/reference/src/matching_engine.py:139-218): rapidfuzz ``fuzz.ratio``
argmax ≥ 0.85 becomes

* one Arrow-batched pandas UDF pass computing InDel ratio (``fuzz.ratio``
  parity), Jaro-Winkler, and token-set ratio per candidate pair, plus a
  fully-native MinHash-Jaccard estimate — no per-row Python;
* threshold filter at ``FUZZY_THRESHOLD`` (0.85, reference config.py:26);
* per-record argmax as a window (reference's best_score loop, fixed to a
  total order: score desc, then url — removes the hash-order
  nondeterminism flagged in SURVEY §2.7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..extract import FUZZY_THRESHOLD
from ..functions.hashing import minhash_jaccard_est
from ..functions.similarity import (
    indel_ratio_udf,
    jaro_winkler_udf,
    make_indel_ratio_udf,
    token_set_ratio_udf,
)


def score_pairs(
    pairs: DataFrame, all_scores: bool = False, match_threshold: float | None = None
) -> DataFrame:
    """Score candidate pairs. Input: (url_a, url_b, text_a, text_b,
    sig_a, sig_b). Output adds ``indel`` + ``mh_jaccard`` and ``score``
    (the InDel ratio — the reference's decision statistic,
    matching_engine.py:190). ``all_scores`` adds Jaro-Winkler and
    token-set ratio too (extra pandas-UDF passes — diagnostics, not the
    match decision). ``match_threshold`` is the decision threshold the
    scores will be cut at downstream — it clamps the prescreen bound so
    the fast path stays exact for thresholds below 0.80."""
    indel = (
        indel_ratio_udf if match_threshold is None else make_indel_ratio_udf(match_threshold)
    )
    scored = pairs.withColumn(
        "indel", indel(F.col("text_a"), F.col("text_b"))
    ).withColumn("mh_jaccard", minhash_jaccard_est(F.col("sig_a"), F.col("sig_b")))
    if all_scores:
        scored = scored.withColumn(
            "jw", jaro_winkler_udf(F.col("text_a"), F.col("text_b"))
        ).withColumn("token_set", token_set_ratio_udf(F.col("text_a"), F.col("text_b")))
    return scored.withColumn("score", F.col("indel"))


def fuzzy_match_edges(
    scored: DataFrame,
    threshold: float = FUZZY_THRESHOLD,
    best_match_only: bool = True,
) -> DataFrame:
    """Thresholded fuzzy edges, optionally one-best-match-per-record.

    The reference keeps exactly one best match per probe record
    (/root/reference/src/matching_engine.py:179-214); transitive closure
    then happens in clustering, so top-1 per side loses no clusters while
    bounding edge count to O(n).
    """
    hits = scored.filter(F.col("score") >= threshold)
    if not best_match_only:
        return hits.select(
            F.col("url_a").alias("src"),
            F.col("url_b").alias("dst"),
            "score",
        ).withColumn("match_type", F.lit("fuzzy"))

    # keep each pair if it is the best for url_a OR the best for url_b —
    # symmetric top-1, deterministic tiebreak (score desc, partner url asc)
    w_a = Window.partitionBy("url_a").orderBy(F.desc("score"), F.asc("url_b"))
    w_b = Window.partitionBy("url_b").orderBy(F.desc("score"), F.asc("url_a"))
    ranked = hits.withColumn("_ra", F.row_number().over(w_a)).withColumn(
        "_rb", F.row_number().over(w_b)
    )
    return (
        ranked.filter((F.col("_ra") == 1) | (F.col("_rb") == 1))
        .select(F.col("url_a").alias("src"), F.col("url_b").alias("dst"), "score")
        .withColumn("match_type", F.lit("fuzzy"))
    )


def union_edges(exact_edges: DataFrame, fuzzy_edges: DataFrame) -> DataFrame:
    """J6: exact ∪ fuzzy pair graph (reference list concat at
    matching_engine.py:282)."""
    cols = ["src", "dst", "score", "match_type"]
    return exact_edges.select(cols).unionByName(fuzzy_edges.select(cols))


def score_histogram(scored: DataFrame, bucket: float = 0.05) -> DataFrame:
    """Score-distribution metric (per BASELINE.json north_rule): counts per
    rounded score bucket — written alongside each scoring checkpoint.
    Unordered: a global sort inside a metric write costs two Spark jobs."""
    return (
        scored.groupBy((F.floor(F.col("score") / bucket) * bucket).alias("score_bucket"))
        .agg(F.count("*").alias("n_pairs"))
    )
