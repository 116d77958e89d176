"""End-to-end record-linkage pipeline: extract → block → score → cluster
→ consolidate, with per-stage snapshot checkpoints + metrics.

Mirrors the reference lifecycle (/root/reference/app.py:798-824 →
matching_engine.match_vendors_to_clients → relationship_mapper) as five
committed Spark stages; a killed run resumes from the last committed
snapshot (BASELINE.json north_rule). Ships to a cluster as
``spark-submit --py-files ai_data_matching_spark.zip cli.py``.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import FUZZY_THRESHOLD
from .operators.blocking import (
    BLOCKED_COLS,
    DEFAULT_MAX_BAND_HAMMING,
    DEFAULT_MAX_BLOCK_SIZE,
    candidate_pairs,
    exact_match_edges,
    latest_crawl_wins,
    route_unmatched,
    with_extract_sketch_keys,
)
from .operators.clustering import cluster_assignments, connected_components
from .operators.consolidate import consolidate_clusters, match_statistics
from .operators.scoring import fuzzy_match_edges, score_histogram, score_pairs, union_edges
from .sources.tables import TableIO, config_fingerprint, metric_part


@dataclass
class PipelineConfig:
    fuzzy_threshold: float = FUZZY_THRESHOLD
    max_block_size: int = DEFAULT_MAX_BLOCK_SIZE
    max_band_hamming: int = DEFAULT_MAX_BAND_HAMMING
    n_simhash_bands: int = 4
    minhash_k: int = 16
    best_match_only: bool = True


@dataclass
class PipelineResult:
    assigned: DataFrame      # pages + cluster_id
    clusters: DataFrame      # consolidated entity rollup
    edges: DataFrame         # exact ∪ fuzzy pair graph
    stats: DataFrame         # headline match statistics
    resumed_stages: list[str]
    cc_iterations: int
    # snapshot fingerprint the run committed under (None when io=None);
    # an incremental batch chains on this via run_incremental(prior_fingerprint=...)
    fingerprint: str | None = None


STAGES = ["extract", "blocked", "exact_edges", "scored", "edges", "labels"]


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    io: TableIO | None = None,
    cfg: PipelineConfig | None = None,
) -> PipelineResult:
    """Run (or resume) the full pipeline. ``pages`` must carry
    (url, warc_ts, html, text, lang). When ``io`` is given every stage is
    committed as a snapshot and reused on re-run with the same config."""
    cfg = cfg or PipelineConfig()
    fp = config_fingerprint(asdict(cfg))
    resumed: list[str] = []

    def stage(name: str, compute, persist: bool = True) -> DataFrame:
        if io is None:
            # no snapshot layer: persist so downstream stages don't
            # recompute the expensive sketch/UDF expressions (each stage
            # output is consumed 2-4× by later stages). Registered with
            # the cache registry — callers release via
            # cache.release_persisted() once outputs are materialized.
            # Single-consumer stages skip the persist (a columnar cache
            # build of a string-heavy frame costs real memory bandwidth —
            # the multi-core bottleneck on one box).
            if not persist:
                return compute()
            from .cache import persist_tracked

            return persist_tracked(compute())
        # cfg_fp rides in the manifest record so a restarted stream can
        # verify it is chaining onto state committed under the SAME config
        # (streaming.resolve.latest_state_fingerprint fails loudly on drift)
        df, was_resumed = io.read_or_compute(
            spark, name, fp, compute, extra={"cfg_fp": fp}
        )
        if was_resumed:
            resumed.append(name)
        return df

    # stages 1+2 — ONE fused kernel (with_extract_sketch_keys): extract +
    # normalize + sketch + blocking keys in a single Arrow round trip. The
    # heavy html binary AND the upstream text copy are dropped at the
    # head: extracted_text is the engine's canonical text from here on.
    # Re-crawls resolve to one row per url, latest crawl wins
    # (blocking.latest_crawl_wins — the fold's within-batch rule too, so
    # corpus-at-once and batched ingestion pick identical survivors).
    def _extract_sketch(**knobs) -> DataFrame:
        return with_extract_sketch_keys(
            pages,
            n_simhash_bands=cfg.n_simhash_bands,
            minhash_k=cfg.minhash_k,
            **knobs,
        )

    if io is None:
        # In memory the kernel omits extracted_text from the Arrow return
        # and truncates norm_text to the scoring prefix: no consumer of
        # the in-memory path reads page text beyond MAX_SCORE_CHARS
        # (scoring slices to it anyway; exact groups compare sketches), so
        # the stage cache — the dominant memory-bandwidth term on one box,
        # and the dominant cache/shuffle bytes at 100 TB — stops carrying
        # the corpus. Durable-text users run the io path, whose committed
        # extract snapshot keeps the full byte-identical text per url.
        from .functions.similarity import MAX_SCORE_CHARS

        blocked = stage(
            "blocked",
            lambda: latest_crawl_wins(
                _extract_sketch(emit_extracted=False, text_prefix=MAX_SCORE_CHARS)
            ),
        )
    else:
        # With a snapshot layer the kernel's full output (extracted_text,
        # full-length norm_text, sketches, keys) is committed as the
        # `extract` stage — the only durable copy of the extracted text —
        # and `blocked` is a projection of it, so resume granularity stays
        # per stage while the Python kernel runs once.
        extracted = stage("extract", _extract_sketch)

        def _blocked() -> DataFrame:
            # the blocked snapshot has one fixed layout whatever columns
            # the input pages carry: BLOCKED_COLS (extracted_text dropped —
            # every consumer reads only url, norm_domain, norm_text and the
            # sketches) plus norm_text_hash, so an incremental fold can
            # classify re-crawled urls (content changed vs replay) by
            # comparing fixed-width columns only — without it every fold
            # re-reads and re-hashes the whole history's norm_text, the
            # one wide column, just to answer "did this url's content
            # change?". The fold's blocked deltas carry the same columns
            # (plus their _batch_status).
            return latest_crawl_wins(
                extracted.withColumn(
                    "norm_text_hash", F.xxhash64("norm_text")
                ).select(*BLOCKED_COLS, "norm_text_hash")
            )

        blocked = stage("blocked", _blocked)

    # stage 3 — phase-1 exact star edges
    exact = stage("exact_edges", lambda: exact_match_edges(blocked))

    # stage 4 — candidates (skew-split) + vectorized scoring
    def _scored() -> DataFrame:
        pairs, overflow = candidate_pairs(
            blocked,
            max_block_size=cfg.max_block_size,
            max_band_hamming=cfg.max_band_hamming,
        )
        if io is not None:
            # overflow rows exist only while this stage computes: written
            # now, so a resumed run (which skips the stage) still has them
            io.write_metrics(
                fp,
                "scored",
                [metric_part("block_overflow", F.col("block_key"), F.col("block_size"), overflow)],
            )
        routed = route_unmatched(pairs, exact)
        return score_pairs(routed, match_threshold=cfg.fuzzy_threshold).drop(
            "sig_a", "sig_b", "text_a", "text_b"
        )

    # consumed once (edge union) — no persist in the in-memory path
    scored = stage("scored", _scored, persist=io is not None)

    # stage 5 — edge union
    def _edges() -> DataFrame:
        fuzzy = fuzzy_match_edges(
            scored, threshold=cfg.fuzzy_threshold, best_match_only=cfg.best_match_only
        )
        return union_edges(exact, fuzzy)

    edges = stage("edges", _edges)

    # stage 6 — connected components (iterative; each iter checkpointed)
    cc_iters = 0

    def _labels() -> DataFrame:
        nonlocal cc_iters
        labels, cc_iters = connected_components(edges)
        return labels

    labels = stage("labels", _labels)

    # `assigned` is SLIM by contract — (url, warc_ts, lang, norm_domain,
    # cluster_id) — in BOTH paths, matching run_incremental's output: the
    # result of entity resolution is the assignment, not a copy of the
    # corpus. At 100 TB, carrying page text through the cluster-label
    # join (and every sink after it) multiplies the job's bytes for
    # nothing; text re-attaches on demand by joining the extract snapshot
    # (io path) or the source table on url.
    pages_slim = blocked.select("url", "warc_ts", "lang", "norm_domain")
    assigned = cluster_assignments(pages_slim, labels)
    if io is None:
        # persist: consolidate + statistics make 3 eager passes
        # (count, distinct, rollup) over it
        from .cache import persist_tracked

        assigned = persist_tracked(assigned)
    clusters = consolidate_clusters(assigned, edges)
    stats = match_statistics(assigned, edges)
    if io is not None:
        # every other metric derives from committed stages: one write,
        # which a resumed run rewrites unchanged
        hist = score_histogram(scored)
        stats_long = stats.select(
            *(F.col(c).cast("double") for c in stats.columns)
        ).unpivot([], stats.columns, "key", "value")
        io.write_metrics(
            fp,
            "final",
            [
                metric_part("score_histogram", F.round("score_bucket", 2), F.col("n_pairs"), hist),
                metric_part("match_statistics", F.col("key"), F.col("value"), stats_long),
            ],
        )

    return PipelineResult(
        assigned=assigned,
        clusters=clusters,
        edges=edges,
        stats=stats,
        resumed_stages=resumed,
        cc_iterations=cc_iters,
        fingerprint=fp if io is not None else None,
    )


def pairwise_f1(assigned: DataFrame, labeled_pairs: DataFrame) -> dict[str, float]:
    """Pairwise P/R/F1 of predicted co-clustering against labeled pairs
    (evaluated at the labels' fixed blocking key, per BASELINE.json)."""
    a = assigned.select(F.col("url").alias("url_a"), F.col("cluster_id").alias("c_a"))
    b = assigned.select(F.col("url").alias("url_b"), F.col("cluster_id").alias("c_b"))
    j = labeled_pairs.join(a, "url_a").join(b, "url_b")
    agg = j.agg(
        F.sum(F.when((F.col("c_a") == F.col("c_b")) & F.col("label"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("c_a") == F.col("c_b")) & ~F.col("label"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("c_a") != F.col("c_b")) & F.col("label"), 1).otherwise(0)).alias("fn"),
        F.count("*").alias("n_evaluated"),
    ).collect()[0]
    tp, fp, fn = int(agg["tp"] or 0), int(agg["fp"] or 0), int(agg["fn"] or 0)
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    # n_evaluated guards against a VACUOUS 1.0: if a url-format drift ever
    # empties the label join, tp=fp=fn=0 and the zero-guards above read as
    # perfect — callers asserting F1 must also assert n_evaluated covers
    # their label set (tests do; bench reports it in-band).
    return {
        "precision": precision, "recall": recall, "f1": f1,
        "tp": tp, "fp": fp, "fn": fn, "n_evaluated": int(agg["n_evaluated"]),
    }
