"""The benchmark's workloads: ``batch`` and ``stream``.

Both run the engine only through its public package API, on a corpus made
by ``synth.generate_pages`` from the run's seed; the engine sees the
generated pages (``entity_id`` dropped), never the ground truth. Each
operation's result is checked against ``synth.generate_labeled_pairs``
outside the timed window: pairwise F1 must be exactly 1.0 with
``n_evaluated > 0``, and every page must be assigned. An exception or a
failed check counts the operation as failed.

See README.md in this directory for why these two workloads, their sizes,
and what neither covers.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

from harness import (
    Host,
    TimingBackend,
    Tracer,
    calibrate,
    dir_mb,
    log,
    median,
    run_window,
)

# Pages per batch pass: at local[4] a warm pass takes 5-8 s, so a 10 s
# window holds one.
BATCH_PAGES = 12_000
# The stream corpus: the first drop (the bootstrap epoch, which runs the
# checkpointed pipeline) holds ~HISTORY_SHARE of it and FOLD_DROPS
# equal drops follow, each folded into the committed state.
STREAM_PAGES = 5_000
HISTORY_SHARE = 0.7
FOLD_DROPS = 2
# A run must end within TIME_LIMIT_S; after its last cycle a stream run
# still checks the state, calibrates and stops Spark, which takes up to
# STREAM_RESERVE_S.
TIME_LIMIT_S = 180
STREAM_RESERVE_S = 20

_FLIPPED = "__perfbench_flipped__"


class Corpus:
    """The run's pages, written once to parquet, and its ground truth,
    cached."""

    def __init__(self, host: Host, n_pages: int, seed: int):
        from ai_data_matching_spark.synth import generate_labeled_pairs, generate_pages
        from pyspark.sql import functions as F

        spark = host.spark
        self.pages_path = host.path("pages")
        generate_pages(spark, n_pages, seed=seed).drop("entity_id").repartition(
            host.partitions
        ).write.parquet(self.pages_path)
        log(f"pages written at {host.elapsed():.2f}s")
        self.truth = generate_labeled_pairs(spark, n_pages, seed=seed).cache()
        self.truth.count()
        self.n_pages = spark.read.parquet(self.pages_path).count()
        # the url whose label an injected wrong answer flips: one end of a
        # true pair, so flipping it must cost recall
        self.flip_url = (
            self.truth.filter(F.col("label")).orderBy("url_a").first()["url_a"]
        )
        log(f"corpus of {self.n_pages} pages ready at {host.elapsed():.2f}s")

    def check(self, assigned, inject_wrong: bool) -> dict:
        """Outside the timed window: F1 == 1.0 over ``n_evaluated > 0``
        labeled pairs, and every page assigned exactly once."""
        from ai_data_matching_spark.pipeline import pairwise_f1
        from pyspark.sql import functions as F

        if inject_wrong:
            assigned = assigned.withColumn(
                "cluster_id",
                F.when(F.col("url") == self.flip_url, F.lit(_FLIPPED)).otherwise(
                    F.col("cluster_id")
                ),
            )
        f1 = pairwise_f1(assigned, self.truth)
        row = assigned.agg(
            F.count("*").alias("n"), F.countDistinct("url").alias("u")
        ).first()
        ok = (
            f1["f1"] == 1.0
            and f1["n_evaluated"] > 0
            and row["n"] == row["u"] == self.n_pages
        )
        return {"ok": ok, "f1": f1["f1"], "n_evaluated": f1["n_evaluated"]}


def _guarded(fn, *args) -> dict:
    """Run one operation; an exception makes it a failed operation."""
    t0 = time.perf_counter()
    try:
        return fn(*args)
    except Exception:
        traceback.print_exc()
        return {"s": time.perf_counter() - t0, "ok": False}


def _measure(host: Host, window, trace: bool):
    """Run the timed window, ``window()``, which returns the operations.
    Returns them, the heap peak over the window and, for a traced run, the
    mean of two host calibrations taken just before and just after the
    window (0 otherwise)."""
    cal = [calibrate(host.cores)] if trace else []
    host.jvm.reset_heap_peak()
    ops = window()
    heap = host.jvm.heap_peak_mb()
    if trace:
        cal.append(calibrate(host.cores))
        log(f"calibration {cal[0]:.3f}s before, {cal[1]:.3f}s after the window")
    return ops, heap, median(cal)


def _end_to_end(
    n_pages: int, wall: float, p50: float, setup_s: float, calibration_s: float
) -> dict:
    """The end-to-end metrics, as measured, and the host calibration."""
    log(f"wall {wall:.3f}s, p50 {p50:.3f}s, setup {setup_s:.3f}s")
    return {
        "wall_s": wall,
        "docs_per_s": n_pages / wall,
        "setup_s": setup_s,
        "latency_p50_s": p50,
        "host.calibration_s": calibration_s,
    }


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------


def _batch_pass(host: Host, corpus: Corpus, inject_wrong: bool) -> dict:
    """One untraced pass: parquet → run_pipeline(io=None) → materialized
    ``assigned``."""
    from ai_data_matching_spark.cache import release_persisted
    from ai_data_matching_spark.pipeline import run_pipeline

    spark = host.spark
    t0 = time.perf_counter()
    res = run_pipeline(spark, spark.read.parquet(corpus.pages_path))
    res.assigned.count()
    s = time.perf_counter() - t0
    chk = corpus.check(res.assigned, inject_wrong)
    release_persisted()
    return {"s": s, **chk}


def _batch_pass_traced(
    host: Host, corpus: Corpus, tracer: Tracer, inject_wrong: bool
) -> dict:
    """One traced pass: the layer calls ``run_pipeline(io=None)`` makes,
    with its arguments. Each call's output is persisted and counted inside
    its span; the extra materializations are part of what
    ``trace.overhead_s`` reports."""
    from ai_data_matching_spark.cache import persist_tracked, release_persisted
    from ai_data_matching_spark.functions.similarity import MAX_SCORE_CHARS
    from ai_data_matching_spark.operators.blocking import (
        candidate_pairs,
        exact_match_edges,
        latest_crawl_wins,
        route_unmatched,
        with_extract_sketch_keys,
    )
    from ai_data_matching_spark.operators.clustering import (
        cluster_assignments,
        connected_components,
    )
    from ai_data_matching_spark.operators.consolidate import (
        consolidate_clusters,
        match_statistics,
    )
    from ai_data_matching_spark.operators.scoring import (
        fuzzy_match_edges,
        score_pairs,
        union_edges,
    )
    from ai_data_matching_spark.pipeline import PipelineConfig

    cfg = PipelineConfig()
    spark = host.spark
    t0 = time.perf_counter()
    pages = spark.read.parquet(corpus.pages_path)
    with tracer.span("extract.sketch") as sp:
        blocked = persist_tracked(
            latest_crawl_wins(
                with_extract_sketch_keys(
                    pages,
                    n_simhash_bands=cfg.n_simhash_bands,
                    minhash_k=cfg.minhash_k,
                    emit_extracted=False,
                    text_prefix=MAX_SCORE_CHARS,
                )
            )
        )
        sp["rows"] = blocked.count()
    with tracer.span("blocking.exact") as sp:
        exact = persist_tracked(exact_match_edges(blocked))
        n_exact = sp["rows"] = exact.count()
    with tracer.span("blocking.candidates") as sp:
        pairs, overflow = candidate_pairs(
            blocked,
            max_block_size=cfg.max_block_size,
            max_band_hamming=cfg.max_band_hamming,
        )
        pairs = persist_tracked(pairs)
        sp["rows"] = pairs.count()
        sp["overflow_keys"] = overflow.count()
    with tracer.span("scoring.score") as sp:
        scored = persist_tracked(
            score_pairs(
                route_unmatched(pairs, exact), match_threshold=cfg.fuzzy_threshold
            ).drop("sig_a", "sig_b", "text_a", "text_b")
        )
        sp["pairs_scored"] = scored.count()
        fuzzy = fuzzy_match_edges(
            scored, threshold=cfg.fuzzy_threshold, best_match_only=cfg.best_match_only
        )
        edges = persist_tracked(union_edges(exact, fuzzy))
        sp["rows"] = edges.count()
        sp["fuzzy_edges"] = sp["rows"] - n_exact
    with tracer.span("clustering.cc") as sp:
        labels, iters = connected_components(edges)
        labels = persist_tracked(labels)
        sp["rows"] = labels.count()
        sp["iterations"] = iters
    with tracer.span("consolidate") as sp:
        assigned = persist_tracked(
            cluster_assignments(
                blocked.select("url", "warc_ts", "lang", "norm_domain"), labels
            )
        )
        consolidate_clusters(assigned, edges)
        match_statistics(assigned, edges)
        sp["rows"] = assigned.count()
    s = time.perf_counter() - t0
    # the iterative large-star/small-star path, forced on the same edges:
    # below its 2M-edge gate no pass takes it, so this is its only timing
    with tracer.span("clustering.iterative") as sp:
        it_labels, it_iters = connected_components(edges, small_graph_threshold=0)
        sp["rows"] = it_labels.count()
        sp["iterations"] = it_iters
    chk = corpus.check(assigned, inject_wrong)
    release_persisted()
    return {"s": s, **chk}


def batch(host: Host, seed: int, seconds: float, trace: bool, opts) -> dict:
    """One-shot batch resolution, repeated in a closed loop."""
    host.start_session()
    corpus = Corpus(host, opts.pages or BATCH_PAGES, seed)
    tracer = Tracer(host.spark, host.jvm)
    warm = _guarded(_batch_pass, host, corpus, False)
    setup_s = time.perf_counter() - host.t_start
    log(f"setup {setup_s:.2f}s, warm-up pass {warm}")

    def op(traced: bool) -> dict:
        if traced:
            r = _guarded(_batch_pass_traced, host, corpus, tracer, opts.inject_wrong)
        else:
            r = _guarded(_batch_pass, host, corpus, opts.inject_wrong)
        r["traced"] = traced
        return r

    ops, heap, calibration_s = _measure(
        host, lambda: run_window(op, seconds, trace), trace
    )
    wall = median(r["s"] for r in ops if not r["traced"])
    metrics = _end_to_end(corpus.n_pages, wall, wall, setup_s, calibration_s)
    metrics["jvm.heap_peak_mb"] = heap
    if trace:
        metrics.update(_batch_layers(tracer, ops))
    return {"ops": [warm, *ops], "metrics": metrics}


def _batch_layers(tracer: Tracer, ops: list[dict]) -> dict:
    """Per-layer metrics of the traced passes (medians over passes)."""
    out: dict[str, float] = {}
    for name in (
        "extract.sketch",
        "blocking.exact",
        "blocking.candidates",
        "scoring.score",
        "clustering.cc",
        "consolidate",
        "clustering.iterative",
    ):
        spans = tracer.select(name)
        out[f"{name}_s"] = median(s["s"] for s in spans)
        out[f"{name}.jobs"] = median(s["jobs"] for s in spans)
        out[f"{name}.gc_s"] = median(s["gc_s"] for s in spans)
        out[f"{name}.rows"] = median(s["rows"] for s in spans)
    # rows out of these two spans are blocking.pairs and scoring.edges
    del out["blocking.candidates.rows"], out["scoring.score.rows"]
    cand = tracer.select("blocking.candidates")
    score = tracer.select("scoring.score")
    out["blocking.pairs"] = median(s["rows"] for s in cand)
    out["blocking.overflow_keys"] = median(s["overflow_keys"] for s in cand)
    out["scoring.pairs_scored"] = median(s["pairs_scored"] for s in score)
    out["scoring.edges"] = median(s["rows"] for s in score)
    out["blocking.pair_yield"] = median(
        s["fuzzy_edges"] / s["pairs_scored"] for s in score if s["pairs_scored"]
    )
    out["clustering.cc_iterations"] = median(
        s["iterations"] for s in tracer.select("clustering.cc")
    )
    out["clustering.iterative_iterations"] = median(
        s["iterations"] for s in tracer.select("clustering.iterative")
    )
    out["trace.overhead_s"] = median(r["s"] for r in ops if r["traced"]) - median(
        r["s"] for r in ops if not r["traced"]
    )
    return out


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------

class Drops:
    """The stream corpus cut by url hash into the bootstrap drop (about
    HISTORY_SHARE of the pages) and FOLD_DROPS equal fold drops, staged
    once as parquet part files."""

    def __init__(self, host: Host, corpus: Corpus):
        from pyspark.sql import functions as F

        cut = int(1000 * HISTORY_SHARE)
        step = -(-(1000 - cut) // FOLD_DROPS)
        bucket = F.pmod(F.xxhash64("url"), F.lit(1000))
        drop = F.when(bucket < cut, 0).otherwise(
            F.floor((bucket - cut) / step) + 1
        )
        staged = host.path("drops-staged")
        host.spark.read.parquet(corpus.pages_path).withColumn(
            "_drop", drop
        ).repartition(host.cores).write.partitionBy("_drop").parquet(staged)
        self.files = [
            sorted(
                os.path.join(staged, f"_drop={i}", fn)
                for fn in os.listdir(os.path.join(staged, f"_drop={i}"))
                if fn.endswith(".parquet")
            )
            for i in range(FOLD_DROPS + 1)
        ]

    def land(self, i: int, inbox: str) -> None:
        """Hard-link drop ``i``'s part files into the watched directory:
        each appears whole at once, and the staged copy stays for the next
        cycle."""
        for path in self.files[i]:
            os.link(path, os.path.join(inbox, f"d{i}-{os.path.basename(path)}"))


def _stream_cycle(
    host: Host, corpus: Corpus, drops: Drops, tracer: Tracer, traced: bool,
    cycle: int, inject_wrong: bool, n_drops: int | None = None,
) -> dict:
    """Land the drops in turn and drain each with resolve_stream: the first
    bootstraps the committed state with the checkpointed pipeline, the
    rest fold into it. One drop in flight at a time. ``n_drops`` cuts the
    cycle short (the warm-up); the check then skips the corpus F1."""
    from ai_data_matching_spark.cache import release_persisted
    from ai_data_matching_spark.operators.clustering import cluster_assignments
    from ai_data_matching_spark.sources.tables import (
        ParquetSnapshotBackend,
        TableIO,
    )
    from ai_data_matching_spark.streaming.resolve import (
        latest_state_fingerprint,
        resolve_stream,
    )

    spark = host.spark
    sc = spark.sparkContext
    cdir = host.path(f"cycle{cycle}")
    root = os.path.join(cdir, "state")
    inbox = os.path.join(cdir, "drops")
    os.makedirs(inbox)
    backend = ParquetSnapshotBackend(root)
    io = TableIO(root, backend=TimingBackend(backend, tracer) if traced else backend)
    latencies, jobs = [], []
    t_first = time.perf_counter()
    for i in range(n_drops or len(drops.files)):
        tracer.tags = {"cycle": cycle, "drop": i}
        t0 = time.perf_counter()
        drops.land(i, inbox)
        q = resolve_stream(spark, inbox, io, os.path.join(cdir, "ckpt"))
        latencies.append(time.perf_counter() - t0)
        # the stream runs its jobs under its run id; the spans of a traced
        # cycle move their commits' jobs into groups of their own
        jobs.append(
            len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
            + tracer.total_where("jobs", cycle=cycle, drop=i)
        )
        release_persisted()
    wall = time.perf_counter() - t_first
    tracer.tags = {"cycle": cycle, "drop": "check"}
    if n_drops is None:
        fp = latest_state_fingerprint(io)
        blocked = io.read_state(spark, "blocked", fp)
        labels = io.read_state(spark, "labels", fp)
        chk = corpus.check(
            cluster_assignments(blocked.select("url"), labels), inject_wrong
        )
    else:
        chk = {"ok": True}
    tracer.tags = {}
    stored = dir_mb(root)
    shutil.rmtree(cdir, ignore_errors=True)
    return {
        "s": wall,
        "latencies": latencies,
        "jobs": jobs,
        "stored_mb": stored,
        "cycle": cycle,
        **chk,
    }


def stream(host: Host, seed: int, seconds: float, trace: bool, opts) -> dict:
    """A stream of drops into committed state, one cycle per operation."""
    host.start_session()
    corpus = Corpus(host, opts.pages or STREAM_PAGES, seed)
    drops = Drops(host, corpus)
    tracer = Tracer(host.spark, host.jvm)
    cycles = iter(range(1_000_000))
    # warm-up: the bootstrap drop at full size; warming a fold too would
    # add a fold's ~8 s of fixed cost to every run's set-up
    warm = _guarded(
        _stream_cycle, host, corpus, drops, tracer, False, next(cycles), False, 1
    )
    setup_s = time.perf_counter() - host.t_start
    log(f"setup {setup_s:.2f}s, warm-up {warm}")

    def op(traced: bool) -> dict:
        r = _guarded(
            _stream_cycle, host, corpus, drops, tracer, traced, next(cycles),
            opts.inject_wrong,
        )
        r["traced"] = traced
        return r

    def traced_window() -> list:
        # A cycle takes 25-60 s and set-up 30-60 s, so the untraced/traced/
        # untraced sandwich of run_window could overrun a run's time limit
        # on a busy host: run the traced cycle first, then one untraced
        # cycle for the overhead if it is expected to fit.
        ops = [op(True)]
        log(f"op 1: {ops[0]}")
        if host.elapsed() + 1.5 * ops[0]["s"] + STREAM_RESERVE_S < TIME_LIMIT_S:
            ops.append(op(False))
            log(f"op 2: {ops[1]}")
        else:
            log("no time left for an untraced cycle: trace.overhead_s not measured")
        return ops

    ops, heap, calibration_s = _measure(
        host, traced_window if trace else lambda: run_window(op, seconds, False),
        trace,
    )
    plain = [r for r in ops if not r["traced"] and "latencies" in r]
    folds = [x for r in plain for x in r["latencies"][1:]]
    wall = median(r["s"] for r in plain) if plain else ops[0]["s"]
    metrics = _end_to_end(
        corpus.n_pages, wall, median(folds) if folds else wall, setup_s, calibration_s
    )
    metrics["jvm.heap_peak_mb"] = heap
    if trace:
        metrics.update(_stream_layers(tracer, ops))
    # a cycle's drops are its operations: all fail with the cycle's check
    warm["n_ops"] = 1
    for r in ops:
        r["n_ops"] = len(drops.files)
    return {"ops": [warm, *ops], "metrics": metrics}


def _stream_layers(tracer: Tracer, ops: list[dict]) -> dict:
    """Per-layer metrics of the traced cycles (medians over cycles)."""
    from ai_data_matching_spark.pipeline import STAGES

    out: dict[str, float] = {}
    traced = [r for r in ops if r["traced"] and "latencies" in r]
    plain = [r for r in ops if not r["traced"] and "latencies" in r]
    if not traced:
        return out
    cyc = [r["cycle"] for r in traced]

    def per_cycle(fn) -> float:
        return median(fn(c) for c in cyc)

    # bootstrap drop: the checkpointed pipeline's stage commits
    for stage in STAGES:
        name = f"tables.commit.{stage}"
        out[f"tables.commit_s.{stage}"] = per_cycle(
            lambda c: tracer.total(name, cycle=c, drop=0)
        )
        out[f"tables.rows.{stage}"] = per_cycle(
            lambda c: tracer.total(name, "rows", cycle=c, drop=0)
        )
        out[f"tables.mb.{stage}"] = per_cycle(
            lambda c: tracer.total(name, "mb", cycle=c, drop=0)
        )
        out[f"tables.jobs.{stage}"] = per_cycle(
            lambda c: tracer.total(name, "jobs", cycle=c, drop=0)
        )
    out["tables.metric_s"] = per_cycle(
        lambda c: tracer.total("tables.metric", cycle=c, drop=0)
    )
    out["stream.bootstrap_s"] = median(r["latencies"][0] for r in traced)
    out["pipeline.other_s"] = out["stream.bootstrap_s"] - per_cycle(
        lambda c: tracer.total_where("s", "tables.", cycle=c, drop=0)
    )
    # fold drops, by delta-chain depth (drop i folds at depth i)
    for key, name in (
        ("blocked_delta_s", "tables.commit.blocked_delta"),
        ("edges_delta_s", "tables.commit.edges_delta"),
        ("labels_delta_s", "tables.commit.labels_delta"),
        ("gc_s", None),
    ):
        vals = []
        for d in range(1, FOLD_DROPS + 1):
            if name is None:
                v = per_cycle(
                    lambda c: tracer.total_where(
                        "gc_s", "tables.commit.", cycle=c, drop=d
                    )
                )
            else:
                v = per_cycle(lambda c: tracer.total(name, cycle=c, drop=d))
            out[f"incremental.{key}.d{d}"] = v
            vals.append(v)
        out[f"incremental.{key}"] = median(vals)
    for d in range(1, FOLD_DROPS + 1):
        lat = median(r["latencies"][d] for r in traced)
        spans = per_cycle(
            lambda c: tracer.total_where("s", "tables.", cycle=c, drop=d)
        )
        out[f"streaming.latency_s.d{d}"] = lat
        out[f"streaming.overhead_s.d{d}"] = lat - spans
        out[f"tables.snapshot_reads.d{d}"] = per_cycle(
            lambda c: len(tracer.select("tables.read", cycle=c, drop=d))
        )
        out[f"incremental.jobs.d{d}"] = median(r["jobs"][d] for r in traced)
    out["streaming.overhead_s"] = median(
        out[f"streaming.overhead_s.d{d}"] for d in range(1, FOLD_DROPS + 1)
    )
    out["incremental.jobs"] = median(
        out[f"incremental.jobs.d{d}"] for d in range(1, FOLD_DROPS + 1)
    )
    out["tables.stored_mb"] = median(r["stored_mb"] for r in traced)
    if plain:
        out["trace.overhead_s"] = median(r["s"] for r in traced) - median(
            r["s"] for r in plain
        )
    return out


WORKLOADS = {"batch": batch, "stream": stream}
