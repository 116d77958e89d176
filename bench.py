"""Benchmark harness — prints ONE JSON line with per-query seconds.

Headline workload: the full record-linkage pipeline (synth corpus →
extract → block → score → cluster) measured as docs/sec, plus
representative operator queries over the driver tables at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``.

The HEADLINE pipeline run is measured at ``BENCH_PIPELINE_CPUS`` and at
``SPARK_GRAFT_CPUS`` (once when they are equal, as by default) and the
better level becomes ``er_pipeline``, with per-level numbers reported;
``er_pipeline_pairwise_f1`` is the lowest level's F1.

Env knobs:
  SPARK_GRAFT_SF_DIR    table dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS      operator-query parallelism (default os.cpu_count())
  BENCH_PIPELINE_CPUS   headline pipeline parallelism (default SPARK_GRAFT_CPUS)
  SPARK_GRAFT_DRIVER_MEM  driver heap (default a quarter of physical RAM)
  BENCH_PAGES           synth corpus size for the pipeline (default 100000)
  BENCH_ONLY            comma-separated subset of query names
  BENCH_INCREMENTAL     0 skips the incremental fold section (default on)
  BENCH_INC_REPS        anchor+fold reps of that section (default 3)

When the two pipeline levels differ, the line also carries
``er_pipeline_scaling_efficiency`` = (docs/s at the higher level ÷ docs/s
at the lower) ÷ (higher ÷ lower cpus): 1.0 is linear scaling.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


def _materialize(df) -> int:
    """Force full execution; noop sink avoids collect/driver cost."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _build(cpus: int):
    from ai_data_matching_spark.session import build_session

    quarter_ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 // 2**20
    extra = {"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{quarter_ram_mb}m")}
    if os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-bench", exist_ok=True)
        extra["spark.local.dir"] = "/dev/shm/spark-bench"
    return build_session(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 8),
        extra_conf=extra,
    )


def _pipeline_run(spark, n_pages: int, reps: int = 2) -> "tuple[int, float, float | None]":
    """Best-of-``reps`` timed pipeline runs, returning (n_docs, best_seconds,
    pairwise_f1) — f1 is None until the final rep computes it. The input is
    materialized and
    the Python worker pool + JIT warmed (2k-page un-timed run) outside the
    window; Spark's cache is cleared between reps so plan-matching never
    lets a rep read the previous rep's persisted stages."""
    from ai_data_matching_spark.cache import release_persisted
    from ai_data_matching_spark.pipeline import run_pipeline
    from ai_data_matching_spark.synth import ensure_pages_table

    # input is a TABLE (the cli.py --input contract): corpus written once
    # untimed as snappy parquet on tmpfs, every timed rep reads it
    raw = spark.read.parquet(ensure_pages_table(spark, n_pages, seed=42))
    _materialize(run_pipeline(spark, raw.limit(2000)).assigned)  # warm-up
    release_persisted()
    spark.catalog.clearCache()
    best = None
    f1 = None
    pages = raw
    n = pages.count()
    for rep in range(reps):
        t0 = time.perf_counter()
        res = run_pipeline(spark, pages)
        _materialize(res.assigned)
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
        if rep == reps - 1:
            # north-rule correctness AT BENCH SCALE, outside the timed
            # window: pairwise F1 of the last rep's assignment against
            # the synth generator's labeled pairs (expect 1.0)
            from ai_data_matching_spark.pipeline import pairwise_f1
            from ai_data_matching_spark.synth import generate_labeled_pairs

            labels = generate_labeled_pairs(spark, n_pages, seed=42)
            m = pairwise_f1(res.assigned, labels)
            # a 1.0 with an empty label join would be vacuous — fail the
            # bench loudly instead of publishing it
            assert m["n_evaluated"] > 0, "pairwise_f1 label join is empty"
            f1 = m["f1"]
        release_persisted()
        spark.catalog.clearCache()
    return n, best, f1


def _incremental_section(spark, n_pages: int, timings: dict, extras: dict) -> None:
    """Incremental ER: fold a ~10% batch into a committed base run.

    The base commit is the recompute ANCHOR (timed — it is the same
    checkpointed code path a recompute of base∪batch would run, scaled to
    that size); the fold is the measured window. Each rep commits the
    base and folds the batch on a FRESH snapshot root (a repeat fold on
    the same root would resume from its own committed snapshots and
    measure nothing), and the section reports best-of-``reps`` — same
    convention as the pipeline headline — because a single anchor+fold
    pair is a 15-40 s window on a shared host where the r03/r04 artifacts
    measured the ratio swinging 0.3-1.6× on window noise alone (a
    controlled same-window profile read ~1.5×). Anchor and fold of one
    rep stay adjacent, so each rep's ratio is same-window; the reported
    speedup is the best rep's ratio. Disable with BENCH_INCREMENTAL=0.
    """
    if os.environ.get("BENCH_INCREMENTAL", "1") == "0":
        return
    # best-of-3 by default: the r04 artifacts measured the same code's
    # anchor/fold ratio swinging 1.48-2.12× across host windows with
    # reps=2 — one more same-window pair materially tightens the max
    # statistic the section reports, for ~25 s extra (untimed) wall
    reps = int(os.environ.get("BENCH_INC_REPS", "3"))
    if reps <= 0:  # a non-positive rep count means "skip the section",
        return     # not "crash on round(None) after the anchor ran"
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from ai_data_matching_spark.cache import release_persisted
    from ai_data_matching_spark.operators.incremental import run_incremental
    from ai_data_matching_spark.pipeline import run_pipeline
    from ai_data_matching_spark.sources.tables import TableIO
    from ai_data_matching_spark.synth import generate_pages

    release_persisted()
    spark.catalog.clearCache()
    all_pages = generate_pages(spark, n_pages, seed=42).drop("entity_id")
    is_batch = F.pmod(F.xxhash64("url"), F.lit(10)) == 0
    base = all_pages.filter(~is_batch).persist()
    n_base = base.count()
    batch = all_pages.filter(is_batch).persist()
    n_batch = batch.count()
    best_dt = None
    best_ratio = None
    rep_pairs: list[tuple[float, float]] = []  # every rep's (dt, ratio), disclosed
    for _rep in range(reps):
        # snapshot root on tmpfs, same as the corpus parquet: the base
        # commit (anchor) and the fold both read/write the TableIO state,
        # so this doesn't tilt the speedup ratio — it removes shared-host
        # disk noise from a 15-40 s measurement window
        shm = "/dev/shm/spark-bench"
        root = tempfile.mkdtemp(
            prefix="bench-inc-", dir=shm if os.path.isdir(shm) else None
        )
        try:
            io = TableIO(root)
            # clearCache DEREGISTERS the persist (not just evicts blocks) —
            # a bare count() would recompute without caching and the timed
            # anchor below would regenerate the synthetic corpus in-window
            n_base = base.persist().count()
            t0 = time.perf_counter()
            run_pipeline(spark, base, io=io)  # the prior committed state
            t_base = time.perf_counter() - t0
            release_persisted()
            spark.catalog.clearCache()
            # re-persist, not just re-count: without it every batch scan in
            # the timed fold (sketch, url distinct, ingest metric) would
            # re-run generate_pages — the fold window measured synth, and
            # the ~1.5× "fold fixed-cost floor" in earlier r04 artifacts
            # was largely this
            n_batch = batch.persist().count()
            t0 = time.perf_counter()
            inc = run_incremental(spark, batch, io, "bench-b1")
            _materialize(inc.assigned)
            dt = time.perf_counter() - t0
            # recompute anchor: the SAME checkpointed code path over the
            # base corpus, scaled to base∪batch size — apples-to-apples
            # (both sides pay snapshot commits), measured not estimated
            ratio = t_base * ((n_base + n_batch) / n_base) / dt
            # keep ONE rep's (dt, ratio) pair — mixing the best dt of one
            # rep with the best ratio of another records a combination no
            # run produced; the fold time is the headline, so its rep wins
            rep_pairs.append((round(dt, 3), round(ratio, 2)))
            if best_dt is None or dt < best_dt:
                best_dt, best_ratio = dt, ratio
        finally:
            shutil.rmtree(root, ignore_errors=True)
        release_persisted()
        spark.catalog.clearCache()
    base.unpersist()
    batch.unpersist()
    timings["er_incremental"] = round(best_dt, 3)
    extras["er_incremental_batch_docs"] = n_batch
    extras["er_incremental_docs_per_sec"] = round(n_batch / best_dt, 1)
    extras["er_incremental_speedup_vs_recompute"] = round(best_ratio, 2)
    extras["er_incremental_reps"] = reps
    # full disclosure: every rep's (fold_seconds, speedup) — so a lucky
    # best-of-N cannot masquerade as the typical ratio
    extras["er_incremental_rep_pairs"] = rep_pairs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    pipe_cpus = int(os.environ.get("BENCH_PIPELINE_CPUS", cpus))
    n_pages = int(os.environ.get("BENCH_PAGES", "100000"))
    only = os.environ.get("BENCH_ONLY")
    # label only — fall back instead of crashing on dirs where 'sf' is not
    # followed by a bare number (e.g. /mnt/transfer/tables)
    m = re.search(r"sf(\d+(?:\.\d+)?)/?$", sf_dir)
    sf = float(m.group(1)) if m else 0.1

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    import __spark_entry__ as entry_mod

    timings: dict[str, float] = {}
    extras: dict[str, float | int] = {}
    want_pipeline = not only or "er_pipeline" in only.split(",")

    # -- headline: pipeline at both parallelism levels, best wins --------
    levels = list(dict.fromkeys([pipe_cpus, cpus]))
    if want_pipeline:
        docs_per_sec: dict[int, float] = {}
        for level in levels:
            spark = _build(level)
            n, dt, f1 = _pipeline_run(spark, n_pages)
            docs_per_sec[level] = n / dt
            extras[f"er_pipeline_at_{level}"] = round(dt, 3)
            extras[f"er_pipeline_docs_per_sec_at_{level}"] = round(n / dt, 1)
            if f1 is not None:
                # the headline F1 is the worst level's, so no level's
                # computed F1 is lost
                f1 = extras[f"er_pipeline_pairwise_f1_at_{level}"] = round(f1, 6)
                extras["er_pipeline_pairwise_f1"] = min(
                    f1, extras.get("er_pipeline_pairwise_f1", f1)
                )
            if level == max(docs_per_sec, key=docs_per_sec.get):
                timings["er_pipeline"] = round(dt, 3)
                extras["er_pipeline_docs_per_sec"] = round(n / dt, 1)
                extras["er_pipeline_docs"] = n
                extras["er_pipeline_cpus"] = level
            if level == pipe_cpus:
                # incremental section runs HERE, on the pipe_cpus session
                # (one JVM = one SparkSession, so this is the only point a
                # pipe_cpus-parallelism session exists). The recompute
                # anchor (t_base) is measured on this same session, so the
                # speedup ratio stays same-window, same-parallelism.
                _incremental_section(spark, n_pages, timings, extras)
            if level != cpus:
                spark.stop()
        if len(levels) == 2:
            lo, hi = sorted(levels)
            extras["er_pipeline_scaling_efficiency"] = round(
                docs_per_sec[hi] / docs_per_sec[lo] / (hi / lo), 3
            )

    # -- operator queries at cpus (the loop above ends with a live
    #    session at `cpus`; only the no-pipeline path needs to build one)
    if not want_pipeline:
        spark = _build(cpus)

    qs = entry_mod.queries()
    for name in [
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "j3_fuzzy_scored_pairs",
        "ngram_jaccard_pairs",
        "ngram_span_dedup",
        "url_canonicalize",
        "minhash_lsh_pairs",
        "dedup_exact",
        "text_quality_lang",
        "gopher_quality_filter",
        "pii_scrub",
        "ann_topk_bf_lsh_ivf",
        "p7_currency_convert",
        "o2_o4_top_event_first_seen",
        "mm_binary_meta",
        "charts_top_relationships",
    ]:
        if only and name not in only.split(","):
            continue
        t0 = time.perf_counter()
        _materialize(qs[name](spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)

    # the contract minhash query uses the portable (oracle-twin) sketch;
    # also time the production fast path (numpy Arrow UDF) for comparison
    if not only or "minhash_lsh_fast" in (only or "").split(","):
        from ai_data_matching_spark.operators.dedup import duplicate_pairs_minhash_lsh

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        t0 = time.perf_counter()
        _materialize(duplicate_pairs_minhash_lsh(docs, jaccard_threshold=0.2))
        timings["minhash_lsh_fast"] = round(time.perf_counter() - t0, 3)

    from ai_data_matching_spark.cache import release_persisted

    release_persisted()
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_bench_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()
