"""Per-fold wall-clock across a CHAIN of incremental batches.

The delta-commit design (operators/incremental.py) claims per-fold cost
is O(batch), with the merge-on-read chain bounded by compaction: each
fold commits blocked/edges/labels DELTAS, `read_state` unions the chain
on read, and the fold whose chain reaches ``incremental.COMPACT_EVERY``
deltas compacts it to full snapshots (``TableIO.compact_state``) so the
union never exceeds ``COMPACT_EVERY`` frames. If that claim is wrong,
fold wall-time grows monotonically with batch index; if it is right,
the series is flat with a bump on the compaction fold (it pays the
full-state write) and a dip right after (chain length 1).

This script measures exactly that: a base run, then K same-sized folds
chained on one snapshot root, printing per fold its seconds, its Spark
job count (one job group around the fold) and the edge chain length the
next fold reads. Diagnostic only — never part of the recorded
bench artifact; per-phase fold spans come from
``perfbench/run.py --workload stream --trace 1``.

Usage: python scripts/chain_profile.py [n_pages] [n_folds] [cpus]

``n_folds`` defaults to ``COMPACT_EVERY + 1``: one compaction fold and
one fold after it.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ai_data_matching_spark.operators.incremental import COMPACT_EVERY  # noqa: E402

N_PAGES = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
N_FOLDS = int(sys.argv[2]) if len(sys.argv) > 2 else COMPACT_EVERY + 1
CPUS = int(sys.argv[3]) if len(sys.argv) > 3 else os.cpu_count()


def main() -> None:
    from ai_data_matching_spark.session import build_session
    from ai_data_matching_spark.sources.tables import TableIO

    spark = build_session(
        app_name="chain-profile",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )
    shm = "/dev/shm/spark-bench"
    root = tempfile.mkdtemp(prefix="chain-", dir=shm if os.path.isdir(shm) else None)
    io = TableIO(root)
    # tmpfs is host RAM — always reclaim both roots and stop the session,
    # even on a mid-run crash
    warm_root = tempfile.mkdtemp(prefix="chain-warm-", dir=os.path.dirname(root))
    try:
        _profile(spark, io, root, warm_root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(warm_root, ignore_errors=True)
        spark.stop()


def _profile(spark, io, root: str, warm_root: str) -> None:
    from ai_data_matching_spark.cache import release_persisted
    from ai_data_matching_spark.operators.incremental import run_incremental
    from ai_data_matching_spark.pipeline import run_pipeline
    from ai_data_matching_spark.sources.tables import TableIO
    from ai_data_matching_spark.synth import generate_pages

    # base corpus + N_FOLDS disjoint batches, all deterministic. Each
    # batch is 10% of the base (the bench's ratio) drawn from a shifted
    # seed so folds bring genuinely new pages plus cross-batch dup links.
    batch_n = N_PAGES // 10
    base = generate_pages(spark, N_PAGES, seed=11).drop("entity_id")
    base.write.mode("overwrite").parquet(f"{root}/base-src")
    base = spark.read.parquet(f"{root}/base-src")

    # warm the Python worker pool + codegen outside every timed window
    # (same convention as bench.py): a tiny pipeline + fold on a
    # THROWAWAY root so the measured chain starts cold-free but intact.
    warm_io = TableIO(warm_root)
    warm = generate_pages(spark, 2000, seed=1).drop("entity_id")
    run_pipeline(spark, warm, io=warm_io)
    run_incremental(
        spark,
        generate_pages(spark, 200, seed=2).drop("entity_id"),
        warm_io,
        batch_id="warm",
    )
    release_persisted()

    t0 = time.perf_counter()
    run_pipeline(spark, base, io=io)
    base_s = time.perf_counter() - t0
    release_persisted()
    print(f"base: {N_PAGES} docs in {base_s:.2f}s", flush=True)

    sc = spark.sparkContext
    rows = []
    fp = None
    for k in range(1, N_FOLDS + 1):
        batch = generate_pages(spark, batch_n, seed=100 + k).drop("entity_id")
        batch.write.mode("overwrite").parquet(f"{root}/b{k}-src")
        batch = spark.read.parquet(f"{root}/b{k}-src")
        group = f"chain-fold-{k}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        t0 = time.perf_counter()
        try:
            res = run_incremental(
                spark,
                batch,
                io,
                batch_id=f"b{k}",
                prior_fingerprint=fp,
            )
            res.assigned.count()  # materialize the public view, like the bench
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        fold_s = time.perf_counter() - t0
        release_persisted()
        fp = res.fingerprint
        rows.append(
            {
                "fold": k,
                "batch_docs": batch_n,
                "seconds": round(fold_s, 2),
                "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
                # a compacting fold leaves full snapshots at its own head
                "compaction_fold": io.chain_length("labels", fp) == 0,
                # the edge chain the NEXT fold reads
                "edge_deltas_committed": io.chain_length("edges", fp),
            }
        )
        print(json.dumps(rows[-1]), flush=True)

    flat = [r["seconds"] for r in rows if not r["compaction_fold"]]
    print(
        json.dumps(
            {
                "base_seconds": round(base_s, 2),
                "folds": rows,
                "non_compaction_min": min(flat) if flat else None,
                "non_compaction_max": max(flat) if flat else None,
                "spread": round(max(flat) / min(flat), 2) if flat else None,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
