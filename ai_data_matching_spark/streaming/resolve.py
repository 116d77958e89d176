"""Continuous entity resolution: stream drops → incremental fold.

Ties the streaming front half to the batch-incremental back half: each
micro-batch of new pages is folded into the committed entity state via
``operators.incremental.fold_incremental`` inside ``foreachBatch`` — the
standard Structured Streaming shape for sinks that need full batch
semantics (multi-stage joins + CC are not expressible as a streaming
plan; per-batch they are exactly the incremental ER job).

Consistency story, end to end:

* **exactly-once over files** — the stream checkpoint makes each drop
  file processed in exactly one epoch.
* **per-epoch resumability** — the fold commits ``blocked/edges/labels``
  snapshots under a fingerprint derived from (cfg, epoch, prior), so a
  kill mid-epoch resumes that epoch's completed stages on retry.
* **retry idempotence** — if an epoch's snapshots committed but the
  STREAM checkpoint didn't (crash in between), the replayed epoch chains
  onto its own committed state; the monotone edge merge dedups (src,
  dst) pairs, so folding the same batch twice yields identical clusters.
* **restart chaining** — the chain head is recovered from the snapshot
  manifest (last committed ``labels``), never from driver memory.

The first epoch bootstraps: with no committed state yet it runs the full
pipeline (committed under the config fingerprint), and later epochs fold.
A fold only commits: nothing in the stream reads the full-state views
(``run_incremental``'s assigned / clusters / stats), so none is built;
readers reconstruct them from the snapshots (``TableIO.read_state``).
"""

from __future__ import annotations

from dataclasses import asdict

from pyspark.sql import SparkSession

from ..cache import release_persisted
from ..operators.incremental import fold_incremental
from ..pipeline import PipelineConfig, run_pipeline
from ..sources.tables import TableIO, config_fingerprint
from .ingest import read_page_stream


def latest_state_fingerprint(io: TableIO, expect_cfg_fp: str | None = None) -> str | None:
    """Fingerprint of the most recent COMPLETE resolution state: ``labels``
    is the last stage a (base or incremental) run commits, so its newest
    manifest record identifies the chain head.

    ``expect_cfg_fp`` validates the chain head against the CURRENT config:
    a restarted stream with a changed PipelineConfig must not silently fold
    new epochs onto state committed under different thresholds/caps — that
    would mix two configs within one resolved state. Commit records carry
    ``cfg_fp`` (tables.commit extra); a head record whose ``cfg_fp``
    differs from it, or is missing, raises.
    """
    rec = io.chain_head()
    if rec is None:
        return None
    rec_cfg = rec.get("cfg_fp")
    if expect_cfg_fp is not None and rec_cfg != expect_cfg_fp:
        raise ValueError(
            f"committed state {rec['fingerprint']} was resolved under "
            f"config {rec_cfg}, but the stream is configured with "
            f"{expect_cfg_fp}; refusing to chain incompatible configs. "
            "Re-run the base pipeline under the new config (fresh "
            "state) or restart the stream with the original config."
        )
    return rec["fingerprint"]


def resolve_stream(
    spark: SparkSession,
    input_dir: str,
    io: TableIO,
    checkpoint_dir: str,
    cfg: PipelineConfig | None = None,
    available_now: bool = True,
    processing_time: str = "30 seconds",
):
    """Start the continuous-resolution stream over a drop folder.

    With ``available_now`` (the batch-drain form used by tests and
    backfills) the call blocks until all pending files are folded and
    returns the stopped query; otherwise returns the running query.
    """
    cfg = cfg or PipelineConfig()
    cfg_fp = config_fingerprint(asdict(cfg))

    def fold(batch_df, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        prior = latest_state_fingerprint(io, expect_cfg_fp=cfg_fp)
        try:
            if prior is None:
                run_pipeline(spark, batch_df, io=io, cfg=cfg)
            else:
                fold_incremental(
                    spark,
                    batch_df,
                    io,
                    # the prior fingerprint joins the batch id, which is
                    # the fold's metric run id: a stream restarted against
                    # a FRESH checkpoint dir renumbers epochs from 0, and a
                    # bare epoch-N would overwrite the original epoch-N's
                    # metric frames (_metrics/{edges,final}/<batch_id> —
                    # the observability record). A true same-epoch replay
                    # recomputes the same prior, so its idempotent
                    # overwrite is kept.
                    batch_id=f"epoch-{epoch_id}-{prior[:8]}",
                    cfg=cfg,
                    prior_fingerprint=prior,
                )
        finally:
            # the fold's outputs live in committed snapshots by now; the
            # persist_tracked frames each fold registers (touched keys,
            # exact edges, hot keys) would otherwise accumulate one fold's
            # worth of MEMORY_AND_DISK blocks per epoch, unbounded over a
            # long-running stream. Released handles stay usable — a later
            # consumer just recomputes from lineage.
            release_persisted()

    writer = (
        read_page_stream(spark, input_dir)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.trigger(processingTime=processing_time).start()
