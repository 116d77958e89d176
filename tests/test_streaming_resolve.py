"""Continuous ER: file drops stream into the committed entity state via
foreachBatch + incremental fold; the final clustering equals the batch
recompute over everything dropped (streaming/resolve.py contract)."""

from pyspark.sql import functions as F

from ai_data_matching_spark.pipeline import PipelineConfig, run_pipeline
from ai_data_matching_spark.sources.tables import SNAPSHOT_LAYOUT, TableIO
from ai_data_matching_spark.streaming.resolve import (
    latest_state_fingerprint,
    resolve_stream,
)

CFG = PipelineConfig(best_match_only=False)
COLS = ["url", "warc_ts", "html", "text", "lang"]


def _partition(assigned) -> set[frozenset]:
    by_cluster: dict[str, set] = {}
    for r in assigned.select("url", "cluster_id").collect():
        by_cluster.setdefault(r["cluster_id"], set()).add(r["url"])
    return {frozenset(v) for v in by_cluster.values()}


def test_drops_fold_into_committed_state(spark, pages_small, tmp_path):
    pages = pages_small.drop("entity_id").select(*COLS)
    drops = str(tmp_path / "drops")
    io = TableIO(str(tmp_path / "snaps"))
    ckpt = str(tmp_path / "ckpt")

    # drop 1 → bootstrap epoch (full pipeline commit)
    first = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) != 0)
    first.write.parquet(drops)
    resolve_stream(spark, drops, io, ckpt, cfg=CFG)
    fp1 = latest_state_fingerprint(io)
    assert fp1 is not None

    # drop 2 → incremental epoch chained on the committed state; the
    # stream checkpoint must make it process ONLY the new file
    second = pages.filter(F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    second.write.mode("append").parquet(drops)
    resolve_stream(spark, drops, io, ckpt, cfg=CFG)
    fp2 = latest_state_fingerprint(io)
    assert fp2 != fp1

    # each fold must release its persist_tracked handles before the next
    # epoch — a long-running stream otherwise accumulates one fold's
    # worth of cached blocks per epoch, unbounded
    from ai_data_matching_spark.cache import _PERSISTED

    assert _PERSISTED == []

    # incremental epochs commit DELTAS; the full state is a chain view
    labels = io.read_state(spark, "labels", fp2)
    blocked = io.read_state(spark, "blocked", fp2)
    from ai_data_matching_spark.operators.clustering import cluster_assignments

    assigned = cluster_assignments(blocked.select("url"), labels)
    want = run_pipeline(spark, pages, cfg=CFG)
    assert _partition(assigned) == _partition(want.assigned)

    # no pending files → draining again commits nothing new
    resolve_stream(spark, drops, io, ckpt, cfg=CFG)
    assert latest_state_fingerprint(io) == fp2
    # every record, bootstrap and fold alike, carries the current layout
    assert {rec.get("layout") for rec in io._read_manifest()} == {SNAPSHOT_LAYOUT}


def test_chain_head_config_mismatch_refused(spark, pages_small, tmp_path):
    """A restarted stream must not fold onto state resolved under another
    config: a head whose cfg_fp differs from the expected one raises, and
    so does a head record that carries no cfg_fp at all."""
    import json

    import pytest

    io = TableIO(str(tmp_path / "snaps"))
    pages = pages_small.drop("entity_id").filter(F.pmod(F.xxhash64("url"), F.lit(4)) == 0)
    fp = run_pipeline(spark, pages, io=io, cfg=CFG).fingerprint
    assert latest_state_fingerprint(io, expect_cfg_fp=fp) == fp
    with pytest.raises(ValueError, match="refusing to chain incompatible configs"):
        latest_state_fingerprint(io, expect_cfg_fp="0" * 16)

    records = io._read_manifest()
    for rec in records:
        if rec["stage"] == "labels":
            del rec["cfg_fp"]
    with open(io._manifest_path, "w") as f:
        json.dump(records, f)
    with pytest.raises(ValueError, match="refusing to chain incompatible configs"):
        latest_state_fingerprint(io, expect_cfg_fp=fp)
