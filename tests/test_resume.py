"""Checkpoint/resume: a killed run resumes from the last committed
snapshot and produces identical output (BASELINE.json north_rule;
SURVEY §5 item 4)."""

import pytest

from ai_data_matching_spark.pipeline import PipelineConfig, run_pipeline
from ai_data_matching_spark.sources.tables import TableIO, config_fingerprint


def test_commit_and_resume_probe(spark, tmp_path):
    io = TableIO(str(tmp_path / "snaps"))
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    fp = config_fingerprint({"x": 1})
    committed = io.commit(df, "stage_a", fp)
    assert committed.count() == 100
    rec = io.last_committed("stage_a", fp)
    assert rec is not None and rec["row_count"] == 100
    # different fingerprint → no resume
    assert io.last_committed("stage_a", config_fingerprint({"x": 2})) is None

    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return df

    out, resumed = io.read_or_compute(spark, "stage_a", fp, compute)
    assert resumed and calls["n"] == 0
    assert out.count() == 100


def test_killed_pipeline_resumes_and_matches_fresh_run(spark, pages_small, tmp_path):
    """Simulate a kill after the 'scored' stage commit: the re-run must
    skip the committed stages and produce identical cluster assignments
    to an uncheckpointed fresh run."""
    io = TableIO(str(tmp_path / "pipe"))
    pages = pages_small.drop("entity_id")

    class Boom(RuntimeError):
        pass

    # monkeypatch: raise inside the edges stage on first run
    from ai_data_matching_spark import pipeline as P

    orig = P.fuzzy_match_edges

    def exploding(*a, **k):
        raise Boom()

    P.fuzzy_match_edges = exploding
    try:
        with pytest.raises(Boom):
            run_pipeline(spark, pages, io=io)
    finally:
        P.fuzzy_match_edges = orig

    # stages up to 'scored' must be committed
    from dataclasses import asdict

    fp = config_fingerprint(asdict(PipelineConfig()))
    for stage in ["extract", "blocked", "exact_edges", "scored"]:
        assert io.last_committed(stage, fp) is not None, stage
    assert io.last_committed("edges", fp) is None

    # resume: completed stages are reused, not recomputed
    res = run_pipeline(spark, pages, io=io)
    assert set(res.resumed_stages) >= {"extract", "blocked", "exact_edges", "scored"}

    fresh = run_pipeline(spark, pages)
    got = {(r["url"], r["cluster_id"]) for r in res.assigned.select("url", "cluster_id").collect()}
    want = {
        (r["url"], r["cluster_id"]) for r in fresh.assigned.select("url", "cluster_id").collect()
    }
    assert got == want

    # metrics: the scored stage's overflow frame was written by the killed
    # run (the resume skipped that stage) and the final frame by the
    # resume, both keyed by the run's fingerprint in the long layout
    def metrics(stage, run_id):
        df = spark.read.parquet(str(tmp_path / "pipe" / "_metrics" / stage / run_id))
        assert df.columns == ["run_id", "stage", "metric", "key", "value"]
        rows = df.collect()
        assert {(r["run_id"], r["stage"]) for r in rows} <= {(run_id, stage)}
        return rows

    assert {r["metric"] for r in metrics("scored", fp)} <= {"block_overflow"}
    final = metrics("final", fp)
    stats = {r["key"]: r["value"] for r in final if r["metric"] == "match_statistics"}
    assert stats == {k: float(v) for k, v in res.stats.collect()[0].asDict().items()}
    n_scored = io.last_committed("scored", fp)["row_count"]
    assert n_scored > 0
    assert sum(r["value"] for r in final if r["metric"] == "score_histogram") == n_scored

    # a second config on the same root keeps the first run's frames
    cfg2 = PipelineConfig(fuzzy_threshold=0.9)
    fp2 = config_fingerprint(asdict(cfg2))
    assert fp2 != fp
    run_pipeline(spark, pages, io=io, cfg=cfg2)
    for run_id in (fp, fp2):
        metrics("scored", run_id)  # raises when the frame is missing
        assert {r["metric"] for r in metrics("final", run_id)} == {
            "score_histogram",
            "match_statistics",
        }


def test_snapshot_from_older_layout_refused(spark, pages_small, tmp_path):
    """Records committed by older code (no current ``layout`` stamp) are
    refused by the one manifest check in ``TableIO.read_snapshot``: a
    resume raises before ``blocked`` commits, a fold onto such a chain
    raises before it commits anything, and ``gc(spark=None)`` — which
    reads only the manifest — still expires the old root."""
    import json
    from dataclasses import asdict

    from pyspark.sql import functions as F

    from ai_data_matching_spark.operators.blocking import with_extract_sketch_keys
    from ai_data_matching_spark.operators.incremental import fold_incremental

    def strip_layout(io):
        records = io._read_manifest()
        for rec in records:
            rec.pop("layout")
        with open(io._manifest_path, "w") as f:
            json.dump(records, f)

    pages = pages_small.drop("entity_id")
    fp = config_fingerprint(asdict(PipelineConfig()))

    # only an extract record is committed
    io = TableIO(str(tmp_path / "extract_only"))
    io.commit(with_extract_sketch_keys(pages), "extract", fp, extra={"cfg_fp": fp})
    strip_layout(io)
    with pytest.raises(ValueError, match="fresh table root"):
        run_pipeline(spark, pages, io=io)
    assert io.last_committed("blocked", fp) is None

    # a base run plus one fold is committed
    bucket = F.pmod(F.xxhash64("url"), F.lit(3))
    io = TableIO(str(tmp_path / "chain"))
    run_pipeline(spark, pages.filter(bucket == 0), io=io)
    b1 = fold_incremental(spark, pages.filter(bucket == 1), io, "b1")
    strip_layout(io)
    n_records = len(io._read_manifest())
    with pytest.raises(ValueError, match="fresh table root"):
        fold_incremental(
            spark, pages.filter(bucket == 2), io, "b2", prior_fingerprint=b1.fingerprint
        )
    assert len(io._read_manifest()) == n_records
    report = io.gc(keep_last=1)
    assert report["chain_head"] == b1.fingerprint
