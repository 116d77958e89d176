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


def test_sketchless_extract_snapshot_refused_before_blocked_commit(
    spark, pages_small, tmp_path
):
    """An ``extract`` snapshot in the older stage-1 layout (text columns,
    no sketches) must make the blocked stage raise BEFORE it commits —
    otherwise a sketchless blocked snapshot is committed and every rerun
    resumes it."""
    from dataclasses import asdict

    from ai_data_matching_spark.operators.blocking import with_extract_sketch_keys

    io = TableIO(str(tmp_path / "pipe"))
    pages = pages_small.drop("entity_id")
    fp = config_fingerprint(asdict(PipelineConfig()))
    old_layout = with_extract_sketch_keys(pages).drop(
        "simhash", "minhash_sig", "block_keys"
    )
    io.commit(old_layout, "extract", fp, extra={"cfg_fp": fp})
    with pytest.raises(ValueError, match="drop that snapshot"):
        run_pipeline(spark, pages, io=io)
    assert io.last_committed("blocked", fp) is None
