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
