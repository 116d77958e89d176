"""Incremental ER: folding a batch of new pages into a prior committed run
must (a) equal the full recompute's clustering when no block crosses the
size cap and best_match_only=False (operators/incremental.py docstring
contract), (b) never split previously co-clustered pages (monotone), and
(c) resume per stage and chain batch→batch through committed snapshots."""

from pyspark.sql import functions as F

from ai_data_matching_spark.operators.incremental import run_incremental
from ai_data_matching_spark.pipeline import PipelineConfig, run_pipeline
from ai_data_matching_spark.sources.tables import TableIO


CFG = PipelineConfig(best_match_only=False)


def _partition(assigned) -> set[frozenset]:
    """Clustering as a set of url-sets (label-invariant comparison)."""
    by_cluster: dict[str, set] = {}
    for r in assigned.select("url", "cluster_id").collect():
        by_cluster.setdefault(r["cluster_id"], set()).add(r["url"])
    return {frozenset(v) for v in by_cluster.values()}


def _split(pages, n_buckets: int, bucket: int):
    return pages.filter(F.pmod(F.xxhash64("url"), F.lit(n_buckets)) == bucket)


def _apply_label_delta(prior_labels, new_edges):
    """Full label view for prior ∪ new edges: the incremental label delta
    applied over the prior labels by url replacement (the read_state
    merge)."""
    from ai_data_matching_spark.operators.incremental import incremental_label_delta

    delta, _ = incremental_label_delta(prior_labels, new_edges)
    return prior_labels.join(delta.select("url"), "url", "left_anti").unionByName(delta)


def test_incremental_label_delta_matches_full_cc(spark):
    """The contracted incremental CC must equal a full CC over
    prior ∪ new edges — pinned on the risky shapes: a new node BRIDGING
    two prior components, a new node that becomes the merged component's
    min-url rep, and an intra-component delta edge (contracted
    self-loop)."""
    from ai_data_matching_spark.operators.clustering import connected_components

    prior_edges = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2"), ("c1", "c2")], "src string, dst string"
    )
    prior_labels, _ = connected_components(prior_edges)
    new_edges = spark.createDataFrame(
        [
            ("a2", "z9"),   # attach new node to component a
            ("z9", "b2"),   # ...and BRIDGE components a and b through it
            ("c2", "0m"),   # new node that is the merged component's min
            ("c1", "c2"),   # intra-component edge: contracted self-loop
        ],
        "src string, dst string",
    )
    inc_labels = _apply_label_delta(prior_labels, new_edges)
    full_labels, _ = connected_components(prior_edges.unionByName(new_edges))
    as_map = lambda df: {  # noqa: E731
        r["url"]: r["component"] for r in df.collect()
    }
    inc, full = as_map(inc_labels), as_map(full_labels)
    assert inc == full
    assert inc["z9"] == "a1" and inc["b1"] == "a1"  # bridge merged a∪b∪{z9}
    assert inc["c1"] == "0m"  # new min url becomes the rep


def test_incremental_equals_full_recompute(spark, pages_small, tmp_path):
    pages = pages_small.drop("entity_id")
    base = _split(pages, 4, 0).unionByName(_split(pages, 4, 1)).unionByName(_split(pages, 4, 2))
    batch = _split(pages, 4, 3)
    assert batch.count() > 0 and base.count() > 0

    io = TableIO(str(tmp_path / "snaps"))
    base_res = run_pipeline(spark, base, io=io, cfg=CFG)
    inc_res = run_incremental(spark, batch, io, "b1", cfg=CFG)

    full = run_pipeline(spark, pages, cfg=CFG)
    assert _partition(inc_res.assigned) == _partition(full.assigned)

    # monotone: pages co-clustered in the base run stay co-clustered
    inc_parts = _partition(inc_res.assigned)
    containing = {}
    for part in inc_parts:
        for url in part:
            containing[url] = part
    for base_part in _partition(base_res.assigned):
        anchor = next(iter(base_part))
        assert base_part <= containing[anchor], base_part


def test_incremental_resumes_and_chains(spark, pages_small, tmp_path):
    pages = pages_small.drop("entity_id")
    base = _split(pages, 3, 0)
    b1 = _split(pages, 3, 1)
    b2 = _split(pages, 3, 2)

    io = TableIO(str(tmp_path / "snaps"))
    base_res = run_pipeline(spark, base, io=io, cfg=CFG)
    assert base_res.fingerprint is not None

    inc1 = run_incremental(spark, b1, io, "b1", cfg=CFG)
    assert inc1.resumed_stages == []
    assert inc1.fingerprint is not None and inc1.fingerprint != base_res.fingerprint

    # killed-and-rerun batch: every stage resumes from its committed snapshot
    rerun = run_incremental(spark, b1, io, "b1", cfg=CFG)
    assert set(rerun.resumed_stages) == {"blocked", "edges", "labels"}
    assert _partition(rerun.assigned) == _partition(inc1.assigned)

    # batch 2 chains on batch 1's committed state, not the base run's
    inc2 = run_incremental(spark, b2, io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint)
    full = run_pipeline(spark, pages, cfg=CFG)
    assert _partition(inc2.assigned) == _partition(full.assigned)


def test_killed_fold_keeps_block_overflow_metrics(spark, pages_small, tmp_path, monkeypatch):
    """A fold killed after its edges_delta commit (here: in the label
    stage) must not lose the edge stage's block-overflow rows. The stage
    writes them before it commits, so the resumed fold, which skips the
    edge stage, still has the same rows as a clean fold, and it writes
    the final frame."""
    import pytest

    from ai_data_matching_spark.operators import incremental

    cfg = PipelineConfig(best_match_only=False, max_block_size=4)
    pages = pages_small.drop("entity_id")
    base = _split(pages, 4, 0).unionByName(_split(pages, 4, 1))
    batch = _split(pages, 4, 2)
    root = tmp_path / "snaps"
    io = TableIO(str(root))
    run_pipeline(spark, base, io=io, cfg=cfg)

    class Boom(RuntimeError):
        pass

    def exploding(*a, **k):
        raise Boom()

    with monkeypatch.context() as m:
        m.setattr(incremental, "incremental_label_delta", exploding)
        with pytest.raises(Boom):
            incremental.fold_incremental(spark, batch, io, "b1", cfg=cfg)
    fold = incremental.fold_incremental(spark, batch, io, "b1", cfg=cfg)
    assert set(fold.resumed_stages) == {"blocked", "edges"}
    # the same batch folded cleanly onto the same prior state
    incremental.fold_incremental(spark, batch, io, "clean", cfg=cfg)

    def overflow(run_id):
        rows = spark.read.parquet(str(root / "_metrics" / "edges" / run_id)).collect()
        return sorted((r["metric"], r["key"], r["value"]) for r in rows)

    want = overflow("clean")
    assert want and {m for m, _, _ in want} == {"block_overflow"}
    assert overflow("b1") == want
    final = spark.read.parquet(str(root / "_metrics" / "final" / "b1"))
    assert final.filter(F.col("metric") == "edge_counts").count() == 2


def test_incremental_requires_committed_base(spark, pages_small, tmp_path):
    import pytest

    io = TableIO(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="no committed blocked snapshot"):
        run_incremental(spark, pages_small.drop("entity_id"), io, "b1", cfg=CFG)


def test_replayed_batch_is_noop_in_state(spark, pages_small, tmp_path):
    """Stream-crash replay semantics: re-folding an ALREADY-FOLDED batch
    onto its own committed state (crash after snapshot commit, before the
    stream checkpoint commit) must not change clusters OR counts — the
    url anti-join makes the replay a true no-op, so assigned/statistics
    never double-count (ADVICE r02, incremental.py _blocked_union)."""
    pages = pages_small.drop("entity_id")
    base = _split(pages, 3, 0).unionByName(_split(pages, 3, 1))
    batch = _split(pages, 3, 2)

    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, base, io=io, cfg=CFG)
    inc1 = run_incremental(spark, batch, io, "e1", cfg=CFG)
    n1 = inc1.assigned.count()

    # replay chains onto inc1's own state (different batch_id = the retry
    # epoch recomputes rather than resuming)
    replay = run_incremental(
        spark, batch, io, "e1-retry", cfg=CFG, prior_fingerprint=inc1.fingerprint
    )
    assert replay.assigned.count() == n1
    assert _partition(replay.assigned) == _partition(inc1.assigned)
    s1 = inc1.stats.collect()[0].asDict()
    s2 = replay.stats.collect()[0].asDict()
    assert s1 == s2
    # an all-replay fold emits no edges, and its final metric frame still
    # carries an edge_counts row per match type, written as 0 (ADVICE #3)
    rows = spark.read.parquet(
        str(tmp_path / "snaps" / "_metrics" / "final" / "e1-retry")
    ).collect()
    counts = {r["key"]: r["value"] for r in rows if r["metric"] == "edge_counts"}
    assert counts == {"exact": 0.0, "fuzzy": 0.0}


def test_recrawl_changed_content_updates_state(spark, tmp_path):
    """Content-aware ingest (ADVICE r03): a re-crawled url whose content
    CHANGED must replace its blocked row and be rescored (its new sketches
    reach edges/clusters); a byte-identical replay and a stale
    out-of-order older crawl are dropped; the per-batch ingest metric
    records all of it."""
    import datetime as dt

    import os

    def mk(url, day, body):
        html = f"<html><body><p>{body}</p></body></html>".encode()
        return (url, dt.datetime(2026, 1, 1) + dt.timedelta(days=day), html, None, "en")

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    body_a = "alpha beta gamma delta epsilon zeta eta theta"
    body_b = "one two three four five six seven eight nine"
    body_c = "totally different unrelated words appear here instead now"
    base = spark.createDataFrame(
        [
            mk("http://a.com/1", 0, body_a),
            mk("http://a.com/2", 0, body_a),   # exact pair with a.com/1
            mk("http://b.com/1", 0, body_b),
            mk("http://c.com/1", 0, body_c),
        ],
        schema,
    )
    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, base, io=io, cfg=CFG)

    batch = spark.createDataFrame(
        [
            mk("http://c.com/1", 10, body_b),  # re-crawl, CHANGED → matches b.com/1
            mk("http://a.com/1", 10, body_a),  # identical, NEWER → refresh (ts advances)
            mk("http://a.com/2", -5, body_c),  # OLDER crawl, changed → stale, dropped
            mk("http://d.com/1", 10, "brand new page never seen before today"),
        ],
        schema,
    )
    inc = run_incremental(spark, batch, io, "b1", cfg=CFG)

    # the changed c.com/1 was rescored with its NEW content → co-clustered
    # with b.com/1; the stale a.com/2 crawl did NOT break the exact pair
    parts = _partition(inc.assigned)
    containing = {u: p for p in parts for u in p}
    assert containing["http://c.com/1"] == containing["http://b.com/1"]
    assert containing["http://a.com/1"] == containing["http://a.com/2"]
    assert len(containing["http://d.com/1"]) == 1
    assert inc.assigned.count() == 5  # one row per url, no duplicates

    # the blocked state carries c.com/1's NEW content (simhash == b.com/1's)
    # — read through the state-view API (the fold commits a DELTA; the
    # full view is merge-on-read over the chain)
    blocked = io.read_state(spark, "blocked", inc.fingerprint)
    rows = {
        r["url"]: r for r in blocked.select("url", "simhash", "warc_ts").collect()
    }
    assert rows["http://c.com/1"]["simhash"] == rows["http://b.com/1"]["simhash"]
    # the refreshed a.com/1 advanced its stored warc_ts to the newer
    # identical crawl (day 10) — exactly one row for the url
    assert rows["http://a.com/1"]["warc_ts"].day == 11  # 2026-01-01 + 10d
    assert blocked.filter(F.col("url") == "http://a.com/1").count() == 1

    # the fold's final metric frame (ONE write per fold): long layout
    # (run_id, stage, metric, key, value), run_id = the batch id
    metric_path = os.path.join(str(tmp_path / "snaps"), "_metrics", "final", "b1")
    mrows = spark.read.parquet(metric_path).collect()
    assert all(r["run_id"] == "b1" and r["stage"] == "final" for r in mrows)
    m = {(r["metric"], r["key"]): r["value"] for r in mrows}
    # ingest: 4 batch urls → 1 new, 1 changed, 1 refreshed, 1 dropped
    assert m[("batch_ingest", "batch_urls")] == 4
    assert m[("batch_ingest", "new")] == 1
    assert m[("batch_ingest", "changed")] == 1
    assert m[("batch_ingest", "refresh")] == 1
    dropped = (
        m[("batch_ingest", "batch_urls")]
        - m[("batch_ingest", "new")]
        - m[("batch_ingest", "changed")]
        - m[("batch_ingest", "refresh")]
    )
    assert dropped == 1

    # per-batch match metrics are DELTA-scoped: counts + score histogram
    # of THIS batch's committed edge delta (never an O(history)
    # aggregation per fold); both must tie out against the delta snapshot
    delta_rec = io.last_committed("edges_delta", inc.fingerprint)
    edge_delta = spark.read.parquet(delta_rec["path"])
    n_delta = edge_delta.count()
    assert n_delta >= 1  # the changed c.com/1 rescored against b.com/1
    # the refreshed a.com/1 is metadata-only: its (identical-content)
    # block was NOT rescored, so no a.com edge appears in the delta
    assert (
        edge_delta.filter(
            F.col("src").contains("a.com") | F.col("dst").contains("a.com")
        ).count()
        == 0
    )
    edge_counts = sum(v for (metric, _k), v in m.items() if metric == "edge_counts")
    assert edge_counts == n_delta
    hist_total = sum(v for (metric, _k), v in m.items() if metric == "score_histogram")
    assert hist_total == n_delta


def test_refresh_advances_ts_so_out_of_order_older_crawl_stays_stale(spark, tmp_path):
    """Latest-crawl-wins across FOLDS, not just within one batch: a
    byte-identical re-crawl at a newer timestamp must advance the stored
    warc_ts (status 'refresh'). If it were dropped as a plain replay, a
    later fold delivering an out-of-order OLDER crawl with different
    content would compare against the stale stored timestamp, win, and
    silently diverge from a full recompute's max-struct latest-wins pick
    over all three crawls."""
    import datetime as dt

    def mk(url, day, body):
        html = f"<html><body><p>{body}</p></body></html>".encode()
        return (url, dt.datetime(2026, 1, 1) + dt.timedelta(days=day), html, None, "en")

    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    body_a = "alpha beta gamma delta epsilon zeta eta theta"
    body_b = "totally different unrelated words appear here instead now"
    base = spark.createDataFrame(
        [mk("http://u.com/1", 0, body_a), mk("http://v.com/1", 0, body_b)], schema
    )
    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, base, io=io, cfg=CFG)

    # fold 1: identical content at day 20 → refresh, stored ts advances
    inc1 = run_incremental(
        spark,
        spark.createDataFrame([mk("http://u.com/1", 20, body_a)], schema),
        io,
        "b1",
        cfg=CFG,
    )
    # fold 2: out-of-order older crawl (day 10) with CHANGED content —
    # the true latest crawl (day 20) showed body_a, so this must be
    # classified stale and dropped, exactly as a full recompute over all
    # three crawls would pick the day-20 row
    inc2 = run_incremental(
        spark,
        spark.createDataFrame([mk("http://u.com/1", 10, body_b)], schema),
        io,
        "b2",
        cfg=CFG,
        prior_fingerprint=inc1.fingerprint,
    )
    row = (
        io.read_state(spark, "blocked", inc2.fingerprint)
        .filter(F.col("url") == "http://u.com/1")
        .select("warc_ts", "norm_text")
        .collect()
    )
    assert len(row) == 1
    assert row[0]["warc_ts"].day == 21  # 2026-01-01 + 20d, not the day-10 crawl
    assert "alpha" in row[0]["norm_text"]  # content is still body_a


def test_gc_compacted_chain_still_resumes(spark, pages_small, tmp_path):
    """Snapshot retention: gc(keep_last=1) keeps the chain head; a killed
    re-run of the head batch still resumes from its snapshots, and the
    next batch still chains — while expired snapshot dirs are gone."""
    import os

    pages = pages_small.drop("entity_id")
    base = _split(pages, 4, 0)
    b1 = _split(pages, 4, 1)
    b2 = _split(pages, 4, 2)
    b3 = _split(pages, 4, 3)

    io = TableIO(str(tmp_path / "snaps"))
    base_res = run_pipeline(spark, base, io=io, cfg=CFG)
    inc1 = run_incremental(spark, b1, io, "b1", cfg=CFG)
    inc2 = run_incremental(spark, b2, io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint)

    # capture the resolved partition BEFORE gc: inc2.assigned is a lazy
    # plan over the delta chain, and expiring the chain's ancestry
    # invalidates pre-gc readers (same contract as Iceberg's
    # expireSnapshots) — the STORED state survives via compaction
    inc2_parts = _partition(inc2.assigned)
    dropped_paths = [
        rec["path"]
        for rec in io._read_manifest()
        if rec["fingerprint"] in (base_res.fingerprint, inc1.fingerprint)
    ]
    # gc COMPACTS the delta-backed head (full blocked/edges/labels
    # materialized at inc2's fingerprint) before expiring its ancestry —
    # without the session it would have to keep the ancestry instead
    report = io.gc(keep_last=1, spark=spark)
    assert set(report["compacted_stages"]) == {"blocked", "edges", "labels"}
    assert report["ancestry_kept"] == []
    assert report["chain_head"] == inc2.fingerprint
    assert inc2.fingerprint in report["kept_fingerprints"]
    assert report["dropped_records"] > 0
    for p in dropped_paths:
        assert not os.path.exists(p)

    # head batch re-run resumes entirely from kept snapshots
    rerun = run_incremental(
        spark, b2, io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint
    )
    assert set(rerun.resumed_stages) == {"blocked", "edges", "labels"}
    assert _partition(rerun.assigned) == inc2_parts

    # and the next batch chains on the compacted head
    inc3 = run_incremental(spark, b3, io, "b3", cfg=CFG, prior_fingerprint=inc2.fingerprint)
    full = run_pipeline(spark, pages, cfg=CFG)
    assert _partition(inc3.assigned) == _partition(full.assigned)


def test_delta_commits_are_batch_sized_and_compaction_bounds_chain(
    spark, pages_small, tmp_path, monkeypatch
):
    """The fold must never rewrite O(history) state: each batch commits
    blocked/edges/labels DELTAS sized by the batch, and the fold whose
    chain reaches ``COMPACT_EVERY`` deltas materializes full snapshots so
    the read chain resets (the merge-on-read + compaction contract)."""
    from ai_data_matching_spark.operators import incremental

    monkeypatch.setattr(incremental, "COMPACT_EVERY", 2)
    pages = pages_small.drop("entity_id")
    base = _split(pages, 4, 0).unionByName(_split(pages, 4, 1))
    b1 = _split(pages, 4, 2)
    b2 = _split(pages, 4, 3)

    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, base, io=io, cfg=CFG)
    inc1 = run_incremental(spark, b1, io, "b1", cfg=CFG)

    # batch 1: pure delta commits, sized by the batch — not the history
    d_rec = io.last_committed("blocked_delta", inc1.fingerprint)
    assert d_rec is not None and d_rec["kind"] == "delta"
    assert d_rec["row_count"] <= b1.count()
    assert io.last_committed("blocked", inc1.fingerprint) is None  # no full rewrite
    assert io.chain_length("blocked", inc1.fingerprint) == 1

    # batch 2 reaches COMPACT_EVERY: full snapshots land, chain resets
    inc2 = run_incremental(spark, b2, io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint)
    for stage in ("blocked", "edges", "labels"):
        full_rec = io.last_committed(stage, inc2.fingerprint)
        assert full_rec is not None and full_rec["kind"] == "full", stage
    assert io.chain_length("blocked", inc2.fingerprint) == 0

    # compacted state == what a full recompute resolves
    full = run_pipeline(spark, pages, cfg=CFG)
    assert _partition(inc2.assigned) == _partition(full.assigned)


def test_gc_without_session_keeps_delta_ancestry(spark, pages_small, tmp_path):
    """gc() with no SparkSession cannot compact, so it must KEEP the
    ancestry a kept delta chain needs — weaker retention, never a broken
    chain."""
    import os

    pages = pages_small.drop("entity_id")
    base = _split(pages, 3, 0)
    b1 = _split(pages, 3, 1)
    b2 = _split(pages, 3, 2)

    io = TableIO(str(tmp_path / "snaps"))
    base_res = run_pipeline(spark, base, io=io, cfg=CFG)
    inc1 = run_incremental(spark, b1, io, "b1", cfg=CFG)
    inc2 = run_incremental(spark, b2, io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint)

    report = io.gc(keep_last=1)  # no spark → no compaction possible
    assert set(report["ancestry_kept"]) == {base_res.fingerprint, inc1.fingerprint}
    assert report["compacted_stages"] == []

    # the head state is still fully reconstructible from disk
    blocked = io.read_state(spark, "blocked", inc2.fingerprint)
    assert blocked.count() == pages.count()
    for rec in io._read_manifest():
        assert os.path.exists(rec["path"]), rec["stage"]


def test_blocked_delta_plan_never_shuffles_history(spark, pages_small, tmp_path):
    """The fold's classify stage must keep the O(history) prior side
    scan-only: the re-crawl classification joins the batch against a
    broadcast-semi CUT of the prior blocked state (incremental.py
    _blocked_delta) — if the cut regresses, Spark plans a SortMergeJoin
    that re-shuffles the whole history's keys every fold. Pin the
    executed stage's plan: broadcast joins only, no sort-merge."""
    import io as _io
    from contextlib import redirect_stdout

    pages = pages_small.drop("entity_id")
    base = _split(pages, 3, 0).unionByName(_split(pages, 3, 1))
    batch = _split(pages, 3, 2)

    tio = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, base, io=tio, cfg=CFG)

    plans = {}
    orig_commit = tio.commit

    def commit(df, stage, fingerprint, extra=None):
        buf = _io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plans[stage] = buf.getvalue()
        return orig_commit(df, stage, fingerprint, extra=extra)

    tio.commit = commit
    run_incremental(spark, batch, tio, "b1", cfg=CFG)

    plan = plans["blocked_delta"]
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin LeftOuter" in plan, plan
    assert "BroadcastHashJoin LeftSemi" in plan, plan


def test_extra_input_columns_stay_out_of_blocked_state(spark, pages_small, tmp_path):
    """Input pages may carry columns of their own (``entity_id`` here, any
    column of a user's table in general). The committed ``blocked`` stage
    has one fixed layout, so the merge-on-read view over base + fold has
    exactly ``BLOCKED_COLS + norm_text_hash`` and the same rows as a run
    over the same pages without the extra column."""
    from ai_data_matching_spark.operators.blocking import BLOCKED_COLS
    from ai_data_matching_spark.operators.incremental import fold_incremental

    states = []
    for name, pages in (("extra", pages_small), ("plain", pages_small.drop("entity_id"))):
        io = TableIO(str(tmp_path / name))
        run_pipeline(spark, _split(pages, 3, 0).unionByName(_split(pages, 3, 1)), io=io, cfg=CFG)
        fold = fold_incremental(spark, _split(pages, 3, 2), io, "b1", cfg=CFG)
        states.append(io.read_state(spark, "blocked", fold.fingerprint))
    extra, plain = states
    assert extra.columns == BLOCKED_COLS + ["norm_text_hash"]
    assert extra.count() == plain.count() > 0
    assert extra.exceptAll(plain).count() == 0 and plain.exceptAll(extra).count() == 0


def test_gc_compacts_only_chain_boundary(spark, pages_small, tmp_path):
    """gc(spark=...) must rewrite full state ONLY for kept fingerprints
    whose delta chain exits the keep set — on a linear base→b1→b2→b3
    chain with keep_last=3, exactly ONE fingerprint (the oldest kept)
    compacts; the newer kept heads stay delta-backed and reconstruct
    through it. The previous form compacted every kept fingerprint:
    keep_last O(history) rewrites per gc instead of one."""
    pages = pages_small.drop("entity_id")
    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, _split(pages, 4, 0), io=io, cfg=CFG)
    inc1 = run_incremental(spark, _split(pages, 4, 1), io, "b1", cfg=CFG)
    inc2 = run_incremental(
        spark, _split(pages, 4, 2), io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint
    )
    inc3 = run_incremental(
        spark, _split(pages, 4, 3), io, "b3", cfg=CFG, prior_fingerprint=inc2.fingerprint
    )
    want = _partition(inc3.assigned)

    report = io.gc(keep_last=3, spark=spark)
    # one boundary fingerprint × three state stages — not 3 × 3
    assert sorted(report["compacted_stages"]) == ["blocked", "edges", "labels"]
    # the newer kept heads were NOT rewritten: their state records remain
    # delta-kind in the surviving manifest
    for fp in (inc2.fingerprint, inc3.fingerprint):
        for stage in ("blocked", "edges", "labels"):
            rec, is_delta = io.state_record(stage, fp)
            assert rec is not None and is_delta
    # and the head still reconstructs the same clustering after expiry
    from ai_data_matching_spark.operators.clustering import cluster_assignments

    labels = io.read_state(spark, "labels", inc3.fingerprint)
    blocked = io.read_state(spark, "blocked", inc3.fingerprint)
    assert _partition(cluster_assignments(blocked.select("url"), labels)) == want


def test_same_timestamp_recrawl_survivor_identity(spark, tmp_path):
    """Content ties at identical (warc_ts, lang, norm_domain) must
    resolve to the SAME survivor whether the two crawls arrive in one
    corpus or as base + fold — the shared rule is max by
    xxhash64(norm_text), the fold's slim classify key (the fold never
    reads history's norm_text, so a lexicographic-text rule on the
    corpus path could silently pick the other crawl)."""
    import datetime

    from pyspark.sql import functions as F

    # find two texts whose lexicographic and xxhash64 orders DISAGREE —
    # only such a pair exercises the divergence (fixed word list ⇒
    # deterministic pick)
    words = [f"alpha {w} crawl body" for w in (
        "ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen", "ibis", "jay"
    )]
    hashes = {
        r["t"]: r["h"]
        for r in spark.createDataFrame([(w,) for w in words], "t string")
        .select("t", F.xxhash64("t").alias("h"))
        .collect()
    }
    pair = next(
        (a, b)
        for a in words
        for b in words
        if a < b and hashes[a] > hashes[b]
    )
    lex_loser_hash_winner, lex_winner_hash_loser = pair

    ts = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc)
    mk = lambda body: spark.createDataFrame(  # noqa: E731
        [("https://tie.example.com/x", ts, f"<html><body>{body}</body></html>".encode(), None, "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    a, b = mk(pair[0]), mk(pair[1])

    def survivor(io_root: str, mode: str) -> str:
        io = TableIO(str(tmp_path / io_root))
        if mode == "corpus":
            res = run_pipeline(spark, a.unionByName(b), io=io, cfg=CFG)
            fp = res.fingerprint
        else:
            base, batch = (a, b) if mode == "fold_ab" else (b, a)
            run_pipeline(spark, base, io=io, cfg=CFG)
            fp = run_incremental(spark, batch, io, "b1", cfg=CFG).fingerprint
        rows = io.read_state(spark, "blocked", fp).select("url", "norm_text").collect()
        assert len(rows) == 1
        return rows[0]["norm_text"]

    winners = {
        survivor("corpus", "corpus"),
        survivor("fold_ab", "fold_ab"),
        survivor("fold_ba", "fold_ba"),
    }
    assert len(winners) == 1
    # and the shared rule is hash order, not lexicographic order
    assert pair[0] in winners.pop()


def test_chain_head_survives_gc_compaction(spark, pages_small, tmp_path):
    """gc-time compaction appends full records for an OLDER boundary
    fingerprint; chain-head detection (stream restart + gc's own keep
    anchor) must skip those rewrites or a restarted stream chains onto
    the boundary and silently orphans every newer fold."""
    from ai_data_matching_spark.streaming.resolve import latest_state_fingerprint

    pages = pages_small.drop("entity_id")
    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, _split(pages, 4, 0), io=io, cfg=CFG)
    inc1 = run_incremental(spark, _split(pages, 4, 1), io, "b1", cfg=CFG)
    inc2 = run_incremental(
        spark, _split(pages, 4, 2), io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint
    )
    # keep_last=2 keeps {b1, b2}: b1's chain exits the keep set (base is
    # expired) so b1 — an OLDER fingerprint than the head — is compacted
    report = io.gc(keep_last=2, spark=spark)
    assert report["compacted_stages"]  # an older boundary WAS rewritten
    assert report["chain_head"] == inc2.fingerprint
    assert latest_state_fingerprint(io) == inc2.fingerprint
    # a second gc anchors its keep window on the true head too
    report2 = io.gc(keep_last=1, spark=spark)
    assert report2["chain_head"] == inc2.fingerprint
    assert inc2.fingerprint in report2["kept_fingerprints"]


def test_ancestry_walks_every_stage_past_misaligned_fingerprint(
    spark, pages_small, tmp_path
):
    """A fingerprint can be full for 'blocked' but delta for 'edges' (a
    crash inside compact_state between its per-stage commits). gc
    without a session must still keep the edges/labels ancestry BEHIND
    it — a fingerprint-global memo truncated the later stages' walk
    there and expired snapshots the chain still needs."""
    pages = pages_small.drop("entity_id")
    io = TableIO(str(tmp_path / "snaps"))
    base = run_pipeline(spark, _split(pages, 4, 0), io=io, cfg=CFG)
    inc1 = run_incremental(spark, _split(pages, 4, 1), io, "b1", cfg=CFG)
    inc2 = run_incremental(
        spark, _split(pages, 4, 2), io, "b2", cfg=CFG, prior_fingerprint=inc1.fingerprint
    )
    # simulate the killed compact_state: full 'blocked' lands at inc1,
    # edges/labels stay delta there
    io.commit(
        io.read_state(spark, "blocked", inc1.fingerprint),
        "blocked",
        inc1.fingerprint,
        extra={"kind": "full", "compacted_from": "simulated-crash"},
    )
    want = _partition(inc2.assigned)
    report = io.gc(keep_last=1)  # no session → must KEEP needed ancestry
    # the edges chain behind inc1 (base fingerprint) must survive
    assert base.fingerprint in report["ancestry_kept"]
    edges = io.read_state(spark, "edges", inc2.fingerprint)
    assert edges is not None and edges.count() > 0
    labels = io.read_state(spark, "labels", inc2.fingerprint)
    blocked = io.read_state(spark, "blocked", inc2.fingerprint)
    from ai_data_matching_spark.operators.clustering import cluster_assignments

    assert _partition(cluster_assignments(blocked.select("url"), labels)) == want


def test_compaction_retry_completes_after_interleaved_gc(
    spark, pages_small, tmp_path, monkeypatch
):
    """A compaction fold killed inside compact_state, after its full
    'blocked' commit and before 'edges', must still commit full
    'edges'/'labels' on retry when gc ran in between: labels stays
    delta-backed, so the retry decides to compact again and
    compact_state skips the stage that is already full."""
    import pytest

    from ai_data_matching_spark.operators import incremental

    monkeypatch.setattr(incremental, "COMPACT_EVERY", 2)
    pages = pages_small.drop("entity_id")
    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, _split(pages, 4, 0), io=io, cfg=CFG)
    inc1 = run_incremental(spark, _split(pages, 4, 1), io, "b1", cfg=CFG)

    class Boom(RuntimeError):
        pass

    real_commit = TableIO.commit

    def commit(self, df, stage, fingerprint, extra=None):
        if stage == "edges":
            raise Boom()
        return real_commit(self, df, stage, fingerprint, extra)

    def fold():
        return incremental.fold_incremental(
            spark, _split(pages, 4, 2), io, "b2", cfg=CFG,
            prior_fingerprint=inc1.fingerprint,
        )

    with monkeypatch.context() as m:
        m.setattr(TableIO, "commit", commit)
        with pytest.raises(Boom):
            fold()
    fp = io._read_manifest()[-1]["fingerprint"]  # the full blocked commit
    assert [io.state_record(s, fp)[1] for s in ("blocked", "edges", "labels")] == [
        False, True, True
    ]
    io.gc(keep_last=1)
    retry = fold()
    assert retry.fingerprint == fp
    assert set(retry.resumed_stages) == {"blocked", "edges", "labels"}
    for stage in ("blocked", "edges", "labels"):
        rec, is_delta = io.state_record(stage, fp)
        assert rec is not None and not is_delta, stage
    assert io.read_state(spark, "blocked", fp).count() == (
        pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) < 3).count()
    )


def test_incremental_cc_equals_full_cc_on_random_fold_sequences(spark):
    """Property check behind the hand-picked shapes above: for random
    edge-batch sequences, folding batch-by-batch through the label delta
    applied over the prior must reproduce the full CC over the
    cumulative edge union AFTER EVERY FOLD — bridges, rep takeovers and
    self-loops arise here by chance rather than by construction, and a
    contraction bug that survives the directed cases (e.g. a rep-chain
    two merges deep) has many chances to surface."""
    import random

    from ai_data_matching_spark.operators.clustering import connected_components

    # mixed lexicographic ranges so merged-component reps regularly move
    # to a node introduced in a LATER fold (digit-prefixed sorts lowest)
    universe = [f"n{i:02d}" for i in range(18)] + [f"{i}x" for i in range(6)]
    as_map = lambda df: {r["url"]: r["component"] for r in df.collect()}  # noqa: E731

    for seed in (11, 23):
        rng = random.Random(seed)
        batches = [
            [tuple(rng.sample(universe, 2)) for _ in range(8)] for _ in range(3)
        ]
        mk = lambda b: spark.createDataFrame(b, "src string, dst string")  # noqa: E731
        prior, _ = connected_components(mk(batches[0]))
        seen = batches[0]
        for batch in batches[1:]:
            prior = _apply_label_delta(prior, mk(batch))
            seen = seen + batch
            full, _ = connected_components(mk(seen))
            assert as_map(prior) == as_map(full), f"seed={seed}"


def test_incremental_accepts_minimal_batch(spark, pages_small, tmp_path):
    """The docstring admits (url, warc_ts, html) without text/lang — a
    minimal batch must fold, with lang filled as a typed NULL (regression:
    the BLOCKED_COLS projection required lang unconditionally and raised
    mid-fold)."""
    pages = pages_small.drop("entity_id")
    base = _split(pages, 4, 0)
    batch = _split(pages, 4, 3).select("url", "warc_ts", "html")
    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, base, io=io, cfg=CFG)
    res = run_incremental(spark, batch, io, "minimal", cfg=CFG)
    assert res.assigned.filter(F.col("url").isNotNull()).count() > 0


def test_label_delta_driver_equals_distributed(spark):
    """The driver-side contraction path (``_label_delta_driver`` — used
    whenever the committed edge delta fits the CC small-graph gate) must
    produce the exact same label delta as the distributed shape, on
    random graphs including bridging/fresh/changed-rep mixes. The
    distributed shape runs with the edge count unknown and known past
    the gate. Its joins carry no broadcast hint: past the gate the
    would-be broadcast side is large, so Spark must size it itself."""
    import random

    from ai_data_matching_spark.operators.clustering import (
        DEFAULT_SMALL_GRAPH_EDGES,
        connected_components,
    )
    from ai_data_matching_spark.operators.incremental import incremental_label_delta

    as_rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    universe = [f"u{i:02d}" for i in range(20)] + [f"{i}f" for i in range(8)]
    for seed in (5, 17):
        rng = random.Random(seed)
        prior_edges = [tuple(rng.sample(universe[:20], 2)) for _ in range(10)]
        new_edges = [tuple(rng.sample(universe, 2)) for _ in range(12)]
        prior, _ = connected_components(
            spark.createDataFrame(prior_edges, "src string, dst string")
        )
        e = spark.createDataFrame(new_edges, "src string, dst string")
        drv, it_drv = incremental_label_delta(prior, e, n_new_edges=len(new_edges))
        assert it_drv == 0
        for n_new in (None, DEFAULT_SMALL_GRAPH_EDGES + 1):
            dist, _ = incremental_label_delta(prior, e, n_new_edges=n_new)
            plan = dist._jdf.queryExecution().analyzed().toString()
            assert "strategy=broadcast" not in plan, f"seed={seed} n={n_new}"
            assert as_rows(drv) == as_rows(dist), f"seed={seed} n={n_new}"


def test_fold_spark_job_budget(spark, pages_small, tmp_path):
    """Regression guard on the fold's size-invariant floor: pin the number
    of Spark jobs one fold launches — job-group counted, materialization
    of the assigned view included — so future bookkeeping can't silently
    re-add per-fold actions. Most jobs are AQE query-stage
    materializations and broadcast builds inside the three delta commits
    and the two metric writes; snapshot reads launch none (the
    schema comes from the manifest record). The bound is the measured
    count plus ~15% for AQE plan variance. A second fold one chain hop
    deeper may cost only the extra merge-on-read hop's jobs — in the
    fold's own reads and in the assigned view's blocked and labels
    chains; a snapshot read that went back to inferring its schema adds
    one job per read, and the reads grow with every hop."""
    pages = pages_small.drop("entity_id")
    base = _split(pages, 10, 1)
    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, base, io=io, cfg=CFG)
    sc = spark.sparkContext
    prior, jobs = None, []
    for depth in (1, 2):
        group = f"fold-job-budget-d{depth}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            res = run_incremental(
                spark, _split(pages, 10, 1 + depth), io, f"budget-{depth}",
                cfg=CFG, prior_fingerprint=prior,
            )
            res.assigned.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        prior = res.fingerprint
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    # measured at local[4], 8 shuffle partitions: 46 jobs at depth 1 and
    # 57 at depth 2, one of them the edge stage's eager block-overflow
    # write (47 / 58 with the overflow in the end-of-fold write and a
    # sorted score histogram; 59 / 76 when every snapshot read inferred
    # its schema); both bounds carry ~15% headroom
    assert 0 < jobs[0] <= 54, f"depth-1 fold launched {jobs[0]} Spark jobs (budget 54)"
    assert jobs[1] - jobs[0] <= 13, (
        f"depth-2 fold launched {jobs[1]} Spark jobs, {jobs[1] - jobs[0]} more "
        "than at depth 1 (budget 13 per extra hop)"
    )


def test_stream_fold_compacts_without_views(spark, pages_small, tmp_path, monkeypatch):
    """resolve_stream runs the commit-only fold, which never builds the
    full-state views — the compaction commits must not depend on them.
    On the fold whose chain reaches ``COMPACT_EVERY`` deltas (1 here, so
    the first fold) the stream still leaves full blocked / edges / labels
    snapshots beside the deltas, they hold the merge-on-read state, and
    the fold's fingerprint stays the chain head."""
    from ai_data_matching_spark.operators import incremental
    from ai_data_matching_spark.streaming import resolve

    monkeypatch.setattr(incremental, "COMPACT_EVERY", 1)
    pages = pages_small.drop("entity_id").select("url", "warc_ts", "html", "text", "lang")
    drops, ckpt = str(tmp_path / "drops"), str(tmp_path / "ckpt")
    io = TableIO(str(tmp_path / "snaps"))
    _split(pages, 4, 0).write.parquet(drops)
    resolve.resolve_stream(spark, drops, io, ckpt, cfg=CFG)
    boot = resolve.latest_state_fingerprint(io)
    _split(pages, 4, 1).write.mode("append").parquet(drops)
    resolve.resolve_stream(spark, drops, io, ckpt, cfg=CFG)
    fp = resolve.latest_state_fingerprint(io)
    assert fp != boot
    for stage in ("blocked", "edges", "labels"):
        rec, is_delta = io.state_record(stage, fp)
        assert not is_delta and rec["kind"] == "full", stage
        assert io.last_committed(stage + "_delta", fp) is not None, stage
    labels = io.read_snapshot(spark, io.last_committed("labels", fp))
    blocked = io.read_snapshot(spark, io.last_committed("blocked", fp))
    assert blocked.count() == pages.filter(F.pmod(F.xxhash64("url"), F.lit(4)) < 2).count()
    assert labels.join(blocked, "url", "left_anti").count() == 0
    # the compaction records are tagged compacted_from; the fold's own
    # labels_delta record still marks the head
    compacted = {r["fingerprint"] for r in io._read_manifest() if "compacted_from" in r}
    assert compacted == {fp}
    assert io.gc(keep_last=1)["chain_head"] == fp
