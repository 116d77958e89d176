"""Snapshot storage seam: TableIO routes every storage operation through
its backend (so an Iceberg deployment swaps one constructor argument),
the Iceberg adapter's ident/DDL plumbing is correct without needing the
runtime jar, and age-based metric retention prunes without breaking
resume."""

import os
import time

import pytest
from pyspark.sql import functions as F

from ai_data_matching_spark.sources.tables import (
    IcebergSnapshotBackend,
    ParquetSnapshotBackend,
    TableIO,
    metric_part,
)


def _count_part(df):
    return metric_part("n", F.lit("rows"), F.col("n"), df.agg(F.count("*").alias("n")))


def test_iceberg_ident_and_ddl_wiring():
    """Catalog/namespace plumbing — pure string contract, no JVM."""
    b = IcebergSnapshotBackend(spark=None, catalog="prod", namespace="er")
    assert b.table_ident("blocked", "abc123") == "prod.er.blocked_abc123"
    assert b.lineage_ident("blocked", "abc123") == "prod.er.blocked_abc123_lineage"
    assert b.metric_ident("final", "5e1e82589df6c10b") == "prod.er._metrics_final_5e1e82589df6c10b"
    assert b.drop_ddl("prod.er.blocked_abc123") == "DROP TABLE IF EXISTS prod.er.blocked_abc123"
    # default namespace
    assert IcebergSnapshotBackend(None, "c").table_ident("s", "i").startswith("c.er_snapshots.")
    # metric run ids with hyphens/dots (a stream fold's batch id) must not
    # produce an unparseable unquoted identifier
    assert (
        b.metric_ident("edges", "epoch-3-1a2b3c4d")
        == "prod.er._metrics_edges_epoch_3_1a2b3c4d"
    )
    assert b.metric_ident("final", "2026-08-19.b1") == "prod.er._metrics_final_2026_08_19_b1"


class RecordingBackend(ParquetSnapshotBackend):
    """Parquet storage with a call log — proves TableIO has no storage
    side channel around the seam."""

    def __init__(self, root):
        super().__init__(root)
        self.calls = []

    def write_snapshot(self, df, stage, snapshot_id):
        self.calls.append(("write_snapshot", stage))
        return super().write_snapshot(df, stage, snapshot_id)

    def write_lineage(self, df, stage, snapshot_id):
        self.calls.append(("write_lineage", stage))
        super().write_lineage(df, stage, snapshot_id)

    def write_lineage_rows(self, per_part_rows, stage, snapshot_id):
        # the footer fast path routes lineage through this seam instead of
        # write_lineage — record it under the same label: the invariant
        # under test is "lineage goes through the backend", not which of
        # the two entry points carried it
        self.calls.append(("write_lineage", stage))
        super().write_lineage_rows(per_part_rows, stage, snapshot_id)

    def read_snapshot(self, spark, rec):
        self.calls.append(("read_snapshot",))
        return super().read_snapshot(spark, rec)

    def drop_snapshot(self, rec, spark=None):
        self.calls.append(("drop_snapshot",))
        super().drop_snapshot(rec, spark)

    def write_metric(self, df, stage, name):
        self.calls.append(("write_metric", stage, name))
        super().write_metric(df, stage, name)

    def prune_metrics(self, cutoff_ts):
        self.calls.append(("prune_metrics",))
        return super().prune_metrics(cutoff_ts)


def test_tableio_routes_through_backend(spark, tmp_path):
    backend = RecordingBackend(str(tmp_path / "snaps"))
    io = TableIO(str(tmp_path / "snaps"), backend=backend)
    df = spark.range(10).withColumn("v", F.col("id") * 2)

    out, resumed = io.read_or_compute(spark, "labels", "fp1", lambda: df)
    assert not resumed and out.count() == 10
    assert ("write_snapshot", "labels") in backend.calls
    assert ("write_lineage", "labels") in backend.calls

    # resume reads through the backend, never recomputes
    out2, resumed2 = io.read_or_compute(spark, "labels", "fp1", lambda: 1 / 0)
    assert resumed2 and out2.count() == 10

    io.write_metrics("r1", "labels", [_count_part(df)])
    assert ("write_metric", "labels", "r1") in backend.calls

    io.read_or_compute(spark, "labels", "fp2", lambda: df)
    report = io.gc(keep_last=1, metrics_keep_days=365)
    assert ("drop_snapshot",) in backend.calls
    assert ("prune_metrics",) in backend.calls
    assert report["dropped_records"] == 1 and report["metrics_dropped"] == 0


def test_gc_metrics_age_prune_keeps_resume(spark, tmp_path):
    """Pruned metric frames must not affect the snapshot chain: resume
    still works, recent metrics survive, old ones are gone."""
    root = str(tmp_path / "snaps")
    io = TableIO(root)
    df = spark.range(5)
    io.read_or_compute(spark, "labels", "fp1", lambda: df)
    io.write_metrics("old_epoch", "final", [_count_part(df)])
    io.write_metrics("new_epoch", "final", [_count_part(df)])

    old_dir = os.path.join(root, "_metrics", "final", "old_epoch")
    backdate = time.time() - 40 * 86400
    os.utime(old_dir, (backdate, backdate))

    report = io.gc(keep_last=5, metrics_keep_days=30)
    assert report["metrics_dropped"] == 1
    assert not os.path.exists(old_dir)
    assert spark.read.parquet(
        os.path.join(root, "_metrics", "final", "new_epoch")
    ).collect()[0]["value"] == 5

    out, resumed = io.read_or_compute(spark, "labels", "fp1", lambda: 1 / 0)
    assert resumed and out.count() == 5


@pytest.mark.skipif(
    "ICEBERG_CATALOG" not in os.environ,
    reason="no Iceberg runtime jar / catalog in this sandbox — set "
    "ICEBERG_CATALOG to a configured catalog name to run the real write path",
)
def test_iceberg_backend_write_read_drop(spark, tmp_path):
    """Real-catalog integration: commit/resume/gc through Iceberg tables.
    Runs only where spark.sql.catalog.$ICEBERG_CATALOG is configured."""
    backend = IcebergSnapshotBackend(spark, os.environ["ICEBERG_CATALOG"])
    io = TableIO(str(tmp_path / "manifest"), backend=backend)
    df = spark.range(10)
    out, resumed = io.read_or_compute(spark, "labels", "fp1", lambda: df)
    assert not resumed and out.count() == 10
    out2, resumed2 = io.read_or_compute(spark, "labels", "fp1", lambda: 1 / 0)
    assert resumed2 and out2.count() == 10
    io.read_or_compute(spark, "labels", "fp2", lambda: df)
    report = io.gc(keep_last=1)
    assert report["dropped_records"] == 1


def test_merge_edge_sets_collapses_opposite_orientations(spark):
    """Exact edges are committed member->min-rep (src > dst) while fuzzy
    edges are url_a < url_b: one logical pair linked fuzzy in an early
    fold and exact in a later one arrives in BOTH orientations, and a
    directed dedup would double-count it in every match statistic."""
    from ai_data_matching_spark.sources.tables import merge_edge_sets

    edges = spark.createDataFrame(
        [
            ("a.com/1", "b.com/2", 0.97, "fuzzy"),   # fuzzy orientation
            ("b.com/2", "a.com/1", 1.0, "exact"),    # later exact, reversed
            ("c.com/3", "c.com/4", 0.91, "fuzzy"),   # untouched pair
        ],
        "src string, dst string, score double, match_type string",
    )
    rows = {
        (r["src"], r["dst"]): (r["score"], r["match_type"])
        for r in merge_edge_sets(edges).collect()
    }
    assert rows == {
        ("a.com/1", "b.com/2"): (1.0, "exact"),
        ("c.com/3", "c.com/4"): (0.91, "fuzzy"),
    }


def test_merge_edge_sets_random_orientations_property(spark):
    """Property form of the directed case above: for random edge
    multisets (random orientation, score, type, duplicates), the merge
    must emit exactly one canonical (least, greatest) row per undirected
    pair carrying the max (score, exact-beats-fuzzy) — computed here
    independently in plain Python."""
    import random

    from ai_data_matching_spark.sources.tables import merge_edge_sets

    nodes = [f"u{i}" for i in range(6)]
    for seed in (3, 17, 42):
        rng = random.Random(seed)
        rows = []
        for _ in range(40):
            a, b = rng.sample(nodes, 2)
            score = rng.choice([0.85, 0.91, 0.97, 1.0])
            mt = rng.choice(["exact", "fuzzy"]) if score == 1.0 else "fuzzy"
            rows.append((a, b, score, mt))
        expected: dict[tuple, tuple] = {}
        for a, b, score, mt in rows:
            key = (min(a, b), max(a, b))
            cand = (score, mt == "exact")
            if key not in expected or cand > expected[key]:
                expected[key] = cand
        got = {
            (r["src"], r["dst"]): (r["score"], r["match_type"] == "exact")
            for r in merge_edge_sets(
                spark.createDataFrame(
                    rows, "src string, dst string, score double, match_type string"
                )
            ).collect()
        }
        assert got == expected, f"seed={seed}"


def _depth2_chain(spark, io):
    """Labels and edges committed as a full snapshot at fp0 plus two
    delta hops (fp1, fp2): read_state at fp2 walks the chain."""
    labels = [
        [("a", "a"), ("b", "a"), ("c", "c")],
        [("c", "a"), ("d", "d")],
        [("e", "d")],
    ]
    edges = [
        [("b", "a", 1.0, "exact")],
        [("a", "c", 0.9, "fuzzy")],
        [("c", "a", 1.0, "exact"), ("d", "e", 0.8, "fuzzy")],
    ]
    prior = None
    for i, (lab, edg) in enumerate(zip(labels, edges)):
        extra = None if prior is None else {"prior": prior, "kind": "delta"}
        suffix = "" if prior is None else "_delta"
        io.commit(
            spark.createDataFrame(lab, "url string, component string"),
            "labels" + suffix, f"fp{i}", extra=extra,
        )
        io.commit(
            spark.createDataFrame(edg, "src string, dst string, score double, match_type string"),
            "edges" + suffix, f"fp{i}", extra=extra,
        )
        prior = f"fp{i}"


def test_read_state_chain_launches_no_spark_job(spark, tmp_path):
    """Commit records the frame's schema, so a merge-on-read over a
    depth-2 chain is pure planning — zero Spark jobs, counted by job
    group — and its schema equals what inferring from the files gives."""
    io = TableIO(str(tmp_path / "snaps"))
    _depth2_chain(spark, io)
    sc = spark.sparkContext
    group = "read-state-no-jobs"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        views = {s: io.read_state(spark, s, "fp2") for s in ("labels", "edges")}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    for stage, view in views.items():
        rec, is_delta = io.state_record(stage, "fp2")
        assert is_delta and "schema" in rec
        assert view.schema == spark.read.parquet(rec["path"]).schema, stage
    assert {(r["url"], r["component"]) for r in views["labels"].collect()} == {
        ("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
    }
