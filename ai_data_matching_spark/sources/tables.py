"""Snapshot table layer: commit / resume / lineage / metrics.

The north rule requires every stage to checkpoint with per-partition
lineage + metrics so a killed run resumes from the last committed
snapshot. Storage is a pluggable backend behind one commit/read/drop
seam:

* ``ParquetSnapshotBackend`` (sandbox default — no Iceberg runtime jar
  here): snapshots as parquet directories with an atomic JSON commit
  manifest:

      <root>/<stage>/<snapshot_id>/data.parquet      (the stage output)
      <root>/<stage>/<snapshot_id>/lineage.parquet   (per-partition rows)
      <root>/_commits.json                           (atomic rename commit)

* ``IcebergSnapshotBackend`` (cluster binding): snapshots as Iceberg
  tables via ``df.writeTo(ident).using("iceberg").createOrReplace()``,
  dropped on gc with ``DROP TABLE`` — requires an Iceberg catalog
  configured on the session (``spark.sql.catalog.<name>`` extensions),
  which this sandbox lacks, so its write path is exercised only by the
  skip-marked integration test while the ident/DDL wiring is unit-tested.

Each manifest record also carries ``schema`` — the committed frame's
Spark schema as ``df.schema.json()``. The parquet backend reads a
snapshot with that schema given (``spark.read.schema(...)``), so a read
is a plan and launches no Spark job; inferring it from the data files
costs one job per read, and a merge-on-read chain walk reads every hop.
This is the Iceberg contract, where the schema lives in table metadata,
never in the data files.

Each record also carries ``layout``, the ``SNAPSHOT_LAYOUT`` of the code
that committed it. ``TableIO.read_snapshot`` — the one read behind every
resume, chain walk and compaction — refuses a record from another layout
instead of patching columns inside the operators: state committed by
older code is rebuilt from a fresh table root, never migrated.

Metrics (base pipeline and fold alike) are long ``(run_id, stage,
metric, key, value)`` frames at ``_metrics/<stage>/<run_id>``; see
``TableIO.write_metrics``.

Either way, a snapshot is visible only once its manifest entry lands
(write-temp + os.replace = atomic on POSIX — same publish-on-commit
semantics as an Iceberg snapshot commit). Resume = read manifest, match
(stage, fingerprint), skip recompute. The fingerprint covers the stage's
config so a changed threshold invalidates downstream snapshots. The
manifest itself stays a root-path JSON file in both backends: Iceberg
provides table-level snapshot ids, but the cross-STAGE chain (which
fingerprint is the stream head, what config committed it) is this
layer's own metadata either way.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def config_fingerprint(payload: dict) -> str:
    return hashlib.sha256(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]


# The column layout of committed stages. Bump this whenever a committed
# stage's columns change: snapshots stamped with another value are refused
# on read (TableIO.read_snapshot).
SNAPSHOT_LAYOUT = 1


def merge_edge_sets(edges: DataFrame) -> DataFrame:
    """Dedup a union of edge sets under the monotone merge contract: the
    same UNDIRECTED pair keeps its best score, and 'exact' outranks
    'fuzzy' on a 1.0 score tie (a bare (score, match_type) struct would
    rank 'fuzzy' lexicographically above 'exact' and drift n_exact/
    n_fuzzy stats from the full-recompute labeling). Orientation is
    canonicalized (least, greatest) BEFORE the dedup: exact edges are
    committed member→min-rep (src > dst) while fuzzy edges are url_a <
    url_b, so one logical pair linked fuzzy in an early fold and exact
    in a later one (re-crawled content joining the group) arrives in
    BOTH orientations — a directed groupBy would keep both rows and
    double-count the pair in every match statistic. Every consumer
    (CC, consolidation, stats) is orientation-agnostic. This is the
    storage layer's edge-merge rule because delta-chain reads
    (``TableIO.read_state``) must apply it to reconstruct the state a
    full rewrite would have committed."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "score",
            "match_type",
        )
        .groupBy("src", "dst")
        .agg(
            F.max(
                F.struct(
                    F.col("score"),
                    (F.col("match_type") == "exact").cast("int").alias("_rk"),
                    F.col("match_type"),
                )
            ).alias("_m")
        )
        .select(
            "src",
            "dst",
            F.col("_m.score").alias("score"),
            F.col("_m.match_type").alias("match_type"),
        )
    )


def metric_part(metric: str, key, value, src: DataFrame) -> DataFrame:
    """One metric's long rows ``(metric, key, value)``, one per ``src``
    row: ``key`` cast to string, ``value`` to double — the part shape
    ``TableIO.write_metrics`` unions and writes."""
    return src.select(
        F.lit(metric).alias("metric"),
        key.cast("string").alias("key"),
        value.cast("double").alias("value"),
    )


class ParquetSnapshotBackend:
    """Default storage binding: parquet dirs under ``root`` (see module
    docstring). Locator field in manifest records: ``path``."""

    def __init__(self, root: str):
        self.root = root

    def write_snapshot(self, df: DataFrame, stage: str, snapshot_id: str) -> dict:
        path = os.path.join(self.root, stage, snapshot_id, "data.parquet")
        df.write.mode("overwrite").parquet(path)
        return {"path": path}

    def write_lineage(self, df: DataFrame, stage: str, snapshot_id: str) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.root, stage, snapshot_id, "lineage.parquet")
        )

    def snapshot_stats(self, locator: dict) -> list[int] | None:
        """Per-file row counts from the written snapshot's parquet FOOTERS —
        pure metadata, no Spark job. Returns None when the layout is not
        the expected part-file directory (commit falls back to the
        Spark-side lineage computation)."""
        try:
            import glob

            import pyarrow.parquet as pq

            files = sorted(glob.glob(os.path.join(locator["path"], "part-*.parquet")))
            if not files:
                return None
            return [pq.ParquetFile(f).metadata.num_rows for f in files]
        except Exception:
            return None

    def write_lineage_rows(
        self, per_part_rows: list[int], stage: str, snapshot_id: str
    ) -> None:
        """Write the lineage frame directly via pyarrow (same schema the
        Spark path produces: _part int, rows long, stage, snapshot_id) —
        no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "_part": pa.array(range(len(per_part_rows)), type=pa.int32()),
                "rows": pa.array(per_part_rows, type=pa.int64()),
                "stage": pa.array([stage] * len(per_part_rows)),
                "snapshot_id": pa.array([snapshot_id] * len(per_part_rows)),
            }
        )
        path = os.path.join(self.root, stage, snapshot_id, "lineage.parquet")
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))

    def read_snapshot(self, spark: SparkSession, rec: dict) -> DataFrame:
        schema = StructType.fromJson(json.loads(rec["schema"]))
        return spark.read.schema(schema).parquet(rec["path"])

    def drop_snapshot(self, rec: dict, spark: SparkSession | None = None) -> None:
        import shutil

        shutil.rmtree(os.path.dirname(rec["path"]), ignore_errors=True)

    def write_metric(self, df: DataFrame, stage: str, name: str) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.root, "_metrics", stage, name)
        )

    def prune_metrics(self, cutoff_ts: float) -> int:
        """Drop metric frames last written before ``cutoff_ts`` (epoch
        seconds); returns how many were dropped."""
        import shutil

        dropped = 0
        mroot = os.path.join(self.root, "_metrics")
        if not os.path.isdir(mroot):
            return 0
        for stage in os.listdir(mroot):
            sdir = os.path.join(mroot, stage)
            if not os.path.isdir(sdir):
                continue
            for name in os.listdir(sdir):
                mdir = os.path.join(sdir, name)
                if os.path.getmtime(mdir) < cutoff_ts:
                    shutil.rmtree(mdir, ignore_errors=True)
                    dropped += 1
        return dropped


class IcebergSnapshotBackend:
    """Cluster storage binding: one Iceberg table per stage snapshot.

    ``catalog`` must name a catalog configured on the SparkSession
    (e.g. ``spark.sql.catalog.prod = org.apache.iceberg.spark.SparkCatalog``
    + warehouse conf). Locator field in manifest records: ``table``.
    Construction takes the session because drops run SQL DDL (gc has no
    DataFrame in hand to recover one from).
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "er_snapshots"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace

    # -- ident plumbing (unit-testable without an Iceberg jar) -----------
    @staticmethod
    def _safe(part: str) -> str:
        """Caller-supplied segments (stage, metric run ids) go into
        UNQUOTED multipart identifiers — a hyphen or dot (e.g. a stream
        fold's run id 'epoch-3-1a2b3c4d') would raise a ParseException
        mid-fold. Map anything outside [A-Za-z0-9_] to '_'; the parquet
        backend accepts the raw name, so sanitizing here keeps both
        backends accepting the same run ids."""
        return re.sub(r"[^A-Za-z0-9_]", "_", part)

    def table_ident(self, stage: str, snapshot_id: str) -> str:
        return f"{self.catalog}.{self.namespace}.{self._safe(stage)}_{self._safe(snapshot_id)}"

    def lineage_ident(self, stage: str, snapshot_id: str) -> str:
        return self.table_ident(stage, snapshot_id) + "_lineage"

    def metric_ident(self, stage: str, name: str) -> str:
        return f"{self.catalog}.{self.namespace}._metrics_{self._safe(stage)}_{self._safe(name)}"

    def drop_ddl(self, ident: str) -> str:
        return f"DROP TABLE IF EXISTS {ident}"

    # -- storage ops ------------------------------------------------------
    def write_snapshot(self, df: DataFrame, stage: str, snapshot_id: str) -> dict:
        ident = self.table_ident(stage, snapshot_id)
        df.writeTo(ident).using("iceberg").createOrReplace()
        return {"table": ident}

    def write_lineage(self, df: DataFrame, stage: str, snapshot_id: str) -> None:
        df.writeTo(self.lineage_ident(stage, snapshot_id)).using("iceberg").createOrReplace()

    def read_snapshot(self, spark: SparkSession, rec: dict) -> DataFrame:
        return spark.read.table(rec["table"])

    def drop_snapshot(self, rec: dict, spark: SparkSession | None = None) -> None:
        s = spark or self.spark
        s.sql(self.drop_ddl(rec["table"]))
        s.sql(self.drop_ddl(rec["table"] + "_lineage"))

    def write_metric(self, df: DataFrame, stage: str, name: str) -> None:
        df.writeTo(self.metric_ident(stage, name)).using("iceberg").createOrReplace()

    def prune_metrics(self, cutoff_ts: float) -> int:
        """Drop metric tables whose latest Iceberg snapshot committed
        before ``cutoff_ts`` — age comes from the table's own
        ``.snapshots`` metadata, the Iceberg-native equivalent of the
        parquet backend's directory mtime."""
        dropped = 0
        tables = self.spark.sql(
            f"SHOW TABLES IN {self.catalog}.{self.namespace} LIKE '_metrics_*'"
        ).collect()
        for row in tables:
            ident = f"{self.catalog}.{self.namespace}.{row['tableName']}"
            last = self.spark.sql(
                f"SELECT max(committed_at) AS ts FROM {ident}.snapshots"
            ).collect()[0]["ts"]
            if last is not None and last.timestamp() < cutoff_ts:
                self.spark.sql(self.drop_ddl(ident))
                dropped += 1
        return dropped


class TableIO:
    def __init__(self, root: str, backend=None):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, "_commits.json")
        self.backend = backend if backend is not None else ParquetSnapshotBackend(root)

    # -- manifest ----------------------------------------------------------
    def _read_manifest(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return json.load(f)

    def _append_manifest(self, rec: dict) -> None:
        records = self._read_manifest()
        records.append(rec)
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(records, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic publish

    def last_committed(
        self, stage: str, fingerprint: str, records: list[dict] | None = None
    ) -> dict | None:
        """Newest manifest record for (stage, fingerprint). ``records``
        lets chain walkers (read_state, chain_length, _ancestry) parse
        the manifest ONCE per walk instead of once per hop — the
        manifest grows with every commit of a long-running stream, so
        per-hop re-parses are the wrong cost shape."""
        for rec in reversed(records if records is not None else self._read_manifest()):
            if rec["stage"] == stage and rec["fingerprint"] == fingerprint:
                return rec
        return None

    # -- commit / read -----------------------------------------------------
    def commit(
        self, df: DataFrame, stage: str, fingerprint: str, extra: dict | None = None
    ) -> DataFrame:
        """Write a stage output as a new snapshot with per-partition lineage,
        then publish it in the manifest. Returns the re-read (committed)
        frame so downstream stages read from stable storage — this also
        cuts lineage like a checkpoint. ``extra`` merges additional fields
        into the manifest record (e.g. ``cfg_fp``, the config fingerprint a
        restarted stream validates before chaining onto this state)."""
        snapshot_id = uuid.uuid4().hex[:12]
        locator = {
            **self.backend.write_snapshot(df, stage, snapshot_id),
            "schema": df.schema.json(),
        }

        spark = df.sparkSession
        committed = self.backend.read_snapshot(spark, locator)
        # lineage + row_count fast path: parquet footers are authoritative
        # per-file row counts and cost zero Spark jobs (the slow path below
        # re-reads the snapshot and runs TWO extra jobs per commit — a
        # measured ~2-4s of pure bookkeeping per incremental fold).
        stats = getattr(self.backend, "snapshot_stats", lambda loc: None)(locator)
        if stats is not None:
            self.backend.write_lineage_rows(stats, stage, snapshot_id)
            row_count = sum(stats)
            n_parts = len(stats)
        else:
            lineage = (
                committed.withColumn("_part", F.spark_partition_id())
                .groupBy("_part")
                .agg(F.count("*").alias("rows"))
                .withColumn("stage", F.lit(stage))
                .withColumn("snapshot_id", F.lit(snapshot_id))
            )
            self.backend.write_lineage(lineage, stage, snapshot_id)
            row_count = committed.count()
            n_parts = committed.rdd.getNumPartitions()
        self._append_manifest(
            {
                "stage": stage,
                "snapshot_id": snapshot_id,
                "fingerprint": fingerprint,
                "row_count": row_count,
                "n_partitions": n_parts,
                "committed_at": time.time(),
                "layout": SNAPSHOT_LAYOUT,
                **locator,
                **(extra or {}),
            }
        )
        return committed

    def read_snapshot(self, spark: SparkSession, rec: dict) -> DataFrame:
        """Read a committed snapshot; raises for a record committed under
        another ``SNAPSHOT_LAYOUT`` (older code) — its columns are not the
        ones the stages read."""
        if rec.get("layout") != SNAPSHOT_LAYOUT:
            raise ValueError(
                f"snapshot {rec['stage']} at {rec['fingerprint']} has layout "
                f"{rec.get('layout')}, this code reads layout {SNAPSHOT_LAYOUT}: "
                "use a fresh table root or re-run the base pipeline"
            )
        return self.backend.read_snapshot(spark, rec)

    # -- state views (delta chains / merge-on-read) --------------------------
    #
    # Incremental folds commit O(batch)-sized `<stage>_delta` snapshots
    # instead of rewriting the full O(history) state every batch (the
    # Iceberg merge-on-read shape). A delta record carries:
    #   prior — the fingerprint of the state it applies on top of
    #   kind  — "delta" (full snapshots may carry "full"; absent = full)
    # A logical stage's STATE at a fingerprint is reconstructed by walking
    # prior links back to the nearest full snapshot (the base pipeline run,
    # a compaction batch, or a gc-compacted head) and folding the deltas
    # forward. Merge semantics per stage:
    #   blocked / labels — url-keyed replacement (newest delta row wins)
    #   edges            — append, then one monotone max-struct dedup
    #                      (exact outranks fuzzy on a 1.0 score tie)

    def state_record(
        self, stage: str, fingerprint: str, records: list[dict] | None = None
    ) -> tuple[dict | None, bool]:
        """Newest record materializing ``stage`` at ``fingerprint``:
        (record, is_delta). A full snapshot supersedes a delta committed
        under the same fingerprint (compaction)."""
        if records is None:
            records = self._read_manifest()
        full = self.last_committed(stage, fingerprint, records)
        if full is not None:
            return full, False
        delta = self.last_committed(stage + "_delta", fingerprint, records)
        if delta is not None:
            return delta, True
        return None, False

    def chain_length(self, stage: str, fingerprint: str) -> int:
        """Number of delta hops from ``fingerprint`` back to the nearest
        full snapshot of ``stage`` (0 = full snapshot right here)."""
        n, fp = 0, fingerprint
        records = self._read_manifest()
        while True:
            rec, is_delta = self.state_record(stage, fp, records)
            if rec is None or not is_delta:
                return n
            n += 1
            fp = rec.get("prior")
            if fp is None:
                return n

    def chain_head(self) -> dict | None:
        """The newest ``labels``/``labels_delta`` record (the last stage a
        run commits: the most recent complete state), or None.

        Compaction records (``compacted_from``) are skipped: gc appends
        them last for an OLDER fingerprint, and a head moved there would
        let gc expire, and a restarted stream orphan, every newer fold. A
        fold that compacts its own head keeps its labels_delta record."""
        for rec in reversed(self._read_manifest()):
            if rec["stage"] in ("labels", "labels_delta") and rec.get("compacted_from") is None:
                return rec
        return None

    def read_state(
        self, spark: SparkSession, stage: str, fingerprint: str
    ) -> DataFrame | None:
        """The full state VIEW of a logical stage at a fingerprint —
        merge-on-read over the delta chain. None when nothing (full or
        delta) is committed at this fingerprint; raises when a delta's
        ancestry is missing (gc'd without compaction — gc prevents this
        by construction, see ``gc``)."""
        records = self._read_manifest()  # ONE parse for the whole chain walk
        df = self._read_state_raw(spark, stage, fingerprint, records)
        if df is not None and stage == "edges":
            # the max-struct dedup is only needed when a delta CHAIN was
            # unioned: a full head snapshot is already merged (compaction
            # commits the merged view; the base pipeline's edge set is
            # dup-free by construction — route_unmatched excludes pairs
            # the exact stage matched). Skipping it saves a full-edge-set
            # shuffle on every read of a compacted head.
            _, is_delta = self.state_record(stage, fingerprint, records)
            if is_delta:
                df = merge_edge_sets(df)
        return df

    def _read_state_raw(
        self,
        spark: SparkSession,
        stage: str,
        fingerprint: str,
        records: list[dict] | None = None,
    ) -> DataFrame | None:
        if records is None:
            records = self._read_manifest()
        rec, is_delta = self.state_record(stage, fingerprint, records)
        if rec is None:
            return None
        df = self.read_snapshot(spark, rec)
        if not is_delta:
            return df
        prior_fp = rec.get("prior")
        prior = (
            self._read_state_raw(spark, stage, prior_fp, records)
            if prior_fp is not None
            else None
        )
        if prior is None:
            raise ValueError(
                f"broken snapshot chain: {stage} delta at {fingerprint} needs "
                f"prior state {prior_fp}, which is not committed (expired "
                "ancestry?) — compact before expiring, or re-run the base "
                "pipeline"
            )
        # delta-only bookkeeping columns (_batch_status) drop out here
        delta = df.select(*prior.columns)
        if stage == "edges":
            return prior.unionByName(delta)
        # url-keyed replacement: the delta's urls supersede the prior's
        # rows (re-crawled content, relabeled components). The anti-join's
        # build side is the O(batch) delta key set — small enough that AQE
        # picks a broadcast from the committed parquet's size stats; not
        # forced, so an unusually large delta degrades to a shuffle join
        # instead of an OOM.
        return prior.join(delta.select("url"), "url", "left_anti").unionByName(delta)

    def read_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        fingerprint: str,
        compute,
        extra: dict | None = None,
    ) -> tuple[DataFrame, bool]:
        """Resume probe: return (df, was_resumed). ``compute`` is a thunk
        producing the stage DataFrame; it is only invoked when no committed
        snapshot matches (stage, fingerprint)."""
        rec = self.last_committed(stage, fingerprint)
        if rec is not None:
            return self.read_snapshot(spark, rec), True
        return self.commit(compute(), stage, fingerprint, extra=extra), False

    def write_metrics(self, run_id: str, stage: str, parts: list[DataFrame]) -> None:
        """Union ``parts`` (``metric_part`` frames) into ONE long frame
        ``(run_id, stage, metric, key, value)`` at ``_metrics/<stage>/<run_id>``
        (Iceberg: ``_metrics_<stage>_<run_id>``) — one Spark write.
        ``run_id`` is the config fingerprint of a base run and the batch id
        of a fold, so runs keep separate frames. A stage whose metrics
        exist only while it computes (block overflow) writes them under
        its own stage name; everything derived from committed output goes
        in one ``final`` frame, so a resumed run rewrites it unchanged."""
        self.backend.write_metric(
            functools.reduce(DataFrame.unionByName, parts).select(
                F.lit(run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                "metric",
                "key",
                "value",
            ),
            stage,
            run_id,
        )

    # -- retention ---------------------------------------------------------
    _STATE_STAGES = ("blocked", "edges", "labels")

    def _ancestry(self, fingerprints: set[str]) -> set[str]:
        """Fingerprints whose snapshots are REQUIRED to reconstruct the
        state views of ``fingerprints``: walk each delta chain back to
        its nearest full snapshot, PER STAGE. The dedup memo is per
        stage, never global: a fingerprint can be full for one stage but
        delta for another (a crash between compact_state's per-stage
        commits), and a global memo would truncate the still-delta
        stage's walk at it — expiring ancestry that stage still needs."""
        needed: set[str] = set()
        records = self._read_manifest()
        for stage in self._STATE_STAGES:
            seen: set[str] = set()  # same-stage chain suffixes are shared
            for fp in fingerprints:
                cur = fp
                while True:
                    rec, is_delta = self.state_record(stage, cur, records)
                    if rec is None or not is_delta:
                        break
                    cur = rec.get("prior")
                    if cur is None or cur in seen:
                        break
                    seen.add(cur)
                    needed.add(cur)
        return needed - fingerprints

    def compact_state(self, spark: SparkSession, fingerprint: str) -> list[str]:
        """Materialize full snapshots for every delta-backed state stage at
        ``fingerprint`` (merge-on-read → rewritten full state), making it
        self-contained so its ancestry can expire. Returns the stages
        compacted. Stages already full at ``fingerprint`` are skipped, so a
        call killed between its per-stage commits completes on the next.
        Its two callers: the fold, once its chain reaches
        ``incremental.COMPACT_EVERY`` deltas, and ``gc`` for a kept head
        whose ancestry would expire. Each record is tagged
        ``compacted_from`` and keeps the delta's ``cfg_fp``. The Iceberg
        analog is a rewrite_data_files compaction followed by
        expireSnapshots."""
        compacted = []
        for stage in self._STATE_STAGES:
            rec, is_delta = self.state_record(stage, fingerprint)
            if rec is None or not is_delta:
                continue
            view = self.read_state(spark, stage, fingerprint)
            self.commit(
                view,
                stage,
                fingerprint,
                extra={
                    "kind": "full",
                    "compacted_from": rec["snapshot_id"],
                    "cfg_fp": rec["cfg_fp"],
                },
            )
            compacted.append(stage)
        return compacted

    def gc(
        self,
        keep_last: int = 3,
        metrics_keep_days: float | None = None,
        spark: SparkSession | None = None,
    ) -> dict:
        """Expire old snapshots: keep the last ``keep_last`` fingerprints
        (by first-commit order) plus the chain head (``chain_head`` —
        what a restarted stream chains on).

        Without retention a continuous-ER deployment grows storage without
        bound: every epoch commits blocked/edges/labels snapshots forever.
        ``_metrics`` frames (per-epoch kilobyte-scale aggregates — counts
        and score histograms — whose history IS the observability record)
        are kept by default; pass ``metrics_keep_days`` to also prune
        metric frames older than that age, bounding the observability
        store for a long-running continuous-ER deployment. Metrics are
        write-once observability outputs, never read by resume, so
        pruning them can never invalidate a snapshot chain.

        Delta chains (incremental folds) add an invariant: a kept
        fingerprint's state must stay RECONSTRUCTIBLE. With ``spark``
        given, gc first compacts every kept delta-backed head into full
        snapshots (``compact_state``) so its ancestry can expire; without
        a session it cannot rewrite data, so it keeps the ancestry
        instead (reported as ``ancestry_kept``) — retention is weaker,
        never broken.

        Crash-safe ordering: the compacted manifest is PUBLISHED first
        (atomic os.replace), then dropped snapshot directories are
        deleted — a crash in between leaves orphan directories (harmless,
        re-collectable) rather than manifest records pointing at deleted
        data. Same publish-then-expire discipline as Iceberg's
        ``expireSnapshots``.
        """
        records = self._read_manifest()
        fps: list[str] = []
        for rec in records:
            if rec["fingerprint"] not in fps:
                fps.append(rec["fingerprint"])
        head_rec = self.chain_head()
        head = None if head_rec is None else head_rec["fingerprint"]
        keep = set(fps[-keep_last:]) if keep_last > 0 else set()
        if head is not None:
            keep.add(head)
        compacted_stages: list[str] = []
        if spark is not None:
            # Compact ONLY the kept fingerprints whose delta chain still
            # needs records OUTSIDE the keep set — a kept head whose chain
            # bottoms out inside `keep` (or at a full snapshot) stays
            # reconstructible after the expiry without an O(history)
            # rewrite. Walk in first-commit order: compacting the oldest
            # boundary head first turns it into the full-snapshot floor
            # the newer kept heads' ancestry walks then stop at, so a
            # linear chain pays ONE full-state rewrite per gc, not
            # keep_last of them.
            for fp in [f for f in fps if f in keep]:
                if self._ancestry({fp}) - keep:
                    compacted_stages.extend(self.compact_state(spark, fp))
            records = self._read_manifest()  # compaction appended records
        ancestry = self._ancestry(keep)
        keep |= ancestry
        kept = [r for r in records if r["fingerprint"] in keep]
        dropped = [r for r in records if r["fingerprint"] not in keep]

        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(kept, f, indent=1)
        os.replace(tmp, self._manifest_path)  # publish BEFORE deleting data
        for rec in dropped:
            self.backend.drop_snapshot(rec)

        metrics_dropped = 0
        if metrics_keep_days is not None:
            metrics_dropped = self.backend.prune_metrics(
                time.time() - metrics_keep_days * 86400.0
            )
        return {
            "kept_records": len(kept),
            "dropped_records": len(dropped),
            "kept_fingerprints": sorted(keep),
            "chain_head": head,
            "ancestry_kept": sorted(ancestry),
            "compacted_stages": compacted_stages,
            "metrics_dropped": metrics_dropped,
        }
