"""Incremental entity resolution: fold a batch of NEW pages into a prior
committed run without regenerating or rescoring old-old pairs.

A web-scale corpus is append-mostly: each crawl adds a slice while the
resolved history (blocked sketches + pair graph) is already committed as
snapshots (sources/tables.TableIO — the engine's Iceberg-contract
checkpoint layer). Re-running the full pipeline over history ∪ batch
re-scores O(history) pairs to add O(batch) new ones. This module scores
only pairs that TOUCH the new batch:

* blocking — the batch is sketched with the same fused Arrow kernel and
  classified against the committed state BY CONTENT: older-or-equal
  byte-identical replays are dropped (no-op), NEWER byte-identical
  re-crawls refresh the stored metadata (warc_ts advances, no rescore),
  re-crawls with changed content REPLACE the prior row (latest crawl
  wins) and are rescored, stale out-of-order crawls are dropped;
  everything kept is unioned with the surviving prior ``blocked``
  snapshot under an ``_is_new`` flag (False for refreshes). Hot-key
  (skew) exclusion is computed over the UNION block sizes, i.e. the
  same cap decisions a full recompute over history ∪ batch would make
  for the new pairs. Per-batch ingest counts (new / changed /
  refreshed / dropped) ride the fold's one ``final`` metric frame
  (``_metrics/final/<batch_id>``, ``TableIO.write_metrics``).
* candidate generation — ``blocking.candidate_pairs`` over the flagged
  union: the ``_is_new`` column cuts the exploded keys to the batch's
  keys and joins new rows against all rows, so old-old pairs are never
  materialized (url_a < url_b contract, the base pipeline's code path).
* exact phase — ``blocking.exact_match_edges`` over the same union: the
  ``_is_new`` column cuts it to the (norm_domain, simhash) groups that
  gained ≥1 new member, which re-emit star edges for ALL their members
  → union-group rep, so a new page joining a previously-singleton group
  links the old member too.
* clustering — connected components over prior edges ∪ new edges. Edges
  are only ever ADDED, so incremental clustering is monotone: pages
  co-clustered before stay co-clustered after (the standard contract
  for incremental ER). With ``best_match_only=False`` and no block
  crossing the size cap between runs, the result is EXACTLY the full
  recompute's clustering (tests/test_incremental.py asserts equality).
  With top-1 edge selection the per-batch argmax can keep a different
  (never a missing) edge than the global argmax would — documented
  divergence, clusters only coarsen.

Each batch commits ``blocked_delta`` / ``edges_delta`` /
``labels_delta`` snapshots under a batch-derived fingerprint — each
O(batch / touched), never a rewrite of the O(history) state. The full
state view is reconstructed on read by folding the delta chain over the
nearest full snapshot (``TableIO.read_state`` — the Iceberg
merge-on-read shape). Once the chain reaches ``COMPACT_EVERY`` deltas the
fold compacts its head through ``TableIO.compact_state`` (the same
rewrite gc uses), so the read chain stays bounded and gc can expire
ancestry. A killed incremental run resumes per stage exactly like the
base pipeline, and the next batch chains on this batch's committed
state.
"""

from __future__ import annotations

from dataclasses import asdict
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist_tracked
from ..pipeline import PipelineConfig, PipelineResult
from ..sources.tables import TableIO, config_fingerprint, metric_part
from .blocking import (
    BLOCKED_COLS,
    candidate_pairs,
    exact_match_edges,
    latest_crawl_wins,
    route_unmatched,
    with_extract_sketch_keys,
)
from .clustering import (
    DEFAULT_SMALL_GRAPH_EDGES,
    cluster_assignments,
    connected_components,
)
from .consolidate import consolidate_clusters, match_statistics
from .scoring import fuzzy_match_edges, score_pairs, union_edges

# A fold whose state sits this many deltas above the nearest full
# snapshot compacts it (TableIO.compact_state).
COMPACT_EVERY = 8


def _label_delta_driver(
    prior_labels: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Driver-side contraction + union-find for label deltas whose edge
    set fits the CC small-graph gate (the overwhelmingly common fold
    shape — the committed edge delta is O(batch)).

    The distributed form pays ~5 fixed-latency units per fold (two
    broadcast builds for the endpoint maps, the CC gate probe, the CC
    collect, plus persists) to produce a result that the hybrid CC would
    collect to the driver anyway. This path collects ONCE each: the
    O(delta) edge list and the prior labels cut to its endpoint set
    (broadcast semi-join — the prior is scanned, never shuffled), then
    does contraction, node-origin flags, and union-find in
    pyarrow/numpy (the exact kernel the CC small-graph path runs —
    ``clustering.union_find_arrow_table`` — so labels are
    bit-identical), and ships back one tiny broadcast for the
    changed-row scan. Driver memory is bounded by the same
    ``DEFAULT_SMALL_GRAPH_EDGES`` gate CC uses."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .clustering import union_find_arrow_table

    spark = new_edges.sparkSession
    e_tbl = new_edges.select("src", "dst").toArrow()
    empty = spark.createDataFrame([], "url string, component string")
    if e_tbl.num_rows == 0:
        return empty
    src = e_tbl.column("src").combine_chunks()
    dst = e_tbl.column("dst").combine_chunks()
    ends = pc.unique(pa.concat_arrays([src, dst]))
    ends_df = spark.createDataFrame(pa.table({"url": ends}), schema="url string")
    t_tbl = (
        prior_labels.join(F.broadcast(ends_df), "url", "left_semi")
        .select("url", "component")
        .toArrow()
    )
    t_urls = t_tbl.column("url").combine_chunks()
    t_comp = t_tbl.column("component").combine_chunks()
    idx_s = pc.index_in(src, value_set=t_urls)
    idx_d = pc.index_in(dst, value_set=t_urls)
    src_m = pc.coalesce(pc.take(t_comp, idx_s), src)
    dst_m = pc.coalesce(pc.take(t_comp, idx_d), dst)
    src_prior = pc.is_valid(idx_s)
    dst_prior = pc.is_valid(idx_d)
    keep = pc.invert(pc.equal(src_m, dst_m))
    contracted = pa.table(
        {"src": pc.filter(src_m, keep), "dst": pc.filter(dst_m, keep)}
    )
    labels = union_find_arrow_table(contracted)
    if labels is None:
        return empty
    l_urls = labels.column("url").combine_chunks()
    l_comp = labels.column("component").combine_chunks()
    # node-origin flags: a contracted node is either a prior component
    # rep or a brand-new url — decided by the contraction join itself
    fresh_nodes = pc.unique(
        pa.concat_arrays(
            [
                pc.filter(src_m, pc.invert(src_prior)),
                pc.filter(dst_m, pc.invert(dst_prior)),
            ]
        )
    )
    in_fresh = pc.is_valid(pc.index_in(l_urls, value_set=fresh_nodes))
    fresh_tbl = pa.table(
        {"url": pc.filter(l_urls, in_fresh), "component": pc.filter(l_comp, in_fresh)}
    )
    # changed reps: prior-origin nodes whose component id actually moved
    rep_moved = pc.and_(pc.invert(in_fresh), pc.invert(pc.equal(l_urls, l_comp)))
    reps_tbl = pa.table(
        {"_rep": pc.filter(l_urls, rep_moved), "_nc": pc.filter(l_comp, rep_moved)}
    )
    changed = (
        prior_labels.join(
            F.broadcast(
                spark.createDataFrame(reps_tbl, schema="_rep string, _nc string")
            ),
            prior_labels["component"] == F.col("_rep"),
        )
        .select("url", F.col("_nc").alias("component"))
    )
    fresh = (
        spark.createDataFrame(fresh_tbl, schema="url string, component string")
        if fresh_tbl.num_rows
        else empty
    )
    return changed.unionByName(fresh)


def incremental_label_delta(
    prior_labels: DataFrame,
    new_edges: DataFrame,
    n_new_edges: int | None = None,
) -> tuple[DataFrame, int]:
    """The label DELTA the new edges induce on the prior clustering —
    exactly the rows a full recompute would label differently, plus the
    brand-new urls — computed without re-walking the prior edge set.

    Edges are only ever added (the monotone contract), so the prior
    components can be CONTRACTED to single nodes: map each new edge's
    endpoints through the prior labels (urls absent from the prior keep
    themselves), drop the self-loops (edges inside one prior component),
    and run CC on what remains — a graph of O(new edges) size whose node
    ids are prior component reps and brand-new urls. Because a component
    rep IS the component's min url, the contracted CC's min-rep result
    equals the min url of the merged component, so the delta (changed
    prior rows + fresh urls) applied over the prior labels reproduces the
    full recompute's labels bit-for-bit (tests/test_incremental.py
    asserts the equality end-to-end).

    The delta is O(touched components + new urls) — it is what the fold
    COMMITS (``labels_delta`` snapshot); the full label view is
    reconstructed on read (TableIO.read_state url-replacement merge).

    Cost shape (r05 rewrite): the prior labels are SCANNED, never
    SHUFFLED. The old form outer-joined the O(delta) edges against the
    full prior labels — a left-outer join whose big side is on the right
    cannot broadcast, so Spark sort-merge-shuffled the whole history's
    labels per fold, twice (src + dst), and the fresh-node anti-join
    shuffled it a third time. Now the prior side is first cut to the
    edge-endpoint url set with one semi-join (O(delta) output, persisted
    once for both sides), the endpoint joins read that slim cut, and
    fresh nodes come from the join's own null-ness flags (a url absent
    from the prior keeps itself — so whether a contracted NODE is a
    prior component rep or a brand-new url is already decided during
    contraction, no history anti-join needed). The one remaining
    O(history) touch is the changed-row scan against the contracted
    result — irreducible, it defines the delta. The joins carry no
    broadcast hint: this path runs when the delta is past the
    small-graph gate (or of unknown size), where a forced broadcast
    would bypass autoBroadcastJoinThreshold and pull a large side onto
    the driver; Spark still broadcasts whichever side its (AQE runtime)
    size estimate says is small.

    When the caller knows the edge-delta row count (``n_new_edges`` —
    the fold reads it from the committed snapshot's manifest record, so
    it costs zero jobs) and it fits the CC small-graph gate, the whole
    contraction runs driver-side in one pass (``_label_delta_driver``)
    — same labels, ~5 fewer fixed-latency Spark rounds per fold. The
    distributed shape below is the scale path (and the fallback when
    the count is unknown); tests pin both paths equal.
    """
    if n_new_edges is not None and 0 <= n_new_edges <= DEFAULT_SMALL_GRAPH_EDGES:
        return _label_delta_driver(prior_labels, new_edges), 0
    e = new_edges.select("src", "dst")
    ends = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .dropDuplicates()
    )
    # persisted: pl_src and pl_dst below both join this cut — without the
    # persist each join side re-scans the full prior labels
    touched = persist_tracked(prior_labels.join(ends, "url", "left_semi"))
    pl_src = touched.select(F.col("url").alias("src"), F.col("component").alias("_c_src"))
    pl_dst = touched.select(F.col("url").alias("dst"), F.col("component").alias("_c_dst"))
    # persisted: feeds BOTH the CC edge list and the node-origin flags
    contracted_tagged = persist_tracked(
        e.join(pl_src, "src", "left")
        .join(pl_dst, "dst", "left")
        .select(
            F.coalesce("_c_src", "src").alias("src"),
            F.col("_c_src").isNotNull().alias("_src_prior"),
            F.coalesce("_c_dst", "dst").alias("dst"),
            F.col("_c_dst").isNotNull().alias("_dst_prior"),
        )
    )
    # node → came-from-prior flag; consistent per node (a url either has a
    # prior label row or it doesn't), O(delta) rows
    node_flags = (
        contracted_tagged.select(F.col("src").alias("url"), F.col("_src_prior").alias("_prior"))
        .unionByName(
            contracted_tagged.select(F.col("dst").alias("url"), F.col("_dst_prior").alias("_prior"))
        )
        .dropDuplicates()
    )
    contracted = contracted_tagged.select("src", "dst").filter(F.col("src") != F.col("dst"))
    c_labels, iters = connected_components(contracted)
    # consumed twice (changed-row join + fresh-node semi-join) and tiny —
    # O(touched components + new urls)
    c_labels = persist_tracked(c_labels)
    changed = (
        prior_labels.join(
            c_labels.select(F.col("url").alias("_rep"), F.col("component").alias("_nc")),
            prior_labels["component"] == F.col("_rep"),
        )
        # a touched component whose rep stays its own min is unchanged —
        # only rows whose component id actually moves belong in the delta
        .filter(F.col("_nc") != F.col("component"))
        .select("url", F.col("_nc").alias("component"))
    )
    fresh = c_labels.join(
        node_flags.filter(~F.col("_prior")).select("url"),
        "url",
        "left_semi",
    )
    return changed.unionByName(fresh.select("url", "component")), iters


class FoldCommit(NamedTuple):
    """What a commit-only fold leaves behind: the fingerprint its state is
    committed under (the next fold's ``prior_fingerprint``), the logical
    stages resumed from an earlier attempt, and the contracted CC's
    iteration count (0 on the driver path or a resumed label stage)."""

    fingerprint: str
    resumed_stages: list[str]
    cc_iterations: int


def fold_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    io: TableIO,
    batch_id: str,
    cfg: PipelineConfig | None = None,
    prior_fingerprint: str | None = None,
) -> FoldCommit:
    """Resolve ``new_pages`` (url, warc_ts, html[, text, lang]) against the
    prior committed run and commit the state DELTA — commits only: no
    full-state view is built (``run_incremental`` adds those).

    ``prior_fingerprint`` identifies the state to chain on: the base
    pipeline's config fingerprint for the first batch, or a previous
    batch's returned fingerprint (``config_fingerprint`` of cfg+batch)
    for later ones. Commits ``blocked_delta`` / ``edges_delta`` /
    ``labels_delta`` snapshots under this batch's fingerprint — each
    O(batch∕touched), never a rewrite of the O(history) state (the
    Iceberg merge-on-read shape; TableIO.read_state reconstructs the
    full view by folding the delta chain over the nearest full
    snapshot). When the chain at this fingerprint reaches
    ``COMPACT_EVERY`` deltas, the fold ends with
    ``TableIO.compact_state``, which commits full ``blocked`` / ``edges``
    / ``labels`` snapshots beside the deltas, bounding the read chain and
    letting gc expire ancestry. The run is resumable per stage and the
    next batch chains on its fingerprint either way.
    """
    cfg = cfg or PipelineConfig()
    cfg_fp = config_fingerprint(asdict(cfg))
    base_fp = prior_fingerprint or cfg_fp
    fp = config_fingerprint({"cfg": asdict(cfg), "batch": batch_id, "prior": base_fp})
    resumed: list[str] = []

    delta_extra = {"cfg_fp": cfg_fp, "prior": base_fp, "kind": "delta"}

    # Prior state views are read LAZILY: a stage that resumes from its own
    # committed snapshot never touches them — so a killed head-batch retry
    # still resumes after gc() compacted the head and expired its
    # ancestry. Only an actual recompute requires the prior state and
    # fails loudly without it.
    def _prior(stage_name: str) -> DataFrame:
        df = io.read_state(spark, stage_name, base_fp)
        if df is None:
            raise ValueError(
                f"no committed {stage_name} snapshot for fingerprint {base_fp}; "
                "run the base pipeline with this TableIO first (or the prior "
                "state was gc-expired — a recompute of this batch needs it)"
            )
        return df

    def stage_delta(name: str, compute) -> DataFrame:
        """Commit/resume the O(batch) delta for logical stage ``name``;
        ``resumed_stages`` reports the LOGICAL name either way."""
        df, was_resumed = io.read_or_compute(
            spark, name + "_delta", fp, compute, extra=delta_extra
        )
        if was_resumed:
            resumed.append(name)
        return df

    # batch sketching: same fused kernel + key derivation as the pipeline.
    # Incoming rows are classified against the committed state by CONTENT,
    # not just url (ADVICE r03 — a url-only anti-join silently dropped
    # re-crawled pages whose content changed, so their new sketches never
    # updated edges/clusters):
    #   * url absent from state                        → 'new'
    #   * url present, identical norm_text+simhash, crawl older-or-equal
    #     → replay, dropped (true no-op: a replayed epoch — crash between
    #     the snapshot manifest commit and the stream checkpoint commit —
    #     never double-counts assigned/clusters/match_statistics)
    #   * url present, identical content, crawl NEWER  → 'refresh': the
    #     stored row's metadata advances (warc_ts) with NO rescore —
    #     otherwise a later out-of-order older crawl with different
    #     content would beat the stale stored timestamp and diverge from
    #     a full recompute's latest-crawl-wins pick
    #   * url present, content CHANGED, crawl newer    → 'changed': the
    #     batch row REPLACES the prior blocked row (latest crawl wins,
    #     same deterministic max-struct rule as within-batch dedup) and
    #     is rescored like a new page. Prior edges from the old content
    #     are never retracted (monotone contract — clusters only coarsen;
    #     documented divergence, same class as best_match_only top-1).
    #   * url present, content changed, crawl OLDER    → stale
    #     out-of-order delivery, dropped.
    # Per-batch ingest counts are written as a metric so replay/stale
    # volume is visible (from the cheap committed delta — see the final
    # metric write at the end of the fold).
    rest = [c for c in BLOCKED_COLS if c != "url"]

    def _blocked_delta() -> DataFrame:
        prior_blocked = _prior("blocked")
        # the docstring admits (url, warc_ts, html) without text/lang; a
        # typed-null lang lets the BLOCKED_COLS projection below resolve
        batch_src = new_pages
        if "lang" not in batch_src.columns:
            batch_src = batch_src.withColumn("lang", F.lit(None).cast("string"))
        batch = with_extract_sketch_keys(
            batch_src,
            n_simhash_bands=cfg.n_simhash_bands,
            minhash_k=cfg.minhash_k,
            # extracted_text is dropped by the BLOCKED_COLS projection —
            # omit it from the Arrow return instead of transferring it;
            # norm_text stays FULL to match the prior blocked snapshot
            emit_extracted=False,
        ).select(*BLOCKED_COLS)
        # within-batch dedup by url: the SHARED latest-crawl-wins rule
        # (blocking.latest_crawl_wins — also applied by run_pipeline's
        # blocked stage, so batch and corpus-at-once ingestion pick the
        # same survivor per url)
        batch = latest_crawl_wins(batch)
        # The classifying join needs only a SLIM comparison key from the
        # prior state, not its payload: at scale `prior_blocked` is the
        # whole resolved history, and shipping full norm_text +
        # minhash_sig + block_keys through a shuffle join just to test
        # "did this url's content change?" made the prior side ~50×
        # wider than necessary. Content equality is xxhash64(norm_text)
        # + simhash (both deterministic; a misclassification needs a
        # 64-bit hash collision AND an identical simhash on different
        # text); the hash is the COMMITTED norm_text_hash column, so the
        # parquet scan below reads six fixed-width columns and norm_text
        # never leaves history's column chunks. Newer-vs-stale compares
        # (warc_ts, lang, norm_domain, text-hash, simhash) — EXACTLY the
        # leading key of blocking.latest_crawl_wins (which also breaks
        # content ties on xxhash64(norm_text)), so batched and
        # corpus-at-once ingestion resolve the identical survivor per
        # url even for same-timestamp re-crawls with different text.
        _key = lambda ts, lg, nd, th, sh: F.struct(  # noqa: E731
            F.col(ts), F.col(lg), F.col(nd), F.col(th), F.col(sh)
        )
        prior_keyed = prior_blocked.select(
            "url",
            F.col("warc_ts").alias("_p_ts"),
            F.col("lang").alias("_p_lang"),
            F.col("norm_domain").alias("_p_nd"),
            F.col("norm_text_hash").alias("_p_th"),
            F.col("simhash").alias("_p_sh"),
            F.lit(True).alias("_in_prior"),
        )
        # Cut the prior side to the batch's url set BEFORE the outer join:
        # a left-outer join can only broadcast its RIGHT side, so with the
        # O(history) prior on the right Spark sort-merge-shuffles BOTH
        # sides — the whole history's keys reshuffled per fold. After this
        # broadcast semi-join the survivor set is O(batch ∩ history) and
        # AQE broadcasts it, so history is scanned (column-pruned) but
        # never shuffled. Dropping non-batch urls is a no-op for a left
        # join keyed on the batch's urls. Same O(batch)-broadcast contract
        # as batch_keys in the exact/candidate stages; urls come from the
        # raw input (not the sketched batch) so the Arrow extract is never
        # computed twice.
        batch_urls = new_pages.select("url").dropDuplicates()
        prior_keyed = prior_keyed.join(F.broadcast(batch_urls), "url", "left_semi")
        cmp = batch.withColumn("_b_th", F.xxhash64("norm_text")).join(
            prior_keyed, "url", "left"
        )
        same_content = F.col("_b_th").eqNullSafe(F.col("_p_th")) & F.col(
            "simhash"
        ).eqNullSafe(F.col("_p_sh"))
        newer = _key("warc_ts", "lang", "norm_domain", "_b_th", "simhash") > _key(
            "_p_ts", "_p_lang", "_p_nd", "_p_th", "_p_sh"
        )
        # same-content re-crawls split on the SAME newer-vs-stale key as
        # changed ones: a byte-identical crawl with a newer key is a
        # "refresh" — it must advance the stored warc_ts (metadata-only
        # row replacement, no rescore) or a later out-of-order OLDER
        # crawl with different content would compare against the stale
        # timestamp, win, and diverge from a full recompute's
        # latest-crawl-wins max-struct pick. Only an older-or-equal
        # identical crawl is a droppable "replay".
        status = (
            F.when(F.col("_in_prior").isNull(), F.lit("new"))
            .when(same_content & newer, F.lit("refresh"))
            .when(same_content, F.lit("replay"))
            .when(newer, F.lit("changed"))
            .otherwise(F.lit("stale"))
        )
        # the stage's COMMITTED artifact is the kept delta alone —
        # O(batch), never the O(history) union (the view below merges on
        # read). No persist needed: the commit materializes it once and
        # every later consumer reads the committed parquet.
        # the batch's own content hash (_b_th) is committed with the delta
        # so the NEXT fold's merged prior view keeps the fast classify path
        return (
            cmp.withColumn("_batch_status", status)
            .filter(F.col("_batch_status").isin("new", "changed", "refresh"))
            .select(
                "url", *rest, F.col("_b_th").alias("norm_text_hash"), "_batch_status"
            )
        )

    kept = stage_delta("blocked", _blocked_delta)

    def _edges_delta() -> DataFrame:
        # The flagged blocked union (prior ∖ changed ∪ kept). Built only
        # when this stage recomputes, so a fully-resumed retry never
        # touches the prior chain (which a gc-compacted head may have
        # expired). Refresh rows replace their prior row too (newer
        # warc_ts, same content) — they must join the supersede set or
        # the union holds two rows per refreshed url.
        changed_urls = kept.filter(
            F.col("_batch_status").isin("changed", "refresh")
        ).select("url")
        blocked = (
            _prior("blocked")
            .join(changed_urls, "url", "left_anti")
            .withColumn("_is_new", F.lit(False))
            .withColumn("_batch_status", F.lit(None).cast("string"))
            .unionByName(
                # refresh rows are metadata-only replacements: identical
                # content → identical block keys and sketches → every
                # prior edge stays valid, so they must NOT re-enter the
                # edge stages as new rows (that would rescore their whole
                # block for a timestamp bump)
                kept.withColumn("_is_new", F.col("_batch_status") != F.lit("refresh"))
            )
        )
        # The _is_new flag makes both edge functions cut their work to
        # what the batch touches (blocking.exact_match_edges /
        # candidate_pairs). Persisted: exact_inc feeds BOTH the
        # route_unmatched anti-join and the edge union inside one action —
        # Spark does not share common subtrees across DAG branches, so
        # without the persist the touched-group scan runs twice.
        exact_inc = persist_tracked(exact_match_edges(blocked))
        pairs, overflow = candidate_pairs(
            blocked,
            max_block_size=cfg.max_block_size,
            max_band_hamming=cfg.max_band_hamming,
        )
        # overflow rows exist only while this stage computes, so they are
        # written now, before the commit: a crash after the commit resumes
        # past this stage with them already on disk. The frame is persisted
        # (candidate_pairs' hot keys), so the pair plan below reuses it.
        io.write_metrics(
            batch_id,
            "edges",
            [metric_part("block_overflow", F.col("block_key"), F.col("block_size"), overflow)],
        )
        routed = route_unmatched(pairs, exact_inc)
        scored = score_pairs(routed, match_threshold=cfg.fuzzy_threshold).drop(
            "sig_a", "sig_b", "text_a", "text_b"
        )
        fuzzy_inc = fuzzy_match_edges(
            scored, threshold=cfg.fuzzy_threshold, best_match_only=cfg.best_match_only
        )
        return union_edges(exact_inc, fuzzy_inc)

    # the fold COMMITS only the edge delta — prior edges are never
    # retracted (monotone contract) and never rewritten. The full edge
    # view is merge-on-read: chain union + one max-struct dedup
    # (tables.merge_edge_sets — 'exact' outranks 'fuzzy' on a 1.0 tie so
    # a recurring exact edge is never relabeled by a tying fuzzy edge).
    # The returned frame IS the committed delta (read_or_compute re-reads
    # after commit) — the labels stage and the batch metrics below
    # consume it directly instead of re-resolving the manifest record
    # and rebuilding the same scan plan twice per fold.
    edge_delta = stage_delta("edges", _edges_delta)

    cc_iters = 0

    def _labels_delta() -> DataFrame:
        nonlocal cc_iters
        # incremental CC: contract prior components through the committed
        # edge delta (exact under the monotone-edges contract — see
        # incremental_label_delta). The committed artifact is the label
        # DELTA (changed prior rows + fresh urls), O(touched), never the
        # O(history) relabeled set. The delta's row count comes from the
        # manifest record of the just-committed edges_delta snapshot —
        # zero jobs — and routes small folds to the driver-side
        # contraction path.
        edge_rec = io.last_committed("edges_delta", fp)
        d, cc_iters = incremental_label_delta(
            _prior("labels"),
            edge_delta,
            n_new_edges=None if edge_rec is None else edge_rec.get("row_count"),
        )
        return d

    stage_delta("labels", _labels_delta)

    # Per-batch metrics are DELTA-scoped: they describe THIS batch's
    # output (the committed O(batch) edge delta), never an O(history)
    # aggregation per fold; the full-state stats row stays the LAZY
    # ``PipelineResult.stats`` view. ONE final write: every part derives
    # from committed deltas (and the batch's own url set), so a resumed
    # or replayed fold rewrites the same frame. Ingest: new / changed /
    # refresh counts plus the distinct batch-url total (dropped replays
    # and stale crawls = the rest). Edge counts: one global aggregate
    # unpivoted, so both match types always get a row, 0 when the fold
    # emitted none.
    from .scoring import score_histogram

    n = F.count("*").alias("n")
    by_type = [F.count(F.when(F.col("match_type") == m, 1)).alias(m) for m in ("exact", "fuzzy")]
    by_status = kept.groupBy("_batch_status").agg(n)
    urls = new_pages.select("url").distinct().agg(n)
    parts = [
        metric_part(
            "edge_counts",
            F.col("match_type"),
            F.col("n"),
            edge_delta.agg(*by_type).unpivot([], ["exact", "fuzzy"], "match_type", "n"),
        ),
        metric_part(
            "score_histogram",
            F.round("score_bucket", 2),
            F.col("n_pairs"),
            score_histogram(edge_delta),
        ),
        metric_part("batch_ingest", F.col("_batch_status"), F.col("n"), by_status),
        metric_part("batch_ingest", F.lit("batch_urls"), F.col("n"), urls),
    ]
    io.write_metrics(batch_id, "final", parts)

    # Compaction is decided on labels: compact_state rewrites blocked,
    # edges and labels in that order, so the labels chain is never
    # shorter than the others, and a kill inside compact_state leaves
    # labels delta-backed — the retry decides the same and compact_state
    # skips the stages already full here.
    if io.chain_length("labels", fp) >= COMPACT_EVERY:
        io.compact_state(spark, fp)

    return FoldCommit(fp, resumed, cc_iters)


def run_incremental(
    spark: SparkSession,
    new_pages: DataFrame,
    io: TableIO,
    batch_id: str,
    cfg: PipelineConfig | None = None,
    prior_fingerprint: str | None = None,
) -> PipelineResult:
    """``fold_incremental``, then the full-state views of the folded state
    (assigned / clusters / edges / stats) as lazy merge-on-read frames —
    the same ``PipelineResult`` shape ``run_pipeline`` returns."""
    fold = fold_incremental(spark, new_pages, io, batch_id, cfg, prior_fingerprint)
    fp = fold.fingerprint
    # consumed twice (clusters + stats) and by the caller — persist the
    # slim reconstructed view so the chain union + dedup shuffle runs
    # once (2 urls + score + type; MEMORY_AND_DISK spills)
    edges = persist_tracked(io.read_state(spark, "edges", fp))
    # the assigned view reconstructs blocked state on read as well —
    # full snapshot when compacted, prior ∖ changed ∪ delta otherwise
    pages_slim = io.read_state(spark, "blocked", fp).select(
        "url", "warc_ts", "lang", "norm_domain"
    )
    assigned = cluster_assignments(pages_slim, io.read_state(spark, "labels", fp))
    return PipelineResult(
        assigned=assigned,
        clusters=consolidate_clusters(assigned, edges),
        edges=edges,
        stats=match_statistics(assigned, edges),
        resumed_stages=fold.resumed_stages,
        cc_iterations=fold.cc_iterations,
        fingerprint=fp,
    )
