"""Phase 3 — transitive clustering via large-star/small-star connected
components (Kiveris et al., "Connected Components in MapReduce and
Beyond", SOCC 2014 — public algorithm).

The reference only consolidates matches by exact group-by on the matched
name (/root/reference/src/relationship_mapper.py:20-123), which misses
transitive chains (A~B, B~C ⇒ {A,B,C}). At web scale the pair graph needs
true connected components; large-star/small-star converges in O(log n)
rounds of pure DataFrame joins/aggregations, each round checkpointed to
cut lineage (driver loop — not expressible as a single Catalyst plan).

Node ids are the url strings themselves (total order = lexicographic);
component id = min url in the component. Convergence is detected with a
cheap (count, xor-of-hashes) fingerprint of the edge set instead of a
full set-difference — two aggregates, no extra shuffle of the edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of each node to the neighborhood
    minimum (including the node itself)."""
    sym = _symmetrize(edges).select(F.col("src").alias("u"), F.col("dst").alias("v"))
    m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        F.col("u").alias("mu"), F.least(F.col("u"), F.col("mn")).alias("m")
    )
    return (
        sym.join(m, sym["u"] == m["mu"])
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Operate on edges directed high→low: connect all smaller-or-equal
    neighbors (and the node) to the minimum."""
    directed = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("m")).select(
        F.col("u").alias("mu"), F.col("m")
    )
    nbrs = directed.join(m, directed["u"] == m["mu"]).select(
        F.col("v").alias("node"), F.col("m"), F.col("u").alias("center")
    )
    # neighbors → min, plus center → min
    out = nbrs.select("node", "m").union(
        nbrs.select(F.col("center").alias("node"), F.col("m"))
    )
    return (
        out.filter(F.col("node") != F.col("m"))
        .select(F.col("node").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col("src"), F.col("dst"))), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


DEFAULT_SMALL_GRAPH_EDGES = 2_000_000


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Exact same labels as the iterative path, for edge sets that fit the
    driver: one Arrow collect + vectorized connected components.

    Replaces ~20 shuffle barriers (3 CC iterations × two star ops × 3
    shuffles each) with one serial pass — the CC loop is latency-bound,
    not volume-bound, once blocking/dedup has shrunk the graph; this is
    the dominant serial term in the pipeline's Amdahl decomposition, so
    it is kept off the Python-object slow path entirely: ``toArrow`` →
    C++ ``dictionary_encode`` → lexicographic rank remap (min-int ↔
    min-url) → numpy min-label union with pointer-jumping compression
    (O(log n) vectorized rounds; a dict-based union-find loop over the
    same edges measured ~20× slower at 400k edges).
    """
    return _union_find_arrow(edges.select("src", "dst").toArrow(), edges.sparkSession)


def _union_find_arrow(tbl, spark) -> DataFrame:
    """Driver union-find over an already-collected Arrow edge table."""
    out = union_find_arrow_table(tbl)
    if out is None:
        return spark.createDataFrame([], "url string, component string")
    return spark.createDataFrame(out, schema="url string, component string")


def union_find_arrow_table(tbl):
    """The numpy union-find core over an Arrow (src, dst) edge table —
    returns an Arrow (url, component) table (None for an empty input).
    Shared by the CC small-graph path and the incremental fold's
    driver-side label-delta contraction (operators/incremental.py), so
    both produce bit-identical min-url labels."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if tbl.num_rows == 0:
        return None
    n = tbl.num_rows
    both = pa.concat_arrays(
        [tbl.column("src").combine_chunks(), tbl.column("dst").combine_chunks()]
    )
    enc = pc.dictionary_encode(both)
    codes = enc.indices.to_numpy().astype(np.int64)
    dictionary = enc.dictionary
    m = len(dictionary)
    # remap hash-ordered dictionary codes to lexicographic ranks so the
    # numeric component minimum IS the min-url representative the star
    # algorithm converges to
    order = pc.sort_indices(dictionary).to_numpy().astype(np.int64)
    rank_of = np.empty(m, dtype=np.int64)
    rank_of[order] = np.arange(m, dtype=np.int64)
    a, b = rank_of[codes[:n]], rank_of[codes[n:]]
    sorted_urls = dictionary.take(pa.array(order))

    label = np.arange(m, dtype=np.int64)
    while True:
        la, lb = label[a], label[b]
        if np.array_equal(la, lb):
            break
        mn = np.minimum(la, lb)
        # union at the ROOT positions (la/lb, not a/b): labels are
        # monotone non-increasing, so this terminates at the fixpoint
        # where every edge's endpoints share the component minimum
        np.minimum.at(label, la, mn)
        np.minimum.at(label, lb, mn)
        while True:  # pointer jumping: full path compression
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
    return pa.table(
        {"url": sorted_urls, "component": sorted_urls.take(pa.array(label))}
    )


# large-star/small-star converges in O(log n) rounds; the cap only
# bounds a run that never reaches the fixpoint
MAX_ITERATIONS = 50


def connected_components(
    edges: DataFrame,
    small_graph_threshold: int = DEFAULT_SMALL_GRAPH_EDGES,
) -> tuple[DataFrame, int]:
    """Compute connected components of an undirected edge list.

    Returns ``(labels, n_iterations)`` where labels = (url, component)
    and component = min url of the component. Isolated nodes are not in
    the input and so not in the output; callers union them back with
    component = own url.

    Hybrid strategy: below ``small_graph_threshold`` distinct edges the
    graph is solved driver-side (union-find, n_iterations = 0); above it,
    the distributed large-star/small-star loop runs. Pass
    ``small_graph_threshold=0`` to force the iterative path (tests do).
    Each round is cut with an eager ``localCheckpoint``.
    """
    slim = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    if small_graph_threshold:
        # Gate with a limit-BOUNDED count: the probe materializes at most
        # threshold+1 rows on the executors and ships ONE number to the
        # driver — a big graph costs the driver nothing (an earlier
        # one-job form collected up to threshold+1 url-string pairs, i.e.
        # hundreds of MB of driver Arrow, then discarded them on the big
        # path). `slim` is persisted before the probe so the follow-up
        # scan (toArrow on the small path, iteration-0 checkpoint on the
        # big path) reads the cached distinct() output instead of
        # re-running the shuffle — connected_components is public API and
        # a direct caller's `edges` need not be a committed snapshot.
        # Driver memory on the small path is bounded by
        # small_graph_threshold × (2 urls ≈ 130 B) ≈ 260 MB at the 2M
        # default — size the threshold to the driver when overriding.
        slim = slim.persist()
        try:
            probe_n = slim.limit(small_graph_threshold + 1).count()
            if probe_n <= small_graph_threshold:
                return _union_find_arrow(slim.toArrow(), edges.sparkSession), 0
            cur = slim.localCheckpoint(eager=True)
        finally:
            slim.unpersist()
    else:
        cur = slim.localCheckpoint(eager=True)
    prev_fp = _fingerprint(cur)
    iterations = 0
    for it in range(1, MAX_ITERATIONS + 1):
        iterations = it
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        fp = _fingerprint(nxt)
        cur = nxt
        if fp == prev_fp:
            break
        prev_fp = fp

    # converged: every edge is (member, root); roots map to themselves
    labels = (
        cur.select(F.col("src").alias("url"), F.col("dst").alias("component"))
        .union(cur.select(F.col("dst").alias("url"), F.col("dst").alias("component")))
        .groupBy("url")
        .agg(F.min("component").alias("component"))
    )
    return labels, iterations


def cluster_assignments(pages: DataFrame, labels: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach component ids to all pages; singletons get their own url."""
    joined = pages.join(labels, pages[url_col] == labels["url"], "left").drop(labels["url"])
    return joined.withColumn(
        "cluster_id", F.coalesce(F.col("component"), F.col(url_col))
    ).drop("component")
