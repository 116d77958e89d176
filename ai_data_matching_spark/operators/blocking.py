"""Phase 1 — blocking: exact matches + candidate-pair generation.

Graft analog of the reference's two-phase cascade:

* reference phase-1 hash join on name variants
  (/root/reference/src/matching_engine.py:81-137) → here: **exact groups**
  on (norm_domain, simhash64) — equal sketch ⇒ score-1.0 'exact' linkage.
  Implemented as a groupBy emitting star edges (member → group-min), NOT a
  quadratic self-join: an exact group of size g yields g-1 edges, which is
  what keeps mega-duplicate clusters (the 100 TB reality) linear.
* reference leftover anti-join (/root/reference/src/matching_engine.py:129-133)
  → candidate pairs that are NOT exact go to phase-2 scoring.

The base pipeline and the incremental fold share both phases: an
``_is_new`` column in the input (the fold's old ∪ new union) cuts it to
what the batch touches; input without it is all new and runs uncut.

Sketches and keys come from ONE kernel: ``with_extract_sketch_keys``
(fused extract → normalize → numpy sketch, one Arrow round trip) is the
only stage-1+2 path — in-memory and checkpointed pipeline, fold and
stream ingest alike.

Skew handling ("explicit skew splitting of hot domains", BASELINE.json):

* Block keys = normalized domain + simhash LSH bands. A frequency scan
  finds keys whose block size exceeds ``max_block_size``; those keys are
  EXCLUDED from pairwise candidate generation (a blogspot.com-sized block
  would otherwise generate O(g²) pairs) and reported in an overflow
  metric. Recall inside hot domains comes from the simhash band keys,
  which only collide for textually-near pages.
* ``salted_equijoin`` is the J1 salted hash join operator (SURVEY J1,
  tested in tests/test_blocking.py): the hot keys on the fact side get a
  random-but-deterministic salt, the dim side is replicated across salts.
  No engine stage calls it — the pipeline's joins rely on AQE skew-join
  for moderate skew and on the hot-key exclusion above for the tail.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist_tracked
from ..extract import make_extract_sketch_udf, normalized_domain_col
from ..functions.hashing import simhash_bands

DEFAULT_MAX_BLOCK_SIZE = 64

# The committed blocked stage's columns (plus norm_text_hash), in order:
# the base pipeline's snapshot and the fold's deltas share this layout.
BLOCKED_COLS = ["url", "warc_ts", "lang", "norm_domain", "norm_text",
                "simhash", "minhash_sig", "block_keys"]


def latest_crawl_wins(df: DataFrame, url_col: str = "url") -> DataFrame:
    """One row per url — the latest crawl, picked deterministically.

    ``max(struct(...))`` keyed (warc_ts, lang, norm_domain,
    xxhash64(norm_text), simhash, …): latest crawl wins, ties fall
    through lang / norm_domain / content hash / sketches. The leading
    five fields are EXACTLY the incremental fold's newer-vs-stale
    re-crawl classify key (operators/incremental.py compares the
    committed ``norm_text_hash`` because the slim classify path never
    reads history's norm_text) — the hash, not lexicographic norm_text,
    is the content tiebreak HERE TOO, so feeding a corpus all at once or
    in batches resolves the identical survivor per url even when two
    crawls of a url tie on (warc_ts, lang, norm_domain) with different
    text. ``dropDuplicates`` would be a partition-order-dependent pick.
    The groupBy is a map-side combinable aggregation on the slim blocked
    projection — one struct per (url, partition) reaches the shuffle.

    The key is ordered BY NAME, not by frame column order: ``warc_ts``
    leads, then the fold-classify tie columns in their contract order,
    then the remaining blocked columns (norm_text last among them only
    as a final total-order guard), then any other columns sorted. A
    caller passing columns in any order gets the same survivor —
    frame-order keying would silently turn "latest crawl wins" into
    "max first-column wins"."""
    canon = [
        "warc_ts", "lang", "norm_domain", "simhash",
        "minhash_sig", "block_keys", "norm_text",
    ]
    rest = [c for c in df.columns if c != url_col]
    named = [c for c in canon if c in rest] + sorted(c for c in rest if c not in canon)
    key: list = [F.col(c) for c in named]
    if "norm_text" in rest:
        # content-hash tiebreak goes right after norm_domain (position 3),
        # mirroring the fold's (ts, lang, nd, hash, simhash) classify key
        at = min(3, len([c for c in ("warc_ts", "lang", "norm_domain") if c in rest]))
        key.insert(at, F.xxhash64("norm_text").alias("_th"))
    return (
        df.groupBy(url_col)
        .agg(F.max(F.struct(*key)).alias("_m"))
        .select(url_col, *[F.col(f"_m.{c}").alias(c) for c in rest])
    )


def with_extract_sketch_keys(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    drop_cols: tuple[str, ...] = ("text",),
    n_simhash_bands: int = 4,
    shingle_k: int = 3,
    minhash_k: int | None = None,
    emit_extracted: bool = True,
    text_prefix: int | None = None,
) -> DataFrame:
    """Stage 1+2, the only path: html → extract → normalize → sketch →
    blocking keys with ONE Arrow round trip (extract.make_extract_sketch_udf).

    Emits the input columns minus ``html`` and ``drop_cols``, then
    ``norm_domain``, ``extracted_text``, ``norm_text``, ``simhash``,
    ``minhash_sig`` and ``block_keys`` (array<string>: the ``dom:`` domain
    key + ``shN:`` simhash band keys). One narrow projection, no shuffle.
    ``emit_extracted=False`` / ``text_prefix`` are the in-memory hot
    path's byte knobs (see make_extract_sketch_udf) — extracted_text is
    then absent and norm_text a prefix; the sketches always cover the
    full normalized text."""
    fused = make_extract_sketch_udf(shingle_k, minhash_k, emit_extracted, text_prefix)
    out = pages.withColumn("_f", fused(F.col(html_col))).withColumn(
        "norm_domain", normalized_domain_col(F.col(url_col))
    )
    keep = [c for c in pages.columns if c != html_col and c not in drop_cols]
    text_cols = (
        [F.col("_f.extracted_text").alias("extracted_text")] if emit_extracted else []
    )
    out = out.select(
        *keep,
        "norm_domain",
        *text_cols,
        F.col("_f.norm_text").alias("norm_text"),
        F.col("_f.simhash").alias("simhash"),
        F.col("_f.minhash_sig").alias("minhash_sig"),
    )
    block_keys = F.concat(
        F.array(F.concat(F.lit("dom:"), F.col("norm_domain"))),
        simhash_bands(F.col("simhash"), n_simhash_bands),
    )
    return out.withColumn("block_keys", block_keys)


def exact_match_edges(blocked: DataFrame) -> DataFrame:
    """Exact phase: identical (norm_domain, simhash) ⇒ same entity.

    Returns star edges ``(src, dst, score=1.0, match_type='exact')`` where
    dst = lexicographic min url of the exact group. Linear in group size.

    With an ``_is_new`` column (the fold's ``prior ∖ changed ∪ kept``
    union) the input is first cut by a broadcast semi-join on the batch's
    keys, so only groups with a new member — ALL their members, a new rep
    must link the old ones — reach the groupBy: no O(history) shuffle.
    """
    if "_is_new" in blocked.columns:
        batch_keys = (
            blocked.filter(F.col("_is_new"))
            .select(F.col("norm_domain").alias("_gd"), F.col("simhash").alias("_gs"))
            .dropDuplicates(["_gd", "_gs"])
        )
        # persisted: feeds both the group aggregate and the join-back
        blocked = persist_tracked(
            blocked.select("norm_domain", "simhash", "url").join(
                F.broadcast(batch_keys),
                F.col("norm_domain").eqNullSafe(F.col("_gd"))
                & F.col("simhash").eqNullSafe(F.col("_gs")),
                "left_semi",
            )
        )
    grp = (
        blocked.groupBy("norm_domain", "simhash")
        .agg(F.min("url").alias("_rep"), F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select(F.col("norm_domain").alias("_gd"), F.col("simhash").alias("_gs"), "_rep")
    )
    # join-back instead of collect_list: a mega exact group (the 100 TB
    # reality — mirrored boilerplate pages) would otherwise materialize
    # one giant array in a single aggregation buffer. Null-safe keys: a
    # null norm_domain (unparseable url) still forms an exact group —
    # groupBy treats null as a key, so the join-back must too, or those
    # groups silently lose their edges.
    return (
        blocked.select("norm_domain", "simhash", F.col("url").alias("src"))
        .join(
            grp,
            F.col("norm_domain").eqNullSafe(F.col("_gd"))
            & F.col("simhash").eqNullSafe(F.col("_gs")),
        )
        .filter(F.col("src") != F.col("_rep"))
        .select(
            "src",
            F.col("_rep").alias("dst"),
            F.lit(1.0).alias("score"),
            F.lit("exact").alias("match_type"),
        )
    )


def hot_keys(exploded_keys: DataFrame, max_block_size: int) -> DataFrame:
    """Frequency scan over exploded (block_key, uid): keys above the cap.

    Map-side partial aggregation makes this one cheap shuffle of
    (key, count) — NOT of the raw rows.
    """
    return (
        exploded_keys.groupBy("block_key")
        .agg(F.count("*").alias("block_size"))
        .filter(F.col("block_size") > max_block_size)
    )


DEFAULT_MAX_BAND_HAMMING = 16


def candidate_pairs(
    blocked: DataFrame,
    max_block_size: int = DEFAULT_MAX_BLOCK_SIZE,
    max_band_hamming: int = DEFAULT_MAX_BAND_HAMMING,
) -> tuple[DataFrame, DataFrame]:
    """Generate deduplicated within-block candidate pairs.

    Returns ``(pairs, overflow)``:

    * pairs — (url_a, url_b, text_a, text_b, sig_a, sig_b) with
      url_a < url_b, distinct across blocks.
    * overflow — (block_key, block_size) for skew-split (skipped) keys,
      persisted as a metric so dropped coverage is visible, never silent.

    The self-join is an equi-join on block_key of new rows × all rows;
    keys larger than ``max_block_size`` are excluded *before* the join
    (skew splitting). Without an ``_is_new`` column every row is new.
    With it (the fold's union) the exploded keys are first cut to the
    batch's keys by a broadcast semi-join: only pairs with a new endpoint
    are generated, and the cap (full block sizes) and overflow cover the
    batch's keys only.
    """
    # SLIM pair generation: the self-join + cross-key dedup shuffle only
    # (block_key, uid) rows, where uid = xxhash64(url) — an 8-byte
    # surrogate for the ~60-byte url string (the explode/self-join/dedup
    # shuffles move every key-collision row; at pinned 4 cores the string
    # form was ~4.4 s of a 24 s run at 150k pages). Texts and minhash
    # signatures attach AFTER dedup by joining the per-uid payload back
    # in, and the output re-orients to url_a < url_b, so the result is
    # identical to the string-keyed form. A uid collision (two urls, one
    # hash: P ≈ n²/2⁶⁴, ~0.03 expected pairs at 10¹² docs) drops that one
    # candidate pair — bounded recall loss, never a wrong edge.
    flagged = "_is_new" in blocked.columns
    sel = blocked.select(
        F.xxhash64(F.col("url")).alias("uid"),
        F.col("simhash"),
        (F.col("_is_new") if flagged else F.lit(True)).alias("_new"),
        F.explode("block_keys").alias("block_key"),
    )
    if flagged:
        # an untouched key yields no new pair: cut BEFORE the frequency
        # scan, which is otherwise an O(history) shuffle per fold.
        # Persisted: read by the hot-key agg and both self-join sides.
        batch_keys = sel.filter(F.col("_new")).select("block_key").dropDuplicates()
        sel = persist_tracked(sel.join(F.broadcast(batch_keys), "block_key", "left_semi"))
    # persisted: the hot-key frame is tiny (keys above the cap) but its
    # input scan is O(rows × keys) — and it is consumed twice, as the
    # broadcast exclusion below AND as the caller's overflow metric (a
    # separate action). Without the persist each action repeats the full
    # explode + partial-agg scan.
    hot = persist_tracked(hot_keys(sel.select("block_key", "uid"), max_block_size))
    cold = sel.join(F.broadcast(hot.select("block_key")), "block_key", "left_anti")

    a = cold.filter(F.col("_new")).select(
        "block_key", F.col("uid").alias("uid_a"), F.col("simhash").alias("_sh_a")
    )
    b = cold.select(
        "block_key",
        F.col("uid").alias("uid_b"),
        F.col("simhash").alias("_sh_b"),
        F.col("_new").alias("_new_b"),
    )
    # Simhash band keys are 16-bit, so UNRELATED pages collide by chance at
    # a rate of n²/2^16 per band — quadratic in corpus size. A native
    # full-simhash Hamming filter on band-derived pairs (JVM bit_count,
    # applied before the dedup shuffle and payload joins) cuts random
    # collisions by ~4e-5 (P[Binom(64,½) ≤ 16]) while keeping real near
    # dups (measured true-pair Hamming p90 = 13). Domain-key pairs are NOT
    # filtered — they are bounded by max_block_size and must reach scoring
    # regardless of sketch distance.
    ham_ok = (~F.col("block_key").startswith("sh")) | (
        F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b"))) <= max_band_hamming
    )
    # new-new pairs keep one of their two orders, new-old pairs (met
    # once; never a uid collision) are oriented by least/greatest; with
    # every row new this folds to uid_a < uid_b
    one_side = (F.col("uid_a") < F.col("uid_b")) | (
        ~F.col("_new_b") & (F.col("uid_a") != F.col("uid_b"))
    )
    slim = (
        a.join(b, "block_key")
        .filter(one_side)
        .filter(ham_ok)
        .select(
            F.least("uid_a", "uid_b").alias("uid_a"),
            F.greatest("uid_a", "uid_b").alias("uid_b"),
        )
    )
    return _attach_payload(blocked, slim), hot


def _attach_payload(blocked: DataFrame, slim: DataFrame) -> DataFrame:
    """Melt-attach: the ``(uid_a, uid_b)`` pairs ``slim`` (uid =
    xxhash64(url), possibly repeated across block keys) → deduplicated
    ``(url_a, url_b, text_a, text_b, sig_a, sig_b)`` with url_a < url_b,
    payload drawn from ``blocked``.

    Each pair melts into (pair, side, uid) rows so ONE corpus scan feeds
    both endpoints through a single equi-join (AQE broadcasts the O(pairs)
    melted side when it is small), and ONE groupBy on the pair key
    performs the cross-key dedup and the a/b pivot together — instead of
    a dropDuplicates shuffle + two payload joins (two corpus scans, the
    second join's probe side too wide for a broadcast). Duplicate
    (multi-key) pairs collapse in the agg: max over identical structs.
    Scoring reads at most MAX_SCORE_CHARS of each text (similarity._prep
    slices before the DP), so the payload ships only that prefix —
    identical scores, and the attach shuffle carries a bounded ~0.5 KB
    per side instead of the full page text."""
    from ..functions.similarity import MAX_SCORE_CHARS

    payload = blocked.select(
        F.xxhash64(F.col("url")).alias("uid"),
        F.col("url"),
        F.substring(F.col("norm_text"), 1, MAX_SCORE_CHARS).alias("norm_text"),
        F.col("minhash_sig"),
    )
    sides = slim.select(
        "uid_a",
        "uid_b",
        F.explode(
            F.array(
                F.struct(F.col("uid_a").alias("uid"), F.lit(0).alias("side")),
                F.struct(F.col("uid_b").alias("uid"), F.lit(1).alias("side")),
            )
        ).alias("_s"),
    ).select("uid_a", "uid_b", F.col("_s.uid").alias("uid"), F.col("_s.side").alias("side"))
    pay = F.struct(F.col("url"), F.col("norm_text"), F.col("minhash_sig"))
    pairs0 = (
        payload.join(sides, "uid")
        .groupBy("uid_a", "uid_b")
        .agg(
            F.max(F.when(F.col("side") == 0, pay)).alias("_pa"),
            F.max(F.when(F.col("side") == 1, pay)).alias("_pb"),
        )
    )
    # re-orient to url_a < url_b so the output contract (and every
    # downstream tiebreak) is identical to the string-keyed formulation
    flip = F.col("_pa.url") > F.col("_pb.url")
    pick = lambda a_c, b_c: F.when(flip, b_c).otherwise(a_c)  # noqa: E731
    return pairs0.select(
        pick(F.col("_pa.url"), F.col("_pb.url")).alias("url_a"),
        pick(F.col("_pb.url"), F.col("_pa.url")).alias("url_b"),
        pick(F.col("_pa.norm_text"), F.col("_pb.norm_text")).alias("text_a"),
        pick(F.col("_pb.norm_text"), F.col("_pa.norm_text")).alias("text_b"),
        pick(F.col("_pa.minhash_sig"), F.col("_pb.minhash_sig")).alias("sig_a"),
        pick(F.col("_pb.minhash_sig"), F.col("_pa.minhash_sig")).alias("sig_b"),
    )


def route_unmatched(pairs: DataFrame, exact_edges: DataFrame) -> DataFrame:
    """Anti-join routing (reference J2): drop candidate pairs already
    linked by the exact phase (both endpoints in the same exact group)."""
    exact_map = exact_edges.select(F.col("src").alias("url"), F.col("dst").alias("rep"))
    # rep(u) = exact-group representative or u itself
    with_a = pairs.join(
        exact_map.withColumnRenamed("url", "url_a").withColumnRenamed("rep", "rep_a"),
        "url_a",
        "left",
    )
    with_b = with_a.join(
        exact_map.withColumnRenamed("url", "url_b").withColumnRenamed("rep", "rep_b"),
        "url_b",
        "left",
    )
    ra = F.coalesce(F.col("rep_a"), F.col("url_a"))
    rb = F.coalesce(F.col("rep_b"), F.col("url_b"))
    return with_b.filter(ra != rb).drop("rep_a", "rep_b")


def salted_equijoin(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salt: int = 16,
    hot_key_threshold: int = 100_000,
) -> DataFrame:
    """Inner equi-join robust to pathological key skew on the fact side.

    Keys whose fact-side frequency exceeds ``hot_key_threshold`` get a
    per-row deterministic salt ``pmod(xxhash64(all fact columns), n_salt)``;
    the dim side is replicated across all salts for those keys only.
    Cold keys join on salt 0 with a single dim copy — so the blow-up is
    limited to the hot tail. Result equals ``fact.join(dim, key)`` exactly
    (verified by tests/test_blocking.py round-trip).
    """
    freq = fact.groupBy(key).agg(F.count("*").alias("_f")).filter(F.col("_f") > hot_key_threshold)
    hot = F.broadcast(freq.select(key, F.lit(True).alias("_hot")))

    f = fact.join(hot, key, "left").withColumn(
        "_salt",
        F.when(
            F.col("_hot").isNotNull(),
            F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salt)).cast("int"),
        ).otherwise(F.lit(0)),
    ).drop("_hot")

    d_hot = (
        dim.join(hot, key, "inner")
        .drop("_hot")
        .withColumn("_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
    )
    d_cold = dim.join(hot, key, "left_anti").withColumn("_salt", F.lit(0))
    d = d_hot.unionByName(d_cold)

    return f.join(d, [key, "_salt"]).drop("_salt")
