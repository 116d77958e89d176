"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all over a ``(id, text)`` document frame, each returning
the survivors (and exposing the duplicate-pair frames for audit):

* exact          — hash-groupBy on raw text (one shuffle of (hash, id))
* minhash_lsh    — shingle → MinHash signature → banded LSH bucket join;
                   verify candidates with native Jaccard over shingle sets
* simhash        — 64-bit simhash band blocking + hamming-distance verify
* ngram_jaccard  — word n-gram Jaccard within blocks (native
                   array_intersect/union — no UDF)
* embedding_cosine — near-dup by cosine ≥ τ over an embedding column
                   (LSH-bucketed; see similarity_search for ANN)

All native DataFrame ops; candidate verification stays JVM-side.
At 100 TB scale: every strategy is (narrow sketch projection) → (one
equi-join on short keys) → (verify on the candidate set only) — never an
all-pairs comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist_tracked
from ..functions.hof import let_bound as _let
from ..functions.hashing import minhash_band_keys, simhash_bands
from ..partitioning import fan_out


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of each exact text group.

    The groupBy input projects only (xxhash64(text), id), so its shuffle
    carries (hash, id) — never the text payload. Survivor ids then attach
    payload columns with ONE left-semi join on the id alone.
    """
    ids = docs.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("_h"))
    reps = ids.groupBy("_h").agg(F.min(id_col).alias(id_col)).select(id_col)
    return docs.join(reps, id_col, "left_semi")


def _verify_jaccard(
    base: DataFrame, bands: DataFrame, threshold: float, round_to: int | None = None
) -> DataFrame:
    """Shared LSH tail: slim (id, bucket) self-join → cross-band pair
    dedup → attach shingle sets per candidate → exact-Jaccard verify on
    the UNROUNDED value. ``base`` must be (id, _sh, ...) with one row per
    doc (persisted by the caller — it feeds the band explode and both
    payload joins)."""
    a = bands.select("bucket", F.col("id").alias("id_a"))
    b = bands.select("bucket", F.col("id").alias("id_b"))
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b")
    )
    sh_a = base.select(F.col("id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    sh_b = base.select(F.col("id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(1.0))
    out = (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("_jac", jac)
        .filter(F.col("_jac") >= threshold)
    )
    result = F.round("_jac", round_to) if round_to is not None else F.col("_jac")
    return out.select("id_a", "id_b", result.alias("jaccard"))


def duplicate_pairs_minhash_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    minhash_k: int = 16,
    n_bands: int = 8,
    jaccard_threshold: float = 0.7,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs via MinHash LSH: shingle → sign → band →
    bucket-join → exact-Jaccard verify on shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    from ..functions.sketches import MINHASH_K, make_shingles_udf, make_sketch_udf

    assert minhash_k == MINHASH_K, "fast sketch UDF emits fixed-k signatures"
    # raises unless the bands tile the signature: a ragged tiling would
    # drop signature rows, and bands past its end slice to [] — one
    # corpus-sized bucket per band, so the verify would run over all pairs
    band_keys = minhash_band_keys(F.col("_sig"), n_bands, k=minhash_k)
    base = fan_out(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    ).select(
        "id",
        make_shingles_udf(shingle_k)(F.col("_txt")).alias("_sh"),
        make_sketch_udf(shingle_k)(F.col("_txt"))["minhash_sig"].alias("_sig"),
    )

    # Persist ONE row per doc, then band-join on a SLIM (id, bucket)
    # projection — the earlier shape persisted/shuffled the whole shingle
    # array once per band (×n_bands bytes through the cache AND both
    # sides of the bucket join). Shingle sets attach per *candidate pair*
    # after the cross-band dedup, exactly like blocking.candidate_pairs'
    # payload join.
    base = persist_tracked(base)
    bands = base.select("id", F.explode(band_keys).alias("bucket"))
    return _verify_jaccard(base, bands, jaccard_threshold)


def duplicate_pairs_minhash_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 8,
    jaccard_threshold: float = 0.2,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over the PORTABLE sketch family
    (functions/portable.py: md5-prefix base hash + (a·h+b) mod 2^61-1
    universal hashes) — bit-identical computable in DuckDB, so the driver
    oracle checks the FULL pipeline: sign → band → bucket-join →
    exact-Jaccard verify. Same shape and scale behavior as
    :func:`duplicate_pairs_minhash_lsh` (which keeps the faster
    blake2b/numpy sketch for the ER hot path). Verification filters on the
    UNROUNDED exact Jaccard; rounding only in the output projection.
    """
    from ..functions import portable as P

    # one persisted row per doc; the md5-expression sketch (the pricey
    # part of the portable family) is computed ONCE, not once per band —
    # and the band self-join shuffles only (id, bucket), with shingle
    # sets attached per candidate pair (see _verify_jaccard). fan_out
    # spreads the md5 CPU across the session when the scan is a single
    # small-file split (no-op at cluster scale).
    base = persist_tracked(
        fan_out(docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt")))
        .select("id", P.portable_shingles(F.col("_txt"), shingle_k).alias("_sh"))
        .withColumn(
            "_sig", P.minhash_sig(P.base_hashes(F.col("_sh")), F.size(F.col("_sh")))
        )
    )
    bands = base.select(
        "id", F.explode(P.minhash_band_keys(F.col("_sig"), n_bands)).alias("bucket")
    )
    return _verify_jaccard(base, bands, jaccard_threshold, round_to=6)


def _verify_hamming(bands: DataFrame, max_hamming: int, hamming_type: str) -> DataFrame:
    """Shared simhash tail: slim (id, _sim, bucket) self-join → cross-band
    pair dedup → exact Hamming verify. ``bands`` must be one exploded row
    per (doc, band), persisted by the caller (it feeds both join sides).
    One tail for both sketch families so a fix to the ordering/verify
    logic can never silently apply to only one of them."""
    a = bands.select("bucket", F.col("id").alias("id_a"), F.col("_sim").alias("_sim_a"))
    b = bands.select("bucket", F.col("id").alias("id_b"), F.col("_sim").alias("_sim_b"))
    ham = F.bit_count(F.col("_sim_a").bitwiseXOR(F.col("_sim_b"))).cast(hamming_type)
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def duplicate_pairs_simhash_portable(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 6,
    max_hamming: int = 5,
    shingle_k: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs over the PORTABLE 60-bit sketch.

    Requires ``max_hamming < n_bands``: by pigeonhole, any pair within the
    Hamming bound has at least one band untouched by the flipped bits, so
    band blocking finds EVERY qualifying pair — the result is provably
    equal to the all-pairs Hamming filter, which is exactly what the
    DuckDB oracle computes (no banding needed oracle-side).
    """
    if max_hamming >= n_bands:
        raise ValueError("pigeonhole guarantee needs max_hamming < n_bands")
    from ..functions import portable as P

    base = fan_out(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    ).select(
        "id",
        P.simhash60(P.base_hashes(P.portable_shingles(F.col("_txt"), shingle_k))).alias(
            "_sim"
        ),
    )
    bands = persist_tracked(
        base.select(
            "id", "_sim", F.explode(P.simhash60_band_keys(F.col("_sim"), n_bands)).alias("bucket")
        )
    )
    return _verify_hamming(bands, max_hamming, hamming_type="long")


def duplicate_pairs_simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-duplicate pairs via SimHash band blocking + hamming verify.

    Two 64-bit simhashes within ``max_hamming`` bits share at least one of
    4 bands when max_hamming ≤ 3·16 (pigeonhole over flipped bits), so
    band blocking loses nothing up to the bound. Returns
    (id_a, id_b, hamming).
    """
    from ..functions.sketches import sketch_udf

    base = fan_out(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
    ).select("id", sketch_udf(F.col("_txt"))["simhash"].alias("_sim"))
    bands = base.select(
        "id", "_sim", F.explode(simhash_bands(F.col("_sim"), n_bands)).alias("bucket")
    )
    bands = persist_tracked(bands)  # consumed by both sides of the bucket self-join
    return _verify_hamming(bands, max_hamming, hamming_type="int")


DEFAULT_MAX_POSTING_SIZE = 64


def duplicate_pairs_ngram_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: list[str] | None = None,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_posting_size: int = DEFAULT_MAX_POSTING_SIZE,
    return_overflow: bool = False,
):
    """Word n-gram Jaccard over candidate pairs within blocks — exact
    result within the blocking, computed in the scalable explode-join
    shape: explode (id, shingle), self-join on (block, shingle), count
    matches per pair, then |∩|/(|A|+|B|-|∩|). This never materializes a
    quadratic array-intersect (the naive array_intersect pair join was
    measured ~50× slower at sf0.1) and only ever touches pairs that share
    at least one shingle — which is every pair that can clear a positive
    threshold. Blocks default to (lang, source); requires threshold > 0.

    Skew guard (same pattern as blocking.hot_keys): shingles whose posting
    list within a block exceeds ``max_posting_size`` are EXCLUDED from the
    self-join — a boilerplate stop-shingle in k docs would otherwise emit
    k² join rows. Each dropped shingle lowers a pair's intersection count
    by at most 1 (set semantics), so the reported jaccard is a lower bound
    that is tight for pairs not sharing hot shingles; pairs sharing ONLY
    hot shingles are not emitted. Dropped shingles are visible, never
    silent: ``return_overflow=True`` returns ``(pairs, overflow)`` where
    overflow = (block..., shingle, posting_size).
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (zero-overlap pairs are never emitted)")
    from ..functions.sketches import make_shingles_udf

    block_cols = block_cols or ["lang", "source"]
    base = fan_out(
        docs.select(
            *[F.col(c) for c in block_cols],
            F.col(id_col).alias("id"),
            F.col(text_col).alias("_txt"),
        )
    ).select(
        *block_cols, "id", make_shingles_udf(shingle_k)(F.col("_txt")).alias("_sh")
    ).withColumn("_n", F.size("_sh"))
    # persisted: both sides of the self-join consume this frame — without
    # it Spark recomputes the shingle UDF per side (measured 2× cost).
    # `_h = xxhash64(block..., shingle)` is the JOIN key: one fixed-width
    # int64 instead of (lang, source, 20-30-byte shingle string) — the
    # self-join below shuffles only (_h, id, _n), never the string. A
    # cross-key collision would need two live (block, shingle) combos in
    # the same 64-bit slot (P ≈ rows²/2⁶⁵ — at 10⁹ exploded shingles,
    # ~3·10⁻²), and one collision shifts one pair's intersection by 1.
    # A row with a NULL block column keeps a NULL key: Spark's hash
    # functions SKIP null arguments (hash(NULL,'x') == hash('x')), which
    # would both collide distinct blocks and let null-block rows join —
    # the string equi-join this replaces dropped them. Strings stay in
    # the persisted frame only for the overflow report.
    null_block = None
    for c in block_cols:
        cond = F.col(c).isNull()
        null_block = cond if null_block is None else (null_block | cond)
    ex = persist_tracked(
        base.select(*block_cols, "id", "_n", F.explode("_sh").alias("_shingle"))
        .withColumn(
            "_h",
            F.when(null_block, F.lit(None)).otherwise(
                F.xxhash64(*block_cols, F.col("_shingle"))
            ),
        )
    )
    # hot-shingle scan: one map-side-combined agg per join key; only keys
    # above the cap survive, so the broadcast stays tiny. first(block/
    # shingle) is exact — _h determines them (modulo the collision note).
    # Null-key rows (null block column) can never join, so they are
    # neither counted nor reported as hot.
    overflow = (
        ex.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(
            F.count("*").alias("posting_size"),
            *[F.first(c).alias(c) for c in block_cols],
            F.first("_shingle").alias("_shingle"),
        )
        .filter(F.col("posting_size") > max_posting_size)
    )
    cold = ex.join(F.broadcast(overflow.select("_h")), "_h", "left_anti")
    a = cold.select(
        "_h", F.col("id").alias("id_a"), F.col("_n").alias("_n_a")
    )
    b = cold.select(
        "_h", F.col("id").alias("id_b"), F.col("_n").alias("_n_b")
    )
    inter = (
        a.join(b, "_h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "_n_a", "_n_b")
        .agg(F.count("*").alias("_inter"))
    )
    jac = F.col("_inter").cast("double") / (
        F.col("_n_a") + F.col("_n_b") - F.col("_inter")
    ).cast("double")
    pairs = (
        inter.withColumn("_jac", jac)
        .filter(F.col("_jac") >= threshold)
        .select("id_a", "id_b", F.round("_jac", 6).alias("jaccard"))
    )
    if return_overflow:
        return pairs, overflow.select(
            *block_cols, F.col("_shingle").alias("shingle"), "posting_size"
        )
    return pairs


def duplicate_pairs_embedding_cosine(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 6,
    n_tables: int = 8,
) -> DataFrame:
    """Embedding near-duplicate pairs: random-hyperplane LSH bucket
    self-join + native cosine verify ≥ ``threshold``.

    Candidates only where a sign-pattern bucket collides (recall grows
    with ``n_tables``; pairs at cosine ≥ 0.9 collide in ≥1 of 8 six-bit
    tables w.p. ≈ 1-(1-(1-θ/π)^6)^8 ≈ 0.97). Verification is the exact
    JVM-side cosine — no Python. Returns (id_a, id_b, cosine).
    """
    from .similarity_search import cosine_col, make_lsh_bucket_udf

    bucket_udf = make_lsh_bucket_udf(bits, n_tables)
    base = persist_tracked(
        fan_out(
            embs.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).cast("array<double>").alias("_v"),
            )
        ).withColumn("bucket", F.explode(bucket_udf(F.col("_v"))))
    )
    a = base.select("bucket", F.col("id").alias("id_a"), F.col("_v").alias("_va"))
    b = base.select("bucket", F.col("id").alias("id_b"), F.col("_v").alias("_vb"))
    # filter on the UNROUNDED cosine (exact verify — no borderline pair up
    # to 5e-7 below threshold sneaks in via rounding); round only in the
    # output projection for stable cross-engine value hashes.
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("_cos", cosine_col(F.col("_va"), F.col("_vb")))
        .filter(F.col("_cos") >= threshold)
        .select("id_a", "id_b", F.round(F.col("_cos"), 6).alias("cosine"))
    )


def survivors_from_pairs(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Resolve duplicate pairs to survivors: connected components over the
    pair graph, keep min-id per component. Reuses the pipeline's CC.

    "min id" is the minimum in the id column's OWN ordering (numeric for
    numeric ids, lexicographic for strings) — the same survivor rule as
    ``dedup_exact``. CC itself runs on string keys, whose lexicographic
    component representative can differ from the numeric min (e.g. "10" <
    "2"), so the survivor is re-derived per component from the typed ids
    instead of trusting the CC label.
    """
    from .clustering import connected_components

    edges = pairs.select(
        F.col("id_a").cast("string").alias("src"), F.col("id_b").cast("string").alias("dst")
    )
    labels, _ = connected_components(edges)
    # map the string CC members back to typed ids (slim ids-only join),
    # then keep the typed min per component
    typed = docs.select(F.col(id_col).alias("_tid")).withColumn(
        "_sid", F.col("_tid").cast("string")
    )
    members = labels.select(F.col("url").alias("_sid"), "component").join(typed, "_sid")
    keep = members.groupBy("component").agg(F.min("_tid").alias("_keep"))
    losers = (
        members.join(keep, "component")
        .filter(F.col("_tid") != F.col("_keep"))
        .select(F.col("_tid").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")


def duplicate_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Span-level exact n-gram dedup: every position where a word n-gram
    is shared by ≥ ``min_docs`` DISTINCT documents, as ``(doc_id, pos,
    n_docs)`` with ``pos`` the 0-based token offset of the span start.

    This is the marking stage of exact-substring deduplication (the
    Lee et al. "Deduplicating Training Data Makes Language Models
    Better" recipe): the pair-level operators above decide which whole
    documents to drop, while this one locates the repeated SPANS inside
    kept documents (boilerplate, quoted chunks, licence blocks) so a
    downstream pass can cut them. Unrelated to ``duplicate_pairs_
    ngram_jaccard``, which scores doc pairs, not positions.

    Scale shape (100 TB): tokenize + gram-hash are native expressions
    inside one codegen stage; the only wide exchanges are (a) a
    partial+final groupBy on the 8-byte gram hash (map-side combine
    collapses within-partition repeats) and (b) one equi-join of the
    slim exploded frame (id, pos, hash — fixed-width, never the gram
    text) against the qualified-hash set. There is NO self-join, so a
    boilerplate gram shared by millions of documents emits exactly its
    true span rows — linear output, no k² candidate blowup, hence no
    posting cap needed (contrast duplicate_pairs_ngram_jaccard). A
    cross-gram xxhash64 collision (P ≈ grams²/2⁶⁵) would merge two
    spans' counts; the DuckDB oracle twin groups on the gram STRING, so
    a collision at test scale is caught, not replicated.

    Tokenization contract (mirrored by the oracle): lowercase, split on
    single spaces, empty tokens dropped — documents shorter than ``n``
    tokens contribute no spans.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")

    # _let-bind the token array: a plain two-select split is undone by
    # CollapseProject, which inlines the split+filter into the gram
    # lambda — re-tokenizing the document once per gram position
    def _grams(t):
        # sequence(1, 0) would count DOWN; guard short docs to empty
        n_grams = F.size(t) - n + 1
        return F.when(n_grams < 1, F.array().cast("array<bigint>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, n))),
            )
        )

    ex = persist_tracked(
        docs.select(F.col(id_col), F.posexplode(_let(toks, _grams)).alias("pos", "_gh"))
        .select(id_col, F.col("pos").cast("long").alias("pos"), "_gh")
    )
    # distinct-doc counting runs on xxhash64(id), not the id string: the
    # two-phase distinct agg ships (gram hash, doc key) for every one of
    # the exploded rows, and the 8-byte key is ~7× narrower than a url
    # (measured 25.7 s → 12.4 s for the agg leg at the 1M-page smoke). A
    # doc-key collision under one gram would undercount n_docs by one —
    # the same accepted risk class and probability as the gram-hash
    # itself; the DuckDB oracle twin counts distinct REAL ids grouped by
    # the gram STRING, so a collision at test scale fails the gate
    # rather than hides.
    qualified = (
        ex.groupBy("_gh")
        .agg(F.countDistinct(F.xxhash64(F.col(id_col).cast("string"))).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return ex.join(qualified, "_gh").select(id_col, "pos", "n_docs")


def cut_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """The cut stage of exact-substring dedup: apply a
    ``duplicate_ngram_spans`` result (same ``n``!) by dropping every
    token covered by a marked gram and re-joining the rest — returns
    ``docs`` with ``text`` replaced by the cleaned string (possibly
    empty) plus ``n_tokens_cut``.

    The cut operates on the SAME normalized token stream the grams were
    computed on (lowercase, single-space split, empties dropped), so the
    output is normalized text — which is what a training-data pipeline
    feeds the tokenizer anyway; original casing/whitespace is not
    reconstructed. Documents with no marked span pass through with their
    normalized text and n_tokens_cut = 0.

    Scale shape: one groupBy of the (slim) span frame per doc and one
    join back to docs; the span application is native higher-order
    functions — no UDF, no self-join. Per-doc cost is O(tokens +
    spans·log spans) (r05 rewrite — sort the span starts, fold them
    into merged covered INTERVALS, and slice out the complement gaps):
    the previous form expanded per-position coverage and ran an
    ``exists`` scan per token, O(tokens × covered positions), which
    made heavily-marked documents quadratic. The groupBy and the
    join-back are keyed on ``xxhash64(id)`` — at the 1M-page smoke the
    span frame is 49M rows and shipping the url string through the
    collect_list shuffle was half the stage (20.6 s measured; the
    8-byte uid is ~4× narrower). A uid collision would merge two
    documents' span lists and over-cut the smaller — the same accepted
    risk class (and probability, n²/2⁶⁴) as the gram-hash collisions
    the marking stage itself carries.
    """
    starts = spans.select(
        F.xxhash64(F.col(id_col).cast("string")).alias("_cut_uid"), "pos"
    ).groupBy("_cut_uid").agg(F.collect_list("pos").alias("_starts"))
    toks = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")
    nl = F.lit(n).cast("long")
    _iv = lambda a, b: F.struct(a.alias("a"), b.alias("b"))  # noqa: E731
    empty_ivs = F.array().cast("array<struct<a:bigint,b:bigint>>")

    # sorted starts → merged covered intervals [a, b] via one fold; the
    # (-1, -2) sentinel seeds the fold and is filtered in the finish step
    def _merged_intervals(ss):
        acc0 = F.struct(
            empty_ivs.alias("ivs"),
            F.lit(-1).cast("bigint").alias("a"),
            F.lit(-2).cast("bigint").alias("b"),
        )
        step = lambda acc, s: F.when(  # noqa: E731
            s <= acc["b"] + 1,
            F.struct(
                acc["ivs"].alias("ivs"),
                acc["a"].alias("a"),
                F.greatest(acc["b"], s + nl - 1).alias("b"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc["ivs"], F.array(_iv(acc["a"], acc["b"]))).alias("ivs"),
                s.alias("a"),
                (s + nl - 1).alias("b"),
            )
        )
        fin = lambda acc: F.filter(  # noqa: E731
            F.concat(acc["ivs"], F.array(_iv(acc["a"], acc["b"]))),
            lambda v: v["a"] >= 0,
        )
        return F.aggregate(ss, acc0, step, fin)

    merged = _merged_intervals(
        F.array_sort(F.coalesce("_starts", F.array().cast("array<bigint>")))
    )

    # _let-bind (toks, ivs): withColumn chains collapse into one Project,
    # which would otherwise inline the interval fold into every
    # consumer (the hof.py lambda-inlining trap)
    def _apply(s):
        t, ivs = s["toks"], s["ivs"]
        k = F.size(ivs)
        # complement gaps: before the first interval, between intervals,
        # after the last — k+1 candidates, empty ones filtered
        gaps = F.filter(
            F.transform(
                F.sequence(F.lit(0), k),
                lambda i: F.struct(
                    F.when(i == 0, F.lit(0).cast("bigint"))
                    .otherwise(F.element_at(ivs, i)["b"] + 1)
                    .alias("lo"),
                    F.when(i == k, F.size(t).cast("bigint") - 1)
                    .otherwise(F.element_at(ivs, i + 1)["a"] - 1)
                    .alias("hi"),
                ),
            ),
            lambda g: g["hi"] >= g["lo"],
        )
        kept = F.flatten(
            F.transform(
                gaps, lambda g: F.slice(t, g["lo"] + 1, g["hi"] - g["lo"] + 1)
            )
        )
        return _let(
            kept,
            lambda kp: F.struct(
                F.array_join(kp, " ").alias("cut_text"),
                (F.size(t) - F.size(kp)).cast("long").alias("n_tokens_cut"),
            ),
        )

    result = _let(F.struct(toks.alias("toks"), merged.alias("ivs")), _apply)
    keep_cols = [c for c in docs.columns if c != text_col]
    # explode-over-singleton barrier: materialize the struct once; the
    # two field extractions are then O(1) instead of re-running the cut
    return (
        docs.withColumn("_cut_uid", F.xxhash64(F.col(id_col).cast("string")))
        .join(starts, "_cut_uid", "left")
        .select(*keep_cols, F.col(text_col), F.col("_starts"))
        .select(*keep_cols, F.explode(F.array(result)).alias("_r"))
        .select(
            *keep_cols,
            F.col("_r.cut_text").alias(text_col),
            F.col("_r.n_tokens_cut").alias("n_tokens_cut"),
        )
    )
