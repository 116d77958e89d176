"""Dedup operators over the driver-provided documents table + synthetic
near-dups."""

import pytest
from pyspark.sql import functions as F

from ai_data_matching_spark.operators.dedup import (
    dedup_exact,
    duplicate_pairs_minhash_lsh,
    duplicate_pairs_ngram_jaccard,
    duplicate_pairs_simhash,
    survivors_from_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def neardup_docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [
        (1, base, "en", "web"),
        (2, base, "en", "web"),                       # exact dup of 1
        (3, base.replace("gamma", "GAMMA", 2), "en", "web"),  # near dup of 1
        (4, "completely different text with other words entirely now", "en", "web"),
        (5, "another unrelated document body goes right here folks", "en", "web"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_dedup_exact_keeps_min_id(neardup_docs):
    kept = {r["doc_id"] for r in dedup_exact(neardup_docs).collect()}
    assert kept == {1, 3, 4, 5}


def test_dedup_exact_on_real_docs(docs):
    survivors = dedup_exact(docs)
    n_docs = docs.count()
    n_distinct = docs.select("text").distinct().count()
    assert survivors.count() == n_distinct <= n_docs


def test_minhash_lsh_finds_near_dups(neardup_docs):
    pairs = duplicate_pairs_minhash_lsh(neardup_docs, jaccard_threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got or (2, 3) in got
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_lsh_bands_must_tile_signature(neardup_docs):
    """Band keys must tile the 16-row signature: any tiling finds the
    planted near-dups, and a ragged one raises instead of dropping rows
    (n_bands=3) or slicing past the signature into one corpus-sized
    bucket per band (n_bands=32)."""
    for n_bands in (2, 4, 16):
        pairs = duplicate_pairs_minhash_lsh(
            neardup_docs, n_bands=n_bands, jaccard_threshold=0.5
        )
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (1, 2) in got, n_bands
        assert not any(4 in p or 5 in p for p in got), n_bands
    for n_bands in (3, 32):
        with pytest.raises(ValueError):
            duplicate_pairs_minhash_lsh(neardup_docs, n_bands=n_bands)

    # the shared band-key helper tiles any signature length: 4 bands over
    # k=8 are 4 distinct slices, not slices past the end (all equal)
    from ai_data_matching_spark.functions.hashing import minhash_band_keys

    sig = neardup_docs.sparkSession.createDataFrame([(list(range(8)),)], "sig array<long>")
    keys = sig.select(minhash_band_keys(F.col("sig"), 4, k=8)).first()[0]
    assert len({k.split(":")[1] for k in keys}) == 4


def test_simhash_finds_near_dups(neardup_docs):
    pairs = duplicate_pairs_simhash(neardup_docs, max_hamming=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert not any(4 in p or 5 in p for p in got)
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert ham[(1, 2)] == 0  # identical text → identical simhash


def test_ngram_jaccard_exact_within_block(neardup_docs):
    pairs = duplicate_pairs_ngram_jaccard(neardup_docs, threshold=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and 0.4 <= got[(1, 3)] < 1.0


def test_survivors_from_pairs_transitive(neardup_docs):
    pairs = duplicate_pairs_minhash_lsh(neardup_docs, jaccard_threshold=0.5)
    survivors = survivors_from_pairs(neardup_docs, pairs)
    kept = {r["doc_id"] for r in survivors.collect()}
    # 1,2,3 collapse to 1 (transitively); 4 and 5 survive
    assert kept == {1, 4, 5}


def test_embedding_cosine_pairs_recall(spark):
    import numpy as np

    from ai_data_matching_spark.operators.dedup import duplicate_pairs_embedding_cosine

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
    got = {
        (r["id_a"], r["id_b"])
        for r in duplicate_pairs_embedding_cosine(emb, threshold=0.5).collect()
    }
    pdf = emb.toPandas()
    mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
    ids = pdf["vec_id"].to_numpy()
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    ia, ib = np.where(np.triu(sims >= 0.5, k=1))
    want = {tuple(sorted((int(ids[x]), int(ids[y])))) for x, y in zip(ia, ib)}
    assert got <= want  # verification is exact: no false positives
    if want:
        assert len(got & want) / len(want) >= 0.8  # LSH recall


def test_ngram_hot_shingle_cap_bounds_pairs(spark):
    """A stop-shingle present in every doc of a block must not generate
    k² join rows: with the cap live, pairs sharing ONLY the hot shingle
    are pruned and the overflow metric reports the shingle (VERDICT r01
    scale-killer #1)."""
    from ai_data_matching_spark.operators.dedup import duplicate_pairs_ngram_jaccard

    boiler = "click here to accept cookies"
    docs = spark.createDataFrame(
        [(i, f"{boiler} unique content piece number {i} extra", "en", "s0")
         for i in range(40)],
        "doc_id long, text string, lang string, source string",
    )
    # uncapped: every doc pair shares the boilerplate shingles → quadratic
    uncapped = duplicate_pairs_ngram_jaccard(docs, threshold=0.01, max_posting_size=10**6)
    assert uncapped.count() == 40 * 39 // 2
    capped, overflow = duplicate_pairs_ngram_jaccard(
        docs, threshold=0.01, max_posting_size=16, return_overflow=True
    )
    assert capped.count() == 0  # no pair shares a COLD shingle
    over = {r["shingle"] for r in overflow.collect()}
    assert "click here to" in over and all(r["posting_size"] == 40 for r in overflow.collect())


def test_ngram_cap_keeps_true_near_dups(spark):
    """Pairs similar beyond the boilerplate keep (lower-bound) jaccard."""
    from ai_data_matching_spark.operators.dedup import duplicate_pairs_ngram_jaccard

    boiler = "terms of service apply here"
    rows = [(i, f"{boiler} filler row {i} pad pad", "en", "s0") for i in range(30)]
    rows += [(100, f"{boiler} real shared body of text one", "en", "s0"),
             (101, f"{boiler} real shared body of text two", "en", "s0")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    pairs = duplicate_pairs_ngram_jaccard(docs, threshold=0.2, max_posting_size=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (100, 101) in got


def test_ngram_jaccard_null_block_rows_never_pair(spark):
    """Rows with a NULL block column must behave like the string
    equi-join they hash-replace: contribute no pairs (Spark hash
    functions skip null args, so an unguarded xxhash64 key would both
    collide distinct blocks and let null-block rows join)."""
    rows = [
        # identical text, both lang NULL — equi-join semantics drop them
        (1, None, "web", "alpha beta gamma delta epsilon zeta"),
        (2, None, "web", "alpha beta gamma delta epsilon zeta"),
        # the null-skip collision shape: hash(NULL,'web',sh)==hash('web',NULL,sh)
        (3, "web", None, "alpha beta gamma delta epsilon zeta"),
        # a real block — still pairs
        (4, "en", "web", "alpha beta gamma delta epsilon zeta"),
        (5, "en", "web", "alpha beta gamma delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, lang string, source string, text string"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in duplicate_pairs_ngram_jaccard(docs, threshold=0.5).collect()
    }
    assert got == {(4, 5)}


def test_survivors_numeric_min_beats_string_min(spark):
    """Component {2, 10}: the CC label (string min) is "10" but the survivor
    must be the NUMERIC min 2 — the same rule as dedup_exact."""
    docs = spark.createDataFrame(
        [(2, "a"), (10, "a"), (7, "b")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(2, 10)], "id_a long, id_b long")
    kept = {r["doc_id"] for r in survivors_from_pairs(docs, pairs).collect()}
    assert kept == {2, 7}


def test_survivors_string_ids(spark):
    """String ids must dedup too (regression: a cast('long') on the loser
    ids turned them all NULL, so nothing was ever dropped)."""
    docs = spark.createDataFrame(
        [("doc-1", "a"), ("doc-2", "a"), ("doc-9", "b")], "doc_id string, text string"
    )
    pairs = spark.createDataFrame([("doc-1", "doc-2")], "id_a string, id_b string")
    kept = {r["doc_id"] for r in survivors_from_pairs(docs, pairs).collect()}
    assert kept == {"doc-1", "doc-9"}


def test_ngram_spans_planted(spark):
    """Hand-computed span marking: the shared 5-gram 'a b c d e' sits at
    doc1:pos0, doc2:pos1, doc4:pos0 (3 docs); 'b c d e f' at doc1:pos1,
    doc4:pos1 (2 docs — doc4 normalizes to the same tokens through the
    double space and case fold). Doc 3 shares nothing; docs shorter than
    n emit nothing."""
    from ai_data_matching_spark.operators.dedup import duplicate_ngram_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x a b c d e y"),
            (3, "zz yy xx ww vv"),
            (4, "A  B c d E f"),
            (5, "a b c"),  # < n tokens
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["pos"], r["n_docs"])
        for r in duplicate_ngram_spans(docs, n=5).collect()
    }
    assert got == {(1, 0, 3), (1, 1, 2), (2, 1, 3), (4, 0, 3), (4, 1, 2)}


def test_cut_duplicate_spans_planted(spark):
    """Cut stage applied to the planted span marking: doc1 keeps only the
    token after its two overlapping covered spans, doc2 keeps its unique
    prefix/suffix tokens, doc3 (no spans) and doc5 (< n tokens) pass
    through normalized, doc4 is cut to empty."""
    from ai_data_matching_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicate_ngram_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x a b c d e y"),
            (3, "zz yy xx ww vv"),
            (4, "A  B c d E f"),
            (5, "a b c"),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_ngram_spans(docs, n=5)
    got = {
        r["doc_id"]: (r["text"], r["n_tokens_cut"])
        for r in cut_duplicate_spans(docs, spans, n=5).collect()
    }
    assert got == {
        1: ("g", 6),
        2: ("x y", 5),
        3: ("zz yy xx ww vv", 0),
        4: ("", 6),
        5: ("a b c", 0),
    }


def test_ngram_spans_and_cut_match_python_twin(spark):
    """Random small corpora (seeded, tiny vocab to force collisions):
    duplicate_ngram_spans and cut_duplicate_spans must match a plain
    dict/list Python recomputation of the same contract — marking =
    every position whose n-gram value occurs in >=2 distinct docs; cut =
    drop tokens covered by any marked gram, join with single spaces."""
    import random

    from ai_data_matching_spark.operators.dedup import (
        cut_duplicate_spans,
        duplicate_ngram_spans,
    )

    rng = random.Random(42)
    n = 3
    docs = [
        (i, " ".join(rng.choice("a b c d".split()) for _ in range(rng.randint(0, 9))))
        for i in range(40)
    ]

    # python twin
    toks = {i: [t for t in txt.lower().split(" ") if t] for i, txt in docs}
    where = {}
    for i, w in toks.items():
        for p in range(len(w) - n + 1):
            where.setdefault(tuple(w[p : p + n]), []).append((i, p))
    marked = {g: occ for g, occ in where.items() if len({d for d, _ in occ}) >= 2}
    want_spans = {
        (d, p, len({x for x, _ in occ})) for g, occ in marked.items() for d, p in occ
    }
    cov = {}
    for g, occ in marked.items():
        for d, p in occ:
            cov.setdefault(d, set()).update(range(p, p + n))
    want_cut = {
        i: (
            " ".join(t for j, t in enumerate(w) if j not in cov.get(i, set())),
            len(cov.get(i, set()) & set(range(len(w)))),
        )
        for i, w in toks.items()
    }

    df = spark.createDataFrame(docs, "doc_id long, text string")
    spans = duplicate_ngram_spans(df, n=n)
    got_spans = {(r["doc_id"], r["pos"], r["n_docs"]) for r in spans.collect()}
    assert got_spans == want_spans
    got_cut = {
        r["doc_id"]: (r["text"], r["n_tokens_cut"])
        for r in cut_duplicate_spans(df, spans, n=n).collect()
    }
    assert got_cut == want_cut
