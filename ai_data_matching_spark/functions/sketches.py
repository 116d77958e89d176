"""Fast sketch computation: one Arrow-batched pandas UDF producing
(simhash64, minhash signature) per document.

This is the engine's only SimHash/MinHash implementation (the pipeline
runs it fused with extraction, ``extract.make_extract_sketch_udf``; the
md5 family in ``portable.py`` is a separate DuckDB-mirrored oracle with
its own values). It is numpy, not higher-order-function SQL, because
Spark interprets HOFs per array element (no codegen), measured ~1 ms/doc,
while this batch-vectorized path is ~75 µs/doc on 170-word docs
(~0.4 µs/word; 4.4× the round-1 per-doc-loop kernel):

* one stable 64-bit hash per *unique word* per Arrow batch (blake2b, C
  speed, process/platform independent — NOT Python ``hash()``), cached in
  a dict so Zipf-distributed webtext pays blake2b once per vocab entry,
  not once per occurrence;
* shingle hash = splitmix64(XOR of position-rotated word hashes) — the
  whole batch's shingles in a handful of numpy ufunc passes, no per-
  shingle Python, no ``" ".join`` string materialization;
* MinHash via a universal-hash family over the shingle hashes
  (h_i = splitmix64(shingle ^ seed_i)), one ``minimum.reduceat`` over the
  batch;
* SimHash via ``unpackbits`` → per-doc bit-column sums → ``packbits``.

Deterministic across runs, partitionings, batch splits, and parallelism
levels (the word-hash cache is an optimization only — values depend on
the word alone).
"""

from __future__ import annotations

from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MINHASH_K = 16
_SPLITMIX_1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)
_U64 = np.uint64


def _seeds(minhash_k: int) -> np.ndarray:
    """Universal-hash seeds for a k-row signature. The first MINHASH_K
    seeds of any longer family are identical (seed_i depends only on i),
    so signatures of different k agree on their common prefix."""
    return np.arange(1, minhash_k + 1, dtype=np.uint64) * _GOLDEN


_SEEDS = _seeds(MINHASH_K)


def _splitmix(x: np.ndarray) -> np.ndarray:
    x = (x ^ (x >> _U64(30))) * _SPLITMIX_1
    x = (x ^ (x >> _U64(27))) * _SPLITMIX_2
    return x ^ (x >> _U64(31))


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    r &= 63
    if r == 0:
        return x
    return (x << _U64(r)) | (x >> _U64(64 - r))


def _word_hash(word: str) -> int:
    return int.from_bytes(blake2b(word.encode(), digest_size=8).digest(), "little")


def _shingle_hashes(word_hashes: np.ndarray, k: int) -> np.ndarray:
    """Hashes of the k-word shingles of one doc (whole doc when < k words).

    shingle i ↦ splitmix64( XOR_j rotl(hw[i+j], 21·j) ) — order-sensitive
    (rotation by position), vectorized over all windows at once.
    """
    wc = word_hashes.size
    if wc == 0:
        return np.empty(0, dtype=np.uint64)
    if wc < k:
        acc = _U64(0)
        for j in range(wc):
            acc ^= _rotl(word_hashes[j], 21 * j)
        return _splitmix(np.array([acc], dtype=np.uint64))
    n_sh = wc - k + 1
    acc = np.zeros(n_sh, dtype=np.uint64)
    for j in range(k):
        acc ^= _rotl(word_hashes[j : j + n_sh], 21 * j)
    return _splitmix(acc)


def _doc_shingle_hashes(text: str, k: int) -> np.ndarray:
    words = text.split()
    hw = np.fromiter((_word_hash(w) for w in words), dtype=np.uint64, count=len(words))
    return _shingle_hashes(hw, k)


def simhash_minhash_py(
    text: str, k: int = 3, minhash_k: int = MINHASH_K
) -> tuple[int, list[int]]:
    """Scalar twin (tests + synth oracles) — same values as the batch UDF."""
    seeds = _SEEDS if minhash_k == MINHASH_K else _seeds(minhash_k)
    h = _doc_shingle_hashes(text, k)
    if h.size == 0:
        return 0, [0] * minhash_k
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & _U64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    sim = int(
        np.bitwise_or.reduce(
            np.where(votes > 0, _U64(1) << np.arange(64, dtype=np.uint64), _U64(0))
        )
    )
    sig = _splitmix(h[:, None] ^ seeds[None, :]).min(axis=0)
    return np.int64(np.uint64(sim)).item(), [np.int64(v).item() for v in sig]


def _segmented_sketches(
    s_all: np.ndarray, starts: np.ndarray, cnt: np.ndarray, seeds: np.ndarray = _SEEDS
) -> tuple[np.ndarray, np.ndarray]:
    """(simhash, minhash sig) per segment of the flat shingle-hash array.

    Segmented reductions with SMALL working sets: one flat-array pass per
    seed / per bit (each temp is 8 B × shingles ≈ cache-resident) instead
    of one (shingles × 64) matrix — matrix intermediates are 10-100×
    larger and collapse on memory-bandwidth-starved hosts (measured 6-30×
    slower for the matrix form on this sandbox).
    """
    sigs = np.empty((cnt.size, seeds.size), dtype=np.uint64)
    for i in range(seeds.size):
        sigs[:, i] = np.minimum.reduceat(_splitmix(s_all ^ seeds[i]), starts)
    # simhash bit b is 1 iff (#shingles with bit b set)·2 > #shingles
    sims = np.zeros(cnt.size, dtype=np.uint64)
    one = _U64(1)
    for b in range(64):
        ones = ((s_all >> _U64(b)) & one).view(np.int64)
        votes = np.add.reduceat(ones, starts)
        sims |= (((2 * votes) > cnt).astype(np.uint64)) << _U64(b)
    return sims, sigs


def sketch_batch(
    texts: list[str], k: int = 3, minhash_k: int = MINHASH_K
) -> tuple[np.ndarray, np.ndarray]:
    """Batch sketches: returns (simhash int64 (n,), minhash int64 (n, K)).

    Empty docs sketch to (0, [0]*K). The only per-word Python is one
    ``str.split`` per doc and one blake2b per *unique* word in the batch
    (``pd.factorize`` interns the flat word list at C speed — Zipf webtext
    pays hashing once per vocab entry); shingle windows, doc-boundary
    masking, and the segmented sketch reductions are flat numpy.
    """
    seeds = _SEEDS if minhash_k == MINHASH_K else _seeds(minhash_k)
    n_docs = len(texts)
    sims = np.zeros(n_docs, dtype=np.uint64)
    sigs = np.zeros((n_docs, minhash_k), dtype=np.uint64)
    if n_docs == 0:
        return sims.astype(np.int64), sigs.astype(np.int64)

    words_per_doc = [t.split() for t in texts]
    wcounts = np.fromiter((len(w) for w in words_per_doc), dtype=np.int64, count=n_docs)
    flat_words: list[str] = []
    for w in words_per_doc:
        flat_words.extend(w)
    if not flat_words:
        return sims.astype(np.int64), sigs.astype(np.int64)

    codes, uniques = pd.factorize(np.asarray(flat_words, dtype=object))
    uh = np.fromiter(
        (_word_hash(w) for w in uniques), dtype=np.uint64, count=len(uniques)
    )
    hw = uh[codes]  # flat word-hash array, doc-major

    full = wcounts >= k        # docs with real k-windows
    short = (wcounts > 0) & ~full

    if full.any():
        # windows computed flat across the batch; a window starting at
        # flat position i is valid iff positions i..i+k-1 lie in ONE doc
        doc_of = np.repeat(np.arange(n_docs), wcounts)
        n_sh = hw.size - k + 1
        acc = hw[:n_sh].copy()
        for j in range(1, k):
            acc ^= _rotl(hw[j : j + n_sh], 21 * j)
        valid = doc_of[: n_sh] == doc_of[k - 1 :]
        s_all = _splitmix(acc[valid])
        cnt = wcounts[full] - k + 1
        starts = np.zeros(cnt.size, dtype=np.int64)
        np.cumsum(cnt[:-1], out=starts[1:])
        f_sims, f_sigs = _segmented_sketches(s_all, starts, cnt, seeds)
        fidx = np.nonzero(full)[0]
        sims[fidx] = f_sims
        sigs[fidx] = f_sigs

    if short.any():
        # 1 ≤ words < k → exactly ONE shingle: its hash IS the simhash
        # (every set bit wins the 1-shingle vote) and the signature is the
        # seeded rehash directly.
        woff = np.zeros(n_docs + 1, dtype=np.int64)
        np.cumsum(wcounts, out=woff[1:])
        sidx = np.nonzero(short)[0]
        s_short = np.empty(sidx.size, dtype=np.uint64)
        for i, d in enumerate(sidx):
            s_short[i] = _shingle_hashes(hw[woff[d] : woff[d + 1]], k)[0]
        sims[sidx] = s_short
        sigs[sidx] = _splitmix(s_short[:, None] ^ seeds[None, :])

    return sims.astype(np.int64), sigs.astype(np.int64)


_SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("simhash", T.LongType()),
        T.StructField("minhash_sig", T.ArrayType(T.LongType())),
    ]
)


def make_sketch_udf(k: int = 3, minhash_k: int = MINHASH_K):
    @F.pandas_udf(_SKETCH_SCHEMA)
    def _sketch(text: pd.Series) -> pd.DataFrame:
        sims, sigs = sketch_batch(text.fillna("").tolist(), k, minhash_k)
        return pd.DataFrame(
            {"simhash": pd.Series(sims, dtype="int64"), "minhash_sig": list(sigs)}
        )

    return _sketch


sketch_udf = make_sketch_udf(3)


def make_shingles_udf(k: int = 3):
    """Distinct k-word shingles as array<string> — ~40× faster than the
    interpreted higher-order slice expression in hashing.word_shingles
    (measured 1.3 ms/doc HOF vs ~30 µs/doc here)."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _shingles(text: pd.Series) -> pd.Series:
        out = []
        for t in text.fillna(""):
            words = t.split()
            if not words:
                out.append([])
            elif len(words) < k:
                out.append([" ".join(words)])
            else:
                seen = dict.fromkeys(
                    " ".join(words[i : i + k]) for i in range(len(words) - k + 1)
                )
                out.append(list(seen))
        return pd.Series(out)

    return _shingles
