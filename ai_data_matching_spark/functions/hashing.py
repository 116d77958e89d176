"""Native Spark column expressions around the sketches: tokens, k-word
shingles, LSH band keys and the MinHash Jaccard estimate.

The sketches themselves (64-bit SimHash, MinHash signature) are computed
by one numpy kernel, ``functions/sketches.py`` — fused with extraction in
``extract.make_extract_sketch_udf`` for the pipeline; the portable md5
family in ``functions/portable.py`` is the DuckDB-mirrored oracle. What
is here runs JVM-side (higher-order array functions + ``xxhash64``), with
no Python UDF and no explode/shuffle.

Graft analog of the reference's blocking-variant generation
(/root/reference/src/matching_engine.py:60-79): per-record keys that equal
⇒ near-certain match (simhash equality) or candidate (band equality).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hof import let_bound

SIMHASH_BITS = 64


def tokens_col(text: Column) -> Column:
    """Whitespace tokens of a (pre-normalized) text column."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """k-word shingles as strings; falls back to the whole token array
    joined when the doc has fewer than k tokens (so short docs still get
    one shingle instead of none).

    The token array is let-bound (functions/hof.py) — with an inline
    ``tokens`` expression, the per-index slice lambda would re-tokenize
    the whole document once per shingle position."""

    def body(t: Column) -> Column:
        n = F.size(t)
        shingled = F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.array_join(F.slice(t, i, k), " "),
        )
        whole = F.array(F.array_join(t, " "))
        return F.when(n >= k, shingled).otherwise(
            F.when(n > 0, whole).otherwise(F.array().cast("array<string>"))
        )

    return let_bound(tokens, body)


def simhash_bands(simhash: Column, n_bands: int = 4) -> Column:
    """Split a 64-bit simhash into ``n_bands`` equal-width band keys.

    Returns array<string> like ``["sh0:1a2b", "sh1:ffff", ...]``; two docs
    whose simhashes agree on any band share a blocking key (LSH banding —
    same trick as MinHash-LSH but over simhash bits).
    """
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    parts = []
    for b in range(n_bands):
        band_val = F.shiftrightunsigned(simhash, b * width).bitwiseAND(F.lit(mask))
        parts.append(F.concat(F.lit(f"sh{b}:"), F.conv(band_val.cast("string"), 10, 16)))
    return F.array(*parts)


def minhash_band_keys(sig: Column, n_bands: int = 4, k: int = 16) -> Column:
    """LSH band keys over a MinHash signature: hash each contiguous band of
    rows to one key string.

    ``k`` is the signature length (array length per row is not readable in
    a Python loop over native Columns, so the caller must pass it). Bands
    must tile the signature exactly — otherwise slices past the end return
    [] and every row would share a constant band key, collapsing the LSH
    into one corpus-sized block.
    """
    if n_bands <= 0 or k % n_bands != 0:
        raise ValueError(f"k={k} not divisible into n_bands={n_bands} equal bands")
    keys = []
    rows_per_band = k // n_bands
    for b in range(n_bands):
        band = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        keys.append(
            F.concat(F.lit(f"mh{b}:"), F.xxhash64(F.array_join(F.transform(band, lambda x: x.cast("string")), "_")).cast("string"))
        )
    return F.array(*keys)


def minhash_jaccard_est(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard similarity from two equal-length signatures."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b), lambda x: x))
    return agree.cast("double") / F.size(sig_a).cast("double")
