"""Extraction & normalization stage.

Re-expresses the reference's parity-critical normalizers as Spark-native
column expressions plus the one Arrow-batched kernel that runs stages 1+2:

* ``normalize_name_col``      — reference ``normalize_company_name``
  (/root/reference/src/matching_engine.py:21-58): lowercase/trim, ordered
  location-pattern removal, business-suffix strip, whitespace collapse —
  as an ordered ``F.regexp_replace`` chain (no Python in the hot path).
* ``variants_col``            — reference ``create_matching_variants``
  (/root/reference/src/matching_engine.py:60-79) with the hash-order
  nondeterminism FIXED: variants carry an explicit priority
  (normalized > stopword-stripped) so probe order is total.
* ``extract_text_py``         — deterministic pure-Python HTML→text
  (pinned algorithm, zero library dependence; per-row invariant:
  byte-identical text per url).
* ``make_extract_sketch_udf`` — the fused html → extract → normalize →
  sketch kernel (one Arrow round trip), the only stage-1+2 path; its
  scalar twins are ``extract_text_py`` → ``normalize_name_py`` →
  ``functions.sketches.simhash_minhash_py``.
* ``normalized_domain_col``   — url → lowercase host minus leading ``www.``
  (the graft analog of company-name normalization; blocking key #1).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-parity name normalization (matching_engine.py:21-58 semantics)
# ---------------------------------------------------------------------------

# Ordered location/region patterns (applied in list order, like the reference).
_LOCATION_PATTERNS: list[str] = [
    r"\s+\([^)]*\)",          # parenthesized qualifiers: "Acme (US)"
    r"\s+-\s+[a-z\s]+$",      # trailing " - region" qualifiers
    r"\s+us$",
    r"\s+usa$",
    r"\s+uk$",
    r"\s+europe$",
    r"\s+emea$",
    r"\s+asia$",
    r"\s+apac$",
    r"\s+americas$",
    r"\s+north america$",
    r"\s+international$",
    r"\s+global$",
    r"\s+worldwide$",
]

# Business suffixes stripped when preceded by ' ' or '.', in THIS order,
# one sequential pass with cumulative effect ("acme co. ltd." loses 'ltd.'
# then 'co.') — the reference's exact list and loop semantics
# (/root/reference/src/matching_engine.py:43-56). Deliberately NO
# additions (r01 carried holdings/services/solutions/... which the
# reference does not strip — removed for parity; the stopword VARIANT
# still drops 'group' etc. at matching time).
_BUSINESS_SUFFIXES: list[str] = [
    "inc", "inc.", "corp", "corp.", "ltd", "ltd.", "llc", "llc.",
    "limited", "corporation", "incorporated", "company", "co.",
    "gmbh", "ag", "sa", "nv", "bv", "srl", "spa", "plc",
]

# per-suffix anchored patterns: one ' ' or '.' separator + literal suffix
_SUFFIX_PATTERNS: list[str] = [
    r"[ .]" + re.escape(s) + r"$" for s in _BUSINESS_SUFFIXES
]

# Stopwords removed to form the third matching variant (config-equivalent of
# /root/reference/src/matching_engine.py:72-75).
_VARIANT_STOPWORDS = ["the", "and", "&", "group", "international", "global", "services"]

MIN_MATCH_LENGTH = 3        # /root/reference/src/config.py:27
FUZZY_THRESHOLD = 0.85      # /root/reference/src/config.py:26


def normalize_name_col(col: Column) -> Column:
    """Spark-native chain equivalent to the reference normalizer
    (matching_engine.py:21-58): null → '' ; lowercase+trim ; ordered
    location-pattern removal ; sequential business-suffix strip (each
    anchored replace removes at most one trailing suffix, matching the
    reference's endswith-then-slice loop) ; whitespace collapse.
    """
    c = F.lower(F.trim(F.coalesce(col.cast("string"), F.lit(""))))
    for pat in _LOCATION_PATTERNS:
        c = F.regexp_replace(c, pat, "")
    for pat in _SUFFIX_PATTERNS:
        c = F.trim(F.regexp_replace(c, pat, ""))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


# compiled location patterns + O(1) pre-guards: a pattern whose guard
# fails CANNOT match (guards are necessary conditions), so the regex scan
# is skipped — this is the pipeline's hottest Python after sketching and
# most patterns are end-anchored literals that almost never match webtext
_LOCATION_COMPILED: list[tuple[re.Pattern[str], object]] = [
    (re.compile(p), g)
    for p, g in zip(
        _LOCATION_PATTERNS,
        [
            lambda c: "(" in c,                      # \s+\([^)]*\)
            lambda c: "-" in c,                      # \s+-\s+[a-z\s]+$
            *[
                (lambda tail: lambda c: c.endswith(tail))(p[3:-1].replace("\\s+", " "))
                for p in _LOCATION_PATTERNS[2:]
            ],
        ],
    )
]
_MULTI_WS_RE = re.compile(r"\s+")


def normalize_name_py(value: str | None) -> str:
    """Pure-Python twin of :func:`normalize_name_col` (unit-test oracle);
    mirrors the reference's endswith loop verbatim."""
    if value is None or not isinstance(value, str):
        return ""
    c = value.strip().lower()
    for pat, guard in _LOCATION_COMPILED:
        if guard(c):
            c = pat.sub("", c)
    for suffix in _BUSINESS_SUFFIXES:
        if c.endswith(f" {suffix}") or c.endswith(f".{suffix}"):
            c = c[: -len(suffix) - 1].strip()
    return _MULTI_WS_RE.sub(" ", c).strip()


def variants_col(raw: Column, normalized: Column) -> Column:
    """Ordered matching variants — reference ``create_matching_variants``
    (matching_engine.py:60-79) with the set-order nondeterminism fixed via
    explicit priorities:

    * priority 0 — the ORIGINAL raw name (as-is, original case);
    * priority 1 — the normalized form, when non-empty and ≠ lower(raw);
    * priority 2 — normalized minus stopword TOKENS (token filter, not a
      regex — so "at&t" survives while a standalone "&" token drops),
      when non-empty and changed.

    Guard on the RAW name length (< MIN_MATCH_LENGTH or null → []), as the
    reference does; per-variant length filtering is the LOOKUP's job (J1).
    Returns ``array<struct<priority:int, variant:string>>``; duplicates by
    string are possible (the reference dedups via set()) — consumers dedup
    keeping the lowest priority.
    """
    empty = F.array().cast("array<struct<priority:int,variant:string>>")
    words = F.filter(F.split(normalized, " "), lambda w: w != "")
    filtered = F.filter(
        words, lambda w: ~w.isin(*[F.lit(s) for s in _VARIANT_STOPWORDS])
    )
    stripped = F.array_join(filtered, " ")
    arr = F.concat(
        F.array(F.struct(F.lit(0).alias("priority"), raw.cast("string").alias("variant"))),
        F.when(
            (normalized != "") & (normalized != F.lower(raw.cast("string"))),
            F.array(F.struct(F.lit(1).alias("priority"), normalized.alias("variant"))),
        ).otherwise(empty),
        F.when(
            (F.size(filtered) > 0) & (stripped != normalized),
            F.array(F.struct(F.lit(2).alias("priority"), stripped.alias("variant"))),
        ).otherwise(empty),
    )
    return F.when(
        raw.isNotNull() & (F.length(raw.cast("string")) >= MIN_MATCH_LENGTH), arr
    ).otherwise(empty)


# ---------------------------------------------------------------------------
# URL → normalized domain (blocking key #1)
# ---------------------------------------------------------------------------

def normalized_domain_col(url: Column) -> Column:
    """Lowercased host of the url with a leading ``www.`` stripped.

    Pure native expression → whole-stage codegen; pushes through the scan.
    """
    host = F.regexp_extract(F.lower(url), r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
    host = F.when(host == "", F.regexp_extract(F.lower(url), r"^([^/:?#]+)", 1)).otherwise(host)
    return F.regexp_replace(host, r"^www\.", "")


# ---------------------------------------------------------------------------
# HTML → text extractor (pinned pure algorithm; byte-identical per url)
# ---------------------------------------------------------------------------

_SCRIPT_STYLE_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1\s*>", re.DOTALL | re.IGNORECASE
)
_COMMENT_RE = re.compile(rb"<!--.*?-->", re.DOTALL)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")

_ENTITIES = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"', "&#39;": "'",
    "&apos;": "'", "&nbsp;": " ",
}


def extract_text_py(html: bytes | None) -> str:
    """Deterministic HTML→text: drop script/style/comments, strip tags,
    decode the 7 core entities, collapse whitespace. Pinned — no external
    parser, so output never drifts across library versions.
    """
    if html is None:
        return ""
    raw = _SCRIPT_STYLE_RE.sub(b" ", html)
    raw = _COMMENT_RE.sub(b" ", raw)
    raw = _TAG_RE.sub(b" ", raw)
    text = raw.decode("utf-8", errors="replace")
    if "&" in text:  # every entity starts with '&' — skip 7 scans otherwise
        for ent, ch in _ENTITIES.items():
            text = text.replace(ent, ch)
    return _WS_RE.sub(" ", text).strip()


_EXTRACT_SKETCH_SCHEMA = T.StructType(
    [
        T.StructField("extracted_text", T.StringType()),
        T.StructField("norm_text", T.StringType()),
        T.StructField("simhash", T.LongType()),
        T.StructField("minhash_sig", T.ArrayType(T.LongType())),
    ]
)


def make_extract_sketch_udf(
    shingle_k: int = 3,
    minhash_k: int | None = None,
    emit_extracted: bool = True,
    text_prefix: int | None = None,
):
    """Fully-fused html → (extracted_text, norm_text, simhash, minhash_sig)
    in ONE Arrow round trip.

    Separate extract and sketch UDFs would move ``norm_text`` across the
    JVM↔Python boundary twice — once out of the extract UDF, once back
    into the sketch UDF. On a memory-bandwidth-bound host (and at 100 TB,
    where Arrow transfer is real network/memcpy traffic) that second round
    trip is pure waste, so every stage-1+2 caller (in-memory and
    checkpointed pipeline, incremental fold, stream ingest) runs this one
    kernel. Values equal the scalar twins' (``extract_text_py`` →
    ``normalize_name_py`` → ``sketches.simhash_minhash_py``; parity-tested).
    Normalization runs here in Python, not as the ``normalize_name_col``
    JVM chain: its 16 ``regexp_replace`` calls allocate ~16 strings per
    row and collapse under GC contention at high thread counts (measured
    37 s vs 5 s for 500k rows at local[32]).

    Bytes knobs for the in-memory hot path (Catalyst prunes columns only
    AFTER the UDF — unwanted fields still cross the Arrow boundary unless
    the kernel omits them):

    * ``emit_extracted=False`` drops the raw extracted_text field from the
      Arrow return entirely (sketching/scoring only ever read norm_text);
    * ``text_prefix=N`` returns only the first N chars of norm_text — the
      scorer reads at most ``similarity.MAX_SCORE_CHARS`` anyway, so a
      prefix ≥ that is lossless for every downstream decision while the
      Arrow transfer and the stage cache stop carrying full page text.
    """
    from .functions.sketches import MINHASH_K, sketch_batch

    if minhash_k is None:
        minhash_k = MINHASH_K
    fields = list(_EXTRACT_SKETCH_SCHEMA.fields)
    if not emit_extracted:
        # drop by NAME, not position — the correctness of the slim schema
        # must not couple to extracted_text staying field 0
        fields = [f for f in fields if f.name != "extracted_text"]
    schema = T.StructType(fields)

    @F.pandas_udf(schema)
    def _fused(html: pd.Series) -> pd.DataFrame:
        ex = html.map(extract_text_py)
        nm = ex.map(normalize_name_py)
        sims, sigs = sketch_batch(nm.tolist(), shingle_k, minhash_k)
        cols = {
            "norm_text": nm.str.slice(0, text_prefix) if text_prefix else nm,
            "simhash": pd.Series(sims, dtype="int64"),
            "minhash_sig": list(sigs),
        }
        if emit_extracted:
            cols = {"extracted_text": ex, **cols}
        return pd.DataFrame(cols)

    return _fused

