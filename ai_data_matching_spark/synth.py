"""Deterministic synthetic web-page corpus + labeled pairs (FIXTURES.md §A).

Everything is a pure function of (seed, unit_index) — generation is
distributed via ``mapInPandas`` over ``spark.range`` and is independent of
partitioning/parallelism, so the same (seed, n) always yields the same
corpus at local[8] and local[32] (required for the scaling benchmark).

Generation units (graft analogs of the reference test fixtures'
scenarios, /root/reference/test_data/ + FIXTURES.md §C):

* ``cluster``  — entity with 2–5 pages on its own domain: canonical page,
  one EXACT duplicate (www. mirror, identical text → identical simhash ⇒
  phase-1 exact), and near-dup variants (disjoint replacement windows ⇒
  pairwise sim ≈ 0.9 ≥ 0.85 ⇒ phase-2 fuzzy).
* ``chain``    — 3 pages A,B,C: sim(A,B) ≈ sim(B,C) ≈ 0.90, sim(A,C) ≈
  0.81 < 0.85 — only transitive clustering links A to C (FIXTURES.md C5).
* ``hot``      — singleton entities all on ONE shared domain (hot-key
  skew, FIXTURES.md C6); unrelated texts, must NOT match.
* ``nearmiss`` — two distinct entities on a shared domain with sim ≈ 0.82
  — just below threshold, must NOT match (the Qualcomm/Qualtrics class,
  /root/reference/AI_Data_Matching_PRD.md:82).

Similarity is controlled EXACTLY: texts are W fixed-length words from an
``a–m``-alphabet vocabulary; a "variant" replaces a window of k words with
fresh ``n–z``-alphabet words, so global LCS drops by exactly 6k chars and
InDel similarity = 1 - 12k/(2·len) — no statistical noise near the 0.85
threshold.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .extract import extract_text_py

WORDS_PER_DOC = 72
WORD_LEN = 6
K_VARIANT = 4    # cluster variant window  → sim ≈ 0.95 vs canonical, 0.90 pairwise
K_CHAIN = 8      # chain window            → sim ≈ 0.90 adjacent, 0.81 A↔C
K_NEARMISS = 15  # near-miss window        → sim ≈ 0.82 (< 0.85)

HOT_DOMAIN = "hub.pages-host.com"
_BASE_TS = datetime(2024, 1, 1, tzinfo=timezone.utc)

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, entity_id long"
)
LABELS_SCHEMA = "url_a string, url_b string, label boolean, block_key string"


def _vocab(seed: int) -> list[str]:
    rng = random.Random(seed ^ 0x5EEDCAB)
    letters = "abcdefghijklm"
    return [
        "".join(rng.choice(letters) for _ in range(WORD_LEN)) for _ in range(1024)
    ]


def _noise_word(rng: random.Random) -> str:
    letters = "nopqrstuvwxyz"
    return "".join(rng.choice(letters) for _ in range(WORD_LEN))


# ---------------------------------------------------------------------------
# Layout arithmetic (pure functions of n_units)
# ---------------------------------------------------------------------------

_CLUSTER_SIZES = [2, 3, 4, 5]


def _unit_counts(approx_pages: int) -> tuple[int, int, int, int]:
    n_cluster = max(1, round(0.55 * approx_pages / 3.5))
    n_chain = max(1, round(0.12 * approx_pages / 3))
    n_hot = max(2, round(0.18 * approx_pages))
    n_nm = max(1, round(0.15 * approx_pages / 2))
    return n_cluster, n_chain, n_hot, n_nm


def _unit_spec(u: int, counts: tuple[int, int, int, int]) -> tuple[str, int, int]:
    """→ (type, n_pages_in_unit, first_entity_ordinal)."""
    n_cluster, n_chain, n_hot, n_nm = counts
    if u < n_cluster:
        return "cluster", _CLUSTER_SIZES[u % 4], u
    u2 = u - n_cluster
    if u2 < n_chain:
        return "chain", 3, n_cluster + u2
    u3 = u2 - n_chain
    if u3 < n_hot:
        return "hot", 1, n_cluster + n_chain + u3
    u4 = u3 - n_hot
    return "nearmiss", 2, n_cluster + n_chain + n_hot + 2 * u4  # two entities


def _unit_domain(utype: str, u: int) -> str:
    if utype == "hot":
        return HOT_DOMAIN
    return f"e{u}.site-{u % 97}.example.com"


def _unit_texts(utype: str, u: int, n_pages: int, seed: int, vocab: list[str]) -> list[str]:
    rng = random.Random((seed << 20) ^ (u * 2654435761 % (1 << 61)))
    base = rng.choices(vocab, k=WORDS_PER_DOC)

    def variant(words: list[str], start: int, k: int) -> list[str]:
        out = list(words)
        for i in range(start, min(start + k, WORDS_PER_DOC)):
            out[i] = _noise_word(rng)
        return out

    texts: list[list[str]] = []
    if utype == "cluster":
        texts.append(base)                      # canonical
        if n_pages > 1:
            texts.append(list(base))            # exact duplicate (mirror)
        for j in range(2, n_pages):             # disjoint variant windows
            texts.append(variant(base, (j - 2) * K_VARIANT, K_VARIANT))
    elif utype == "chain":
        texts = [
            variant(base, 0, K_CHAIN),          # A
            base,                               # B (canonical)
            variant(base, WORDS_PER_DOC - K_CHAIN, K_CHAIN),  # C
        ]
    elif utype == "hot":
        texts = [base]
    else:  # nearmiss
        texts = [base, variant(base, 20, K_NEARMISS)]
    return [" ".join(t) for t in texts]


def _unit_urls(utype: str, u: int, n_pages: int) -> list[str]:
    dom = _unit_domain(utype, u)
    urls = []
    for j in range(n_pages):
        prefix = "www." if (utype == "cluster" and j == 1) else ""
        path = f"page-{u}-{j}" if utype == "hot" else f"p{j}"
        urls.append(f"http://{prefix}{dom}/{path}")
    return urls


def _make_html(text: str, u: int, j: int) -> bytes:
    return (
        f"<html><head><title>Web Page</title>"
        f"<style>body {{margin:0}}</style>"
        f"<script>var u={u},j={j};</script></head>"
        f"<body><!-- unit {u} page {j} --><p>{text}</p>"
        f"<div>  </div></body></html>"
    ).encode("utf-8")


def _unit_pages(u: int, counts, seed: int, vocab: list[str]) -> list[dict]:
    utype, n_pages, ent0 = _unit_spec(u, counts)
    texts = _unit_texts(utype, u, n_pages, seed, vocab)
    urls = _unit_urls(utype, u, n_pages)
    rows = []
    for j, (url, body) in enumerate(zip(urls, texts)):
        html = _make_html(body, u, j)
        text = extract_text_py(html)  # per-row invariant holds by construction
        ts = _BASE_TS + timedelta(seconds=((u * 7919 + j * 131) % 31_536_000))
        entity = ent0 + j if utype == "nearmiss" else ent0
        lang = "de" if (utype == "hot" and u % 13 == 0) else "en"
        rows.append(
            dict(url=url, warc_ts=ts, html=html, text=text, lang=lang, entity_id=entity)
        )
    return rows


def _unit_labels(u: int, counts) -> list[dict]:
    utype, n_pages, _ = _unit_spec(u, counts)
    urls = _unit_urls(utype, u, n_pages)
    dom_key = "dom:" + _unit_domain(utype, u).removeprefix("www.")
    out = []
    if utype in ("cluster", "chain"):
        for i in range(n_pages):
            for j in range(i + 1, n_pages):
                a, b = sorted((urls[i], urls[j]))
                out.append(dict(url_a=a, url_b=b, label=True, block_key=dom_key))
    elif utype == "nearmiss":
        a, b = sorted(urls)
        out.append(dict(url_a=a, url_b=b, label=False, block_key=dom_key))
    else:  # hot: pair even unit with the next hot unit (same shared domain)
        n_cluster, n_chain, n_hot, _ = counts
        h_idx = u - n_cluster - n_chain
        if h_idx % 2 == 0 and h_idx + 1 < n_hot:
            other = _unit_urls("hot", u + 1, 1)[0]
            a, b = sorted((urls[0], other))
            out.append(dict(url_a=a, url_b=b, label=False, block_key="dom:" + HOT_DOMAIN))
    return out


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def generate_pages(spark: SparkSession, approx_pages: int = 1000, seed: int = 42) -> DataFrame:
    """Distributed deterministic corpus: (url, warc_ts, html, text, lang,
    entity_id). ``entity_id`` is ground truth — drop it before feeding the
    pipeline."""
    counts = _unit_counts(approx_pages)
    n_units = sum(counts)
    vocab = _vocab(seed)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for u in pdf["id"].tolist():
                rows.extend(_unit_pages(int(u), counts, seed, vocab))
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang", "entity_id"]
            )

    return spark.range(n_units).mapInPandas(gen, schema=PAGES_SCHEMA)


def generate_labeled_pairs(spark: SparkSession, approx_pages: int = 1000, seed: int = 42) -> DataFrame:
    """Ground-truth labeled pairs at a fixed blocking key (FIXTURES.md A2)."""
    counts = _unit_counts(approx_pages)
    n_units = sum(counts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for u in pdf["id"].tolist():
                rows.extend(_unit_labels(int(u), counts))
            yield pd.DataFrame(rows, columns=["url_a", "url_b", "label", "block_key"])

    return spark.range(n_units).mapInPandas(gen, schema=LABELS_SCHEMA)


def ensure_pages_table(spark: SparkSession, n_pages: int, seed: int = 42) -> str:
    """Write-once parquet cache of the ``bench.py`` corpus; returns the path.

    The cache lives on tmpfs (``/dev/shm/spark-bench``) when the host has
    one. Its key covers (pages, seed, generator source hash), so an edit to
    :func:`generate_pages` never silently reuses a stale corpus across
    revisions, and the layout (repartition 32, snappy parquet,
    ``entity_id`` dropped) is fixed, so timed legs always read the same
    bytes.
    """
    import hashlib
    import inspect
    import os

    base = "/dev/shm/spark-bench" if os.path.isdir("/dev/shm") else "/tmp/spark-bench"
    tag = hashlib.md5(inspect.getsource(generate_pages).encode()).hexdigest()[:10]
    path = f"{base}/pages-{n_pages}-s{seed}-{tag}.parquet"
    os.makedirs(base, exist_ok=True)
    # A killed writer leaves a partial directory every later run would
    # silently read (wrong corpus size skews recorded throughput) — only
    # Spark's _SUCCESS marker certifies completeness. Rebuilds go through
    # a temp dir + atomic rename, so concurrent harnesses sharing the
    # cache either win the rename or adopt the winner's complete copy.
    if os.path.isdir(path) and not os.path.exists(os.path.join(path, "_SUCCESS")):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
    if not os.path.exists(path):
        import shutil
        import uuid

        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        generate_pages(spark, n_pages, seed=seed).drop("entity_id").repartition(
            32
        ).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # another writer published first — use theirs, drop ours
            shutil.rmtree(tmp, ignore_errors=True)
    return path
