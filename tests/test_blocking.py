"""Blocking: sketch determinism, exact-group edges, hot-key skew
splitting, salted-join round-trip (SURVEY §4 custom work items 1 & 3)."""

from pyspark.sql import functions as F

from ai_data_matching_spark.operators.blocking import (
    candidate_pairs,
    exact_match_edges,
    salted_equijoin,
    with_extract_sketch_keys,
)


def _keyed(df):
    """Stage 1+2 over (url, norm_text, lang) rows: the text goes through
    the kernel as tag-free html, so extraction keeps it and normalization
    only lowercases it."""
    return with_extract_sketch_keys(
        df.withColumn("html", F.encode("norm_text", "utf-8")), drop_cols=("norm_text",)
    )


def _blocked(spark):
    rows = [
        ("http://a.com/1", "alpha beta gamma delta epsilon zeta", "en"),
        ("http://www.a.com/2", "alpha beta gamma delta epsilon zeta", "en"),  # exact dup
        ("http://a.com/3", "alpha beta gamma delta epsilon QQQ", "en"),       # near dup
        ("http://b.com/1", "totally different words here now ok", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, norm_text string, lang string")
    return _keyed(df)


def test_simhash_deterministic_and_near(spark):
    b = _blocked(spark).select("url", "simhash").collect()
    sh = {r["url"]: r["simhash"] for r in b}
    assert sh["http://a.com/1"] == sh["http://www.a.com/2"]  # identical text
    # near-duplicate text → small hamming distance
    ham = bin((sh["http://a.com/1"] ^ sh["http://a.com/3"]) & (2**64 - 1)).count("1")
    assert ham < 24
    # unrelated text → large distance
    ham2 = bin((sh["http://a.com/1"] ^ sh["http://b.com/1"]) & (2**64 - 1)).count("1")
    assert ham2 > ham


def test_exact_match_edges_star_shape(spark):
    blocked = _blocked(spark)
    edges = exact_match_edges(blocked).collect()
    assert len(edges) == 1
    e = edges[0]
    assert e["src"] == "http://www.a.com/2" and e["dst"] == "http://a.com/1"
    assert e["score"] == 1.0 and e["match_type"] == "exact"


def _hub_blocked(spark):
    """One hot domain with 30 unrelated pages + one small domain pair."""
    hot = [(f"http://hub.com/{i}", f"unique text number {i} padding words", "en") for i in range(30)]
    cold = [
        ("http://c.com/1", "shared cold text one two three", "en"),
        ("http://c.com/2", "shared cold text one two four", "en"),
    ]
    df = spark.createDataFrame(hot + cold, "url string, norm_text string, lang string")
    return _keyed(df)


def test_candidate_pairs_and_hot_key_exclusion(spark):
    blocked = _hub_blocked(spark)
    pairs, overflow = candidate_pairs(blocked, max_block_size=10)
    ov = {r["block_key"] for r in overflow.collect()}
    assert "dom:hub.com" in ov
    got = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    assert ("http://c.com/1", "http://c.com/2") in got
    # no dom-key pairs from the hot domain (band collisions may still pair a few)
    assert len(got) < 30


def test_band_pairs_hamming_filtered(spark):
    """Band-key collisions between textually-unrelated pages (simhash
    Hamming > threshold) must not become candidate pairs, while
    domain-key pairs survive regardless of sketch distance."""
    base = " ".join(f"word{i:02d}" for i in range(40))
    rows = [
        ("http://x1.com/p", base, "en"),
        ("http://x2.com/p", base, "en"),  # cross-domain mirror (hamming 0)
        ("http://y.com/a", "one twoo three fourr fivee sixxx seven", "en"),
        ("http://y.com/b", "completely unrelated content words here", "en"),  # same domain, far text
    ]
    df = spark.createDataFrame(rows, "url string, norm_text string, lang string")
    pairs, _ = candidate_pairs(_keyed(df))
    got = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    # same-domain pair kept even though texts are unrelated
    assert ("http://y.com/a", "http://y.com/b") in got
    # cross-domain near-dup found via band keys (small hamming)
    assert ("http://x1.com/p", "http://x2.com/p") in got
    # no pairing of unrelated cross-domain pages
    assert ("http://x1.com/p", "http://y.com/b") not in got
    assert ("http://x1.com/p", "http://y.com/a") not in got


def _broadcast_semi_joins(df) -> int:
    """Broadcast left-semi joins in ``df``'s physical plan, cached
    sub-plans included."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("BroadcastHashJoin" in ln and "LeftSemi" in ln for ln in plan.splitlines())


def _check_flag_contract(blocked, max_block_size):
    """``_is_new`` over a third of the rows: the flagged input yields
    exactly the base output that touches a new row, and only the flagged
    input pays for the broadcast cut to the batch."""
    flagged = blocked.withColumn("_is_new", F.pmod(F.xxhash64("url"), F.lit(3)) == 0)
    new_urls = [r["url"] for r in flagged.filter("_is_new").select("url").collect()]
    new_keys = {
        r["k"]
        for r in flagged.filter("_is_new").select(F.explode("block_keys").alias("k")).collect()
    }
    assert 0 < len(new_urls) < blocked.count()

    base_pairs, base_hot = candidate_pairs(blocked, max_block_size=max_block_size)
    pairs, hot = candidate_pairs(flagged, max_block_size=max_block_size)
    touching = base_pairs.filter(F.col("url_a").isin(new_urls) | F.col("url_b").isin(new_urls))
    assert touching.count() > 0
    assert pairs.exceptAll(touching).count() == 0
    assert touching.exceptAll(pairs).count() == 0
    base_ov = {(r["block_key"], r["block_size"]) for r in base_hot.collect()}
    assert {(r["block_key"], r["block_size"]) for r in hot.collect()} == {
        (k, n) for k, n in base_ov if k in new_keys
    }

    base_exact = exact_match_edges(blocked)
    exact = exact_match_edges(flagged)
    base_rows = base_exact.collect()
    groups: dict[str, set] = {}
    for r in base_rows:
        groups.setdefault(r["dst"], {r["dst"]}).add(r["src"])
    touched_reps = {rep for rep, members in groups.items() if members & set(new_urls)}
    want = {tuple(r) for r in base_rows if r["dst"] in touched_reps}
    assert {tuple(r) for r in exact.collect()} == want

    # the O(batch) cut: present for flagged input, absent for base input
    assert _broadcast_semi_joins(hot) > 0
    assert _broadcast_semi_joins(exact) > 0
    assert _broadcast_semi_joins(base_hot) == 0
    assert _broadcast_semi_joins(base_exact) == 0
    return base_ov, want


def test_flagged_input_yields_the_batch_touching_output(spark, pages_small):
    """The fold hands candidate_pairs / exact_match_edges a union of old
    and new rows flagged by ``_is_new``: pairs with a new endpoint, the
    overflow of keys holding a new row, and the exact edges of groups
    with a new member — each equal to the base output restricted to
    them — on the hot-domain fixture and the shared synthetic corpus."""
    from ai_data_matching_spark.cache import release_persisted
    from ai_data_matching_spark.operators.blocking import latest_crawl_wins

    try:
        hub_ov, _ = _check_flag_contract(_hub_blocked(spark), max_block_size=10)
        assert "dom:hub.com" in {k for k, _ in hub_ov}
        corpus = latest_crawl_wins(with_extract_sketch_keys(pages_small.drop("entity_id")))
        _, exact = _check_flag_contract(corpus, max_block_size=10)
        assert exact
    finally:
        release_persisted()


def test_salted_join_round_trips(spark):
    fact = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("string").alias("k"), F.col("id").alias("v")
    )
    dim = spark.createDataFrame(
        [("0", "zero"), ("1", "one"), ("2", "two")], "k string, name string"
    )
    plain = fact.join(dim, "k").select("k", "v", "name")
    salted = salted_equijoin(fact, dim, "k", n_salt=4, hot_key_threshold=100)
    assert salted.count() == plain.count()
    assert salted.select("k", "v", "name").exceptAll(plain).count() == 0
    assert plain.exceptAll(salted.select("k", "v", "name")).count() == 0


def test_exact_edges_null_domain_group_kept(spark):
    """Pages with a null norm_domain (unparseable url) that share a simhash
    must still form an exact group — the join-back is null-safe."""
    from ai_data_matching_spark.operators.blocking import exact_match_edges

    rows = [("u1", None, 42), ("u2", None, 42), ("u3", "a.com", 42)]
    blocked = spark.createDataFrame(rows, "url string, norm_domain string, simhash long")
    edges = exact_match_edges(blocked)
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    assert got == {("u2", "u1")}


def _twin(html: bytes):
    """Scalar reference for one page: extract_text_py → normalize_name_py
    → simhash_minhash_py, with the blocking keys in their string format."""
    from ai_data_matching_spark.extract import extract_text_py, normalize_name_py
    from ai_data_matching_spark.functions.sketches import simhash_minhash_py

    ex = extract_text_py(html)
    nm = normalize_name_py(ex)
    sim, sig = simhash_minhash_py(nm, 3, 16)
    bands = [f"sh{b}:{((sim % 2**64) >> (16 * b)) & 0xFFFF:X}" for b in range(4)]
    return ex, nm, sim, sig, bands


def _kernel_rows(spark, **knobs):
    from ai_data_matching_spark.synth import generate_pages

    pages = generate_pages(spark, 200, seed=11).drop("entity_id")
    out = with_extract_sketch_keys(pages.withColumn("raw", F.col("html")), **knobs)
    return pages, out, out.collect()


def test_fused_extract_sketch_parity(spark):
    """The stage-1+2 kernel equals its scalar twins row by row — text,
    sketches, and the dom:/shN: key format — and emits the documented
    columns in order."""
    pages, out, rows = _kernel_rows(spark)
    keep = [c for c in pages.columns if c not in ("html", "text")]
    assert out.columns == keep + [
        "raw", "norm_domain", "extracted_text", "norm_text",
        "simhash", "minhash_sig", "block_keys",
    ]
    assert len(rows) == pages.count() > 0
    for r in rows:
        ex, nm, sim, sig, bands = _twin(bytes(r["raw"]))
        assert r["extracted_text"] == ex
        assert r["norm_text"] == nm
        assert r["simhash"] == sim and list(r["minhash_sig"]) == sig
        assert r["block_keys"] == [f"dom:{r['norm_domain']}"] + bands


def test_extract_sketch_kernel_byte_knobs(spark):
    """emit_extracted=False drops extracted_text; text_prefix returns an
    exact norm_text prefix while the sketches still cover the full text."""
    prefix = 40
    _, out, rows = _kernel_rows(spark, emit_extracted=False, text_prefix=prefix)
    assert "extracted_text" not in out.columns
    truncated = 0
    for r in rows:
        _, full, sim, sig, bands = _twin(bytes(r["raw"]))
        assert r["norm_text"] == full[:prefix]
        assert r["simhash"] == sim and list(r["minhash_sig"]) == sig
        assert r["block_keys"][1:] == bands
        truncated += len(full) > prefix
    # the prefix must actually cut, or the full-text claim is untested
    assert truncated > 0


def test_latest_crawl_wins_is_column_order_independent(spark):
    """The survivor must be keyed by NAME (warc_ts leading), not by frame
    column order — a frame passed as (url, lang, warc_ts) must not pick
    the max-lang row."""
    from ai_data_matching_spark.operators.blocking import latest_crawl_wins

    rows = [
        ("u1", "zz", "2020-01-01 00:00:00"),   # older crawl, max lang
        ("u1", "aa", "2021-01-01 00:00:00"),   # latest crawl, min lang
    ]
    df = spark.createDataFrame(rows, "url string, lang string, warc_ts string").select(
        "url", "lang", F.to_timestamp("warc_ts").alias("warc_ts")
    )
    out = {r["url"]: r["lang"] for r in latest_crawl_wins(df).collect()}
    assert out == {"u1": "aa"}

    # and the canonical column order picks the same survivor
    out2 = {
        r["url"]: r["lang"]
        for r in latest_crawl_wins(df.select("url", "warc_ts", "lang")).collect()
    }
    assert out2 == {"u1": "aa"}
