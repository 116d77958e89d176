"""Extractor + normalizer: byte-identity invariant, reference-parity
normalization (every regex branch of matching_engine.py:30-53 class), and
Spark-column vs pure-Python twin agreement."""

from pyspark.sql import functions as F

from ai_data_matching_spark.extract import (
    extract_text_py,
    normalize_name_col,
    normalize_name_py,
    normalized_domain_col,
)

# Expected values follow the REFERENCE normalizer exactly
# (matching_engine.py:21-58): its suffix list does NOT include group/
# holdings/solutions/co-without-dot; multi-suffix chains strip
# cumulatively in list order; separators are one ' ' or '.'.
GOLDEN_NORMALIZE = [
    ("  Acme Corp  ", "acme"),
    ("Acme Inc.", "acme"),
    ("Microsoft Corporation", "microsoft"),
    ("Adecco Group", "adecco group"),          # 'group' not a ref suffix
    ("Cognizant Technology Solutions", "cognizant technology solutions"),
    ("IBM (United Kingdom)", "ibm"),
    ("Siemens - northern europe", "siemens"),
    ("Oracle US", "oracle"),
    ("SAP Global", "sap"),
    ("Tata Worldwide", "tata"),
    ("EY   Ernst &  Young", "ey ernst & young"),
    # every reference suffix-branch flavor:
    ("Acme co.", "acme"),                      # 'co.' with dot strips
    ("Acme Co", "acme co"),                    # bare 'co' is NOT in the list
    ("Widget Holdings NV", "widget holdings"), # 'nv' new; 'holdings' kept
    ("Fabrik BV", "fabrik"),
    ("Pasta SRL", "pasta"),
    ("Moda SpA", "moda"),
    ("Stuff Incorporated", "stuff"),
    ("Acme co. ltd.", "acme"),                 # cumulative: ltd. then co.
    ("Acme.llc", "acme"),                      # '.' separator branch
    ("inc", "inc"),                            # no separator → no strip
    ("Acme Ltd (US)", "acme"),                 # location pattern + suffix
    (None, ""),
    ("", ""),
]


def test_normalize_python_golden():
    for raw, expected in GOLDEN_NORMALIZE:
        assert normalize_name_py(raw) == expected, raw


def test_normalize_spark_matches_python(spark):
    rows = [(r,) for r, _ in GOLDEN_NORMALIZE]
    df = spark.createDataFrame(rows, "raw string")
    got = df.select("raw", normalize_name_col(F.col("raw")).alias("n")).collect()
    for r in got:
        assert r["n"] == normalize_name_py(r["raw"]), r["raw"]


def test_extractor_deterministic_and_strips_noise():
    html = (
        b"<html><head><title>T</title><script>bad()</script>"
        b"<style>x{}</style></head><body><!-- c --><p>Hello &amp; world</p></body></html>"
    )
    assert extract_text_py(html) == "T Hello & world"
    assert extract_text_py(html) == extract_text_py(html)
    assert extract_text_py(None) == ""
    assert extract_text_py(b"") == ""


def test_extract_udf_byte_identical_to_scalar(spark, pages_small, tmp_path):
    """The per-row invariant from BASELINE.json input_hint: extracted text
    is byte-identical per url — the committed ``extract`` snapshot (the
    only durable copy of it) == stored text column == scalar function
    output."""
    from dataclasses import asdict

    from ai_data_matching_spark.pipeline import PipelineConfig, run_pipeline
    from ai_data_matching_spark.sources.tables import TableIO, config_fingerprint

    io = TableIO(str(tmp_path / "snaps"))
    run_pipeline(spark, pages_small.drop("entity_id"), io=io)
    rec = io.last_committed("extract", config_fingerprint(asdict(PipelineConfig())))
    snap = io.read_snapshot(spark, rec).select("url", "extracted_text")
    stored = pages_small.select("url", F.col("text").alias("extracted_text"))
    assert snap.count() == stored.count() > 0
    assert snap.exceptAll(stored).count() == 0
    assert stored.exceptAll(snap).count() == 0
    sample = pages_small.select("html", "text").limit(20).collect()
    for r in sample:
        assert extract_text_py(bytes(r["html"])) == r["text"]


def test_normalized_domain(spark):
    rows = [
        ("http://www.Example.COM/path", "example.com"),
        ("https://sub.example.co.uk/x?q=1", "sub.example.co.uk"),
        ("http://example.com:8080/", "example.com"),
        ("example.org/path", "example.org"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], "url string")
    got = [r["d"] for r in df.select(normalized_domain_col(F.col("url")).alias("d")).collect()]
    assert got == [e for _, e in rows]


def test_variants_reference_semantics(spark):
    """P2 parity (matching_engine.py:60-79): {original, normalized,
    stopword-token-stripped} with raw-length guard and token-filter (not
    regex) stopword removal."""
    from ai_data_matching_spark.extract import normalize_name_col, variants_col

    rows = [
        ("Acme Inc (US)",),     # original + normalized; filtered == words
        ("The Acme Group",),    # norm == lower(raw) → no v1; stopwords → v2
        ("at&t services",),     # 'at&t' token survives, 'services' drops
        ("ab",),                # raw len < 3 → []
        (None,),                # null → []
    ]
    df = spark.createDataFrame(rows, "raw string")
    out = df.select(
        "raw",
        variants_col(F.col("raw"), normalize_name_col(F.col("raw"))).alias("v"),
    ).collect()
    got = {r["raw"]: [(s["priority"], s["variant"]) for s in r["v"]] for r in out}
    assert got["Acme Inc (US)"] == [(0, "Acme Inc (US)"), (1, "acme")]
    assert got["The Acme Group"] == [(0, "The Acme Group"), (2, "acme")]
    assert got["at&t services"] == [(0, "at&t services"), (2, "at&t")]
    assert got["ab"] == []
    assert got[None] == []
