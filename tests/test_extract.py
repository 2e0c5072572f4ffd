"""E1 extraction — the byte-identical per-url invariant (BASELINE.json
input_hint). Golden source: fixture documents carry both html and the
ground-truth text; extractor output must equal text for EVERY row."""

import duckdb

from refined_spark.operators.extract import extract_text, with_extracted_text


def test_extract_basics():
    assert extract_text(b"<html><body><p>a b</p><p>c</p></body></html>") == "a b\nc"
    assert extract_text(b"<p>x &amp; y</p>") == "x & y"
    assert extract_text(b"<p>a <b>bold</b> c</p>") == "a bold c"
    assert extract_text(b"<p>a</p><script>var x=1;</script><p>b</p>") == "a\nb"
    assert extract_text(b"<p>  spaced   out  </p>") == "spaced out"
    assert extract_text(None) == ""
    assert extract_text(b"") == ""


def test_extract_byte_identical_python(fx_t1):
    rows = duckdb.sql(
        f"select url, html, text from read_parquet('{fx_t1}/documents.parquet')"
    ).fetchall()
    assert len(rows) > 0
    for url, html, text in rows:
        assert extract_text(html) == text, url


def test_extract_byte_identical_spark(spark, fx_t1):
    docs = spark.read.parquet(f"{fx_t1}/documents.parquet")
    out = with_extracted_text(docs)
    mismatches = out.filter("extracted <> text").count()
    assert mismatches == 0
    assert out.count() == docs.count()

def test_jvm_extraction_matches_python_oracle(spark, fx_t1, fx_t2):
    """The codegen regexp-chain extractor must be byte-identical to the
    stdlib-parser oracle on every corpus document (per-url invariant).
    (Driver testdata documents carry pre-extracted text, no html.)"""
    import os

    from refined_spark.operators.extract import extract_text, extracted_text_col

    for src in (os.path.join(fx_t1, "documents.parquet"),
                os.path.join(fx_t2, "documents.parquet")):
        docs = spark.read.parquet(src)
        got = {r["url"]: r["jvm"] for r in docs.select(
            "url", extracted_text_col("html").alias("jvm")).collect()}
        for r in docs.select("url", "html").collect():
            assert got[r["url"]] == extract_text(r["html"]), r["url"]


def test_jvm_extraction_adversarial_cases(spark):
    """Adversarial inputs within the documented HTML class."""
    from refined_spark.operators.extract import extract_text, extracted_text_col

    cases = [
        "<html><body><p>a &amp;lt; b</p></body></html>",
        "<p>one</p><p></p><p>  </p><p>two</p>",
        "<p>pre<script>var x='<p>nope</p>';</script>post</p>",
        "<p>unclosed<script>var y=1;",
        "<P>Upper <B>case</B> TAGS</P>",
        "<p>a<br>b<br/>c</p>",
        "<li> spaced \t\n item </li>",
        "text with no tags at all",
        "  leading and trailing  ",
        "<p>&quot;q&quot; &#x27;a&#x27; &amp; x</p>",
        "<style>p {color: red}</style><p>visible</p>",
        "",
    ]
    df = spark.createDataFrame(
        [(str(i), c.encode()) for i, c in enumerate(cases)],
        "url: string, html: binary")
    got = {r["url"]: r["jvm"] for r in df.select(
        "url", extracted_text_col("html").alias("jvm")).collect()}
    for i, c in enumerate(cases):
        assert got[str(i)] == extract_text(c.encode()), repr(c)


def test_pipeline_extraction_guard_raises_on_contract_violation(
        spark, fx_t1, persistent_rdd_ids):
    """run_pipeline's default-on sampled guard (round-1 ADVICE, round-2
    VERDICT #4): a corpus whose HTML violates the extraction contract
    (bare named refs outside the html.escape set) must fail loudly
    instead of silently shifting downstream span offsets."""
    import pytest
    from test_footers import _last_job_id

    from refined_spark.pipeline import run_pipeline

    bad = spark.createDataFrame(
        [("u0", bytearray(b"<p>a &nbsp; b</p>"))],
        "url string, html binary")
    before = _last_job_id(spark)
    with pytest.raises(AssertionError, match="extraction HTML contract"):
        run_pipeline(spark, fx_t1, mode="spans", documents=bad,
                     extraction_guard_mod=1)
    # spans mode: the standalone guard is one job, and the first
    assert _last_job_id(spark) - before == 1
    # e2e: the guard rides the mentions scan and fails its job, leaving
    # no cache behind
    from pyspark.errors import PythonException

    before = persistent_rdd_ids()
    with pytest.raises((AssertionError, PythonException),
                       match="extraction HTML contract"):
        run_pipeline(spark, fx_t1, mode="e2e", documents=bad,
                     extraction_guard_mod=1)
    assert not persistent_rdd_ids() - before


def test_standalone_guard_counts_and_caps_urls(spark, fx_t1):
    """The standalone guard is one job (a summary row per partition) on a
    clean corpus and returns the sampled count; a violation names at
    most 5 urls, gathered across partitions."""
    import pytest
    from test_footers import _jobs_launched

    from refined_spark.operators.extract import assert_extraction_contract
    from refined_spark.pipeline import load_tables

    docs = load_tables(spark, fx_t1)["documents"]
    n, n_jobs = _jobs_launched(
        spark, lambda: assert_extraction_contract(docs, mod=4))
    assert n_jobs == 1
    assert 0 < n < docs.count()

    bad = spark.createDataFrame(
        [(f"u{i}", bytearray(b"<p>a &nbsp; b</p>")) for i in range(12)],
        "url string, html binary")
    with pytest.raises(AssertionError,
                       match=r"urls \[('u\d+', ){4}'u\d+'\] — corpus"):
        assert_extraction_contract(bad, mod=1)
