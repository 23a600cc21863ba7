"""Extraction correctness: oracle semantics + the per-row byte-identity
invariant between the pandas-UDF path and the pure-Python oracle
(north rule: "byte-identical extracted text per url")."""

from __future__ import annotations

from pyspark.sql import functions as F

from plwordnet_spark.corpus import generate_pages, page_record
from plwordnet_spark.extraction import oracle
from plwordnet_spark.extraction.udfs import extract_text_udf, parse_pages, typed_links_udf

N_PAGES = 300
SEED = 42


def test_clean_text_ordered_removal():
    # noise phrases removed, strip after each removal
    assert oracle.clean_text("Click here some reasonably long text here") == (
        "some reasonably long text here"
    )
    # below min length → None
    assert oracle.clean_text("short text") is None
    # exact blacklist
    assert oracle.clean_text("no data", min_len=1) is None
    # strip charset applies after phrase removal
    assert oracle.clean_text("[{a perfectly fine long example}]") == "a perfectly fine long example"


def test_extract_page_fields():
    html = (
        "<html><body>"
        "<p>##K: geografia ##D: rzeka w polsce plynie przez miasto i las</p>"
        '<a href="https://d1.example.org/p/7">x</a>'
        '<a href="http://d2.example.org/p/9/">y</a>'
        '<a href="#frag">skip</a><a href="mailto:a@b.c">skip</a>'
        "<p>[##P: przyklad uzycia slowa w zdaniu dluzszym]</p>"
        "##A1: {radość; jakość} + s [zdanie z sentymentem dosyc dlugie tutaj]"
        "{##L: http://ext1.example.net/a }"
        "<script>##D: decoy</script>"
        "</body></html>"
    ).encode("utf-8")
    page = oracle.extract_page(html)
    assert page.links == ["https://d1.example.org/p/7", "https://d2.example.org/p/9"]
    assert page.topic == "geografia."
    assert page.definition == "rzeka w polsce plynie przez miasto i las"
    assert [e["text"] for e in page.usage_examples] == [
        "przyklad uzycia slowa w zdaniu dluzszym"
    ]
    assert page.usage_examples[0]["example_type"] == "P"
    assert page.sentiment_annotations[0]["example"] == (
        "zdanie z sentymentem dosyc dlugie tutaj"
    )
    assert page.sentiment_annotations[0]["emotions"] == ["radość"]
    assert page.sentiment_annotations[0]["strength"] == "+ s"
    assert page.external_url == "https://ext1.example.net/a"
    assert page.text.split("\n")[0] == "geografia."


def test_empty_and_noise_pages():
    assert oracle.extract_page(b"").text == ""
    noisy = b"<html><body><p>Click here</p><p>Advertisement</p></body></html>"
    assert oracle.extract_page(noisy).links == []


def test_corpus_determinism():
    a = page_record(17, N_PAGES, SEED)
    b = page_record(17, N_PAGES, SEED)
    assert a == b
    c = page_record(17, N_PAGES, seed=7)
    assert a["html"] != c["html"]


def test_udf_byte_identity_vs_oracle(spark):
    """The invariant: Spark UDF text == oracle text == stored ground truth,
    for every url, byte-for-byte."""
    pages = generate_pages(spark, N_PAGES, SEED).cache()
    extracted = (
        pages.select(
            "url",
            "html",
            "text",
            extract_text_udf(F.col("html")).alias("udf_text"),
            typed_links_udf(F.col("url"), F.col("html")).dst_url.alias("udf_links"),
        )
    )
    mismatches = extracted.filter(F.col("text") != F.col("udf_text")).count()
    assert mismatches == 0
    rows = extracted.collect()
    assert len(rows) == N_PAGES
    for row in rows:
        assert list(row.udf_links) == oracle.extract_links(bytes(row.html).decode("utf-8"))
    # cross-check a sample row against a fresh local oracle run
    sample = pages.limit(5).collect()
    for row in sample:
        parsed = oracle.extract_page(bytes(row.html), url=row.url)
        assert parsed.text == row.text
    pages.unpersist()


def test_parse_pages_struct(spark):
    pages = generate_pages(spark, 50, SEED)
    parsed = parse_pages(pages)
    assert set(parsed.columns) == {
        "url",
        "links",
        "topic",
        "definition",
        "usage_examples",
        "sentiment_annotations",
        "external_url",
        "text",
    }
    row = parsed.filter(F.size("links") > 0).first()
    assert row is not None
    assert all(link.startswith("https://") for link in row.links)


def test_partition_count_invariance(spark):
    """Corpus content must not depend on partitioning (determinism clause
    of SURVEY.md §7)."""
    one = generate_pages(spark, 80, SEED, partitions=1).select("url", "text")
    many = generate_pages(spark, 80, SEED, partitions=8).select("url", "text")
    assert one.exceptAll(many).count() == 0
    assert many.exceptAll(one).count() == 0
