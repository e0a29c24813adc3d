"""End-to-end Spark pipeline tests on the sf0.001 synthetic corpus:
corpus synthesis → salted repartition → mapInArrow extraction →
extracted/spans/audit views."""

import pytest

from pyspark.sql import functions as F

from pdf_parser_spark.engine.corpus import (
    HOT_HOST,
    expected_extracted,
    synthesize_webdocs,
)
from pdf_parser_spark.engine.extractor import (
    audit_view,
    extracted_view,
    parse_webdocs,
    spans_view,
)
from pdf_parser_spark.engine.partitioning import compute_salt_map

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def webdocs(spark):
    return synthesize_webdocs(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def parsed(spark, webdocs):
    return parse_webdocs(webdocs, num_partitions=8).cache()


def test_corpus_shape(webdocs):
    rows = webdocs.select("doc_id", "url", "host", "lang").collect()
    assert len(rows) == 500
    assert len({r.url for r in rows}) == 500
    hot = sum(1 for r in rows if r.host == HOT_HOST)
    assert hot == pytest.approx(200, abs=5)  # 40% skew by construction


def test_extraction_byte_identical_per_url(spark, webdocs, parsed):
    # the core north-rule invariant: extracted text matches the oracle
    # transform byte-for-byte for every document, PDF and HTML alike
    truth = {
        r.doc_id: expected_extracted(r.doc_id, r.text or "")
        for r in webdocs.select("doc_id", "text").collect()
    }
    got = {
        int(r.url.rsplit("/", 1)[1]): r.text
        for r in extracted_view(parsed).select("url", "text").collect()
    }
    assert len(got) == len(truth)
    mismatches = [k for k in truth if got[k] != truth[k]]
    assert mismatches == []


def test_no_parse_failures_on_clean_corpus(parsed):
    assert parsed.filter(F.col("error").isNotNull()).count() == 0


def test_both_payload_kinds_present(parsed):
    kinds = dict(
        parsed.groupBy("kind").count().rdd.map(lambda r: (r["kind"], r["count"])).collect()
    )
    assert kinds == {"pdf": 250, "html": 250}


def test_spans_view_has_geometry_for_pdfs(parsed):
    sp = spans_view(parsed)
    row = sp.filter((F.col("size") > 0) & (F.col("x") > 0)).first()
    assert row is not None
    assert row.font == "/F1"
    n_urls = sp.select("url").distinct().count()
    assert n_urls == 250  # every PDF produced spans; html produces none


def test_audit_covers_all_partitions_and_docs(parsed):
    audit = audit_view(parsed).collect()
    assert sum(r.n_docs for r in audit) == 500
    assert sum(r.n_failures for r in audit) == 0
    assert all(r.docs_per_sec > 0 for r in audit)
    assert len(audit) <= 8


def test_payload_cap_degrades_to_error_row(spark, webdocs):
    # a mislabeled multi-GB crawl row must become an error row, not a
    # task failure — and must not affect its batch neighbors
    big = spark.createDataFrame(
        [("https://big.example/doc/x", "big.example", bytearray(b"<p>" + b"A" * 4096))],
        "url STRING, host STRING, html BINARY",
    )
    both = webdocs.select("url", "host", "html").limit(20).union(big)
    out = parse_webdocs(both, num_partitions=2, max_payload_bytes=2048)
    rows = {r.url: r for r in out.select("url", "text", "error", "payload_bytes").collect()}
    bad = rows["https://big.example/doc/x"]
    assert bad.error.startswith("PayloadTooLarge: ")
    assert bad.payload_bytes == 4099 and bad.text == ""
    others = [r for u, r in rows.items() if u != "https://big.example/doc/x"]
    assert len(others) == 20 and all(r.error is None for r in others)
    # cap=0 disables the guard
    out2 = parse_webdocs(big, num_partitions=1, max_payload_bytes=0)
    assert out2.filter(F.col("error").isNotNull()).count() == 0


def test_payload_cap_in_arrow_body():
    # the mapInArrow body enforces the cap itself, without Spark: the
    # oversize row is an error row, its batch neighbor parses normally
    import pyarrow as pa

    from pdf_parser_spark.engine.extractor import extract_batch_arrow
    from pdf_parser_spark.htmlcore import (
        expected_text_from_html_source,
        text_to_html,
    )

    batch = pa.RecordBatch.from_pydict(
        {
            "url": ["u1", "u2"],
            "html": [text_to_html("ok").encode(), b"<p>" + b"B" * 9000],
        }
    )
    (out,) = extract_batch_arrow(iter([batch]), max_payload_bytes=4096)
    by_url = {r["url"]: r for r in out.to_pylist()}
    assert by_url["u1"]["error"] is None
    assert by_url["u1"]["text"] == expected_text_from_html_source("ok")
    assert by_url["u2"]["error"].startswith("PayloadTooLarge")
    assert by_url["u2"]["text"] == "" and by_url["u2"]["payload_bytes"] == 9003


def test_salt_map_splits_hot_host(webdocs):
    salt_map = compute_salt_map(webdocs, target_docs_per_bucket=25)
    assert salt_map[HOT_HOST] >= 4  # ~200 docs / 25 per bucket
    # bounded driver materialization: only hosts ABOVE the per-bucket
    # threshold are collected — the long tail (≤ 25 docs/host here)
    # stays distributed and defaults to 1 bucket in salted_repartition
    cold = [h for h in salt_map if h != HOT_HOST]
    assert cold == []


def test_hot_host_spread_across_partitions(parsed, webdocs, spark):
    # join parsed back to host and check the hot host did not serialize
    # onto a single partition
    hosts = webdocs.select("url", "host")
    dist = (
        parsed.join(hosts, "url")
        .filter(F.col("host") == HOT_HOST)
        .select("partition_id")
        .distinct()
        .count()
    )
    assert dist >= 3


def test_scan_partitioned_matches_salted(spark, tmp_path, webdocs, parsed):
    """num_partitions=0 (no shuffle, scan-parallel) extracts the exact
    same (url, text) set as the salted default, and its physical plan
    contains no Exchange — the property that makes it the shippable
    plan for a stateless parse at 10^12-doc scale."""
    corpus_path = str(tmp_path / "corpus")
    webdocs.write.parquet(corpus_path)
    scan = parse_webdocs(
        spark.read.parquet(corpus_path), num_partitions=0
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {(r.url, r.text) for r in scan.select("url", "text").collect()}
    want = {(r.url, r.text) for r in parsed.select("url", "text").collect()}
    assert got == want
