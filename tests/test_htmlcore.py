"""Golden tests for HTML boilerplate stripping (north-rule requirement)."""

from pdf_parser_spark.htmlcore import (
    expected_text_from_html_source,
    extract_html,
    text_to_html,
)
from pdf_parser_spark.htmlcore.extract import html_blocks


def test_corpus_roundtrip_identity():
    src = 'Line one & <angle> "quotes"\nsecond   spaced\n\n  padded  '
    assert extract_html(text_to_html(src)) == expected_text_from_html_source(src)


def test_semantic_main_wins_over_boilerplate():
    html = text_to_html("the actual content line")
    out = extract_html(html)
    assert out == "the actual content line"
    assert "Home" not in out
    assert "Copyright" not in out
    assert "Buy one get one free" not in out


def test_density_fallback_without_article():
    html = """
    <html><body>
    <nav><a href="/">Home</a> <a href="/x">Other page link</a></nav>
    <div>This paragraph is long enough to be recognized as genuine body content.</div>
    <div>short</div>
    <div><a href="/spam">A link-heavy block that should fail the link density test entirely</a></div>
    <footer>Copyright notice text that lives in a boilerplate container element.</footer>
    </body></html>
    """
    out = extract_html(html)
    assert out == (
        "This paragraph is long enough to be recognized as genuine body content."
    )


def test_script_and_style_content_excluded():
    html = (
        "<html><body><article><p>keep me in the output stream</p>"
        "<script>var x = 'drop me';</script>"
        "<style>.c { color: red }</style></article></body></html>"
    )
    assert extract_html(html) == "keep me in the output stream"


def test_entities_unescaped():
    html = "<html><body><article><p>&lt;b&gt; &amp; &quot;q&quot; &#39;s&#39;</p></article></body></html>"
    assert extract_html(html) == "<b> & \"q\" 's'"


def test_comments_and_cdata_ignored():
    html = "<article><p>a</p><!-- <p>ghost</p> --><p>b</p></article>"
    assert extract_html(html) == "a\nb"


def test_block_features():
    html = '<div>text with <a href="x">a link</a> inside</div>'
    blocks = html_blocks(html)
    assert len(blocks) == 1
    b = blocks[0]
    assert b.text == "text with a link inside"
    assert b.link_chars == len("a link")
    assert 0 < b.link_density < 0.5


def test_nested_main_depth_tracking():
    html = "<main><div><p>inner</p></div></main><p>outer paragraph that is long enough</p>"
    assert extract_html(html) == "inner"


def test_br_is_a_block_boundary():
    html = "<article>first part<br>second part</article>"
    assert extract_html(html) == "first part\nsecond part"


def test_adversarial_html_never_raises_or_hangs():
    """Malformed-web-soup sweep (the HTML analog of the PDF mutation
    fuzz): deeply nested tags, unclosed comments/tags, huge
    attributes, entity floods, NULs, truncations — the extractor must
    return a string quickly for all of them (failures at crawl scale
    must become empty/partial text, never exceptions or stalls)."""
    import time

    cases = [
        "<div>" * 5000 + "text" + "</div>" * 5000,
        "<p>before</p><!-- never closed " + "x" * 100000,
        "<p>text " * 20000,
        '<p class="' + "a" * 500000 + '">body</p>',
        "<script>" + "var x=1;" * 50000 + "</script><p>real</p>",
        "< < > >> <<p>>text<</p>>",
        "&amp;" * 100000,
        "<p>a\x00b</p>",
        "<![CDATA[ <p>not real</p> ]]><p>real</p>",
        "<table><tr><td>" * 1000 + "cell",
    ]
    good = text_to_html("normal doc\nsecond line")
    cases += [good[:i] for i in range(0, len(good), max(1, len(good) // 25))]
    t0 = time.time()
    for h in cases:
        assert isinstance(extract_html(h), str)
    assert time.time() - t0 < 20


def test_numeric_entity_bomb_kept_raw():
    """html.unescape raises ValueError past CPython's 4300-digit
    int-conversion limit; a crawled &#99…9; bomb must not break the
    total-function contract — the segment stays raw."""
    bomb = "&#" + "9" * 100_000 + ";"
    out = extract_html(f"<html><body><p>keep {bomb} going</p></body></html>")
    assert "keep" in out and "going" in out
    # normal numeric entities still decode (pad past the block-scoring
    # threshold so the paragraph is treated as main content)
    pad = "filler words to pass the main-content scorer " * 4
    out2 = extract_html(
        f"<html><body><p>A&#66;C and &#x44; {pad}</p></body></html>"
    )
    assert "ABC" in out2 and "D " in out2


def test_markup_junk_pages_linear():
    """Crawled markup junk ('<'*n, '<a '*n, '<!-- >'*n) made the
    tokenizer quadratic pre-fix (18 s at 200 KB): failing '>'-less or
    '-->'-less scans repeated at every '<'. The last-'>' scan bound
    plus eof-in-comment swallowing make these O(n); bound generously."""
    import time

    t0 = time.perf_counter()
    for s in ("<" * 500_000, "<a " * 200_000, "<!-- >" * 100_000):
        out = extract_html(s)
        assert isinstance(out, str)
    assert time.perf_counter() - t0 < 5.0


def test_unterminated_comment_swallows_to_eof():
    # HTML spec eof-in-comment: everything after an unterminated
    # <!-- is comment, not content
    out = extract_html(
        "<html><body><p>keep this paragraph of reasonable length"
        "</p><!-- cut " + "x" * 80 + "</body></html>"
    )
    assert "keep" in out and "xxx" not in out


def test_html_metadata_fields_and_hostile_inputs():
    from pdf_parser_spark.htmlcore.extract import html_metadata
    from pdf_parser_spark.htmlcore.gen import text_to_html

    page = text_to_html("First Line & more\nbody text here", lang="de", doc_id=7)
    m = html_metadata(page)
    assert m["title"] == "First Line & more"   # entity round-trip
    assert m["lang"] == "de"
    assert m["charset"] == "utf-8"
    assert m["n_anchors"] == 12
    # partner links: doc_id*31+k targets, document order, deduped
    assert m["outlinks"] == [
        "https://site-24.example.com/doc/218",
        "https://site-25.example.com/doc/219",
        "https://heavy.example.org/doc/220",
    ]
    # hostile shapes: unterminated title, tag-runs, empties — all
    # linear and total
    assert html_metadata("<title>never closed ...")["title"] is None
    assert html_metadata("<" * 100000)["n_anchors"] == 0
    assert html_metadata("")["outlinks"] == []
    dup = '<a href="https://x.com/a"></a><a href="https://x.com/a"></a>'
    assert html_metadata(dup)["outlinks"] == ["https://x.com/a"]
    # title whitespace normalization + charset case-folding
    weird = "<html LANG='fr'><head><meta CHARSET='UTF-8'><title> a \t b </title></head>"
    m2 = html_metadata(weird)
    assert m2["title"] == "a b" and m2["lang"] == "fr" and m2["charset"] == "utf-8"


class _ScanCountingStr(str):
    """A str that adds up the window length of every ``find`` call on it."""

    scanned = 0

    def find(self, sub, start=0, end=None):
        end = len(self) if end is None else min(end, len(self))
        type(self).scanned += max(end - start, 0)
        return str.find(self, sub, start, end)


def test_html_metadata_meta_run_is_linear():
    # "<meta " * N with no ">" or one ">" at the very end: every <meta
    # used to search to the end of the page for its ">", and with the
    # distant ">" also slice and regex-scan the rest of the page —
    # quadratic, over ten minutes at this N. Each tag is now read to at
    # most 512 chars, so the chars searched stay linear in the page
    # (the quadratic form searches ~10^11 here, the bound is ~10^8).
    from pdf_parser_spark.htmlcore.extract import html_metadata

    n = 200_000
    for tail, charset in (
        ("", None),
        (">", None),
        ('><meta charset="Latin1">', "latin1"),  # a real tag after the run
    ):
        page = "<meta " * n + tail
        _ScanCountingStr.scanned = 0
        assert html_metadata(_ScanCountingStr(page))["charset"] == charset
        assert _ScanCountingStr.scanned <= 512 * (n + 1) + 2 * len(page)
