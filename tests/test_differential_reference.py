"""Differential parity: run the actual reference library side by side.

The reference package at /root/reference cannot import as-is (babel
and tld are absent in this container), so tools/bench_reference
installs shim modules backed by the engine's own CLDR/PSL tables —
the same substitution the parity layer makes.  With the shims in
place we import the reference and compare *every* output over broad
URL corpora.  Zero tolerance: any disagreement fails.
"""

import sys

import pytest

sys.path.insert(0, "/root/repo")

from tools.bench_reference import _corpus, _install_shims  # noqa: E402


@pytest.fixture(scope="module")
def reference():
    _install_shims()
    sys.path.insert(0, "/root/reference")
    pytest.importorskip("courlan", reason="courlan reference checkout not present")
    import courlan as ref  # noqa: F401
    from courlan.core import check_url, extract_links
    from courlan.clean import clean_url, normalize_url, scrub_url

    return {
        "check_url": check_url,
        "extract_links": extract_links,
        "clean_url": clean_url,
        "normalize_url": normalize_url,
        "scrub_url": scrub_url,
    }


GNARLY = [
    "https://example.org/",
    "  https://www.dwds.de  ",
    "<![CDATA[https://www.dwds.de]]>",
    "https://www.dwds.de/test?param=test&amp;other=test",
    "https://g__https://www.dwds.de/",
    "https://web.archive.org/web/20131021165347/https://www.imdb.com/",
    "http://xn--mnchen-3ya.de/stadt/5",
    "http://test.org/?utm_source=rss&#038;utm_medium=rss",
    "http://test.org/#mtm_campaign=documentation&mtm_keyword=demo&catpage=3",
    "https://example.com//double//slash/x",
    "http://example.com:80",
    "http://example.com:80:80",
    "http://127.0.0.1/path",
    "http://0127.0.0.1",
    "https://taz.de/Zukunft-des-49-Euro-Tickets/!5968518/",
    "http://www.example.org/tag/abcde/",
    "http://www.example.org/2011/11/",
    "http://my-livechat.com/",
    "https://de.nachrichten.yahoo.com/bundesliga-fr%C3%B6hlich-175850830.html",
    "ftps://example.org/",
    "{mylink}",
    "http://ab",
    "https://www.test.com/&",
    'https://www.test.com/"<p></p>',
    "https://example.org/ab'c",
    "ø\xaa",
]


def test_check_url_differential(reference):
    from courlan_spark.urlkit import check_url

    corpus = _corpus(4000) + GNARLY
    for strict in (False, True):
        for language in (None, "de", "en"):
            for url in corpus:
                expected = reference["check_url"](
                    url, strict=strict, language=language
                )
                got = check_url(url, strict=strict, language=language)
                assert got == expected, (url, strict, language, expected, got)


def test_clean_and_scrub_differential(reference):
    from courlan_spark.urlkit import clean_url, scrub_url

    for url in _corpus(2000) + GNARLY:
        assert clean_url(url) == reference["clean_url"](url), url
        assert scrub_url(url) == reference["scrub_url"](url), url


def test_normalize_differential(reference):
    from courlan_spark.urlkit import normalize_url

    for url in _corpus(1000) + [u for u in GNARLY if u.startswith("http")]:
        for strict in (False, True):
            try:
                expected = reference["normalize_url"](url, strict=strict)
                failed = False
            except ValueError:
                failed = True
            if failed:
                with pytest.raises(ValueError):
                    normalize_url(url, strict=strict)
            else:
                assert normalize_url(url, strict=strict) == expected, (url, strict)


HTML_PAGES = [
    (
        '<html><a href="/a/1">x</a><a href="https://ext.org/p" rel="nofollow">y</a>'
        '<a hreflang="de-DE" href="/de/start">z</a><a href=/plain attribute=v>w</a></html>',
        "https://base.example.org/dir/page.html",
    ),
    (
        "<html><body><a href='/page/10'>10</a> <a href='/page/?=11'>11</a>"
        "<a href='{tmpl}'>t</a></body></html>",
        "https://example.org",
    ),
]


def test_extract_links_differential(reference):
    from courlan_spark.urlkit import extract_links

    for html, url in HTML_PAGES:
        for external in (False, True):
            for language in (None, "de"):
                for with_nav in (False, True):
                    expected = reference["extract_links"](
                        html,
                        url=url,
                        external_bool=external,
                        language=language,
                        with_nav=with_nav,
                    )
                    got = extract_links(
                        html,
                        url=url,
                        external_bool=external,
                        language=language,
                        with_nav=with_nav,
                    )
                    assert got == expected, (url, external, language, with_nav)
