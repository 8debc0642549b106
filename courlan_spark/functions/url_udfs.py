"""Arrow-batched pandas UDFs evaluating the urlkit parity layer.

One JVM->Python boundary per stage: each UDF receives a pandas Series
backed by an Arrow batch, evaluates the fused scalar pipeline with
per-batch caching, and returns columnar results.  Regexes compile
once per executor (module import); the per-URL work is the same
early-exit chain as the reference's check_url
(/root/reference/courlan/core.py:63-122).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

import numpy as np

from ..urlkit import (
    check_scrubbed_url,
    make_check_caches,
    extract_domain,
    extract_links,
    get_host_and_path,
    normalize_url,
    scrub_url,
)
from ..urlkit.patterns import (
    RX_ADULT_VIDEO,
    RX_FILE_TYPE,
    RX_NAVIGATION,
    RX_SITE_STRUCTURE,
)

CHECK_RESULT_SCHEMA = StructType(
    [
        StructField("norm_url", StringType()),
        StructField("domain", StringType()),
    ]
)

# rows on which scrub_url (urlkit/textual.py:49) is provably the
# identity skip the per-row call: no whitespace/control chars, no
# markup/CDATA/garbage chars (<>"{}), no entity-encoded or trailing
# ampersand, no doubled protocol — plus, checked separately, not a
# 3-slash/trailing-slash URL (the hostname-only rstrip branch)
import re as _re

_RX_SCRUB_DIRTY = _re.compile(r'[\s\x00-\x1f<>"{}]|&amp;|/&$|://.*://')

HOST_PATH_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("path", StringType()),
    ]
)


def check_url_batch(
    urls: pd.Series,
    strict: bool = False,
    language: str | None = None,
    with_nav: bool = False,
    trailing_slash: bool = True,
) -> pd.DataFrame:
    """Batch check_url over a pandas Series: the cheap-reject prefix
    (basic_filter length/prefix gate, then the type_filter regex
    battery over the scrubbed URL) runs as VECTORIZED pandas string
    operations, so only survivors pay the per-row urlsplit/normalize/
    PSL tail (``check_scrubbed_url`` — the same function the scalar
    ``check_url`` ends in, so parity is single-sourced).  On a
    web-crawl mix where most rows die early this is the difference
    between a per-row Python loop and a handful of C-loop passes.

    Returns a DataFrame (norm_url, domain) positionally aligned with
    the input; both columns NULL for rejected rows.
    """
    values = urls.to_numpy(dtype=object, copy=False)
    n = len(values)
    norms = np.full(n, None, dtype=object)
    domains = np.full(n, None, dtype=object)

    s = pd.Series(values)
    alive = s.map(lambda u: isinstance(u, str)).to_numpy(dtype=bool)
    sv = s[alive]
    if len(sv):
        # basic_filter, vectorized (urlkit/predicates.py:35)
        lens = sv.str.len()
        sv = sv[(lens >= 10) & (lens < 500) & sv.str.startswith("http")]
    if len(sv):
        # scrub_url is exception-free on str input; the later filters
        # and the tail all operate on the scrubbed form.  Most crawl
        # URLs are scrub-identical — prove it vectorized and call the
        # per-row repair only on the dirty residue.
        import warnings

        with warnings.catch_warnings():
            # pandas warns that patterns with match groups "could" be
            # used with str.extract — we only want the boolean search
            warnings.filterwarnings(
                "ignore", message="This pattern is interpreted"
            )
            dirty = (
                sv.str.contains(_RX_SCRUB_DIRTY, regex=True)
                | (sv.str.count("/").eq(3) & sv.str.endswith("/"))
            )
            scrubbed = sv.copy()
            if dirty.any():
                scrubbed[dirty] = sv[dirty].map(scrub_url)
            # type_filter, vectorized (urlkit/predicates.py:108): same
            # boolean structure, .str.contains == re.search per element
            reject = scrubbed.str.endswith(("/feed", "/rss", "_archive.html"))
            site = scrubbed.str.contains(RX_SITE_STRUCTURE, regex=True)
            if with_nav:
                site &= ~scrubbed.str.contains(RX_NAVIGATION, regex=True)
            reject |= site
            if strict:
                reject |= scrubbed.str.contains(
                    RX_FILE_TYPE, regex=True
                ) | scrubbed.str.contains(RX_ADULT_VIDEO, regex=True)
        survivors = scrubbed[~reject]
        # per-batch memo tables (hosts/queries repeat in crawl data;
        # all caches are pure in their keys — see make_check_caches)
        # plus a whole-result memo for repeated URLs
        caches = make_check_caches()
        memo: dict[str, tuple[str, str] | None] = {}
        for pos, url in survivors.items():
            if url in memo:
                checked = memo[url]
            else:
                checked = check_scrubbed_url(
                    url, strict, language, trailing_slash, caches
                )
                memo[url] = checked
            if checked is not None:
                norms[pos] = checked[0]
                domains[pos] = checked[1]
    return pd.DataFrame({"norm_url": norms, "domain": domains})


def make_check_url_udf(
    strict: bool = False,
    language: str | None = None,
    with_nav: bool = False,
    trailing_slash: bool = True,
):
    """Vectorized check_url: url -> struct(norm_url, domain), both NULL
    when the row is rejected.  Filter on ``norm_url IS NOT NULL``."""

    @pandas_udf(CHECK_RESULT_SCHEMA)
    def check_udf(urls: pd.Series) -> pd.DataFrame:
        return check_url_batch(
            urls,
            strict=strict,
            language=language,
            with_nav=with_nav,
            trailing_slash=trailing_slash,
        )

    # The function is pure; the nondeterministic marking is an optimizer
    # hint that stops Catalyst from duplicating the (expensive) UDF when
    # a Filter is pushed through the Project that references its struct
    # fields — observed as two ArrowEvalPython nodes doing double work
    # (5.6x on q_url_canonical_dedup).  Cost of the hint: Catalyst will
    # no longer push unrelated filters BELOW this UDF nor collapse the
    # adjacent projections, so callers should place their own selective
    # filters before applying the UDF (every pipeline/catalog call site
    # does).  Revisit if Spark ever gets with-expression reuse for
    # Python UDF structs.
    return check_udf.asNondeterministic()


def make_buffer_url_udf(
    strict: bool = False,
    language: str | None = None,
    trailing_slash: bool = True,
):
    """Frontier-ingest validation: validate_url -> lang_filter ->
    normalize_url and nothing else — the reference's _buffer_urls
    (/root/reference/courlan/urlstore.py:177-198) deliberately skips
    the content-type/extension/domain filters of check_url, so e.g.
    numeric archive-looking paths are still storable."""
    from ..urlkit import lang_filter, validate_url

    @pandas_udf(StringType())
    def buffer_udf(urls: pd.Series) -> pd.Series:
        caches = make_check_caches()  # per-batch pure-stage memos
        out: list[str | None] = []
        for url in urls:
            if not isinstance(url, str):
                out.append(None)
                continue
            try:
                ok, parsed = validate_url(url)
                if not ok or parsed is None:
                    out.append(None)
                    continue
                if language is not None and not lang_filter(
                    url, language, strict, trailing_slash
                ):
                    out.append(None)
                    continue
                out.append(
                    normalize_url(parsed, strict, language, trailing_slash, caches)
                )
            except (TypeError, ValueError):
                out.append(None)
        return pd.Series(out)

    return buffer_udf.asNondeterministic()


def make_normalize_udf(
    strict: bool = False,
    language: str | None = None,
    trailing_slash: bool = True,
):
    "Vectorized scrub+normalize; NULL on rejection (ValueError rows)."

    @pandas_udf(StringType())
    def normalize_udf(urls: pd.Series) -> pd.Series:
        out: list[str | None] = []
        for url in urls:
            if not isinstance(url, str):
                out.append(None)
                continue
            try:
                out.append(
                    normalize_url(scrub_url(url), strict, language, trailing_slash)
                )
            except (AttributeError, ValueError):
                out.append(None)
        return pd.Series(out)

    return normalize_udf.asNondeterministic()


def make_extract_domain_udf(fast: bool = True, blacklist: frozenset[str] | None = None):
    "Vectorized registrable-domain extraction with a per-batch cache."

    @pandas_udf(StringType())
    def extract_domain_udf(urls: pd.Series) -> pd.Series:
        cache: dict[str, str | None] = {}

        def one(url):
            if not isinstance(url, str):
                return None
            # cache per base (scheme://host) — registrable domain only
            # depends on the host part
            cut = url.find("/", 8)
            base = url if cut == -1 else url[:cut]
            if base not in cache:
                cache[base] = extract_domain(base, blacklist=blacklist, fast=fast)
            return cache[base]

        return urls.map(one)

    return extract_domain_udf


@pandas_udf(HOST_PATH_SCHEMA)
def host_path_udf(urls: pd.Series) -> pd.DataFrame:
    """Frontier partition-key extractor: url -> (scheme://host, path).
    NULL host marks incomplete URLs (reference raises ValueError,
    /root/reference/courlan/urlutils.py:94-95)."""
    hosts: list[str | None] = []
    paths: list[str | None] = []
    for url in urls:
        try:
            host, path = get_host_and_path(url)
            hosts.append(host)
            paths.append(path)
        except (ValueError, TypeError, AttributeError):
            hosts.append(None)
            paths.append(None)
    return pd.DataFrame({"host": hosts, "path": paths})


# pure, but marked nondeterministic to prevent duplicate evaluation
# (see make_check_url_udf)
host_path_udf = host_path_udf.asNondeterministic()


@pandas_udf(StringType())
def base_url_udf(urls: pd.Series) -> pd.Series:
    "url -> scheme://netloc (get_base_url analog, urlutils.py:72-80)."
    from ..urlkit import get_base_url

    def one(u):
        try:
            return get_base_url(u) if isinstance(u, str) else None
        except (ValueError, TypeError):
            return None

    return urls.map(one)


@pandas_udf(StringType())
def fix_relative_udf(baseurls: pd.Series, hrefs: pd.Series) -> pd.Series:
    "(page_url, href) -> absolute URL (fix_relative_urls analog)."
    from ..urlkit import fix_relative_urls

    out = []
    for base, href in zip(baseurls, hrefs):
        try:
            out.append(
                fix_relative_urls(base, href)
                if isinstance(base, str) and isinstance(href, str)
                else None
            )
        except ValueError:
            out.append(None)
    return pd.Series(out)


@pandas_udf(BooleanType())
def is_external_udf(urls: pd.Series, references: pd.Series) -> pd.Series:
    "(url, reference) -> registrable-domain inequality (is_external)."
    from ..urlkit import is_external

    return pd.Series(
        [
            is_external(u, r) if isinstance(u, str) and isinstance(r, str) else True
            for u, r in zip(urls, references)
        ],
        dtype="bool",
    )


def make_extract_links_udf(
    external_bool: bool = False,
    language: str | None = None,
    strict: bool = True,
    with_nav: bool = False,
    trailing_slash: bool = True,
    no_filter: bool = False,
):
    """Vectorized HTML link harvesting over (html, page_url) columns;
    returns array<string> of checked links — explode() downstream."""

    @pandas_udf(ArrayType(StringType()))
    def links_udf(htmls: pd.Series, urls: pd.Series) -> pd.Series:
        out = []
        for html, url in zip(htmls, urls):
            if isinstance(html, (bytes, bytearray)):
                html = html.decode("utf-8", errors="replace")
            if not isinstance(html, str) or not html:
                out.append([])
                continue
            links = extract_links(
                html,
                url=url if isinstance(url, str) else None,
                external_bool=external_bool,
                language=language,
                strict=strict,
                with_nav=with_nav,
                trailing_slash=trailing_slash,
                no_filter=no_filter,
            )
            out.append(sorted(links))
        return pd.Series(out)

    return links_udf
