"""URL scalar functions — all native Column expressions (no UDFs).

Semantics mirror the reference's helpers:
  * canonical domain = www.-stripped host
    (reference newsplease/helper_classes/url_extractor.py:39-51)
  * subdomain split (url_extractor.py:53-64)
  * url directory / file name (url_extractor.py:248-287)
  * redirect-canonical keying D4 (reference
    newsplease/pipeline/pipelines.py:516-521): coalesce(redirect_from, url)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"
_PATH_RE = r"^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)"


def url_host(url: Column) -> Column:
    """Host part of an absolute URL ('' when not a hierarchical URL)."""
    return F.regexp_extract(url, _HOST_RE, 1)


def url_path(url: Column) -> Column:
    """Path part, '/' when absent."""
    p = F.regexp_extract(url, _PATH_RE, 1)
    return F.when(p == "", F.lit("/")).otherwise(p)


def url_bucket(url: str | Column, n_buckets: int) -> Column:
    """Hash bucket 0..n_buckets-1 of a URL: pmod(xxhash64(url), B). The
    one layout key of every URL-keyed table — the seen snapshots, the
    URL-seen filter blobs and the versioned article store — so tables
    bucketed by it stay co-partitioned with each other."""
    return F.pmod(F.xxhash64(url), F.lit(n_buckets))


def canonical_host(url: Column) -> Column:
    """www.-stripped lowercase host (reference url_extractor.py:39-51)."""
    return F.regexp_replace(F.lower(url_host(url)), r"^www\.", "")


def subdomain(url: Column) -> Column:
    """Left-of-registered-domain labels, '' if none (url_extractor.py:53-64).

    Heuristic: registered domain = last two labels.
    """
    h = canonical_host(url)
    parts = F.split(h, r"\.")
    n = F.size(parts)
    return F.when(
        n > 2, F.array_join(F.slice(parts, 1, n - 2), ".")
    ).otherwise(F.lit(""))


def url_directory(url: Column) -> Column:
    """Directory portion of the path (url_extractor.py:248-272)."""
    p = url_path(url)
    return F.regexp_extract(p, r"^(.*/)[^/]*$", 1)


def url_filename(url: Column) -> Column:
    """Last path segment (url_extractor.py:274-287)."""
    return F.regexp_extract(url_path(url), r"([^/]*)$", 1)


def canonical_url(url: Column, redirect_from: Column | None = None) -> Column:
    """Redirect-canonical keying D4: results are stored under the first
    redirect source when present (reference pipelines.py:516-521)."""
    base = F.coalesce(redirect_from, url) if redirect_from is not None else url
    return F.concat(
        F.regexp_extract(base, r"^([a-z][a-z0-9+.-]*)://", 1),
        F.lit("://"),
        canonical_host(base),
        url_path(base),
    )


# ---------------------------------------------------------------------------
# URL templating + crawl-trap fan-out detection. Crawler traps
# (calendar pages, session-id links, faceted search) generate unbounded
# URL families on one host; the standard mitigation is to normalize
# URLs to structural templates and bound the per-template fan-out (the
# reference bounds per-site URLs globally via its max-url config —
# this is the pattern-granular version a 10^10-URL frontier needs).

_QUERY_RE = r"\?([^#]*)"


def url_query(url: Column) -> Column:
    """The raw query string ('' when absent)."""
    return F.regexp_extract(url, _QUERY_RE, 1)


def url_template(url: Column) -> Column:
    """Structural template: host + path with digit runs collapsed to
    'N' + '?' + sorted query-parameter NAMES (values dropped). URLs
    from the same generator collapse to one template:
    /cal/2024/01/02 and /cal/2024/01/03 → /cal/N/N/N;
    /view?sid=abc&p=1 and /view?p=2&sid=zzz → /view?p&sid."""
    path_t = F.regexp_replace(url_path(url), "[0-9]+", "N")
    q = url_query(url)
    names = F.array_sort(
        F.transform(
            F.split(q, "&"), lambda kv: F.element_at(F.split(kv, "="), 1)
        )
    )
    return F.concat(
        url_host(url),
        path_t,
        F.when(q == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(names, "&"))
        ),
    )


def host_suffixes(host: Column, min_labels: int = 2) -> Column:
    """All parent-domain suffixes of a host with ≥ min_labels labels:
    'a.b.example.com' → ['a.b.example.com', 'b.example.com',
    'example.com']. The explode side of suffix blocklist matching —
    a host has ≤ ~6 suffixes, so the blowup is a small constant."""
    parts = F.split(host, r"\.")
    n = F.size(parts)
    # guard: Spark's sequence(0, -1) DESCENDS — a host with fewer than
    # min_labels labels must yield itself, not phantom suffixes
    return F.when(
        n >= min_labels,
        F.transform(
            F.sequence(F.lit(0), n - min_labels),
            lambda i: F.array_join(F.slice(parts, i + 1, n - i), "."),
        ),
    ).otherwise(F.array(host))


# query-parameter names that identify a CLICK, not a resource — the
# standard strip set for URL dedup keying (utm_* by prefix + the
# platform click ids). Values are irrelevant; matching is on the name.
TRACKING_PARAM_RE = (
    r"^(utm_[a-z0-9_]*|fbclid|gclid|msclkid|mc_cid|mc_eid|igshid|ref)$"
)


def canonical_url_with_query(url: Column) -> Column:
    """Dedup keying for parameterized URLs: scheme + canonical host +
    path + the query REBUILT with tracking parameters dropped and the
    survivors sorted by full `name=value` text (URL dedup must not
    depend on parameter order — /a?x=1&y=2 and /a?y=2&x=1 are one
    resource).  Fragments never reach the server and are dropped.
    `canonical_url` (D4) keys path-only; this is the variant for sites
    that genuinely address content through the query string.

    Pure native Columns (split / filter / array_sort / array_join) —
    rides the scan, zero shuffle, whole-stage codegen."""
    base = F.regexp_replace(url, r"#.*$", "")
    q = url_query(base)
    kept = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda kv: (kv != "")
            & ~F.element_at(F.split(kv, "="), 1).rlike(TRACKING_PARAM_RE),
        )
    )
    return F.concat(
        F.regexp_extract(base, r"^([a-z][a-z0-9+.-]*)://", 1),
        F.lit("://"),
        canonical_host(base),
        url_path(base),
        F.when(F.size(kept) == 0, F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(kept, "&"))
        ),
    )


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URL Reordering Transform) key — the canonical
    keying of web-archive CDX indexes (OpenWayback SURT spec; the
    CommonCrawl URL index news archives are queried by):
    'HTTP://WWW.News.Example.com:80/Art/7?b=2&a=1#x' →
    'com,example,news)/art/7?a=1&b=2'. Rules applied, in order:
    lowercase everything; drop the fragment; drop the scheme; strip one
    leading 'www.'; drop default ports 80/443 (any other port is kept
    after the reversed host, 'com,example:8080)'); reverse the host
    labels joined by commas; ')' then the path ('/' when absent); query
    parameters sorted bytewise, empty pairs dropped. Same host+content
    URLs sort adjacently, which is what makes range scans over a
    10^10-row frontier/index table cluster by site — pair with
    zorder_cluster or a sort-ordered write. Pure native Columns, rides
    the scan."""
    u = F.lower(F.regexp_replace(url, r"#.*$", ""))
    hostport = F.regexp_replace(
        F.regexp_extract(u, _HOST_RE, 1), r":(80|443)$", ""
    )
    name = F.regexp_extract(hostport, r"^([^:]*)", 1)
    port = F.regexp_extract(hostport, r"(:[0-9]+)$", 1)
    rev = F.array_join(
        F.reverse(F.split(F.regexp_replace(name, r"^www\.", ""), r"\.")), ","
    )
    kept = F.array_sort(
        F.filter(F.split(url_query(u), "&"), lambda kv: kv != "")
    )
    return F.concat(
        rev,
        port,
        F.lit(")"),
        url_path(u),
        F.when(F.size(kept) == 0, F.lit("")).otherwise(
            F.concat(F.lit("?"), F.array_join(kept, "&"))
        ),
    )


def canonical_link_of(html: Column) -> Column:
    """Extract <link rel="canonical" href="..."> from an HTML head —
    the publisher's own dedup signal (reference newspaper-style
    extractors read title/date/authors; the canonical link is what a
    CRAWLER reads first, because honoring it collapses print-view/AMP/
    tracking-param variants without any content fetch of the dup).

    Robust to the same markup variance the extraction tier handles:
    attribute order (rel before/after href), quote style (single,
    double), whitespace, and self-closing vs open tags.  Returns NULL
    when absent.  One native regexp over the head — no parser, no
    Python; malformed heads simply yield NULL (fail-open, the crawl
    keeps its own canonicalization)."""
    # rel=canonical then href, or href then rel — two RE2-safe passes
    rel_then_href = F.regexp_extract(
        html,
        r"""(?i)<link[^>]*rel\s*=\s*['"]canonical['"][^>]*href\s*=\s*['"]([^'"]+)['"]""",
        1,
    )
    href_then_rel = F.regexp_extract(
        html,
        r"""(?i)<link[^>]*href\s*=\s*['"]([^'"]+)['"][^>]*rel\s*=\s*['"]canonical['"]""",
        1,
    )
    out = F.when(rel_then_href != "", rel_then_href).otherwise(
        F.when(href_then_rel != "", href_then_rel)
    )
    return out


def hreflang_alternates_of(html: Column) -> Column:
    """Parse <link rel="alternate" hreflang=... href=...> tags — the
    i18n analogue of canonical_link_of: a page's declared language
    variants. A crawler that reads them schedules each translation
    once and groups variants under one cluster instead of discovering
    them as unrelated URLs (reference analogue: news-please treats
    every URL independently; hreflang grouping is the crawl-side
    signal it leaves on the table).

    Robust to attribute order, quote style, and case, same contract as
    canonical_link_of. `href\\s*=` cannot false-match inside
    `hreflang=` (the character after the f is 'l', never '='), so no
    lookaround is needed and the patterns stay RE2-safe. Returns
    array<struct<lang:string, href:string>> (lang lowercased);
    malformed or non-alternate links are dropped (fail-open)."""
    tags = F.regexp_extract_all(html, F.lit(r"(?i)<link[^>]*>"), 0)
    parsed = F.transform(
        tags,
        lambda tg: F.struct(
            F.lower(
                F.regexp_extract(
                    tg, r"""(?i)hreflang\s*=\s*['"]([^'"]+)['"]""", 1
                )
            ).alias("lang"),
            F.regexp_extract(
                tg, r"""(?i)href\s*=\s*['"]([^'"]+)['"]""", 1
            ).alias("href"),
            F.lower(
                F.regexp_extract(tg, r"""(?i)rel\s*=\s*['"]([^'"]+)['"]""", 1)
            ).alias("rel"),
        ),
    )
    kept = F.filter(
        parsed,
        lambda t: (t["rel"] == F.lit("alternate"))
        & (t["lang"] != F.lit(""))
        & (t["href"] != F.lit("")),
    )
    return F.transform(
        kept, lambda t: F.struct(t["lang"].alias("lang"), t["href"].alias("href"))
    )
