"""The extraction chain (SURVEY.md §2.4-2.5), one definition.

`extract_article(url, html)` is the whole chain for one document:
   sanitize     (comments/CDATA stripped once, the parser-visibility
                 model every tag regex here assumes)
   → extractors (meta/dom/date/lang — the E1-E4 analogues; reference
                 article_extractor.py:58-82 runs them in the same order)
   → cleaner    (tag strip, entity decode, whitespace collapse, trim
                 on every candidate field, E5)
   → comparer   (the V1-V7 voting rules, reference
                 extractor/comparer/*.py, across the four candidates).

`extract_articles` maps it over each Arrow batch in ONE pandas UDF
(`extract_article_core_udf`) and does the P1 projection natively;
`article_to_spans` turns articles into interleaved text+media spans
(the input_hint shape).

The container deliberately has no newspaper4k/readability/lxml — the
extractors are from-scratch regex/cascade implementations of the same
semantics, exercised against the DocWorld golden oracle.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from news_please_spark.functions.urls import canonical_host

# ---------------------------------------------------------------------------
# python-side scalar extractors (compiled once per worker)

# Tag names match case-insensitively throughout (re.I): the reference
# parses with bs4/lxml, which lowercases tag and attribute names, so
# <TITLE>/<P>/<ARTICLE> work on real pages. Attribute VALUES keep their
# case (the attr-dict lowercases keys only).
#
# Tag interiors are scanned QUOTE-AWARE (_A below), not with [^>]*: a
# '>' inside a quoted attribute value (<article data-note="x > y">) is
# attribute DATA to a real parser, and the naive class would end the
# tag there — leaking `y">` residue into extracted text. _A consumes
# quoted runs atomically, so the tag ends at the first '>' OUTSIDE
# quotes, exactly where lxml ends it.
_A = r"""(?:[^>"']|"[^"]*"|'[^']*')*"""

_RE = {
    "title_tag": re.compile(rf"<title{_A}>(.*?)</title>", re.S | re.I),
    "h1": re.compile(rf"<h1{_A}>(.*?)</h1>", re.S | re.I),
    "img_tag": re.compile(rf"<img\b{_A}>", re.I),
    "article": re.compile(rf"<article{_A}>(.*?)</article>", re.S | re.I),
    "p": re.compile(rf"<p{_A}>(.*?)</p>", re.S | re.I),
    # E2 block scoring (readability-style; reference readability_extractor.py:18-38)
    "block": re.compile(rf"<(article|main|section|div)\b{_A}>(.*?)</\1>", re.S | re.I),
    "a_inner": re.compile(rf"<a\b{_A}>(.*?)</a>", re.S | re.I),
    # E3 date cascade (reference date_extractor.py:30-58); the ld+json
    # mime value is case-insensitive per RFC 2045
    "jsonld_block": re.compile(
        rf'<script{_A}type=["\']?application/ld\+json["\']?{_A}>(.*?)</script>',
        re.S | re.I,
    ),
    "jsonld_pub": re.compile(r'"datePublished"\s*:\s*"([^"]+)"'),
    "jsonld_created": re.compile(r'"dateCreated"\s*:\s*"([^"]+)"'),
    "meta_tag": re.compile(rf"<meta\b{_A}>", re.I),
    "html_tag": re.compile(rf"<html\b{_A}>", re.I),
    "time_el": re.compile(rf"<time\b({_A})>(.*?)</time>", re.S | re.I),
    # generic inline element with attrs + inner (itemprop / date-class scan)
    "el_generic": re.compile(rf"<(span|p|div)\b({_A})>(.*?)</\1>", re.S | re.I),
    "url_date": re.compile(r"/(\d{4})/(\d{2})/(\d{2})/"),
}

# Comments and CDATA are NOT element markup: lxml/bs4 never surface a
# commented-out <meta>/<p> to the extractors, so a regex pipeline must
# strip them FIRST or a `<!-- <meta name="date" content="1999..."> -->`
# decoy poisons the date cascade and commented/CDATA'd paragraphs leak
# into maintext. HTML5 semantics: a comment ends at the FIRST `-->`
# (a nested `<!--` inside is inert text) and an unterminated comment
# runs to EOF; in HTML parsing, `<![CDATA[...]]>` is bogus-comment-like
# and is dropped through its `]]>`.
_COMMENT_RE = re.compile(r"<!--.*?(?:-->|$)", re.S)
_CDATA_RE = re.compile(r"<!\[CDATA\[.*?(?:\]\]>|$)", re.S)


def sanitize_html(html: str) -> str:
    """Strip comments + CDATA sections (see note above). Run ONCE per
    document before any extractor scan — the parser-visibility model
    every tag regex in this module assumes."""
    return _CDATA_RE.sub(" ", _COMMENT_RE.sub(" ", html))

# Attribute parser shared by every tag scan. The reference parses HTML
# with bs4/lxml (newspaper_extractor.py:21-50, lang_detect_extractor.py:
# 30-48), so attribute ORDER, quote STYLE (double / single / unquoted)
# and duplicate attributes all behave like a real parser; this regex +
# first-wins dict reproduces that for well-formed tags. Never require
# property-before-content or matched double quotes anywhere.
_ATTR = re.compile(
    r"""([a-zA-Z_:.\-]+)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'>]+))"""
)


def _attrs(tag: str) -> dict[str, str]:
    """Attributes of one tag string as a first-wins lowercase-key dict."""
    out: dict[str, str] = {}
    for m in _ATTR.finditer(tag):
        k = m.group(1).lower()
        if k not in out:
            v = m.group(2)
            if v is None:
                v = m.group(3)
            if v is None:
                v = m.group(4)
            out[k] = v
    return out


def _scan_meta(html: str) -> dict:
    """One pass over all <meta> tags collecting the E1/E4 fields the
    reference reads via bs4 attribute lookups. First occurrence wins per
    field (soup.find semantics); authors collects EVERY
    <meta name=author> in document order (newspaper4k returns lists)."""
    found: dict = {
        "og_title": None, "description": None, "authors": [],
        "og_image": None, "meta_lang": None, "og_locale": None,
        "http_equiv_lang": None,
    }
    for m in _RE["meta_tag"].finditer(html):
        a = _attrs(m.group(0))
        content = a.get("content")
        if content is None:
            continue
        name = a.get("name", "").lower()
        prop = a.get("property", "").lower()
        hequiv = a.get("http-equiv", "").lower()
        if prop == "og:title" and found["og_title"] is None:
            found["og_title"] = content
        elif name == "description" and found["description"] is None:
            found["description"] = content
        elif name == "author":
            found["authors"].append(content)
        elif prop == "og:image" and found["og_image"] is None:
            found["og_image"] = content
        elif name == "language" and found["meta_lang"] is None:
            found["meta_lang"] = content
        elif prop == "og:locale" and found["og_locale"] is None:
            found["og_locale"] = content
        elif hequiv == "content-language" and found["http_equiv_lang"] is None:
            found["http_equiv_lang"] = content
    return found


def _html_tag_lang(html: str) -> tuple[str | None, str | None]:
    """(lang, xml:lang) of the first <html> tag, via the attr dict."""
    m = _RE["html_tag"].search(html)
    if not m:
        return None, None
    a = _attrs(m.group(0))
    return a.get("lang"), a.get("xml:lang")

# E4 text fallback vocabularies — shared with functions/text.py::predict_lang
# (reference lang_detect_extractor.py:50-68 delegates to langdetect; this
# is the from-scratch stopword-vote analogue, multi-language)
_STOP = {
    "en": {"the", "a", "of", "and"},
    "de": {"der", "die", "und"},
    "es": {"el", "los", "y"},
}

# E3 meta-attribute catalog (reference date_extractor.py:99-222, full set)
_META_NAME_DATES = {
    "pubdate", "publishdate", "timestamp", "dc.date.issued", "date",
    "sailthru.date", "article.published", "published-date",
    "article.created", "article_date_original",
    "cxenseparse:recs:publishtime", "date_published",
}
_META_PROP_DATES = {"article:published_time", "bt:pubdate"}
_META_ITEMPROP_DATES = {
    "dc.date", "datepublished", "datecreated", "dcterms.date",
    "dcterms.created", "og:published_time datetime",
}
_META_HTTPEQUIV_DATES = {"date"}
# tag-scan class filter (reference date_extractor.py:19 re_class)
_DATE_CLASS = re.compile(r"pubdate|timestamp|article_date|articledate|date", re.I)


_MONTHS = {
    m: i + 1
    for i, names in enumerate(
        [
            ("jan", "january"), ("feb", "february"), ("mar", "march"),
            ("apr", "april"), ("may",), ("jun", "june"), ("jul", "july"),
            ("aug", "august"), ("sep", "sept", "september"),
            ("oct", "october"), ("nov", "november"), ("dec", "december"),
        ]
    )
    for m in names
}
# trailing timezone designators dateutil accepts and strftime drops:
# Z, ±HH:MM/±HHMM, and alphabetic names (GMT, UTC, EST, CEST, ...)
_TZ_TAIL = r"(?:\s*(?:Z|[+-]\d{2}:?\d{2}|[A-Z]{2,5}))?"
# optional clock with the same tz tail
_CLOCK = rf"(?:\s+(\d{{1,2}}):(\d{{2}})(?::(\d{{2}}))?(?:\.\d+)?{_TZ_TAIL})?"
_ISO_RE = re.compile(rf"^(\d{{4}})-(\d{{2}})-(\d{{2}}){_CLOCK}\s*$")
# RFC 2822 / 1123 (RSS pubDate): [Tue, ]04 Mar 2021[ 05:06[:07]][ GMT]
_RFC_RE = re.compile(
    rf"^(?:(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)[a-z]*,?\s+)?"
    rf"(\d{{1,2}})\.?\s+([A-Za-z]+)\.?\s+(\d{{4}}){_CLOCK}\s*$"
)
# human US order: March 4, 2021 [05:06[:07]]
_HUMAN_RE = re.compile(
    rf"^([A-Za-z]+)\.?\s+(\d{{1,2}})(?:st|nd|rd|th)?,?\s+(\d{{4}}){_CLOCK}\s*$"
)
# European dotted: 4.3.2021 / 04.03.2021 (day first, as dateutil
# resolves D.M.YYYY)
_DMY_RE = re.compile(rf"^(\d{{1,2}})\.(\d{{1,2}})\.(\d{{4}}){_CLOCK}\s*$")
# compact all-numeric meta dates: YYYYMMDD / YYYYMMDDHHMM /
# YYYYMMDDHHMMSS — the reference's own catalog example is
# <meta name='publishdate' content='201511261006'/>
# (reference date_extractor.py:112-115)
_COMPACT_RE = re.compile(r"^(\d{4})(\d{2})(\d{2})(?:(\d{2})(\d{2})(\d{2})?)?$")
# slash-delimited textual dates: 2021/03/04 [05:06[:07]]
_SLASH_RE = re.compile(rf"^(\d{{4}})/(\d{{1,2}})/(\d{{1,2}}){_CLOCK}\s*$")


def _fmt_ymd(y: int, mo: int, dy: int, clock: tuple) -> str | None:
    if not (1 <= mo <= 12 and 1 <= dy <= 31):
        return None
    hh = int(clock[0]) if clock[0] else 0
    mi = int(clock[1]) if clock[1] else 0
    ss = int(clock[2]) if clock[2] else 0
    if hh > 23 or mi > 59 or ss > 60:
        return None
    return f"{y:04d}-{mo:02d}-{dy:02d} {hh:02d}:{mi:02d}:{ss:02d}"


def _norm_date(s: str | None) -> str | None:
    """Parse-and-normalize to 'YYYY-MM-DD HH:MM:SS'. The reference pipes
    every date string through dateutil.parse then strftime
    (date_extractor.py:60-65); this covers the dateutil-reachable shapes
    real pages carry: ISO (date-only / minute / fractional seconds /
    trailing numeric-or-named timezone), RFC-2822/1123 RSS pubDates
    ('Tue, 04 Mar 2021 05:06:07 GMT'), 'March 4, 2021', D.M.YYYY,
    compact all-numeric YYYYMMDD[HHMM[SS]] (the reference's publishdate
    catalog example '201511261006', date_extractor.py:112-115), and
    YYYY/MM/DD.
    Timezones are dropped, as the reference's strftime does; unparseable
    strings return None so the cascade can fall through."""
    if not s:
        return None
    # only the ISO date-time separator (digit-T-digit): a global
    # replace would corrupt 'Tue,' / 'GMT' / month names
    s = re.sub(r"(?<=\d)T(?=\d)", " ", s.strip())
    m = _ISO_RE.match(s)
    if m:
        return _fmt_ymd(int(m.group(1)), int(m.group(2)), int(m.group(3)),
                        m.group(4, 5, 6))
    m = _RFC_RE.match(s)
    if m:
        mo = _MONTHS.get(m.group(2).lower())
        if mo:
            return _fmt_ymd(int(m.group(3)), mo, int(m.group(1)),
                            m.group(4, 5, 6))
        return None
    m = _HUMAN_RE.match(s)
    if m:
        mo = _MONTHS.get(m.group(1).lower())
        if mo:
            return _fmt_ymd(int(m.group(3)), mo, int(m.group(2)),
                            m.group(4, 5, 6))
        return None
    m = _DMY_RE.match(s)
    if m:
        return _fmt_ymd(int(m.group(3)), int(m.group(2)), int(m.group(1)),
                        m.group(4, 5, 6))
    m = _COMPACT_RE.match(s)
    if m:
        return _fmt_ymd(int(m.group(1)), int(m.group(2)), int(m.group(3)),
                        m.group(4, 5, 6))
    m = _SLASH_RE.match(s)
    if m:
        return _fmt_ymd(int(m.group(1)), int(m.group(2)), int(m.group(3)),
                        m.group(4, 5, 6))
    return None


def _norm_lang(s: str | None) -> str | None:
    if not s:
        return None
    return s.strip()[:2].lower() or None


def _meta_extractor(url: str, html: str) -> dict:
    """E1 analogue: metadata-first extraction (og/meta tags + <article>),
    attribute-order/quote-robust via the _attrs scan (the reference's
    bs4 lookups, newspaper_extractor.py:21-50)."""
    meta = _scan_meta(html)
    title = meta["og_title"]
    if title is None:
        m = _RE["title_tag"].search(html)
        if m:
            title = m.group(1)
    desc = meta["description"]
    body = None
    m = _RE["article"].search(html)
    if m:
        body = "\n".join(_RE["p"].findall(m.group(1)))
    image = meta["og_image"]
    # every <meta name=author> in document order, else JSON-LD authors
    # (newspaper4k returns author LISTS; reference comparer_author.py
    # consumes them — multiple authors are the common case on news sites)
    authors = meta["authors"] or _authors_from_jsonld(html) or None
    lang = _norm_lang(_html_tag_lang(html)[0])
    return {
        "extractor": "meta",
        "title": title,
        "description": desc,
        "text": body,
        "topimage": image,
        "author": authors,
        "publish_date": None,
        "language": lang,
    }


def _block_score(block_html: str) -> float:
    """Readability-style block score: visible text length × (1 − link
    density). The reference delegates to readability-lxml's
    text/link-density scoring (readability_extractor.py:18-38); this is
    the from-scratch equivalent over regex-found blocks."""
    text = " ".join(_TAG.sub(" ", block_html).split())
    if not text:
        return 0.0
    link_text = " ".join(
        " ".join(_TAG.sub(" ", a).split()) for a in _RE["a_inner"].findall(block_html)
    )
    density = len(link_text) / len(text)
    return len(text) * (1.0 - density)


def _dom_extractor(url: str, html: str) -> dict:
    """E2 analogue: DOM/body-first extraction — h1 title + the
    paragraphs of the highest-scoring content block (text length ×
    (1 − link density)), so nav/footer link farms lose to the article
    body. Falls back to all <p> when no block candidate contains
    paragraphs."""
    m = _RE["h1"].search(html)
    title = m.group(1) if m else None
    blocks = [b for _, b in _RE["block"].findall(html)]
    best = max(blocks, key=_block_score, default=None)
    paras = _RE["p"].findall(best) if best else []
    if not paras:
        paras = _RE["p"].findall(html)
    text = " ".join(paras) if paras else None
    image = None
    for m in _RE["img_tag"].finditer(html):
        src = _attrs(m.group(0)).get("src")
        if src:
            image = src
            break
    return {
        "extractor": "dom",
        "title": title,
        "description": None,
        "text": text,
        "topimage": image,
        "author": None,
        "publish_date": None,
        "language": None,
    }


def _date_from_url(url: str | None) -> str | None:
    """Last cascade step: calendar date in the URL path
    (reference date_extractor.py:67-74; newspaper3k-style regex)."""
    if not url:
        return None
    m = _RE["url_date"].search(url)
    if m:
        return f"{m.group(1)}-{m.group(2)}-{m.group(3)} 00:00:00"
    return None


def _date_from_jsonld(html: str) -> str | None:
    """JSON-LD datePublished / dateCreated (reference
    date_extractor.py:76-97; dateCreated overrides when present — the
    reference reassigns `date` on the second try-block). ALL ld+json
    scripts are scanned, not just the first — pages often carry several
    blocks (author/org/article), and the date may not be in the first."""
    for m in _RE["jsonld_block"].finditer(html):
        blob = m.group(1)
        created = _RE["jsonld_created"].search(blob)
        if created:
            return _norm_date(created.group(1))
        pub = _RE["jsonld_pub"].search(blob)
        if pub:
            return _norm_date(pub.group(1))
    return None


def _authors_from_jsonld(html: str) -> list[str]:
    """Author names from JSON-LD blocks: 'author' may be a string, an
    object with 'name', or a list of either (newspaper4k reads the same
    shapes; reference comparer_author.py consumes the resulting list)."""
    import json as _json

    names: list[str] = []
    for m in _RE["jsonld_block"].finditer(html):
        try:
            obj = _json.loads(m.group(1))
        except (ValueError, TypeError):
            continue
        objs = obj if isinstance(obj, list) else [obj]
        for o in objs:
            if not isinstance(o, dict):
                continue
            a = o.get("author")
            items = a if isinstance(a, list) else [a] if a is not None else []
            for it in items:
                if isinstance(it, str) and it.strip():
                    names.append(it.strip())
                elif isinstance(it, dict) and isinstance(it.get("name"), str):
                    if it["name"].strip():
                        names.append(it["name"].strip())
    # order-preserving dedup
    seen: set[str] = set()
    return [n for n in names if not (n in seen or seen.add(n))]


def _date_from_meta(html: str) -> str | None:
    """Document-order scan over <meta> tags against the full name/
    property/itemprop/http-equiv catalog (reference
    date_extractor.py:99-222 iterates soup.findAll('meta') and breaks on
    the first hit). og:image / itemprop=image content URLs are probed
    for a path date, as the reference does."""
    for m in _RE["meta_tag"].finditer(html):
        attrs = _attrs(m.group(0))
        content = attrs.get("content", "")
        name = attrs.get("name", "").lower()
        prop = attrs.get("property", "").lower()
        iprop = attrs.get("itemprop", "").lower()
        hequiv = attrs.get("http-equiv", "").lower()
        if (
            name in _META_NAME_DATES
            or prop in _META_PROP_DATES
            or iprop in _META_ITEMPROP_DATES
            or hequiv in _META_HTTPEQUIV_DATES
        ):
            return _norm_date(content)
        if prop == "og:image" or iprop == "image":
            d = _date_from_url(content)
            if d:
                return d
    return None


def _date_from_tags(html: str) -> str | None:
    """<time datetime>/<time class=timestamp>, <span itemprop=
    datePublished>, then span/p/div with a date-ish class (reference
    date_extractor.py:224-254)."""
    for m in _RE["time_el"].finditer(html):
        attrs = _attrs(m.group(1))
        dt = attrs.get("datetime")
        if dt:
            return _norm_date(dt)
        cls = attrs.get("class", "")
        if cls and cls.split()[0].lower() == "timestamp":
            return _norm_date(m.group(2))
    for m in _RE["el_generic"].finditer(html):
        if _attrs(m.group(2)).get("itemprop", "").lower() == "datepublished":
            tag_attrs = _attrs(m.group(2))
            return _norm_date(tag_attrs.get("content") or m.group(3))
    for m in _RE["el_generic"].finditer(html):
        if _DATE_CLASS.search(_attrs(m.group(2)).get("class", "")):
            d = _norm_date(m.group(3))
            if d:
                return d
    return None


def _date_extractor(url: str, html: str) -> dict:
    """E3: cascade JSON-LD → meta catalog → html tags → URL path date
    (reference date_extractor.py:30-58 order)."""
    date = (
        _date_from_jsonld(html)
        or _date_from_meta(html)
        or _date_from_tags(html)
        or _date_from_url(url)
    )
    return {
        "extractor": "date_extractor",
        "title": None,
        "description": None,
        "text": None,
        "topimage": None,
        "author": None,
        "publish_date": date,
        "language": None,
    }


def _stopword_lang(text: str) -> str | None:
    """Multi-language stopword vote (the langdetect analogue; same
    vocabularies and tie rules as functions/text.py::predict_lang so the
    extraction fallback and the table-level primitive agree)."""
    toks = text.lower().split()
    if not toks:
        return None
    s = {lg: sum(t in ws for t in toks) for lg, ws in _STOP.items()}
    if s["en"] >= s["de"] and s["en"] >= s["es"] and s["en"] > 0:
        return "en"
    if s["de"] >= s["es"] and s["de"] > 0:
        return "de"
    if s["es"] > 0:
        return "es"
    return None


def _lang_extractor(url: str, html: str) -> dict:
    """E4: cascade html@lang → xml:lang → meta name=language →
    og:locale → http-equiv → stopword vote on body text (reference
    lang_detect_extractor.py:30-68; langdetect replaced by the en/de/es
    stopword vote — the container ships no langdetect)."""
    html_lang, xml_lang = _html_tag_lang(html)
    meta = _scan_meta(html)
    lang = None
    for cand in (
        html_lang, xml_lang, meta["meta_lang"], meta["og_locale"],
        meta["http_equiv_lang"],
    ):
        lang = _norm_lang(cand)
        if lang:
            break
    if lang is None:
        lang = _stopword_lang(" ".join(_RE["p"].findall(html)))
    return {
        "extractor": "lang_detect",
        "title": None,
        "description": None,
        "text": None,
        "topimage": None,
        "author": None,
        "publish_date": None,
        "language": lang,
    }


_EXTRACTORS = [_meta_extractor, _dom_extractor, _date_extractor, _lang_extractor]


# ---------------------------------------------------------------------------
# comparer V1-V7 (reference extractor/comparer/*.py) — per-document
# votes across the four cleaned candidates.

def _vote_title(cands: list[dict]) -> str | None:
    """V1 (comparer_title.py:7-82): most-frequent pairwise exact match;
    tie → shortest matched; no match → shortest non-null."""
    titles = [c["title"] for c in cands if c.get("title")]
    if not titles:
        return None
    counts: dict[str, int] = {}
    for i, a in enumerate(titles):
        for b in titles[i + 1:]:
            if a == b:
                counts[a] = counts.get(a, 0) + 1
    if counts:
        mx = max(counts.values())
        best = [t for t, c in counts.items() if c == mx]
        if len(best) == 1:
            return best[0]
        return min(best, key=lambda t: (len(t), t))
    return min(titles, key=lambda t: (len(t), t))


def _vote_text(cands: list[dict]) -> str | None:
    """V2 (comparer_text.py:7-79): drop candidates under 15 words; score
    pairs 1 - |AΔB| / (2·|A∩B|) over word sets; winning pair → prefer
    the 'meta' extractor, else the longer text."""
    texts = [(c["extractor"], c["text"]) for c in cands if c.get("text")]
    texts = [(e, t) for e, t in texts if len(t.split()) >= 15]
    if not texts:
        # reference parity: when no candidate reaches 15 words, maintext
        # is None (comparer_text.py:29-31) — never a junk-short fallback.
        # (The reference's remove-while-iterating quirk, which can leak
        # the second of two consecutive short texts, is deliberately NOT
        # reproduced; the documented intent is the filter.)
        return None
    if len(texts) == 1:
        return texts[0][1]
    best_score, best_pair = None, None
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            sa, sb = set(texts[i][1].split()), set(texts[j][1].split())
            inter = len(sa & sb)
            if inter == 0:
                score = float("-inf")
            else:
                score = 1.0 - len(sa ^ sb) / (2.0 * inter)
            if best_score is None or score > best_score:
                best_score, best_pair = score, (texts[i], texts[j])
    a, b = best_pair
    if a[0] == "meta":
        return a[1]
    if b[0] == "meta":
        return b[1]
    return a[1] if len(a[1]) >= len(b[1]) else b[1]


def _prefer(cands: list[dict], field: str, preferred: str):
    """V3/V4/V5 pattern: preferred extractor first, else first non-null."""
    for c in cands:
        if c["extractor"] == preferred and c.get(field):
            return c[field]
    for c in cands:
        if c.get(field):
            return c[field]
    return None


def _urljoin(base_url: str, ref: str | None) -> str | None:
    if not ref:
        return None
    if re.match(r"^[a-z]+://", ref):
        return ref
    m = re.match(r"^([a-z]+://[^/]+)", base_url)
    root = m.group(1) if m else ""
    if ref.startswith("/"):
        return root + ref
    return root + "/" + ref


def _vote_language(cands: list[dict]) -> str | None:
    """V7 (comparer_Language.py): majority vote, tie → meta extractor's."""
    langs = [c["language"] for c in cands if c.get("language")]
    if not langs:
        return None
    counts: dict[str, int] = {}
    for lg in langs:
        counts[lg] = counts.get(lg, 0) + 1
    mx = max(counts.values())
    best = sorted(t for t, c in counts.items() if c == mx)
    if len(best) == 1:
        return best[0]
    for c in cands:
        if c["extractor"] == "meta" and c.get("language") in best:
            return c["language"]
    return best[0]


_ARTICLE_CORE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("maintext", T.StringType()),
        T.StructField("image_url", T.StringType()),
        T.StructField("authors", T.ArrayType(T.StringType())),
        T.StructField("date_publish_str", T.StringType()),
        T.StructField("language", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# cleaner E5 (reference pipeline/extractor/cleaner.py:22-99): its
# compiled regexes applied to every text field of every candidate

# Entity catalog, ordered so `&amp;` decodes LAST: bs4 (the reference's
# parser) decodes in a single pass, so `&amp;lt;` means the literal text
# `&lt;`, not `<` — replacing `&amp;` first would double-decode. Covers
# the named + numeric forms that dominate real pages (curly quotes,
# dashes, ellipsis, nbsp) beyond the XML five.
_ENTITIES = [
    ("&quot;", '"'), ("&#34;", '"'),
    ("&#39;", "'"), ("&#x27;", "'"), ("&apos;", "'"),
    ("&nbsp;", " "), ("&#160;", " "),
    ("&lt;", "<"), ("&#60;", "<"),
    ("&gt;", ">"), ("&#62;", ">"),
    ("&lsquo;", "‘"), ("&#8216;", "‘"),
    ("&rsquo;", "’"), ("&#8217;", "’"), ("&#x2019;", "’"),
    ("&ldquo;", "“"), ("&#8220;", "“"),
    ("&rdquo;", "”"), ("&#8221;", "”"),
    ("&ndash;", "–"), ("&#8211;", "–"),
    ("&mdash;", "—"), ("&#8212;", "—"),
    ("&hellip;", "…"), ("&#8230;", "…"),
    ("&amp;", "&"), ("&#38;", "&"),
]
_WS = re.compile(r"[ \t\x0b\r\f]+")
_NL = re.compile(r" ?\n ?")
_NLS = re.compile(r"\n{2,}")
_TAG = re.compile(r"<[^>]+>")


def _clean_text(s: str | None) -> str | None:
    """strip tags → decode common entities → collapse whitespace → trim."""
    if s is None:
        return None
    out = _TAG.sub(" ", s)
    for ent, rep in _ENTITIES:
        out = out.replace(ent, rep)
    out = _WS.sub(" ", out)
    out = _NL.sub("\n", out)
    out = _NLS.sub("\n", out)
    return out.strip()


def _clean_candidate(c: dict) -> dict:
    c = dict(c)
    for f in ("title", "description", "text"):
        c[f] = _clean_text(c[f])
    for f in ("topimage", "publish_date", "language"):
        c[f] = c[f].strip() if c[f] else c[f]
    if c.get("author"):
        c["author"] = [a.strip() for a in c["author"]]
    return c


def _compare_row(u: str, cl: list[dict]) -> dict:
    return {
        "title": _vote_title(cl),
        "description": _prefer(cl, "description", "meta"),
        "maintext": _vote_text(cl),
        "image_url": _urljoin(u, _prefer(cl, "topimage", "meta")),
        "authors": _prefer(cl, "author", "meta"),
        "date_publish_str": _prefer(cl, "publish_date", "date_extractor"),
        "language": _vote_language(cl),
    }


def extract_article(url: str, html: str | None) -> dict:
    """The whole chain for one document: sanitize → extractors →
    cleaner → comparer. Returns the `_ARTICLE_CORE` fields; empty or
    NULL html votes over no candidates (every field None)."""
    if not html:
        return _compare_row(url, [])
    h = sanitize_html(html)
    return _compare_row(url, [_clean_candidate(ex(url, h)) for ex in _EXTRACTORS])


@F.pandas_udf(_ARTICLE_CORE)
def extract_article_core_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([extract_article(u, h) for u, h in zip(url, html)])


# ---------------------------------------------------------------------------
# pipeline assembly

def empty_to_null(c: Column) -> Column:
    """P1 projection rule: empty string → NULL (reference
    pipelines.py:298-330)."""
    return F.when(F.length(c) == 0, F.lit(None)).otherwise(c)


def extract_articles(
    fetched: DataFrame,
    download_ts: Column | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """fetched(url, html [, doc_id]) → article rows (P1 projection), one
    Arrow pass per batch through `extract_article`. `keep_cols` names
    extra input columns to carry through to the article rows (the
    streaming admission tier's host/admitted_seq ride here).
    """
    keep = [
        c
        for c in ("doc_id", "fetched_at", *(keep_cols or []))
        if c in fetched.columns
    ]
    art = fetched.select(
        *keep,
        "url",
        extract_article_core_udf(F.col("url"), F.col("html")).alias("a"),
    )
    return art.select(
        *[c for c in keep if c != "fetched_at"],
        "url",
        canonical_host(F.col("url")).alias("source_domain"),
        empty_to_null(F.col("a.title")).alias("title"),
        empty_to_null(F.col("a.description")).alias("description"),
        empty_to_null(F.col("a.maintext")).alias("maintext"),
        F.col("a.authors").alias("authors"),
        F.to_timestamp(F.col("a.date_publish_str")).alias("date_publish"),
        (download_ts if download_ts is not None else F.lit(None).cast("timestamp")).alias("date_download"),
        F.col("a.image_url").alias("image_url"),
        F.col("a.language").alias("language"),
    )


def article_to_spans(articles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Articles → interleaved span documents (input_hint shape):
    title, description, [media], text paragraphs — ordered, offsets
    assigned positionally. Pure native array construction."""
    span = lambda kind, text, media: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"),
        text.alias("text"),
        media.alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    base = F.array(
        span("title", F.coalesce(F.col("title"), F.lit("")), F.lit("")),
        span("description", F.coalesce(F.col("description"), F.lit("")), F.lit("")),
    )
    media = F.when(
        F.col("image_url").isNotNull(),
        F.array(span("media", F.lit(""), F.col("image_url"))),
    ).otherwise(F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>"))
    texts = F.transform(
        F.split(F.coalesce(F.col("maintext"), F.lit("")), "\n"),
        lambda p: F.struct(
            F.lit("text").alias("kind"),
            p.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        ),
    )
    spans = F.concat(base, media, texts)
    spans = F.transform(
        spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return articles.select(F.col(id_col).alias("doc_id"), spans.alias("spans"))
