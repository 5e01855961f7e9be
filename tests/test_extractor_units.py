"""Unit tests for the extractor internals: the full E3 date catalog
(every meta name/property/itemprop the reference DateExtractor checks,
date_extractor.py:99-254), the E4 multi-language fallback, and the E2
block scorer — pure Python, no Spark session."""

from __future__ import annotations

import pytest

from news_please_spark.extraction.extract import (
    _date_extractor,
    _dom_extractor,
    _lang_extractor,
    _norm_date,
    _stopword_lang,
)

ISO = "2021-03-04T05:06:07"
WANT = "2021-03-04 05:06:07"
URL = "https://h1.news-example.org/articles/x-1.html"


def _date(html: str, url: str = URL) -> str | None:
    return _date_extractor(url, html)["publish_date"]


# --- E3: one case per reference catalog entry ------------------------------

META_CASES = [
    f'<meta name="{n}" content="{ISO}">'
    for n in (
        "pubdate", "publishdate", "timestamp", "DC.date.issued", "date",
        "sailthru.date", "article.published", "published-date",
        "article.created", "article_date_original",
        "cXenseParse:recs:publishtime", "DATE_PUBLISHED",
    )
] + [
    f'<meta property="{p}" content="{ISO}">'
    for p in ("article:published_time", "bt:pubDate")
] + [
    f'<meta itemprop="{i}" content="{ISO}">'
    for i in (
        "dc.date", "datePublished", "dateCreated", "dcterms.date",
        "dcterms.created",
    )
] + [
    f'<meta http-equiv="date" content="{ISO}">',
]


@pytest.mark.parametrize("tag", META_CASES)
def test_meta_date_catalog(tag):
    html = f"<html><head>{tag}</head><body></body></html>"
    assert _date(html) == WANT, tag


def test_jsonld_date_and_created_override():
    pub = (
        '<script type="application/ld+json">'
        f'{{"datePublished": "{ISO}"}}</script>'
    )
    assert _date(f"<html><head>{pub}</head></html>") == WANT
    both = (
        '<script type="application/ld+json">'
        f'{{"datePublished": "{ISO}", "dateCreated": "2020-01-02T03:04:05"}}'
        "</script>"
    )
    # dateCreated overrides (the reference reassigns on the second try)
    assert _date(f"<html><head>{both}</head></html>") == "2020-01-02 03:04:05"


def test_html_tag_dates():
    assert _date(f'<html><body><time datetime="{ISO}">x</time></body></html>') == WANT
    assert _date(f'<html><body><time class="timestamp">{ISO}</time></body></html>') == WANT
    assert (
        _date(f'<html><body><span itemprop="datePublished" content="{ISO}">x</span></body></html>')
        == WANT
    )
    assert _date(f'<html><body><span itemprop="datePublished">{ISO}</span></body></html>') == WANT
    for cls in ("pubdate", "article_date", "articledate", "entry-date"):
        assert _date(f'<html><body><span class="{cls}">{ISO}</span></body></html>') == WANT, cls
    # a date-classed element with unparseable text must not stop the scan
    html = (
        '<html><body><div class="dateline">yesterday</div>'
        f'<span class="pubdate">{ISO}</span></body></html>'
    )
    assert _date(html) == WANT


def test_og_image_url_date_probe():
    html = (
        '<html><head><meta property="og:image" '
        'content="https://h1.x.org/2019/07/08/pic.jpg"></head></html>'
    )
    assert _date(html) == "2019-07-08 00:00:00"


def test_url_date_fallback_and_norm_forms():
    assert _date("<html></html>", "https://h1.x.org/2018/02/03/slug.html") == "2018-02-03 00:00:00"
    assert _norm_date("2021-03-04") == "2021-03-04 00:00:00"
    assert _norm_date("2021-03-04T05:06") == "2021-03-04 05:06:00"
    assert _norm_date("2021-03-04T05:06:07.123Z") == WANT
    assert _norm_date("2021-03-04T05:06:07+02:00") == WANT
    assert _norm_date("not a date") is None


def test_norm_date_fuzzy_shapes():
    """The dateutil-reachable shapes the reference parses
    (date_extractor.py:60-65 pipes everything through dateutil.parse):
    RFC-2822/1123 RSS pubDates, named-tz ISO, 'Month D, YYYY', D.M.YYYY."""
    assert _norm_date("Tue, 04 Mar 2021 05:06:07 GMT") == WANT
    assert _norm_date("Tuesday, 4 Mar 2021 05:06:07 +0000") == WANT
    assert _norm_date("4 March 2021 05:06:07") == WANT
    assert _norm_date("04 Mar 2021") == "2021-03-04 00:00:00"
    assert _norm_date("2021-03-04 05:06:07 GMT") == WANT
    assert _norm_date("2021-03-04 05:06:07 CEST") == WANT
    assert _norm_date("March 4, 2021") == "2021-03-04 00:00:00"
    assert _norm_date("March 4th, 2021 05:06") == "2021-03-04 05:06:00"
    assert _norm_date("Sept. 9, 2020") == "2020-09-09 00:00:00"
    assert _norm_date("4.3.2021") == "2021-03-04 00:00:00"
    assert _norm_date("04.03.2021") == "2021-03-04 00:00:00"
    # compact all-numeric (the reference publishdate catalog example,
    # date_extractor.py:112-115) — 8/12/14-digit precisions
    assert _norm_date("201511261006") == "2015-11-26 10:06:00"
    assert _norm_date("20151126") == "2015-11-26 00:00:00"
    assert _norm_date("20151126100659") == "2015-11-26 10:06:59"
    assert _norm_date("201513261006") is None  # month 13
    # slash textual
    assert _norm_date("2021/03/04") == "2021-03-04 00:00:00"
    assert _norm_date("2021/3/4 05:06") == "2021-03-04 05:06:00"
    assert _norm_date("2021/13/04") is None
    # junk stays None (cascade falls through, never a wrong date)
    assert _norm_date("Foo, 99 Zzz 2021") is None
    assert _norm_date("March 42, 2021") is None
    assert _norm_date("2021-13-04") is None
    assert _norm_date("") is None


def test_vote_text_all_short_returns_none():
    """V2 reference parity (comparer_text.py:25-31): candidates under 15
    words are dropped, and when NONE survives, maintext is None — not a
    junk-short fallback. (We implement the documented intent; the
    reference's remove-while-iterating quirk that can leak the second of
    two consecutive short texts is deliberately not reproduced.)"""
    from news_please_spark.extraction.extract import _vote_text

    short = {"extractor": "meta", "text": "only four words here"}
    short2 = {"extractor": "dom", "text": "also way too short"}
    assert _vote_text([short, short2]) is None
    long = {
        "extractor": "dom",
        "text": "fifteen words exactly " + " ".join(["w"] * 12),
    }
    assert _vote_text([short, long]) == long["text"]


# --- E4: multi-language fallback -------------------------------------------

def test_stopword_lang_votes():
    assert _stopword_lang("the cat sat of the mat and more") == "en"
    assert _stopword_lang("der hund und die katze laufen schnell") == "de"
    assert _stopword_lang("el perro y los gatos corren") == "es"
    assert _stopword_lang("xyzzy plugh qwerty") is None
    assert _stopword_lang("") is None


def test_lang_cascade_order():
    assert _lang_extractor(URL, '<html lang="fr"><body></body></html>')["language"] == "fr"
    assert (
        _lang_extractor(URL, '<html><head><meta name="language" content="it"></head></html>')["language"]
        == "it"
    )
    body = "<p>der hund und die katze und der vogel und die maus</p>"
    assert _lang_extractor(URL, f"<html><body>{body}</body></html>")["language"] == "de"


# --- E2: block scoring drops nav/footer link farms --------------------------

def test_dom_extractor_prefers_content_block():
    nav = '<div><a href="/a">Home</a> <a href="/b">World</a> <a href="/c">Sport</a></div>'
    art = (
        "<article><p>The first real paragraph of the story body with many words.</p>"
        "<p>The second paragraph continues the actual article text here.</p></article>"
    )
    footer = (
        '<div><p><a href="/imprint">Imprint</a> <a href="/privacy">Privacy</a> '
        '<a href="/contact">Contact</a> <a href="/jobs">Jobs</a></p></div>'
    )
    got = _dom_extractor(URL, f"<html><body>{nav}{art}{footer}</body></html>")["text"]
    assert "first real paragraph" in got
    assert "second paragraph" in got
    assert "Imprint" not in got  # footer junk must not leak into maintext


class TestMalformedMarkup:
    """The real-web breakage classes a regex pipeline must survive like
    lxml does (DocWorld's malformed axis renders these on every third
    doc; here each shape is pinned in isolation)."""

    def _article(self, html, url="https://h1.news-example.org/a.html"):
        from news_please_spark.extraction.extract import extract_article

        return extract_article(url, html)

    BODY = (
        "<p>" + " ".join(["the alpha beta"] * 8) + "</p>"
        "<p>" + " ".join(["the gamma delta"] * 8) + "</p>"
    )

    def test_commented_out_meta_does_not_poison_date(self):
        html = (
            '<html><head><!-- <meta name="date" content="1999-09-09T09:09:09">'
            '<!-- nested --><meta name="date" content="2021-03-04T05:06:07">'
            f"<title>Real Title</title></head><body><article>{self.BODY}"
            "</article></body></html>"
        )
        # HTML5: the comment ends at the FIRST -->, so the REAL meta
        # (after it) is live markup and must win
        a = self._article(html)
        assert a["date_publish_str"] == "2021-03-04 05:06:07"

    def test_commented_and_cdata_paragraphs_not_in_maintext(self):
        html = (
            "<html><head><title>T</title></head><body><article>"
            f"{self.BODY}<!-- <p>subscribe decoy</p> -->"
            "<![CDATA[ <p>cdata decoy</p> ]]></article></body></html>"
        )
        a = self._article(html)
        assert "decoy" not in (a["maintext"] or "")

    def test_gt_inside_quoted_attr_value_no_residue(self):
        html = (
            "<html><head><title>T</title></head><body>"
            f'<article data-note="x > y">{self.BODY}</article></body></html>'
        )
        a = self._article(html)
        assert 'y">' not in (a["maintext"] or "")
        assert a["maintext"].startswith("the alpha")

    def test_unclosed_div_and_unterminated_comment(self):
        # unterminated comment swallows to EOF (HTML5); the unclosed div
        # must not derail block selection for the article before it
        html = (
            "<html><head><title>T</title></head><body>"
            f'<div class="promo"><article>{self.BODY}</article>'
            "<!-- trailing junk that never closes</body></html>"
        )
        a = self._article(html)
        assert a["maintext"].startswith("the alpha")
        assert "junk" not in a["maintext"]
