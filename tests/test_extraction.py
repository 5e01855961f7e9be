"""Extraction chain vs the DocWorld golden oracle: field-by-field
article equality (SURVEY.md §5.4) and span-sequence equality —
(kind, text, media_ref, order) — the input_hint invariant (§5.3)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from news_please_spark import from_html
from news_please_spark.extraction.extract import (
    article_to_spans,
    extract_article,
    extract_articles,
)
from news_please_spark.extraction.heuristics import pass_heuristics
from news_please_spark.synth import DocWorld

N_DOCS = 120


def test_articles_match_golden_oracle(spark):
    world = DocWorld(N_DOCS)
    fetched = world.responses_df(spark)
    articles = extract_articles(fetched)
    rows = {r.doc_id: r for r in articles.collect()}
    assert len(rows) == N_DOCS
    for d in range(N_DOCS):
        exp = world.expected_article(d)
        got = rows[f"doc{d}"]
        assert got.url == exp["url"], d
        assert got.source_domain == exp["source_domain"], d
        assert got.title == exp["title"], d
        assert got.description == exp["description"], d
        assert got.maintext == exp["maintext"], d
        assert list(got.authors) == exp["authors"], d
        assert got.image_url == exp["image_url"], d
        assert got.language == exp["language"], d
        exp_dt = datetime.strptime(exp["date_publish"], "%Y-%m-%d %H:%M:%S")
        assert got.date_publish == exp_dt, (d, got.date_publish, exp_dt)


def test_markup_permutation_axis_is_exercised():
    """Guard: the rendered world must actually vary attribute order and
    quote style (round-2 verdict: DocWorld never varied them, so the
    oracle could not catch order-brittle regexes). If a refactor drops
    the permutation axis, this fails before the golden test goes blind."""
    world = DocWorld(200)
    pages = [world.html(d) for d in range(200)]
    blob = "\n".join(pages)
    # content before the property/name key on a meta tag
    import re

    assert re.search(r"<meta content=[^>]*(property|name)=", blob)
    assert re.search(r"<meta (property|name)=[^>]*content=", blob)
    assert "='" in blob                            # single-quoted attr
    assert re.search(r"<meta [a-z:\-]+=[a-zA-Z]", blob)  # unquoted attr
    assert re.search(r"property=.og:type", blob)


def test_newline_framed_fields_are_trimmed(spark):
    """HTML whose cleaned fields carry embedded / framing newlines:
    framing whitespace is trimmed (newlines included), runs of blank
    lines collapse to one newline, inner spaces collapse to one."""
    html = (
        '<html lang="en"><head>\n'
        '<meta property="og:title" content="\nSpaced   Title\n">\n'
        '<meta name="description" content="  line one\n\n\nline two  ">\n'
        '<meta name="author" content="\n A. Writer \n">\n'
        '<meta name="date" content="\n2021-05-06T07:08:09\n">\n'
        "</head><body><h1>\nSpaced   Title\n</h1><article>\n"
        "<p>the quick brown fox jumps over the lazy dog again and again "
        "and again and then some more words for the minimum\n</p>\n"
        "<p>\nthe second paragraph also has plenty of words to clear the "
        "fifteen word cutoff of the voting rule here\n</p>\n"
        "</article></body></html>"
    )
    fetched = spark.createDataFrame(
        [("docX", "https://h1.news-example.org/a.html", html)],
        "doc_id string, url string, html string",
    )
    a = extract_articles(fetched).collect()[0]
    assert a.title == "Spaced Title"
    assert a.description == "line one\nline two"
    assert list(a.authors) == ["A. Writer"]
    assert a.date_publish == datetime(2021, 5, 6, 7, 8, 9)


def test_missing_html_extracts_nothing(spark):
    """Empty or NULL html votes over no candidates: every extracted
    field is None, and the article row still carries url and
    source_domain."""
    url = "https://h1.news-example.org/2021/05/06/a.html"
    for html in (None, ""):
        assert set(extract_article(url, html).values()) == {None}, html
    rows = from_html(
        spark,
        spark.createDataFrame([(url, None)], "url string, html string"),
    ).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r.pop("url") == url
    assert r.pop("source_domain") == "h1.news-example.org"
    assert set(r.values()) == {None}, r


def test_span_sequence_equality(spark):
    world = DocWorld(N_DOCS)
    fetched = world.responses_df(spark)
    spans = article_to_spans(extract_articles(fetched))
    got = {r.doc_id: r.spans for r in spans.collect()}
    for d in range(N_DOCS):
        exp = world.expected_spans(d)
        g = [(s.kind, s.text, s.media_ref, s.offset) for s in got[f"doc{d}"]]
        assert g == exp, f"doc{d}: {g[:3]} != {exp[:3]}"


def test_heuristics_gate(spark):
    world = DocWorld(200)
    fetched = world.responses_df(spark)
    gated = fetched.withColumn(
        "ok", pass_heuristics(F.col("html"), F.col("url"))
    )
    rows = {r.doc_id: r.ok for r in gated.select("doc_id", "ok").collect()}
    for d in range(200):
        s = world.spec(d)
        # default condition: og_type and (linked<= .65 or self_linked<= .65)
        h_all = s.n_headlines + 1  # + the h1
        ratio = 0.0 if h_all < 5 else s.n_linked / h_all
        # linked headlines on our pages all point to the same host, so
        # linked == self_linked and the disjunction reduces to one test
        expected = s.og_article and (ratio <= 0.65 or ratio <= 0.65)
        assert rows[f"doc{d}"] == expected, (d, ratio, s.og_article)


def test_condition_parser_variants(spark):
    world = DocWorld(40)
    fetched = world.responses_df(spark)

    df = fetched.withColumn(
        "strict",
        pass_heuristics(
            F.col("html"),
            F.col("url"),
            condition="og_type and not linked_headlines",
            comparators={"linked_headlines": ">0.65"},
        ),
    ).withColumn(
        "loose", pass_heuristics(F.col("html"), F.col("url"), condition="og_type")
    )
    got = {r.doc_id: (r.strict, r.loose) for r in df.collect()}
    for d in range(40):
        s = world.spec(d)
        h_all = s.n_headlines + 1
        ratio = 0.0 if h_all < 5 else s.n_linked / h_all
        assert got[f"doc{d}"][0] == (s.og_article and not (ratio > 0.65)), d
        assert got[f"doc{d}"][1] == s.og_article, d
