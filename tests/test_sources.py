"""Connector tests (SURVEY §2.1 S1-S7) over recorded fixtures."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    (d / "webhose.json").write_text(
        json.dumps(
            {
                "posts": [
                    {"thread": {"title_full": "Big Merge Lands"}, "text": "  body one  "},
                    {"thread": {"title_full": "Quiet News Day"}, "text": "body two"},
                    {"thread": {"title_full": "Another Story"}, "text": " three "},
                ]
            }
        )
    )
    (d / "newsapi.json").write_text(
        json.dumps(
            {
                "status": "ok",
                "articles": [
                    {"title": "A", "url": "http://x/a", "source": {"id": "nytimes"}},
                    {"title": "B", "url": "http://x/b", "source": {"id": "unknown-src"}},
                ],
            }
        )
    )
    (d / "reddit.json").write_text(
        json.dumps(
            {
                "data": {
                    "children": [
                        {"data": {"title": "R1", "url": "u1", "domain": "mobile.nytimes.com"}},
                        {"data": {"title": "R2", "url": "u2", "domain": "bbc.co.uk"}},
                    ]
                }
            }
        )
    )
    (d / "wiki.json").write_text(
        json.dumps(
            {
                "parse": {
                    "title": "Topic",
                    "sections": [
                        {"line": "History", "toclevel": 1},
                        {"line": "References", "toclevel": 1},
                        {"line": "Design", "toclevel": 2},
                    ],
                }
            }
        )
    )
    return d


def test_webhose_scan(spark, fixture_dir):
    from data_pipeline_playground_spark.sources.json_source import read_webhose

    df = read_webhose(spark, str(fixture_dir / "webhose.json"))
    rows = {r.title: r for r in df.collect()}
    assert set(rows) == {"Big Merge Lands", "Quiet News Day", "Another Story"}
    assert rows["Big Merge Lands"].text == "body one"  # P3 trim applied
    assert sorted(r._id for r in rows.values()) == [0, 1, 2]  # M3 dense ids


def test_newsapi_reader(spark, fixture_dir):
    from data_pipeline_playground_spark.sources.http_sources import read_newsapi

    df = read_newsapi(spark, str(fixture_dir / "newsapi.json"))
    assert {r.source for r in df.collect()} == {"nytimes", "unknown-src"}


def test_reddit_reader_domain_to_source(spark, fixture_dir):
    from data_pipeline_playground_spark.sources.http_sources import read_reddit

    df = read_reddit(spark, str(fixture_dir / "reddit.json"))
    src = {r.title: r.source for r in df.collect()}
    assert src == {"R1": "nytimes", "R2": "co"}  # P5 split/-2 semantics


def test_wiki_sections_rank(spark, fixture_dir):
    from data_pipeline_playground_spark.sources.http_sources import (
        rank_sections,
        read_wiki_sections,
    )

    df = rank_sections(read_wiki_sections(spark, str(fixture_dir / "wiki.json")))
    rows = df.collect()
    assert rows[-1].line == "References"  # reserved heading demoted (T2)
    assert rows[0].score == 1


def test_fetch_and_extract_null_propagation(spark, fixture_dir):
    from data_pipeline_playground_spark.sources.http_sources import (
        fetch_and_extract,
        read_newsapi,
    )

    articles = read_newsapi(spark, str(fixture_dir / "newsapi.json"))
    registry = {"nytimes": "article.story"}

    def fake_fetch(url: str):
        return (
            "<html><body><article class='story'>"
            "<script>x</script><p>Body text</p>"
            "</article><div>chrome</div></body></html>"
        )

    out = fetch_and_extract(articles, registry, fake_fetch)
    rows = {r.source: r.text for r in out.collect()}
    assert rows["nytimes"] == "Body text"  # S6: selector match, script stripped
    assert rows["unknown-src"] is None  # J4 registry miss → null (P6)


def test_fetch_and_extract_multi_match_null(spark, fixture_dir):
    """Reference gen_parser (news_parsers.py:10-11): more than one
    selector match → null, not concatenation."""
    from data_pipeline_playground_spark.sources.http_sources import (
        fetch_and_extract,
        read_newsapi,
    )

    articles = read_newsapi(spark, str(fixture_dir / "newsapi.json"))
    registry = {"nytimes": "article.story"}

    def fake_fetch(url: str):
        return (
            "<html><article class='story'>one</article>"
            "<article class='story'>two</article></html>"
        )

    out = fetch_and_extract(articles, registry, fake_fetch)
    rows = {r.source: r.text for r in out.collect()}
    assert rows["nytimes"] is None


def test_newsapi_query_params_quotes_page_and_section():
    """S2 query construction (reference realtimeapi.py:29-47): the
    quoted '"page" +"section"' q-string plus the fixed parameters."""
    from data_pipeline_playground_spark.sources.http_sources import (
        newsapi_query_params,
    )

    assert newsapi_query_params("Alan Turing", "Early life") == {
        "q": '"Alan Turing" +"Early life"',
        "language": "en",
        "sortBy": "relevancy",
        "pageSize": "5",
    }


def test_reddit_search_query_site_chain_subject_topic():
    """S3 query construction (reference reddit.py:26-43): the site
    OR-chain in parentheses, AND subject, AND topic only when given."""
    from data_pipeline_playground_spark.sources.http_sources import (
        reddit_search_query,
    )

    sites = ["nytimes.com", "bbc.co.uk"]
    assert reddit_search_query(sites, "Alan Turing") == (
        "(site:nytimes.com OR site:bbc.co.uk) AND Alan Turing"
    )
    assert reddit_search_query(sites, "Alan Turing", "Early life") == (
        "(site:nytimes.com OR site:bbc.co.uk) AND Alan Turing AND Early life"
    )
    assert reddit_search_query(["a.org"], "x") == "(site:a.org) AND x"


def test_css_select_reference_selector_shapes():
    """Every selector shape the reference registry uses
    (news_parsers.py:16-51) resolves correctly."""
    from data_pipeline_playground_spark.sources.css_select import extract_one

    html = """
    <html><body>
      <div class="article-copy extra">copy text</div>
      <div id="article_body">id text</div>
      <div itemprop="articleBody">attr text</div>
      <div class="body_12ab">prefix text</div>
      <section id="body-text">section text</section>
    </body></html>
    """
    assert extract_one(html, "div.article-copy") == "copy text"
    assert extract_one(html, "div#article_body") == "id text"
    assert extract_one(html, 'div[itemprop="articleBody"]') == "attr text"
    assert extract_one(html, 'div[class^="body_"]') == "prefix text"
    assert extract_one(html, "section#body-text") == "section text"
    assert extract_one(html, "div.absent") is None
    # nested text + void tags + whitespace normalization
    nested = "<div class='a'><p>x<br>y</p> <em>z</em></div>"
    assert extract_one(nested, "div.a") == "x y z"


def test_css_chunked_parse_matches_whole(
):
    """R2: incremental 4-byte-chunk parsing yields the same tree/text
    as whole-document parsing, even with tags split across chunks."""
    from data_pipeline_playground_spark.sources.css_select import (
        element_text,
        parse_html,
        parse_html_chunks,
        select,
    )

    html = (
        "<html><body><div class='article-copy'><p>alpha beta</p>"
        "<script>no()</script><em>gamma</em></div></body></html>"
    )
    chunks = [html[i : i + 4] for i in range(0, len(html), 4)]
    whole = select(parse_html(html), "div.article-copy")
    inc = select(parse_html_chunks(chunks), "div.article-copy")
    assert len(whole) == len(inc) == 1
    assert element_text(whole[0]) == element_text(inc[0]) == "alpha beta gamma"


def test_json_sink_roundtrip(spark, sf_dir, tmp_path):
    from data_pipeline_playground_spark.sources.json_source import (
        to_json_column,
        write_json_sink,
    )
    from data_pipeline_playground_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(10)
    j = to_json_column(docs, "doc_id", "lang")
    assert json.loads(j.first().json).keys() == {"doc_id", "lang"}
    out = tmp_path / "sink"
    write_json_sink(docs.select("doc_id", "lang"), str(out))
    back = spark.read.json(str(out))
    assert back.count() == 10


def test_wiki_page_summary_image_fallback(spark, tmp_path):
    from data_pipeline_playground_spark.sources.http_sources import (
        read_wiki_page_summary,
    )

    p = tmp_path / "pages.json"
    p.write_text(
        json.dumps(
            [
                {"pageid": 1, "title": "Full", "extract": "e1",
                 "original": {"source": "orig.png"}, "thumbnail": {"source": "thumb.png"}},
                {"pageid": 2, "title": "ThumbOnly", "extract": "e2",
                 "thumbnail": {"source": "thumb2.png"}},
                {"pageid": 3, "title": "NoImage", "extract": "e3"},
            ]
        )
    )
    rows = {r.title: r for r in read_wiki_page_summary(spark, str(p)).collect()}
    assert rows["Full"].image == "orig.png"  # original wins
    assert rows["ThumbOnly"].image == "thumb2.png"  # fallback chain
    assert rows["NoImage"].image is None
    assert all(r.found for r in rows.values())


def test_jsonl_quarantine_split(spark, tmp_path):
    """Malformed lines land in the quarantine frame, valid rows parse —
    neither job failure nor silent drops."""
    from data_pipeline_playground_spark.sources.json_source import (
        read_jsonl_with_quarantine,
    )

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok one"}\n'
        '{"doc_id": 2, "text": "ok two"}\n'
        "{not json at all\n"
        '{"doc_id": "not-a-number", "text": 3}\n'
        '{"doc_id": 3, "text": "ok three"}\n'
    )
    good, bad = read_jsonl_with_quarantine(
        spark, str(p), "doc_id bigint, text string"
    )
    assert {r.doc_id for r in good.collect()} == {1, 2, 3}
    raw_lines = [r.raw_line for r in bad.collect()]
    assert len(raw_lines) == 2
    assert any("not json" in l for l in raw_lines)
