"""HTTP frontend parity tests (reference ``Mainpage.java:26-135,370-389``):
routes, error bodies, pagination semantics, and agreement with the
serving DataFrame API."""

import json
import urllib.error
import urllib.request
from urllib.parse import quote

import pytest

from searchengine_spark.corpus import VOCAB


@pytest.fixture(scope="module")
def server_url(spark, tiny_index, tiny_pages_path):
    from searchengine_spark.webserver import start_server

    server, _thread = start_server(spark, tiny_index, tiny_pages_path)
    host, port = server.server_address[:2]
    yield f"http://{host}:{port}"
    server.shutdown()
    server.server_close()


def _get(url):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, resp.read().decode("utf-8")


def test_hello_and_form(server_url):
    status, body = _get(f"{server_url}/hello")
    assert (status, body) == (200, "Hello World!")
    status, body = _get(f"{server_url}/")
    assert status == 200
    assert 'action="/search"' in body and 'name="query"' in body


def test_missing_query_is_400(server_url):
    for path in ("/search", "/search?query=%20%20"):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{server_url}{path}")
        assert ei.value.code == 400
        assert ei.value.read().decode() == "Query parameter is missing"


def test_negative_paging_is_400(server_url):
    """A negative offset or limit is a bad request on both search
    routes, never a slice counted from the end of the ranked prefix."""
    q = quote(f"{VOCAB[0]} {VOCAB[1]}")
    for route in ("/search", "/api/search"):
        for paging in ("offset=-5&limit=15", "offset=0&limit=-1"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _get(f"{server_url}{route}?query={q}&{paging}")
            assert ei.value.code == 400, (route, paging)
            assert ei.value.read().decode().startswith("Bad request:")


def test_no_matches_and_offset_past_end(server_url):
    status, body = _get(f"{server_url}/search?query=zzznotaterm")
    assert (status, body) == (200, "No matched pages found")
    q = quote(VOCAB[0])
    # tiny corpus has far fewer than 10^6 hits
    status, body = _get(f"{server_url}/search?query={q}&offset=1000000")
    assert (status, body) == (200, "")


def test_search_html_matches_serving_api(server_url, spark, tiny_index,
                                         tiny_pages_path):
    from searchengine_spark.serving import search

    q = f"{VOCAB[0]} {VOCAB[1]}"
    expected = search(spark, tiny_index, tiny_pages_path, q, k=5).collect()
    assert expected
    status, body = _get(f"{server_url}/search?query={quote(q)}&limit=5")
    assert status == 200
    # reference formatSearchResults shape: container + one item per hit
    assert body.startswith("<div class='search-results'>")
    assert body.count("<div class='search-result-item'>") == len(expected)
    # rank order preserved: urls appear in blended-score order
    positions = [body.index(f"href='{r['url']}'") for r in expected]
    assert positions == sorted(positions)


def _page_phrase(tiny_pages_path):
    """A 2-word phrase that really occurs in some page's scoring text."""
    import pandas as pd
    import pyarrow.parquet as pq

    from searchengine_spark.textprep import (
        extract_titlep_lower_series,
        java_tokens,
    )

    for row in pq.read_table(tiny_pages_path).to_pylist():
        text = extract_titlep_lower_series(pd.Series([row["html"]])).iloc[0]
        toks = java_tokens(text)
        if len(toks) >= 2:
            return f"{toks[0]} {toks[1]}"
    raise AssertionError("tiny corpus has no 2-token page")


def test_mode_and_and_phrase_match_library(server_url, spark, tiny_index,
                                           tiny_pages_path):
    """mode=AND|phrase route results must equal the serving library's;
    phrase results must be a subset of AND results (phrase ⊆ conjunctive
    containment) and non-empty for a phrase planted in a page."""
    from searchengine_spark.serving import search

    q = _page_phrase(tiny_pages_path)
    got = {}
    for mode in ("AND", "phrase"):
        status, body = _get(
            f"{server_url}/api/search?query={quote(q)}&limit=10&mode={mode}")
        assert status == 200
        rows = json.loads(body)["results"]
        expected = search(spark, tiny_index, tiny_pages_path, q,
                          mode=mode.upper(), k=10).collect()
        assert [(r["rank"], r["url"]) for r in rows] == [
            (r["rank"], r["url"]) for r in expected
        ], mode
        got[mode] = {r["url"] for r in rows}
    assert got["phrase"], "planted phrase found no pages"
    assert got["phrase"] <= got["AND"] or len(got["AND"]) == 10


def test_phrase_mode_excludes_non_adjacent(spark, tiny_index,
                                           tiny_pages_path):
    """A reversed phrase whose words co-occur (AND hits) but are not
    adjacent in that order must return fewer or different docs than AND
    — and every phrase hit must genuinely contain the phrase."""
    from searchengine_spark.serving import search

    q = _page_phrase(tiny_pages_path)
    ph = search(spark, tiny_index, tiny_pages_path, q,
                mode="PHRASE", k=50).collect()
    am = search(spark, tiny_index, tiny_pages_path, q,
                mode="AND", k=50).collect()
    assert {r["url"] for r in ph} <= {r["url"] for r in am}


def test_json_api_pagination(server_url, spark, tiny_index, tiny_pages_path):
    from searchengine_spark.serving import search

    q = f"{VOCAB[0]} {VOCAB[1]}"
    status, body = _get(
        f"{server_url}/api/search?query={quote(q)}&offset=2&limit=3")
    assert status == 200
    got = json.loads(body)["results"]
    expected = search(
        spark, tiny_index, tiny_pages_path, q, k=3, offset=2
    ).collect()
    assert [(r["rank"], r["url"]) for r in got] == [
        (r["rank"], r["url"]) for r in expected
    ]
    for g, e in zip(got, expected):
        assert g["blended"] == pytest.approx(e["blended"], abs=1e-12)
        assert g["title"] == e["title"] and g["snippet"] == e["snippet"]


def test_exclusion_syntax_route_matches_library(server_url, spark,
                                                tiny_index, tiny_pages_path):
    """`-term` in the query param drops docs containing the term, and
    the route returns exactly the library's excluded results."""
    from searchengine_spark.serving import search, split_exclusions

    assert split_exclusions("a -b c -d") == ("a c", "b d")
    assert split_exclusions("-only") == ("", "only")
    assert split_exclusions("a - b") == ("a - b", "")  # bare dash kept

    q = f"{VOCAB[0]} {VOCAB[1]} -{VOCAB[2]}"
    status, body = _get(
        f"{server_url}/api/search?query={quote(q)}&limit=10")
    assert status == 200
    got = json.loads(body)["results"]
    want = [
        r.asDict()
        for r in search(spark, tiny_index, tiny_pages_path, q, k=10)
        .collect()
    ]
    assert [g["url"] for g in got] == [w["url"] for w in want]
    # exclusion was non-vacuous: the plain query differs
    plain = json.loads(_get(
        f"{server_url}/api/search?query="
        f"{quote(f'{VOCAB[0]} {VOCAB[1]}')}&limit=10")[1])["results"]
    assert [g["url"] for g in got] != [p["url"] for p in plain]
    # no doc in the result contains the excluded stem
    from searchengine_spark.query import parse_query
    from searchengine_spark.wand import score_wand

    deny_docs = {
        r["doc_id"]
        for r in score_wand(
            spark, tiny_index,
            [{"query_id": 0, "query": VOCAB[2], "k": 10**6}],
        ).collect()
    }
    from searchengine_spark import catalog

    url_to_doc = {
        r["url"]: r["doc_id"]
        for r in spark.read.parquet(
            catalog.path(tiny_index, catalog.DOCSTATS)
        ).select("doc_id", "url").collect()
    }
    assert all(url_to_doc[g["url"]] not in deny_docs for g in got)


def test_anchor_weighted_server(spark, tiny_index, tiny_pages_path):
    """A server started with w_anchor serves the anchor-weighted blend
    (batched path), matching the library at the same weight — and the
    default server's results stay the reference-parity blend."""
    from searchengine_spark.serving import search
    from searchengine_spark.anchors import build_anchor_stage
    from searchengine_spark.webserver import start_server

    build_anchor_stage(spark, tiny_pages_path, tiny_index, "anchor-ws")
    q = f"link {VOCAB[0]}"
    server, _t = start_server(
        spark, tiny_index, tiny_pages_path, w_anchor=0.1
    )
    try:
        host, port = server.server_address[:2]
        status, body = _get(
            f"http://{host}:{port}/api/search?query={quote(q)}&limit=10"
        )
        assert status == 200
        got = [(r["url"], round(r["blended"], 9))
               for r in json.loads(body)["results"]]
    finally:
        server.batcher.close()
        server.shutdown()
        server.server_close()
    want = [
        (r["url"], round(r["blended"], 9))
        for r in search(
            spark, tiny_index, tiny_pages_path, q, k=10, w_anchor=0.1
        ).collect()
    ]
    assert got == want
    plain = [
        (r["url"], round(r["blended"], 9))
        for r in search(
            spark, tiny_index, tiny_pages_path, q, k=10
        ).collect()
    ]
    assert got != plain, "weight must change the blend for anchored docs"
