"""Robustness fuzz: the parser must never raise on arbitrary input, and
the engine + serve layer must handle adversarial query strings (empty
quotes, bare operators, mixed syntax, unicode, very long tokens) with a
well-formed response instead of a 500."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from apt_search_engine_spark.query import parser

_ANY_QUERY = st.text(min_size=0, max_size=60)
_QUERYISH = st.text(
    alphabet='abcz019 "*?~AND OR NOT/\'!@#%&()[]{}<>\\.,:;-_+=é中',
    min_size=0,
    max_size=40,
)


@settings(max_examples=500, deadline=None)
@given(q=_ANY_QUERY)
def test_parser_total_on_arbitrary_text(q):
    p = parser.parse(q)
    assert isinstance(p.query_words, list)
    assert all(isinstance(w, str) for w in p.query_words)
    p.scoring_words  # derived property must not raise either


@settings(max_examples=500, deadline=None)
@given(q=_QUERYISH)
def test_parser_total_on_query_shaped_text(q):
    p = parser.parse(q)
    assert p.qtype in ("normal", "normal+boolean", "phrase", "phrase+boolean")


@settings(max_examples=500, deadline=None)
@given(q=_QUERYISH)
def test_parse_spec_total_on_query_shaped_text(q):
    spec = parser.parse_spec(q)
    assert spec.kind in ("text", "prefix", "fuzzy", "wildcard", "near", "sloppy")
    if spec.kind != "text":
        assert spec.text == spec.text.lower()
        assert all(w == w.lower() for w in spec.words)


ADVERSARIAL = [
    '"',
    '""',
    '" "',
    "AND",
    "NOT NOT NOT",
    '" AND "',
    '"a b" AND',
    "a AND",
    "'; DROP TABLE documents; --",
    "x" * 5000,
    "éèê café",
    "中文查询",
    "  ",
    '"unterminated',
    "a~9",  # invalid fuzzy distance: not multi-term syntax, plain parse
    "*?*",
]


@pytest.mark.parametrize("q", ADVERSARIAL)
def test_engine_handles_adversarial_queries(engine, q):
    rows = engine.search_df(q, k=3).collect()
    assert isinstance(rows, list)  # no exception; empty is fine


def test_serve_adversarial_queries_no_500(engine):
    import threading
    import urllib.error
    import urllib.parse
    import urllib.request

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        for q in ADVERSARIAL:
            url = (
                f"http://127.0.0.1:{port}/search?"
                + urllib.parse.urlencode({"query": q, "size": 3})
            )
            try:
                with urllib.request.urlopen(url, timeout=120) as r:
                    assert r.status == 200
            except urllib.error.HTTPError as e:
                assert e.code == 400, (q, e.code)  # 4xx ok, 5xx never
    finally:
        httpd.shutdown()
