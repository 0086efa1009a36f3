"""The spark-submit search CLI (jobs/search.py): every query family it
accepts prints the same ranked (doc_id, score) rows as serve's /search
(or /mlt) and as the family's oracle-checked `*_df` plan, and a flag
that does not apply to the query exits 2 with a JSON error."""

from __future__ import annotations

import json
import threading
import urllib.parse
import urllib.request

import pytest

K = 5


@pytest.fixture(scope="module")
def server(engine):
    from apt_search_engine_spark.jobs.serve import serve

    httpd = serve(engine, host="127.0.0.1", port=0)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()
    httpd.server_close()


@pytest.fixture
def cli(spark, index_dir, capsys):
    """Runs jobs.search.main on the shared index in this process (the
    session factory hands back the active fixture session unchanged);
    returns (exit code, parsed stdout JSON or None, parsed stderr JSON or
    None)."""
    from apt_search_engine_spark.jobs import search

    def _run(*argv):
        code = search.main(["--index-dir", index_dir, "-k", str(K), *argv])
        out, err = capsys.readouterr()
        last = lambda s: json.loads(s.strip().splitlines()[-1]) if s.strip() else None
        return code, last(out), last(err)

    return _run


def _get(url: str) -> dict:
    with urllib.request.urlopen(url, timeout=120) as r:
        return json.loads(r.read())


def _wildcard(oracle) -> str:
    base = max(
        (t for t in oracle.inverted if len(t) >= 3),
        key=lambda t: (len(oracle.inverted[t]), t),
    )
    return f"{base[0]}*{base[-1]}"


def _families(engine, oracle):
    """(CLI args, serve path, the family's `*_df` rows)."""
    pat = _wildcard(oracle)
    seed = sorted(oracle.docs)[0]
    q = lambda s: "/search?size=%d&query=%s" % (K, urllib.parse.quote(s))
    return [
        (["--query", "travel guide"], q("travel guide"),
         lambda: engine.search_df("travel guide", K)),
        (["--query", '"travel guide"'], q('"travel guide"'),
         lambda: engine.search_df('"travel guide"', K)),
        (["--query", '"travel guide" OR europe'], q('"travel guide" OR europe'),
         lambda: engine.search_df('"travel guide" OR europe', K)),
        (["--query", "tra*"], q("tra*"),
         lambda: engine.search_prefix_df("tra", K)),
        (["--query", "gravel~1"], q("gravel~1"),
         lambda: engine.search_fuzzy_df("gravel", K, max_dist=1)),
        (["--query", pat], q(pat),
         lambda: engine.search_wildcard_df(pat, K)),
        (["--query", "travel NEAR/2 guide"], q("travel NEAR/2 guide"),
         lambda: engine.search_near_df("travel", "guide", 2, K)),
        (["--query", '"travel guide"~2'], q('"travel guide"~2'),
         lambda: engine.search_near_df("travel", "guide", 2, K, ordered=True)),
        (["--query", '"travel guide europe"~6'], q('"travel guide europe"~6'),
         lambda: engine.search_sloppy_df(["travel", "guide", "europe"], 6, K)),
        (["--query", "travel guide", "--scorer", "bm25"],
         q("travel guide") + "&scorer=bm25",
         lambda: engine.search_bm25_df("travel guide", K)),
        (["--mlt", seed], "/mlt?k=%d&doc=%s" % (K, urllib.parse.quote(seed)),
         lambda: engine.more_like_this_df(seed, K)),
    ]


def test_cli_matches_serve_and_df_per_family(cli, server, engine, oracle):
    for args, path, df in _families(engine, oracle):
        code, out, _ = cli(*args)
        assert code == 0, args
        got = [(r["doc_id"], r["score"]) for r in out["results"]]
        assert got, f"vacuous family {args}"
        assert out["totalCount"] == len(got)
        served = [(r["url"], r["score"]) for r in _get(server + path)["results"]]
        assert got == served, args
        assert got == [(r.doc_id, r.score) for r in df().collect()], args
        if "--scorer" not in args:
            # the reference scorer assembles url/title/snippet rows
            assert all({"url", "title", "snippet"} <= set(r) for r in out["results"])


def test_cli_unassembled_flags(cli, engine):
    """--exact prints doc_id/score rows of the exact plan; --no-snippets
    those of the WAND plan, rank+score identical to it."""
    for query, exact in (
        ("travel guide", lambda: engine.search_df("travel guide", K)),
        ("tra*", lambda: engine.search_prefix_df("tra", K)),
        ("gravel~1", lambda: engine.search_fuzzy_df("gravel", K, max_dist=1)),
    ):
        want = [(r.doc_id, r.score) for r in exact().collect()]
        assert want, query
        for flag in ("--exact", "--no-snippets"):
            code, out, _ = cli("--query", query, flag)
            assert code == 0
            assert all(set(r) == {"doc_id", "score"} for r in out["results"])
            got = [(r["doc_id"], r["score"]) for r in out["results"]]
            assert [d for d, _ in got] == [d for d, _ in want], (query, flag)
            assert [s for _, s in got] == pytest.approx(
                [s for _, s in want], rel=1e-9
            )


def test_cli_bm25_no_snippets_runs_wand(cli, engine, monkeypatch):
    """--scorer bm25 --no-snippets runs a bag-of-words query on the
    block-max WAND plan, as --no-snippets promises, and prints its rows."""
    from apt_search_engine_spark.query import wand

    want = [
        (r.doc_id, r.score)
        for r in engine.search_bm25_wand_df("travel guide", K).collect()
    ]
    assert want
    calls = []
    real = wand.wand_topk

    def spy(*a, **kw):
        calls.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(wand, "wand_topk", spy)
    code, out, _ = cli(
        "--query", "travel guide", "--scorer", "bm25", "--no-snippets"
    )
    assert code == 0 and len(calls) == 1
    assert [(r["doc_id"], r["score"]) for r in out["results"]] == want


def test_get_spark_returns_the_active_session_unchanged(spark, monkeypatch):
    """A job's session factory called inside a process that holds a
    session hands that session back without re-applying its confs."""
    from apt_search_engine_spark.session import get_spark

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("APTSE_SHUFFLE_PARTITIONS", raising=False)
    assert get_spark("x") is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"


def test_cli_conflicts_exit_2(cli, spark, tmp_path, oracle):
    syn = str(tmp_path / "syn")
    spark.createDataFrame(
        [("travel", "europ")], "term string, synonym string"
    ).write.parquet(syn)
    seed = sorted(oracle.docs)[0]
    for args in (
        ["--query", "tra*", "--scorer", "bm25"],
        ["--query", '"travel guide"', "--synonyms", syn],
        ["--mlt", seed, "--scorer", "bm25f"],
    ):
        code, out, err = cli(*args)
        assert code == 2 and out is None, args
        assert err["error"], args
    # a zero-hit plain query carries didYouMean, with or without synonyms
    base = max(oracle.inverted, key=lambda t: (len(oracle.inverted[t]), t))
    typo = ("z" + base[1:]) if len(base) > 2 else base + "z"
    for extra in ([], ["--synonyms", syn]):
        code, out, _ = cli("--query", typo, *extra)
        assert code == 0 and out["results"] == []
        assert out.get("didYouMean", "").strip(), (extra, out)
