"""Okapi BM25 scoring path (engine.search_bm25_df, layout v6).

Parity model: a line-by-line Python BM25 over the same analyzed postings
(tests/oracle.py's inverted index gives per-(term, doc) positions; occ =
len(positions)), folding per-doc contributions in ascending term order
with the SAME driver-side constants (bm25_idf, c0/c1) the engine bakes
into its plan — so scores must match bit-for-bit, not approximately.

Also guards the doc-length bookkeeping: the doc_len table and meta
total_len written by the batch build, and their maintenance through
incremental streaming compaction (disjoint increments append dl rows and
accumulate total_len)."""

from __future__ import annotations

import json
import os

import pytest

from apt_search_engine_spark.query.engine import BM25_B, BM25_K1, bm25_idf


def _python_bm25(oracle, query: str, k: int = 10):
    """Reference BM25 over the Python oracle's inverted index, mirroring
    search_bm25_df: true df, occ = raw occurrence count, dl = admitted
    occurrences per doc, avgdl = total_len / n_docs, candidates = bag
    union, fold ascending by term then doc."""
    from apt_search_engine_spark.query import parser

    parsed = parser.parse(query)
    if parsed.qtype == "phrase":
        words = sorted(set(parsed.query_words))
    elif parsed.qtype == "phrase+boolean":
        words = sorted(set(parsed.scoring_words))
    else:
        words = sorted(
            {w for w in parsed.query_words if w.upper() not in parser.OPERATORS}
        )
    dl: dict[str, int] = {}
    for term, docs in oracle.inverted.items():
        for doc_id, info in docs.items():
            dl[doc_id] = dl.get(doc_id, 0) + len(info["positions"])
    total_len = sum(dl.values())
    n_docs = oracle.n_docs
    avgdl = total_len / n_docs
    k1p1 = BM25_K1 + 1.0
    c0 = BM25_K1 * (1.0 - BM25_B)
    c1 = BM25_K1 * BM25_B / avgdl

    words = [w for w in words if oracle.inverted.get(w)]
    scores: dict[str, float] = {}
    for t in words:  # ascending term order == the engine's fold order
        idf = bm25_idf(len(oracle.inverted[t]), n_docs)
        for doc_id, info in oracle.inverted[t].items():
            occ = float(len(info["positions"]))
            tfnorm = (occ * k1p1) / (occ + (c0 + c1 * dl[doc_id]))
            scores[doc_id] = scores.get(doc_id, 0.0) + idf * tfnorm
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k], total_len


QUERIES = [
    "travel guide",
    "the europe tips",
    "zzz_nonexistent_term",
]


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_rank_and_scores_bit_exact(engine, oracle, query):
    got = [
        (r.doc_id, r.score)
        for r in engine.search_bm25_df(query, k=10).collect()
    ]
    want, _ = _python_bm25(oracle, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in want], (
        f"rank diverges for {query!r}: {got} vs {want}"
    )
    for (d1, s1), (d2, s2) in zip(got, want):
        assert s1 == s2, f"score not bit-exact for {d1}: {s1!r} != {s2!r}"


def test_bm25_doc_len_table_and_meta(spark, engine, oracle, index_dir):
    """doc_len table rows == per-doc admitted occurrence counts; meta
    total_len == their sum; avgdl basis matches the Python model."""
    dl_want: dict[str, int] = {}
    for docs in oracle.inverted.values():
        for doc_id, info in docs.items():
            dl_want[doc_id] = dl_want.get(doc_id, 0) + len(info["positions"])
    rows = spark.read.parquet(os.path.join(index_dir, "doc_len")).collect()
    dl_got = {r.doc_id: int(r.dl) for r in rows}
    assert dl_got == dl_want
    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    assert meta["total_len"] == sum(dl_want.values())


def test_bm25_requires_disk_index(spark, index_dir, tmp_path):
    """An index whose meta.json lacks the BM25 corpus statistic
    total_len (pre-v6 layout) is refused by the BM25 scorer rather than
    misscored."""
    import shutil

    from apt_search_engine_spark.query.engine import SearchEngine

    d = str(tmp_path / "no_total_len")
    shutil.copytree(index_dir, d)
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["total_len"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    eng = SearchEngine(spark, d)
    with pytest.raises(ValueError, match="total_len"):
        eng.search_bm25_df("travel")


@pytest.mark.parametrize("query", ["travel guide", "the europe tips"])
def test_bm25_wand_equals_exact(engine, query):
    """Block-max WAND BM25 (stored occs/dls + admissible
    tfnorm(block_max_occ, block_min_dl) bounds) returns the exact plan's
    top-k bit-for-bit."""
    wand = [
        (r.doc_id, r.score)
        for r in engine.search_bm25_wand_df(query, k=10).collect()
    ]
    exact = [
        (r.doc_id, r.score)
        for r in engine.search_bm25_df(query, k=10).collect()
    ]
    assert wand == exact


def test_bm25_wand_fallback_paths(engine):
    """Phrase queries need positions: the WAND entrypoint must fall back
    to the exact BM25 plan and still match it."""
    q = '"travel guide"'
    wand = [(r.doc_id, r.score) for r in engine.search_bm25_wand_df(q).collect()]
    exact = [(r.doc_id, r.score) for r in engine.search_bm25_df(q).collect()]
    assert wand == exact


def test_bm25_phrase_and_boolean_candidates(engine, oracle):
    """Phrase/boolean retrieval reuses the exact candidate operators; the
    BM25 scores restrict the bag scores to the filtered candidate set."""
    phrase = '"travel guide"'
    got = [(r.doc_id, r.score) for r in engine.search_bm25_df(phrase, k=10).collect()]
    # candidates must be exactly the docs the parity scorer admits
    ref_docs = {
        r["doc_id"] for r in oracle.search(phrase, k=10**6)
    }
    assert {d for d, _ in got} <= ref_docs or not got
    # and each score equals the bag formula on that candidate set
    bag, _ = _python_bm25(oracle, "travel guide", k=10**6)
    bag_scores = dict(bag)
    for d, s in got:
        assert s == bag_scores[d]


def test_bm25_batch_matches_per_query(engine):
    """search_bm25_batch_df: one shared-scan job, per-query rows
    bit-identical to search_bm25_df — including the phrase fallback
    union branch and the no-hit query (absent from the output)."""
    queries = {
        "a": "travel guide",
        "b": "the europe tips",
        "c": '"travel guide"',          # phrase -> per-query fallback
        "d": "zzz_nonexistent_term",    # no postings -> no rows
    }
    got = engine.search_bm25_batch_df(queries, k=10).collect()
    by_qid: dict[str, list] = {}
    for r in got:
        by_qid.setdefault(r.query_id, []).append((r.doc_id, r.score))
    assert "d" not in by_qid
    for qid in ("a", "b", "c"):
        exact = [
            (r.doc_id, r.score)
            for r in engine.search_bm25_df(queries[qid], k=10).collect()
        ]
        assert by_qid.get(qid, []) == exact, qid


def test_bm25_batch_empty_and_all_fallback(engine):
    """Empty query dict -> empty frame with the batch schema; an
    all-phrase dict exercises the union-only path."""
    empty = engine.search_bm25_batch_df({}, k=5)
    assert empty.columns == ["query_id", "doc_id", "score"]
    assert empty.count() == 0
    only_phrase = engine.search_bm25_batch_df({"p": '"europe tips"'}, k=5)
    exact = [
        (r.doc_id, r.score)
        for r in engine.search_bm25_df('"europe tips"', k=5).collect()
    ]
    assert [(r.doc_id, r.score) for r in only_phrase.collect()] == exact


def _python_bm25f(oracle, query: str, weights=None, k: int = 10):
    """Simple BM25F over the Python oracle's tags: weighted occurrence
    tfw = sum_f w_f * (occurrences tagged f), body = untagged, fed
    through the standard saturation (engine.search_bm25f_df)."""
    from apt_search_engine_spark.query import parser
    from apt_search_engine_spark.query.engine import BM25F_WEIGHTS

    w = dict(BM25F_WEIGHTS)
    if weights:
        w.update(weights)
    parsed = parser.parse(query)
    words = sorted(
        {x for x in parsed.query_words if x.upper() not in parser.OPERATORS}
    )
    dl: dict[str, int] = {}
    for term, docs in oracle.inverted.items():
        for doc_id, info in docs.items():
            dl[doc_id] = dl.get(doc_id, 0) + len(info["positions"])
    n_docs = oracle.n_docs
    avgdl = sum(dl.values()) / n_docs
    k1p1 = BM25_K1 + 1.0
    c0 = BM25_K1 * (1.0 - BM25_B)
    c1 = BM25_K1 * BM25_B / avgdl
    words = [x for x in words if oracle.inverted.get(x)]
    scores: dict[str, float] = {}
    for t in words:
        idf = bm25_idf(len(oracle.inverted[t]), n_docs)
        for doc_id, info in oracle.inverted[t].items():
            tags = info["tags"]
            n = {f: sum(1 for x in tags if x == f) for f in
                 ("title", "h1", "h2", "h3")}
            body = len(tags) - sum(n.values())
            tfw = (
                w["title"] * n["title"]
                + w["h1"] * n["h1"]
                + w["h2"] * n["h2"]
                + w["h3"] * n["h3"]
                + w["body"] * body
            )
            scores[doc_id] = scores.get(doc_id, 0.0) + idf * (
                (tfw * k1p1) / (tfw + (c0 + c1 * dl[doc_id]))
            )
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.mark.parametrize("query", ["travel guide", "use user"])
def test_bm25f_parity(engine, oracle, query):
    got = engine.search_bm25f_df(query, k=10).collect()
    want = _python_bm25f(oracle, query)
    assert [r.doc_id for r in got] == [d for d, _ in want], query
    for r, (_, s) in zip(got, want):
        assert r.score == pytest.approx(s, rel=1e-9)
    assert got, f"vacuous BM25F parity for {query!r}"


def test_bm25f_field_weights_matter(engine, oracle):
    """'use user' postings carry h1 tags (role substring) in the seeded
    corpus, so boosting h1 must change scores vs a flat body weighting —
    the field emphasis is live, not a pass-through."""
    flat = {"title": 0.5, "h1": 0.5, "h2": 0.5, "h3": 0.5, "body": 0.5}
    boosted = {r.doc_id: r.score for r in
               engine.search_bm25f_df("use user", k=50).collect()}
    flat_s = {r.doc_id: r.score for r in
              engine.search_bm25f_df("use user", k=50, weights=flat).collect()}
    common = set(boosted) & set(flat_s)
    assert common
    assert any(boosted[d] != flat_s[d] for d in common)
    # and the flat weighting equals the Python recompute with the same
    # weights (weights plumb through, not just the default vector)
    want = dict(_python_bm25f(oracle, "use user", weights=flat, k=50))
    for d in flat_s:
        assert flat_s[d] == pytest.approx(want[d], rel=1e-9)


def test_bm25f_phrase_candidates_match_bm25(engine):
    """Retrieval follows the query type for BOTH scorers (review fix):
    a phrase query's BM25F candidates are exactly the BM25 phrase
    candidates — only the scoring differs."""
    q = '"travel guide"'
    f_docs = {r.doc_id for r in engine.search_bm25f_df(q, k=10**6).collect()}
    b_docs = {r.doc_id for r in engine.search_bm25_df(q, k=10**6).collect()}
    assert f_docs == b_docs and f_docs
    # and strictly fewer than the bag-of-words candidate set
    bag = {r.doc_id for r in
           engine.search_bm25f_df("travel guide", k=10**6).collect()}
    assert f_docs < bag
