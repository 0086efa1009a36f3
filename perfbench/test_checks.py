"""The benchmark's checks reject wrong results, and its oracle scores what
the engine's contract says. No Spark session is needed.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from checks import check_cache_hit, check_lexicon, check_topk  # noqa: E402
from oracle import OracleIndex, ref_numerator  # noqa: E402

TOP = [("conv_000001#000003", 0.75), ("conv_000000#000001", 0.5), ("conv_000002#000000", 0.25)]


def test_topk_accepts_the_expected_result():
    assert check_topk("q", list(TOP), TOP, k=10) == []


def test_topk_rejects_two_swapped_doc_ids():
    got = [(TOP[1][0], TOP[0][1]), (TOP[0][0], TOP[1][1]), TOP[2]]
    assert check_topk("q", got, TOP, k=10)


def test_topk_rejects_a_nudged_score():
    got = [TOP[0], (TOP[1][0], TOP[1][1] * (1 + 1e-7)), TOP[2]]
    assert check_topk("q", got, TOP, k=10)


def test_topk_rejects_rising_scores_duplicates_and_overflow():
    assert check_topk("q", [TOP[1], TOP[0]], [TOP[1], TOP[0]], k=10)
    assert check_topk("q", [TOP[0], TOP[0]], [TOP[0], TOP[0]], k=10)
    assert check_topk("q", TOP, TOP, k=2)


def test_lexicon_rejects_one_changed_df():
    lex = {"travel": 3, "guid": 2, "bako": 1}
    assert check_lexicon("lex", dict(lex), lex, n_pairs=6) == []
    assert check_lexicon("lex", dict(lex, guid=3), lex, n_pairs=6)
    assert check_lexicon("lex", {"travel": 3, "guid": 2}, lex, n_pairs=5)
    assert check_lexicon("lex", dict(lex), lex, n_pairs=7)


def test_cache_hit_rejects_an_altered_body():
    miss = {"results": [{"url": TOP[0][0], "score": TOP[0][1], "title": "", "snippet": ""}],
            "totalCount": 1, "totalTime": 412}
    hit = dict(miss, totalTime=0)
    assert check_cache_hit("hit", hit, miss) == []
    altered = dict(hit, results=[dict(miss["results"][0], score=0.7)])
    assert check_cache_hit("hit", altered, miss)


def _index(texts, roles=None):
    idx = OracleIndex()
    n = len(texts)
    idx.add_turns(["conv_000000"] * n, range(n), roles or ["user"] * n, texts, [""] * n)
    return idx


def test_reference_numerator_scales_past_6000_docs():
    assert ref_numerator(100) == 6000 and ref_numerator(7000) == 7000
    idx = _index(["kobu lofi"] * 6500 + ["zazu"] * 500)
    got = idx.ref_bow("kobu")
    # df 6500 > 6000: the literal numerator would score 0 and return nothing
    p = idx.postings["kobu"]["conv_000000#000000"]
    assert got and got[0] == ("conv_000000#000000", (p.tagsum * p.tf) * (7000 // 6500) / 7000)


def test_bm25_matches_the_formula_and_breaks_ties_by_doc_id():
    idx = _index(["kobu kobu lofi", "lofi zazu", "kobu"])
    n, avgdl = 3, (3 + 2 + 1) / 3
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))

    def term(occ, dl):
        return idf * (occ * 2.2) / (occ + (1.2 * 0.25 + 1.2 * 0.75 / avgdl * dl))

    got = dict(idx.bm25("kobu", k=10))
    assert got == {"conv_000000#000000": 0.0 + term(2, 3), "conv_000000#000002": 0.0 + term(1, 1)}
    tied = _index(["kobu"] * 3).bm25("kobu", k=2)
    assert [d for d, _ in tied] == ["conv_000000#000000", "conv_000000#000001"]


def test_phrase_and_boolean_retrieval():
    idx = _index(["kobu lofi zazu", "lofi kobu", "kobu lofi", "zazu"])
    assert {d for d, _ in idx.ref_phrase('"kobu lofi"')} == {"conv_000000#000000", "conv_000000#000002"}
    assert {d for d, _ in idx.ref_boolean("kobu lofi", "AND", "zazu")} == {"conv_000000#000000"}
    assert {d for d, _ in idx.ref_boolean("kobu lofi", "NOT", "zazu")} == {"conv_000000#000002"}
    # OR keeps the phrase gate: the zazu-only doc is retrieved but unscored
    assert {d for d, _ in idx.ref_boolean("kobu lofi", "OR", "zazu")} == {
        "conv_000000#000000", "conv_000000#000002"}


def test_query_plan_is_seeded_and_distinct():
    from apt_search_engine_spark.corpus import gen_corpus_pandas
    from wl_query import QueryPlan

    texts = gen_corpus_pandas(30, seed=3)["text"].tolist()
    a, b = QueryPlan(texts, 5, 20), QueryPlan(texts, 5, 20)
    assert a.rounds == b.rounds
    assert QueryPlan(texts, 6, 20).rounds != a.rounds
    queries = [q for r in a.rounds for q in r.values()]
    assert len(set(queries)) == len(queries)
