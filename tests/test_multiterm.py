"""Multi-term rewrite (prefix / fuzzy), server-side suggestions, facet
counts — parity vs an independent in-test expansion over the pure-Python
oracle's inverted index, plus cap-determinism and empty-expansion shape
invariants.

Reference context: the reference engine has no multi-term queries (its
client suggests from localStorage history only); these are the standard
fulltext-index extensions (Lucene MultiTermQuery / FuzzyQuery /
faceting) re-expressed over the lexicon + postings layout. Scoring of an
expansion is the reference's own bag-of-words scorer (R1-R5) applied to
a server-derived term set, so parity reuses OracleEngine._rank_normal.
"""

from __future__ import annotations

import pytest

from apt_search_engine_spark.query.parser import QuerySpec


def _levenshtein(a: str, b: str) -> int:
    # plain unweighted edit distance (== Spark F.levenshtein / DuckDB
    # levenshtein), small-vocab test-side recompute
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _oracle_prefix_expansion(oracle, prefix: str, max_exp: int) -> list[str]:
    cand = [
        (t, len(docs))
        for t, docs in oracle.inverted.items()
        if t.startswith(prefix)
    ]
    cand.sort(key=lambda td: (-td[1], td[0]))
    return [t for t, _ in cand[:max_exp]]


def _oracle_fuzzy_expansion(
    oracle, word: str, max_dist: int, max_exp: int
) -> list[str]:
    cand = [
        (t, _levenshtein(t, word), len(docs))
        for t, docs in oracle.inverted.items()
    ]
    cand = [(t, d, df) for t, d, df in cand if d <= max_dist]
    cand.sort(key=lambda x: (x[1], -x[2], x[0]))
    return [t for t, _, _ in cand[:max_exp]]


def _oracle_bag_topk(oracle, terms: list[str], k: int = 10):
    scores = oracle._rank_normal(oracle._docs_for_words(sorted(set(terms))))
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


@pytest.fixture(scope="module")
def prefix(oracle):
    """A prefix matching >= 3 vocabulary stems (picked from the corpus so
    the test survives vocab regeneration)."""
    from collections import Counter

    c = Counter(t[:2] for t in oracle.inverted)
    p, n = c.most_common(1)[0]
    assert n >= 3, "test corpus vocabulary too small for a prefix test"
    return p


def _assert_rank_identical(got_rows, want_pairs):
    assert [r.doc_id for r in got_rows] == [d for d, _ in want_pairs]
    for r, (_, s) in zip(got_rows, want_pairs):
        assert r.score == pytest.approx(s, rel=1e-9)


def test_expand_prefix_matches_oracle_order(engine, oracle, prefix):
    want_all = _oracle_prefix_expansion(oracle, prefix, 10**6)
    assert engine.expand_prefix(prefix, max_expansions=10**6) == want_all
    # the deterministic cap keeps the highest-df expansions
    cap = max(1, len(want_all) - 1)
    assert engine.expand_prefix(prefix, max_expansions=cap) == want_all[:cap]


def test_prefix_topk_parity(engine, oracle, prefix):
    for cap in (10**6, 2):
        got = engine.search_prefix_df(prefix, k=10, max_expansions=cap).collect()
        want = _oracle_bag_topk(
            oracle, _oracle_prefix_expansion(oracle, prefix, cap)
        )
        _assert_rank_identical(got, want)
    assert got, "vacuous prefix parity (no hits)"


def test_fuzzy_expansion_and_topk_parity(engine, oracle):
    # mutate a real vocabulary term so distance-1 matches exist
    base = sorted(oracle.inverted)[len(oracle.inverted) // 2]
    word = ("z" + base[1:]) if len(base) > 2 else base + "z"
    want_terms = _oracle_fuzzy_expansion(oracle, word, 1, 50)
    assert want_terms, "mutation produced no distance-1 neighbors"
    assert engine.expand_fuzzy(word, max_dist=1, max_expansions=50) == want_terms
    got = engine.search_fuzzy_df(word, k=10, max_dist=1).collect()
    _assert_rank_identical(got, _oracle_bag_topk(oracle, want_terms))
    assert got


def test_fuzzy_distance_zero_equals_exact_term(engine, oracle):
    term = max(oracle.inverted, key=lambda t: (len(oracle.inverted[t]), t))
    assert engine.expand_fuzzy(term, max_dist=0) == [term]


def test_no_match_returns_empty_with_schema(engine):
    got = engine.search_prefix_df("zzzznope")
    assert got.columns == ["doc_id", "score"] and got.count() == 0
    got = engine.search_fuzzy_df("zzzzzzzzzzzznope", max_dist=1)
    assert got.columns == ["doc_id", "score"] and got.count() == 0
    assert engine.suggest_terms_df("").count() == 0
    assert engine.expand_prefix("") == []


def test_suggest_terms(engine, oracle, prefix):
    want = [
        (t, len(oracle.inverted[t]))
        for t in _oracle_prefix_expansion(oracle, prefix, 3)
    ]
    got = engine.suggest_terms_df(prefix, k=3)
    assert [tuple(r) for r in got.collect()] == want
    assert [f.dataType.simpleString() for f in got.schema.fields] == [
        "string",
        "bigint",
    ]


def test_facet_counts(spark, engine, oracle):
    from pyspark.sql import functions as F

    # deterministic facet over the full doc registry (doc_map covers
    # every doc, including empty ones)
    facets = engine._doc_map().select(
        "doc_id", F.substring(F.md5("doc_id"), 1, 1).alias("facet")
    )
    query = "travel guide"
    got = {
        (r.facet, r.n_docs)
        for r in engine.facet_counts_df(query, facets).collect()
    }
    # brute-force expectation: OR match set from the oracle's inverted
    # index, facet rule recomputed with hashlib
    import hashlib
    from collections import Counter

    from apt_search_engine_spark.query import parser

    p = parser.parse(query)
    words = {w for w in p.query_words if w.upper() not in parser.OPERATORS}
    match = set()
    for w in words:
        match |= set(oracle.inverted.get(w, {}))
    assert match, "vacuous facet test"
    want = Counter(
        hashlib.md5(d.encode()).hexdigest()[0] for d in sorted(match)
    )
    assert got == {(f, n) for f, n in want.items()}


def test_facet_counts_excludes_deleted(spark, index_dir, oracle):
    from pyspark.sql import functions as F

    from apt_search_engine_spark.query.engine import SearchEngine

    query = "travel guide"
    words = {"travel", "guid"} & set(oracle.inverted)
    match = set()
    for w in words:
        match |= set(oracle.inverted.get(w, {}))
    victim = sorted(match)[0]
    eng = SearchEngine(spark, index_dir, deleted_ids=[victim])
    facets = eng._doc_map().select(
        "doc_id", F.lit("all").alias("facet")
    )
    n = {r.facet: r.n_docs for r in eng.facet_counts_df(query, facets).collect()}
    assert n == {"all": len(match) - 1}


def test_search_prefix_full_response(engine, oracle, prefix):
    rows = engine.search_prefix(prefix, k=5, with_snippets=True)
    assert rows and len(rows) <= 5
    want = _oracle_bag_topk(
        oracle, _oracle_prefix_expansion(oracle, prefix, 50), k=5
    )
    assert [r["doc_id"] for r in rows] == [d for d, _ in want]
    for r in rows:
        assert set(r) == {"doc_id", "url", "score", "title", "snippet"}
        # at least one expanded term highlighted somewhere in the top-k
    assert any("<b>" in r["snippet"] for r in rows)
    assert engine.search_prefix("zzzznope") == []


def test_match_count_equals_full_oracle_list(engine, oracle):
    """match_count_df == size of the FULL ranked list the reference
    returns (totalCount), on normal and phrase plans."""
    for query in ("travel guide", '"travel guide"', "zzznope"):
        got = engine.match_count_df(query).collect()
        assert len(got) == 1
        want = len(oracle.search(query, k=10**9))
        assert got[0].n_matches == want, query
    # deleted docs leave the count (delete-before-purge)
    victim = next(iter(oracle.inverted["travel"]))
    from apt_search_engine_spark.query.engine import SearchEngine

    eng2 = SearchEngine(
        engine.spark, engine.index_dir, deleted_ids=[victim]
    )
    base = engine.match_count_df("travel guide").collect()[0].n_matches
    assert (
        eng2.match_count_df("travel guide").collect()[0].n_matches
        == base - 1
    )


def test_prefix_fuzzy_wand_equal_exact(engine, oracle, prefix):
    """The block-max WAND rewrite path is rank+score identical to the
    exact rewrite plan (the shared-oracle contract)."""
    exact = engine.search_prefix_df(prefix, k=10).collect()
    wand = engine.search_prefix_wand_df(prefix, k=10).collect()
    assert [r.doc_id for r in wand] == [r.doc_id for r in exact]
    for w, e in zip(wand, exact):
        assert w.score == pytest.approx(e.score, rel=1e-9)

    base = sorted(oracle.inverted)[len(oracle.inverted) // 2]
    word = ("z" + base[1:]) if len(base) > 2 else base + "z"
    exact = engine.search_fuzzy_df(word, k=10, max_dist=1).collect()
    wand = engine.run(
        QuerySpec("fuzzy", word, max_dist=1), k=10, assemble=False
    )["results"]
    assert [r["doc_id"] for r in wand] == [r.doc_id for r in exact]
    for w, e in zip(wand, exact):
        assert w["score"] == pytest.approx(e.score, rel=1e-9)
    assert exact, "vacuous WAND-rewrite parity"


def _oracle_field_topk(oracle, field: str, terms: list[str], k: int = 10):
    """Fielded bag-of-words: postings restricted to >=1 occurrence
    tagged with `field`, df RECOUNTED over the restriction (quirk-Q12
    semantics), reference scorer otherwise."""
    term_docs = {}
    for t in sorted(set(terms)):
        docs = {
            d: info
            for d, info in oracle.inverted.get(t, {}).items()
            if field in info["tags"]
        }
        if docs:
            term_docs[t] = docs
    scores = oracle._rank_normal(term_docs)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_field_search_parity(engine, oracle):
    """Quirk Q11 makes the title channel process the literal string
    'title', so only the stem 'titl' can carry the title tag — the
    query mixes it with an untagged word so the field filter actually
    discriminates. h1 = the turn role: 'use'/'user' substring-match the
    processed 'user' role (the reference's Q3 substring tagging)."""
    for field, query in (("title", "titles artful"), ("h1", "use user")):
        got = engine.search_field_df(field, query, k=10).collect()
        from apt_search_engine_spark.query import parser

        p = parser.parse(query)
        words = sorted(
            {w for w in p.query_words if w.upper() not in parser.OPERATORS}
        )
        want = _oracle_field_topk(oracle, field, words)
        assert [r.doc_id for r in got] == [d for d, _ in want], (field, query)
        for r, (_, s) in zip(got, want):
            assert r.score == pytest.approx(s, rel=1e-9)
        assert got, f"vacuous fielded parity for {field}"
    # a term absent from the channel matches nothing
    assert engine.search_field_df("title", "zzznope").count() == 0
    with pytest.raises(ValueError):
        engine.search_field_df("body", "travel")


def test_field_search_full_response(engine):
    rows = engine.run(QuerySpec("text", "use user"), k=3, field="h1")["results"]
    assert rows
    for r in rows:
        assert set(r) == {"doc_id", "url", "score", "title", "snippet"}


def _oracle_near_topk(oracle, t1, t2, slop, k=10):
    docs1 = oracle.inverted.get(t1, {})
    docs2 = oracle.inverted.get(t2, {})
    cand = [
        d
        for d in set(docs1) & set(docs2)
        if any(
            abs(p - q) <= slop
            for p in docs1[d]["positions"]
            for q in docs2[d]["positions"]
        )
    ]
    term_docs = {
        t: {
            d: oracle.inverted[t][d]
            for d in cand
            if d in oracle.inverted[t]
        }
        for t in {t1, t2}
    }
    scores = oracle._rank_phrase(term_docs, [t1, t2] if t1 != t2 else [t1])
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


def test_near_parity_and_phrase_superset(engine, oracle):
    got = engine.search_near_df("travel", "guide", slop=2, k=10).collect()
    want = _oracle_near_topk(oracle, "travel", "guid", 2)
    assert [r.doc_id for r in got] == [d for d, _ in want]
    for r, (_, s) in zip(got, want):
        assert r.score == pytest.approx(s, rel=1e-9)
    assert got, "vacuous NEAR parity"

    # every doc matching the exact adjacent phrase also matches NEAR/2
    phrase_docs = {
        r["doc_id"] for r in oracle.search('"travel guide"', k=10**9)
    }
    near_docs = {
        d for d, _ in _oracle_near_topk(oracle, "travel", "guid", 2, k=10**9)
    }
    assert phrase_docs <= near_docs and len(near_docs) > len(phrase_docs)

    # no co-occurrence within slop -> empty; absent term -> empty
    assert engine.search_near_df("travel", "zzznope", slop=2).count() == 0


def test_near_same_stem_requires_two_occurrences(engine, oracle):
    """'travel NEAR/1 travel' must mean TWO occurrences within the slop,
    not an occurrence near itself (review fix)."""
    got = {r.doc_id for r in
           engine.search_near_df("travel", "travel", slop=1, k=10**6).collect()}
    docs = oracle.inverted.get("travel", {})
    want = {
        d
        for d, info in docs.items()
        if any(
            b - a <= 1
            for a, b in zip(info["positions"], info["positions"][1:])
        )
    }
    assert got == want
    # discriminative: some docs contain the term but not twice-within-1
    assert want and len(want) < len(docs)
    # the ORDERED form ('"travel travel"~1' — reachable via the quoted
    # sloppy syntax, r4 ADVICE hazard) takes the same two-distinct-
    # occurrences branch: identical result set, no self-pairing
    got_ordered = {
        r.doc_id
        for r in engine.search_near_df(
            "travel", "travel", slop=1, k=10**6, ordered=True
        ).collect()
    }
    assert got_ordered == want


def test_match_count_dedup_by_url(spark, tmp_path):
    """With url_expr collisions (all turns of a conversation share a
    URL), dedup_by_url counts merged URLs — the reference's URL-keyed
    scoreTracker size — while the default counts doc ids."""
    from pyspark.sql import functions as F

    from apt_search_engine_spark.corpus import gen_corpus_spark
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.query.engine import SearchEngine

    tr = gen_corpus_spark(spark, 8)
    d = str(tmp_path / "idx")
    b = IndexBuilder(spark, d, n_batches=1)
    b.build(tr, with_blocks=False)
    b.write_doc_meta(tr, url_expr=F.col("conv_id"))
    eng = SearchEngine(spark, index_dir=d)
    n_docs = eng.match_count_df("travel guide").collect()[0].n_matches
    n_urls = eng.match_count_df(
        "travel guide", dedup_by_url=True
    ).collect()[0].n_matches
    assert 0 < n_urls < n_docs
    assert n_urls == eng.search_df(
        "travel guide", k=10**6, dedup_by_url=True
    ).count()


# --------------------------------------------------------------- wildcard
def _glob_re(pattern: str):
    import re

    return re.compile(
        "^"
        + "".join(
            ".*" if c == "*" else "." if c == "?" else c for c in pattern
        )
        + "$"
    )


def _oracle_wildcard_expansion(oracle, pattern: str, max_exp: int):
    rex = _glob_re(pattern)
    cand = [
        (t, len(docs))
        for t, docs in oracle.inverted.items()
        if rex.match(t)
    ]
    cand.sort(key=lambda td: (-td[1], td[0]))
    return [t for t, _ in cand[:max_exp]]


@pytest.fixture(scope="module")
def wildcard_pattern(oracle):
    """A mid-string wildcard built from a real vocabulary term (first
    char + '*' + last char) that matches >= 2 stems, so the expansion is
    non-trivial and survives vocab regeneration."""
    from collections import Counter

    c = Counter(
        (t[0], t[-1]) for t in oracle.inverted if len(t) >= 3
    )
    (first, last), n = c.most_common(1)[0]
    assert n >= 2, "corpus vocabulary too small for a wildcard test"
    return f"{first}*{last}"


def test_wildcard_expansion_and_topk_parity(engine, oracle, wildcard_pattern):
    want_all = _oracle_wildcard_expansion(oracle, wildcard_pattern, 10**6)
    assert (
        engine.expand_wildcard(wildcard_pattern, max_expansions=10**6)
        == want_all
    )
    # deterministic cap keeps the highest-df expansions
    cap = max(1, len(want_all) - 1)
    assert (
        engine.expand_wildcard(wildcard_pattern, max_expansions=cap)
        == want_all[:cap]
    )
    got = engine.search_wildcard_df(
        wildcard_pattern, k=10, max_expansions=50
    ).collect()
    _assert_rank_identical(
        got,
        _oracle_bag_topk(
            oracle, _oracle_wildcard_expansion(oracle, wildcard_pattern, 50)
        ),
    )
    assert got, "vacuous wildcard parity (no hits)"
    # `?` = exactly one char: derive from a real term by replacing its
    # middle char
    term = max(oracle.inverted, key=lambda t: (len(oracle.inverted[t]), t))
    if len(term) >= 3:
        q = term[: len(term) // 2] + "?" + term[len(term) // 2 + 1 :]
        assert term in engine.expand_wildcard(q, max_expansions=10**6)
        assert engine.expand_wildcard(q, max_expansions=10**6) == \
            _oracle_wildcard_expansion(oracle, q, 10**6)


def test_wildcard_wand_equals_exact(engine, wildcard_pattern):
    exact = engine.search_wildcard_df(wildcard_pattern, k=10).collect()
    wand = engine.search_wildcard_wand_df(wildcard_pattern, k=10).collect()
    assert [(r.doc_id, r.score) for r in exact] == [
        (r.doc_id, r.score) for r in wand
    ]
    assert exact


def test_wildcard_degenerate_patterns(engine):
    # no literal chars -> refuse the vocabulary dump
    assert engine.expand_wildcard("*") == []
    assert engine.expand_wildcard("?*") == []
    got = engine.search_wildcard_df("*")
    assert got.columns == ["doc_id", "score"] and got.count() == 0
    with pytest.raises(ValueError):
        engine.expand_wildcard("te%t")  # invalid pattern chars


# ------------------------------------------------------ spell correction
def test_spell_suggestions_match_oracle(engine, oracle):
    # typo = distance-1 mutation of a real stem (prepend handled by the
    # length band); expected = nearest vocab stems by (dist, -df, term)
    base = max(oracle.inverted, key=lambda t: (len(oracle.inverted[t]), t))
    typo = ("z" + base[1:]) if len(base) > 2 else base + "z"
    from apt_search_engine_spark.query.parser import stem as _stem

    s = _stem(typo)
    assert s not in oracle.inverted, "mutation landed on a real stem"
    cand = [
        (t, _levenshtein(t, s), len(docs))
        for t, docs in oracle.inverted.items()
    ]
    cand = [c for c in cand if c[1] <= 2]
    cand.sort(key=lambda x: (x[1], -x[2], x[0]))
    rows = engine.suggest_spelling_df([typo], max_dist=2, k=3).collect()
    assert [(r.suggestion, r.dist, r.df) for r in rows] == cand[:3]
    # best-suggestion helper
    assert engine.suggest_spelling([typo]) == {typo: cand[0][0]}


def test_spell_skips_known_stopword_and_hopeless(engine, oracle):
    known = next(iter(sorted(oracle.inverted)))
    # a raw word whose stem is in-vocab: no suggestion row
    rows = engine.suggest_spelling_df([known, "the", "qqqqqqqqqq"]).collect()
    assert rows == []
    assert engine.suggest_spelling([]) == {}


# ------------------------------------------------------- more-like-this
def test_mlt_terms_match_oracle_selection(engine, oracle):
    from apt_search_engine_spark.config import IDF_NUMERATOR

    seed = sorted(oracle.docs)[0]
    occ = {
        t: len(docs[seed]["positions"])
        for t, docs in oracle.inverted.items()
        if seed in docs
    }
    sel = sorted(
        (
            (-(occ[t] * (IDF_NUMERATOR // len(oracle.inverted[t]))), t)
            for t in occ
        )
    )
    for cap in (5, 10**6):
        assert engine.mlt_terms(seed, max_terms=cap) == [
            t for _, t in sel[:cap]
        ]


def test_mlt_topk_excludes_seed_and_matches_oracle(engine, oracle):
    seed = sorted(oracle.docs)[0]
    terms = engine.mlt_terms(seed, max_terms=5)
    assert terms
    want = [
        (d, s)
        for d, s in _oracle_bag_topk(oracle, terms, k=11)
        if d != seed
    ][:10]
    got = engine.more_like_this_df(seed, k=10, max_terms=5).collect()
    _assert_rank_identical(got, want)
    assert seed not in {r.doc_id for r in got}
    # full-response shape
    full = engine.run(QuerySpec("mlt", seed, max_terms=5), k=3)["results"]
    assert full and all(
        set(r) >= {"doc_id", "url", "score", "title", "snippet"} for r in full
    )
    # unknown seed -> empty
    assert engine.more_like_this_df("no#such#doc").count() == 0


# --------------------------------------------------------------- synonyms
def test_synonym_expansion_and_topk_parity(spark, engine, oracle):
    """Query-time synonym expansion: union of query words and mapped
    synonyms scored as the bag rewrite; absent synonym targets
    contribute nothing."""
    vocab = sorted(oracle.inverted)
    w1, w2 = vocab[0], vocab[len(vocab) // 2]
    syn_target = vocab[-1]
    syn = spark.createDataFrame(
        [(w1, syn_target), (w2, "zzz_absent_synonym")],
        "term string, synonym string",
    )
    # craft a query whose stems are exactly (w1, w2): feed the stems
    # directly (stemming is idempotent on already-stemmed vocab terms
    # for the seeded corpus vocabulary — verify, else skip)
    from apt_search_engine_spark.query.parser import stem as _stem

    if _stem(w1) != w1 or _stem(w2) != w2:
        pytest.skip("vocab stems not stem-idempotent; fixture unusable")
    got_terms = engine.expand_synonyms([w1, w2], syn)
    assert got_terms == sorted({w1, w2, syn_target, "zzz_absent_synonym"})
    got = engine.search_synonym_df(f"{w1} {w2}", syn, k=10).collect()
    want = _oracle_bag_topk(oracle, [w1, w2, syn_target])  # absent drops
    _assert_rank_identical(got, want)
    assert got
    # empty synonym table == plain bag-of-words
    empty = spark.createDataFrame([], "term string, synonym string")
    plain = engine.search_synonym_df(f"{w1} {w2}", empty, k=10).collect()
    _assert_rank_identical(plain, _oracle_bag_topk(oracle, [w1, w2]))


# ---------------------------------------------------- sloppy (ordered) phrase
def test_sloppy_phrase_ordered_semantics(engine, oracle):
    """`"w1 w2"~k` (ordered proximity): matches are a superset of the
    adjacent phrase and a subset of unordered NEAR/k; parity vs a
    brute-force ordered-window check over the oracle's positions."""
    from apt_search_engine_spark.query import parser as qp

    w1, w2, slop = "travel", "guide", 3
    t1, t2 = qp.stem(w1), qp.stem(w2)
    d1, d2 = oracle.inverted.get(t1, {}), oracle.inverted.get(t2, {})

    def _ordered_match(doc):
        ps1 = d1[doc]["positions"]
        ps2 = set(d2[doc]["positions"])
        return any(x + d in ps2 for x in ps1 for d in range(1, slop + 1))

    want_docs = {d for d in set(d1) & set(d2) if _ordered_match(d)}
    got = engine.search_near_df(
        w1, w2, slop=slop, k=10**6, ordered=True
    ).collect()
    got_docs = {r.doc_id for r in got}
    # scoring gate (Q7) keeps only docs containing t1 — all candidates do
    assert got_docs == want_docs and want_docs
    # ordering sanity vs unordered NEAR and exact phrase
    near_docs = {
        r.doc_id
        for r in engine.search_near_df(w1, w2, slop=slop, k=10**6).collect()
    }
    phrase_docs = {
        r.doc_id
        for r in engine.search_df(f'"{w1} {w2}"', k=10**6).collect()
    }
    assert phrase_docs <= got_docs <= near_docs


def test_synonym_refuses_phrase_family(spark, engine):
    """Flattening a phrase or NOT branch into the expanded bag would
    silently drop adjacency/exclusion semantics — the engine refuses
    (review finding)."""
    syn = spark.createDataFrame(
        [("travel", "europ")], "term string, synonym string"
    )
    with pytest.raises(ValueError, match="bag-of-words"):
        engine.search_synonym_df('"travel guide"', syn)
    with pytest.raises(ValueError, match="bag-of-words"):
        engine.run(QuerySpec("text", '"travel guide" AND tips'), synonyms=syn)


def test_mlt_term_selection_is_one_driver_round_trip(spark, engine, oracle):
    """r4 VERDICT ask #6: the seed term-vector fetch and its lexicon df
    lookup run as ONE action (the worker-side re-analysis joins the
    lexicon inside the job), not the old serial doc_meta-collect ->
    term_dfs-collect pair. The broadcast build side may add one internal
    job, so the ceiling is 2 jobs for the single collect()."""
    seed = sorted(oracle.docs)[1]
    # fresh engine: no memoized dfs/readers from other tests
    from apt_search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, index_dir=engine.index_dir)
    # resolve the parquet relations up front: first-touch file listing /
    # footer reads are 1-task metadata jobs a long-lived engine pays
    # once, not per query — they are not the round trips under test
    eng._read(eng.doc_meta_path)
    eng._read(eng.lexicon_path)
    sc = spark.sparkContext
    sc.setJobGroup("mlt-rt", "mlt term selection", False)
    try:
        terms = eng.mlt_terms(seed, max_terms=5)
    finally:
        sc.setJobGroup(None, None, False)
    assert terms == engine.mlt_terms(seed, max_terms=5)
    jobs = sc.statusTracker().getJobIdsForGroup("mlt-rt")
    assert 1 <= len(jobs) <= 2, jobs
    # and the df memo is seeded from the same job: scoring the selected
    # terms costs no further lexicon round trip
    assert all(t in eng._df_cache for t in terms)


def _oracle_sloppy_docs(oracle, stems, slop):
    """Independent reference decision procedure for the n-term in-order
    sloppy match: prefix-max DP over reachable chain positions (for
    each occurrence of term i, the MAXIMUM start position of any
    strictly-increasing chain reaching it), match iff some chain end
    has end - maxstart <= slop + n - 1. Deliberately a DIFFERENT
    algorithm from the engine UDF's greedy minimal-chain scan, so a
    greedy-strategy bug cannot cancel out (r5 review finding)."""
    budget = slop + len(stems) - 1
    out = set()
    doc_sets = [set(oracle.inverted.get(t, {})) for t in stems]
    for d in set.intersection(*doc_sets) if doc_sets else set():
        pls = [oracle.inverted[t][d]["positions"] for t in stems]
        # maxstart[p] for level 0 is p itself
        level = {p: p for p in pls[0]}
        for ps in pls[1:]:
            nxt = {}
            for p in ps:
                best = None
                for q, st in level.items():
                    if q < p and (best is None or st > best):
                        best = st
                if best is not None:
                    nxt[p] = best
            level = nxt
            if not level:
                break
        if any(p - st <= budget for p, st in level.items()):
            out.add(d)
    return out


def test_sloppy_nterm_matches_oracle_and_chain_property(engine, oracle):
    """search_sloppy_df (Lucene n-term slop, in-order): candidate set
    equals the exhaustive-chain oracle at every slop, slop-0 equals the
    exact phrase, and candidates are monotone in slop (adjacency ⊆
    sloppy(s) ⊆ sloppy(s') ⊆ AND-candidates for s < s')."""
    from apt_search_engine_spark.query import parser

    words = ["travel", "guide", "europe"]
    stems = [parser.stem(w) for w in words]
    assert len(set(stems)) == 3
    and_docs = set.intersection(
        *[set(oracle.inverted.get(t, {})) for t in stems]
    )
    assert and_docs, "fixture corpus must contain all three stems somewhere"
    prev = None
    nonempty_seen = False
    for slop in (0, 2, 6, 20):
        got = {
            r.doc_id
            for r in engine.search_sloppy_df(words, slop=slop, k=10**6).collect()
        }
        want = _oracle_sloppy_docs(oracle, stems, slop)
        assert got == want, (slop, got ^ want)
        if prev is not None:
            assert prev <= got
        assert got <= and_docs
        prev = got
        nonempty_seen = nonempty_seen or bool(got)
    assert nonempty_seen
    # slop-0 == the exact 3-term phrase
    phrase_docs = {
        r.doc_id
        for r in engine.search_df('"travel guide europe"', k=10**6).collect()
    }
    got0 = {
        r.doc_id
        for r in engine.search_sloppy_df(words, slop=0, k=10**6).collect()
    }
    assert got0 == phrase_docs
    # repeated stems need two DISTINCT occurrences (no self-pairing):
    # "travel travel"~big matches only docs with >= 2 travel occurrences
    got_rep = {
        r.doc_id
        for r in engine.search_sloppy_df(
            ["travel", "travel"], slop=10**6, k=10**6
        ).collect()
    }
    want_rep = {
        d
        for d, info in oracle.inverted.get("travel", {}).items()
        if len(info["positions"]) >= 2
    }
    assert got_rep == want_rep
