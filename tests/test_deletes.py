"""Document deletion: tombstones, query-time filtering, purge.

Semantics under test (indexing/deletes.py):
  - delete_docs hides docs from every query path immediately;
  - surviving docs' scores are UNCHANGED before purge (stats stay
    full-corpus — the Lucene delete-before-merge contract);
  - WAND == exact under tombstones (the block mask is rank-preserving);
  - purge_deleted makes the index bit-equivalent, score-wise, to a
    fresh build over the surviving corpus, and is idempotent;
  - a long-lived engine notices a delete commit without manual refresh.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apt_search_engine_spark.corpus import gen_corpus_spark
from apt_search_engine_spark.indexing.build import IndexBuilder
from apt_search_engine_spark.indexing.deletes import (
    delete_docs,
    purge_deleted,
    tombstones_df,
)
from apt_search_engine_spark.query.engine import SearchEngine

QUERY = "travel guide"
PHRASE = '"travel guide"'


@pytest.fixture(scope="module")
def corpus(spark):
    return gen_corpus_spark(spark, 40).cache()


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("del_idx"))
    IndexBuilder(spark, d, n_batches=1).build(corpus)
    return d


def _rows(df):
    return [(r.doc_id, round(float(r.score), 9)) for r in df.collect()]


def test_delete_hides_docs_and_keeps_surviving_scores(spark, corpus, built, tmp_path):
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    eng = SearchEngine(spark, index_dir=idx)
    before = _rows(eng.search_df(QUERY, k=10))
    assert len(before) == 10
    dead = [before[0][0], before[2][0]]  # two docs IN the top-k
    n = delete_docs(spark, idx, dead)
    assert n == 2
    # same engine instance: freshness token sees the tombstone commit
    after = _rows(eng.search_df(QUERY, k=10))
    got_ids = {d for d, _ in after}
    assert not (set(dead) & got_ids)
    # stale-stats contract: every surviving doc keeps its exact score
    before_map = dict(before)
    for doc, score in after:
        if doc in before_map:
            assert score == before_map[doc]
    # WAND parity under tombstones
    wand = _rows(eng.search_df_wand(QUERY, k=10))
    assert wand == after
    # BM25 paths exclude them too
    bm = _rows(eng.search_bm25_df(QUERY, k=10))
    assert not (set(dead) & {d for d, _ in bm})
    assert _rows(eng.search_bm25_wand_df(QUERY, k=10)) == bm
    # phrase path (term_doc_set + positions aggregate) excludes them
    ph = _rows(eng.search_df(PHRASE, k=10))
    assert not (set(dead) & {d for d, _ in ph})
    # deleting ids that do not exist is a no-op on the count
    assert delete_docs(spark, idx, ["no#such_doc"]) == 2


def test_thousand_tombstones_exclude_exactly_those_docs(spark, index_dir, tmp_path):
    """~1,000 tombstones stay on the inline path (one SQL NOT IN list on
    every exploded scan, no join): exactly the deleted docs vanish from
    bag-of-words, phrase and BM25 results. Bag-of-words and BM25
    survivors keep their rank order and exact score (stale-stats
    contract); a phrase's df is its filtered candidate count (quirk
    Q12), so there only the doc set is compared."""
    import hashlib
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    eng = SearchEngine(spark, index_dir=idx)
    ids = sorted(
        (r.doc_id for r in eng._doc_map().collect()),
        key=lambda d: hashlib.md5(d.encode()).hexdigest(),
    )
    dead = set(ids[:1000])
    assert len(ids) - len(dead) > 100
    n = len(ids)
    calls = [
        (QUERY, eng.search_df),
        (PHRASE, eng.search_df),
        (QUERY, eng.search_bm25_df),
    ]
    before = [_rows(call(q, k=n)) for q, call in calls]
    assert delete_docs(spark, idx, sorted(dead)) == 1000
    eng._ensure_fresh()  # what every public query does first
    keys = eng._deleted_keys()
    assert keys is not None and len(keys) == 1000
    plan = eng._exploded(["travel"])._jdf.queryExecution().executedPlan()
    assert "Join" not in plan.toString()
    for (q, call), rows in zip(calls, before):
        assert any(d in dead for d, _ in rows), q
        want = [(d, s) for d, s in rows if d not in dead]
        got = _rows(call(q, k=n))
        if q == PHRASE:
            got, want = sorted(d for d, _ in got), sorted(d for d, _ in want)
        assert got == want, q


def test_purge_equals_fresh_build_over_survivors(spark, corpus, built, tmp_path):
    import json
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    eng0 = SearchEngine(spark, index_dir=idx)
    top = _rows(eng0.search_df(QUERY, k=10))
    dead = sorted({top[0][0], top[1][0], top[5][0]})
    delete_docs(spark, idx, dead)
    purged_n = purge_deleted(spark, idx)
    assert purged_n == 3
    assert tombstones_df(spark, idx) is None  # cleared last

    fresh_dir = str(tmp_path / "fresh")
    survivors = corpus.filter(
        ~F.concat_ws(
            "#", "conv_id", F.lpad(F.col("turn_idx").cast("string"), 6, "0")
        ).isin(dead)
    )
    IndexBuilder(spark, fresh_dir, n_batches=1).build(survivors)

    purged = SearchEngine(spark, index_dir=idx)
    fresh = SearchEngine(spark, index_dir=fresh_dir)
    # corpus stats recomputed == fresh
    assert purged.n_docs == fresh.n_docs
    assert purged.total_len == fresh.total_len
    # reference scorer and BM25, exact and WAND: bit-equal to fresh
    for q in (QUERY, PHRASE, '"travel guide" AND "europe tips"'):
        assert _rows(purged.search_df(q, k=10)) == _rows(fresh.search_df(q, k=10))
    assert _rows(purged.search_bm25_df(QUERY, k=10)) == _rows(
        fresh.search_bm25_df(QUERY, k=10)
    )
    assert _rows(purged.search_df_wand(QUERY, k=10)) == _rows(
        purged.search_df(QUERY, k=10)
    )
    assert _rows(purged.search_bm25_wand_df(QUERY, k=10)) == _rows(
        purged.search_bm25_df(QUERY, k=10)
    )
    # lexicon df parity with the fresh build (stats fully folded out)
    pl = {
        (r.term, r.df)
        for r in spark.read.parquet(f"{idx}/lexicon").collect()
    }
    fl = {
        (r.term, r.df)
        for r in spark.read.parquet(f"{fresh_dir}/lexicon").collect()
    }
    assert pl == fl
    # meta invariants survive the rewrite
    meta = json.load(open(f"{idx}/meta.json"))
    assert meta["n_docs"] == fresh.n_docs
    # idempotent: purging again with no tombstones touches nothing
    assert purge_deleted(spark, idx) == 0


def test_adhoc_deleted_ids_match_disk_tombstones(spark, built, tmp_path):
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    base = SearchEngine(spark, index_dir=idx)
    dead = [r[0] for r in _rows(base.search_df(QUERY, k=3))][:2]
    adhoc = SearchEngine(spark, index_dir=idx, deleted_ids=dead)
    adhoc_rows = _rows(adhoc.search_df(QUERY, k=10))
    delete_docs(spark, idx, dead)
    disk_rows = _rows(SearchEngine(spark, index_dir=idx).search_df(QUERY, k=10))
    assert adhoc_rows == disk_rows


@pytest.mark.parametrize("fail_at", ["staged", "half_swapped", "pre_meta"])
def test_purge_crash_recovery(spark, corpus, built, tmp_path, fail_at):
    """A purge crash at any seam leaves a QUERYABLE index (tombstones are
    cleared last, so the query-time filter still hides the docs) and a
    re-run heals it to the fully-purged state."""
    import shutil

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    eng = SearchEngine(spark, index_dir=idx)
    top = _rows(eng.search_df(QUERY, k=10))
    dead = sorted({top[0][0], top[3][0]})
    delete_docs(spark, idx, dead)
    want = _rows(SearchEngine(spark, index_dir=idx).search_df(QUERY, k=10))

    with pytest.raises(RuntimeError, match="injected crash"):
        purge_deleted(spark, idx, fail_at=fail_at)
    # crashed index still serves correct (delete-semantics) results
    crashed = SearchEngine(spark, index_dir=idx)
    got = _rows(crashed.search_df(QUERY, k=10))
    assert {d for d, _ in got}.isdisjoint(set(dead))
    assert [d for d, _ in got] == [d for d, _ in want]
    # re-run heals: tombstones gone, results == a clean one-shot purge
    assert purge_deleted(spark, idx) == 2
    assert tombstones_df(spark, idx) is None
    healed = SearchEngine(spark, index_dir=idx)
    assert {d for d, _ in _rows(healed.search_df(QUERY, k=10))}.isdisjoint(
        set(dead)
    )
    # no staging/swap garbage left behind
    import os as _os

    leftovers = [
        d for d in _os.listdir(idx) if "__new_" in d or "__old_" in d
    ]
    assert not leftovers


def test_delete_and_purge_on_streamed_index(spark, corpus, tmp_path):
    """Full LSM lifecycle: stream increment 1 -> compact -> delete ->
    stream increment 2 -> compact (tombstones survive the increment;
    ordinals are stable) -> purge -> score-equal to a fresh batch build
    over (full corpus minus deleted)."""
    from apt_search_engine_spark.streaming.ingest import compact, stream_analyze

    inp = str(tmp_path / "incoming")
    sdir = str(tmp_path / "stream_idx")
    first = corpus.filter(F.col("conv_id") < "conv_000020")
    second = corpus.filter(F.col("conv_id") >= "conv_000020")

    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)

    eng = SearchEngine(spark, index_dir=sdir)
    top = _rows(eng.search_df(QUERY, k=10))
    dead = sorted({top[0][0], top[1][0]})
    assert delete_docs(spark, sdir, dead) == 2
    assert {d for d, _ in _rows(eng.search_df(QUERY, k=10))}.isdisjoint(dead)

    second.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)
    # tombstones survive the increment: new docs searchable, dead still hidden
    after_inc = _rows(SearchEngine(spark, index_dir=sdir).search_df(QUERY, k=10))
    assert {d for d, _ in after_inc}.isdisjoint(dead)

    assert purge_deleted(spark, sdir) == 2
    fresh_dir = str(tmp_path / "fresh")
    survivors = corpus.filter(
        ~F.concat_ws(
            "#", "conv_id", F.lpad(F.col("turn_idx").cast("string"), 6, "0")
        ).isin(dead)
    )
    IndexBuilder(spark, fresh_dir, n_batches=1).build(survivors)
    purged = SearchEngine(spark, index_dir=sdir)
    fresh = SearchEngine(spark, index_dir=fresh_dir)
    assert purged.n_docs == fresh.n_docs
    assert purged.total_len == fresh.total_len
    for q in (QUERY, PHRASE):
        assert _rows(purged.search_df(q, k=10)) == _rows(fresh.search_df(q, k=10))
    assert _rows(purged.search_bm25_df(QUERY, k=10)) == _rows(
        fresh.search_bm25_df(QUERY, k=10)
    )
    # a further increment on the purged index keeps state consistent
    extra = corpus.filter(F.col("conv_id") == "conv_000001").withColumn(
        "conv_id", F.lit("conv_000099")
    )
    extra.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)
    again = SearchEngine(spark, index_dir=sdir)
    assert again.n_docs == fresh.n_docs + extra.count()
    assert {d for d, _ in _rows(again.search_df(QUERY, k=10))}.isdisjoint(dead)


def test_compact_auto_purges_past_threshold(spark, corpus, tmp_path):
    """compact() self-maintains deletes like it self-maintains segment
    counts: past auto_purge_frac the tombstones are folded out during
    the maintenance pass; below it they are left to the (cheap)
    query-time mask."""
    from apt_search_engine_spark.streaming.ingest import compact, stream_analyze

    inp = str(tmp_path / "incoming")
    sdir = str(tmp_path / "idx")
    first = corpus.filter(F.col("conv_id") < "conv_000020")
    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)

    doc_map = spark.read.parquet(f"{sdir}/doc_map")
    dead = [r.doc_id for r in doc_map.limit(40).collect()]
    delete_docs(spark, sdir, dead[:2])  # 2 docs: far below 25%

    second = corpus.filter(F.col("conv_id") >= "conv_000020")
    second.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)
    # below threshold: tombstones still present (query mask, no rewrite)
    assert tombstones_df(spark, sdir) is not None

    # push past the threshold, next compact purges
    n_docs = SearchEngine(spark, index_dir=sdir).n_docs
    more = [r.doc_id for r in doc_map.limit(int(n_docs * 0.3)).collect()]
    delete_docs(spark, sdir, more)
    third = corpus.filter(F.col("conv_id") == "conv_000003").withColumn(
        "conv_id", F.lit("conv_000098")
    )
    third.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)
    assert tombstones_df(spark, sdir) is None  # auto-purged
    eng = SearchEngine(spark, index_dir=sdir)
    assert {d for d, _ in _rows(eng.search_df(QUERY, k=10))}.isdisjoint(more)


def test_distributed_tombstones_match_collected_path(
    spark, corpus, built, tmp_path, monkeypatch
):
    """r4 VERDICT scale-hardening #2: past DELETED_COLLECT_MAX the
    tombstone set never reaches the driver — exact plans anti-join the
    tombstone table, the WAND scorers get slice-co-partitioned tombstone
    rows. Forcing the threshold to 0 must leave every query family
    rank+score identical to the collected path."""
    import shutil

    from apt_search_engine_spark.query import engine as engine_mod

    idx = str(tmp_path / "idx")
    shutil.copytree(built, idx)
    base = SearchEngine(spark, index_dir=idx)
    dead = [r.doc_id for r in base.search_df(QUERY, k=6).collect()][::2]
    assert delete_docs(spark, idx, dead) == len(dead)

    collected = SearchEngine(spark, index_dir=idx)
    assert not collected._deleted_distributed()
    assert collected._deleted_keys() is not None

    monkeypatch.setattr(engine_mod, "DELETED_COLLECT_MAX", 0)
    dist = SearchEngine(spark, index_dir=idx)
    assert dist._deleted_distributed()
    assert dist._deleted_keys() is None
    assert dist._deleted_df() is not None

    for fam, run in (
        ("normal", lambda e: e.search_df(QUERY, k=10)),
        ("wand", lambda e: e.search_df_wand(QUERY, k=10)),
        ("phrase", lambda e: e.search_df(PHRASE, k=10)),
        ("boolean", lambda e: e.search_df(f'{PHRASE} AND "europe tips"', k=10)),
        ("bm25", lambda e: e.search_bm25_df(QUERY, k=10)),
        ("bm25_wand", lambda e: e.search_bm25_wand_df(QUERY, k=10)),
    ):
        got = _rows(run(dist))
        want = _rows(run(collected))
        assert got == want, fam
        assert not (set(dead) & {d for d, _ in got}), fam
    # match counts agree too (exact-plan count path)
    assert (
        dist.match_count_df(QUERY).collect()[0].n_matches
        == collected.match_count_df(QUERY).collect()[0].n_matches
    )
