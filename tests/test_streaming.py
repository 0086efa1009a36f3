"""Streaming ingestion: analyzing a corpus that arrives as a stream (two
file drops) must produce an index identical to the one-shot batch build,
and resuming the drained stream after a new drop must pick up only the new
conversations (incremental semantics of the reference's isIndexed flag)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apt_search_engine_spark.corpus import gen_corpus_pandas
from apt_search_engine_spark.schema import TRANSCRIPTS


@pytest.fixture(scope="module")
def stream_corpus(spark):
    pdf = gen_corpus_pandas(30)
    half = pdf["conv_id"] < "conv_000015"
    return (
        spark.createDataFrame(pdf[half], TRANSCRIPTS),
        spark.createDataFrame(pdf[~half], TRANSCRIPTS),
        spark.createDataFrame(pdf, TRANSCRIPTS),
    )


def _postings_map(spark, index_dir):
    from apt_search_engine_spark.indexing.build import with_postings_struct

    rows = with_postings_struct(
        spark.read.parquet(os.path.join(index_dir, "postings")),
        spark.read.parquet(os.path.join(index_dir, "doc_map")),
    ).collect()
    out = {}
    for r in rows:
        out.setdefault(r.term, []).extend(
            (p.doc_id, round(p.tf, 12), list(p.positions), list(p.tags))
            for p in r.postings
        )
    return {t: sorted(v) for t, v in out.items()}


def test_stream_equals_batch(spark, tmp_path, stream_corpus):
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.streaming.ingest import compact, stream_analyze

    first, second, full = stream_corpus
    inp = str(tmp_path / "incoming")
    sdir = str(tmp_path / "stream_index")
    bdir = str(tmp_path / "batch_index")

    # drop 1 -> drain -> drop 2 -> drain (new query, same checkpoint)
    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    second.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir, with_blocks=False)

    IndexBuilder(spark, bdir, n_batches=1).build(full, with_blocks=False)

    got = _postings_map(spark, sdir)
    want = _postings_map(spark, bdir)
    assert got == want

    # lineage recorded one row per non-empty epoch, under stream ids
    lin = spark.read.parquet(os.path.join(sdir, "lineage"))
    eps = lin.filter(F.col("snapshot_id").startswith("stream-epoch-")).collect()
    assert len(eps) >= 2
    assert all(r.partition_id >= 1_000_000 for r in eps)


def test_incremental_compaction_equals_full_rebuild(spark, tmp_path, stream_corpus):
    """Compacting after EACH drain (second compaction takes the
    incremental append path) must yield the same postings content,
    lexicon and ranked results as a one-shot batch build — and the
    incremental compaction must provably read ONLY the delta (its
    lineage n_rows equals the second increment's analyzed rows, not the
    total)."""
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.query.engine import SearchEngine
    from apt_search_engine_spark.streaming.ingest import compact, stream_analyze

    first, second, full = stream_corpus
    inp = str(tmp_path / "incoming3")
    sdir = str(tmp_path / "stream_index3")
    bdir = str(tmp_path / "batch_index3")

    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)  # bootstrap: full merge of increment 1
    second.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)  # incremental: appends increment 2 only

    IndexBuilder(spark, bdir, n_batches=1).build(full)

    assert _postings_map(spark, sdir) == _postings_map(spark, bdir)
    lex_s = {
        (r.term, r.df)
        for r in spark.read.parquet(os.path.join(sdir, "lexicon")).collect()
    }
    lex_b = {
        (r.term, r.df)
        for r in spark.read.parquet(os.path.join(bdir, "lexicon")).collect()
    }
    assert lex_s == lex_b

    for q in ("travel guide", '"travel guide"', "spark AND index"):
        got = [
            (r.doc_id, round(r.score, 9))
            for r in SearchEngine(spark, index_dir=sdir).search_df(q, k=10).collect()
        ]
        want = [
            (r.doc_id, round(r.score, 9))
            for r in SearchEngine(spark, index_dir=bdir).search_df(q, k=10).collect()
        ]
        assert got == want, q

    # BM25 doc-length bookkeeping across the incremental path: the
    # appended doc_len rows and accumulated meta total_len must equal the
    # one-shot build's (and BM25 results with them)
    dl_s = {
        (r.doc_id, r.dl)
        for r in spark.read.parquet(os.path.join(sdir, "doc_len")).collect()
    }
    dl_b = {
        (r.doc_id, r.dl)
        for r in spark.read.parquet(os.path.join(bdir, "doc_len")).collect()
    }
    assert dl_s == dl_b
    import json as _json

    with open(os.path.join(sdir, "meta.json")) as f:
        meta_s = _json.load(f)
    with open(os.path.join(bdir, "meta.json")) as f:
        meta_b = _json.load(f)
    assert meta_s["total_len"] == meta_b["total_len"]
    assert meta_s["n_docs"] == meta_b["n_docs"]
    bm_s = [
        (r.doc_id, r.score)
        for r in SearchEngine(spark, index_dir=sdir)
        .search_bm25_df("travel guide", k=10)
        .collect()
    ]
    bm_b = [
        (r.doc_id, r.score)
        for r in SearchEngine(spark, index_dir=bdir)
        .search_bm25_df("travel guide", k=10)
        .collect()
    ]
    assert bm_s == bm_b

    # WAND over the APPENDED blocks companion must equal the exact plan
    eng_s = SearchEngine(spark, index_dir=sdir)
    wand = [
        (r.doc_id, round(r.score, 9))
        for r in eng_s.search_df_wand("travel guide", k=10).collect()
    ]
    exact = [
        (r.doc_id, round(r.score, 9))
        for r in eng_s.search_df("travel guide", k=10).collect()
    ]
    assert wand == exact

    # only-the-delta evidence: the incremental compaction's lineage rows
    # record exactly the second increment's analyzed row count
    lin = spark.read.parquet(os.path.join(sdir, "lineage"))
    delta_rows = lin.filter(
        F.col("snapshot_id").startswith("compact-delta-")
    ).collect()
    assert delta_rows, "incremental compaction recorded no lineage"
    second_epoch_n = sum(
        r.n_rows
        for r in lin.filter(
            F.col("snapshot_id").startswith("stream-epoch-")
        ).collect()
        if r.partition_id == max(
            x.partition_id
            for x in lin.filter(
                F.col("snapshot_id").startswith("stream-epoch-")
            ).collect()
        )
    )
    total_analyzed = spark.read.parquet(os.path.join(sdir, "analyzed")).count()
    assert delta_rows[0].n_rows == second_epoch_n
    assert delta_rows[0].n_rows < total_analyzed


def test_drained_stream_is_idempotent(spark, tmp_path, stream_corpus):
    """Draining again with no new files must not change the analyzed set."""
    from apt_search_engine_spark.streaming.ingest import stream_analyze

    first, _, _ = stream_corpus
    inp = str(tmp_path / "incoming2")
    sdir = str(tmp_path / "stream_index2")
    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    n1 = spark.read.parquet(os.path.join(sdir, "analyzed")).count()
    stream_analyze(spark, inp, sdir)  # nothing new
    n2 = spark.read.parquet(os.path.join(sdir, "analyzed")).count()
    assert n1 == n2


# --------------------------------------------------- windows + stateful ops
def _turn(conv, idx, ts_minute, text="hello world table"):
    import datetime

    return (
        conv,
        idx,
        "user",
        text,
        "",
        datetime.datetime(2025, 3, 1, 12, 0, 0)
        + datetime.timedelta(minutes=ts_minute),
    )


def test_windowed_agg_matches_batch_below_watermark(spark, tmp_path):
    """Append-mode emissions == batch agg restricted to finalized windows
    (window end <= watermark = max event time - delay)."""
    from apt_search_engine_spark.schema import TRANSCRIPTS
    from apt_search_engine_spark.streaming.windows import run_windowed_drain

    rows = [_turn("c1", i, i * 2) for i in range(30)] + [
        _turn("c2", i, 5 + i * 3) for i in range(15)
    ]
    df = spark.createDataFrame(rows, TRANSCRIPTS)
    inp = str(tmp_path / "win_in")
    df.coalesce(1).write.parquet(inp)

    got = run_windowed_drain(
        spark, inp, str(tmp_path / "win_ck"), str(tmp_path / "win_out")
    ).collect()

    import datetime

    max_ts = max(r[5] for r in rows)
    watermark = max_ts - datetime.timedelta(minutes=10)
    want = (
        df.groupBy(F.window("ts", "5 minutes").alias("win"), "conv_id")
        .agg(F.count("*").alias("n_turns"), F.sum(F.length("text")).alias("n_chars"))
        .filter(F.col("win.end") <= F.lit(watermark))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "conv_id",
            "n_turns",
            "n_chars",
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_windowed_agg_drops_late_rows(spark, tmp_path):
    """A row older than the watermark arriving in a later drain must not
    re-emit or alter its (already finalized) window."""
    from apt_search_engine_spark.schema import TRANSCRIPTS
    from apt_search_engine_spark.streaming.windows import run_windowed_drain

    inp = str(tmp_path / "late_in")
    ck = str(tmp_path / "late_ck")
    out = str(tmp_path / "late_out")

    first = spark.createDataFrame(
        [_turn("c1", i, i) for i in range(6)]  # minutes 0..5
        + [_turn("c1", 6, 120)],  # advances watermark to minute 110
        TRANSCRIPTS,
    )
    first.coalesce(1).write.mode("append").parquet(inp)
    got1 = run_windowed_drain(spark, inp, ck, out).collect()
    early = [r for r in got1 if r.win_start.minute == 0 and r.win_start.hour == 12]
    assert len(early) == 1 and early[0].n_turns == 5  # minutes 0-4

    # late arrival into the finalized minute-0 window
    late = spark.createDataFrame([_turn("c1", 7, 1)], TRANSCRIPTS)
    late.coalesce(1).write.mode("append").parquet(inp)
    got2 = run_windowed_drain(spark, inp, ck, out).collect()
    early2 = [r for r in got2 if r.win_start.minute == 0 and r.win_start.hour == 12]
    assert len(early2) == 1 and early2[0].n_turns == 5  # unchanged, no dup


def test_stateful_conv_stats_incremental_equals_batch(spark, tmp_path):
    """applyInPandasWithState across two drains == one-shot batch agg
    (latest emission per conv; counts are monotone)."""
    from apt_search_engine_spark.schema import TRANSCRIPTS
    from apt_search_engine_spark.streaming.windows import run_conv_stats_drain

    inp = str(tmp_path / "state_in")
    ck = str(tmp_path / "state_ck")
    out = str(tmp_path / "state_out")

    a = [_turn("c1", i, i, f"alpha beta {i}") for i in range(4)] + [
        _turn("c2", i, i, "gamma") for i in range(2)
    ]
    b = [_turn("c1", 4 + i, 10 + i, "delta epsilon") for i in range(3)] + [
        _turn("c3", 0, 20, "zeta")
    ]
    spark.createDataFrame(a, TRANSCRIPTS).coalesce(1).write.mode("append").parquet(inp)
    run_conv_stats_drain(spark, inp, ck, out)
    spark.createDataFrame(b, TRANSCRIPTS).coalesce(1).write.mode("append").parquet(inp)
    got = run_conv_stats_drain(spark, inp, ck, out).collect()

    latest = {}
    for r in got:
        if r.conv_id not in latest or r.n_turns > latest[r.conv_id].n_turns:
            latest[r.conv_id] = r
    want = {
        r.conv_id: r
        for r in spark.createDataFrame(a + b, TRANSCRIPTS)
        .groupBy("conv_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
            F.max("turn_idx").alias("last_turn_idx"),
        )
        .collect()
    }
    assert set(latest) == set(want)
    for cid, r in latest.items():
        w = want[cid]
        assert (r.n_turns, r.n_chars, r.last_turn_idx) == (
            w.n_turns,
            w.n_chars,
            w.last_turn_idx,
        ), cid


def test_streaming_dedup_cross_batch_keeper(spark, tmp_path):
    """Stateful streaming dedup across two drains: a later batch carrying
    a SMALLER doc_id for already-seen content must win the keeper slot
    (min rule — order-insensitive), and n_seen must accumulate. Final
    state per key (min keeper, max n_seen over emissions) == batch
    groupBy over everything streamed."""
    from apt_search_engine_spark.streaming.windows import run_dedup_drain

    inp = str(tmp_path / "dd_in")
    ck = str(tmp_path / "dd_ck")
    out = str(tmp_path / "dd_out")

    a = [(10, "alpha"), (11, "beta"), (12, "gamma"), (14, "alpha")]
    b = [(5, "alpha"), (13, "beta"), (20, "delta")]
    schema = "doc_id long, text string"
    spark.createDataFrame(a, schema).coalesce(1).write.mode("append").parquet(inp)
    run_dedup_drain(spark, inp, ck, out)
    spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(inp)
    got = run_dedup_drain(spark, inp, ck, out)

    final = {
        r.content_hash: (r.keeper_doc_id, r.n_seen)
        for r in got.groupBy("content_hash")
        .agg(
            F.min("keeper_doc_id").alias("keeper_doc_id"),
            F.max("n_seen").alias("n_seen"),
        )
        .collect()
    }
    want = {
        r.content_hash: (r.keeper_doc_id, r.n_seen)
        for r in spark.createDataFrame(a + b, schema)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_seen"),
        )
        .collect()
    }
    assert final == want
    # the cross-batch update really happened: alpha's keeper moved to 5
    alpha = [h for h, v in want.items() if v == (5, 3)]
    assert len(alpha) == 1 and final[alpha[0]] == (5, 3)


def test_streaming_sessions_cross_batch_merge(spark, tmp_path):
    """Stateful streaming sessionization across two drains: batch B
    delivers a LATE event that bridges two sessions batch A had already
    emitted as separate — the interval-set state must merge them, and
    the finalized result must equal batch sessionization of everything
    streamed regardless of arrival order."""
    from apt_search_engine_spark.streaming.windows import (
        _SESS_GAP_US,
        finalize_sessions,
        run_sessions_drain,
    )

    inp = str(tmp_path / "ss_in")
    ck = str(tmp_path / "ss_ck")
    out = str(tmp_path / "ss_out")

    h = 3600  # seconds
    base = 1_700_000_000  # epoch seconds
    import datetime as dt

    def ts(sec):
        return dt.datetime.fromtimestamp(base + sec, dt.timezone.utc).replace(
            tzinfo=None
        )

    # user 1: events at 0h and 9h (> 8h gap -> two sessions in batch A);
    # batch B's 4.5h event bridges them into ONE. user 2: stays split.
    a = [(1, ts(0)), (1, ts(9 * h)), (2, ts(0)), (2, ts(20 * h))]
    b = [(1, ts(int(4.5 * h))), (2, ts(21 * h))]
    schema = "user_id long, ts timestamp"
    spark.createDataFrame(a, schema).coalesce(1).write.mode("append").parquet(inp)
    run_sessions_drain(spark, inp, ck, out)
    spark.createDataFrame(b, schema).coalesce(1).write.mode("append").parquet(inp)
    got = run_sessions_drain(spark, inp, ck, out)

    final = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in finalize_sessions(got).collect()
    }
    us = 1_000_000
    want = {
        (1, base * us, (base + 9 * h) * us, 3),  # bridged by the late event
        (2, base * us, base * us, 1),
        (2, (base + 20 * h) * us, (base + 21 * h) * us, 2),
    }
    assert final == want
    assert _SESS_GAP_US == 8 * h * us


# ------------------------------------------------ compaction durability
def _ranked(spark, index_dir, q="travel guide"):
    from apt_search_engine_spark.query.engine import SearchEngine

    return [
        (r.doc_id, round(r.score, 9))
        for r in SearchEngine(spark, index_dir=index_dir).search_df(q, k=10).collect()
    ]


@pytest.mark.parametrize("stage", ["staged", "promoted", "swapped"])
def test_compact_crash_recovery(spark, tmp_path, stream_corpus, stage):
    """A compaction killed at any commit stage must be fully undone by the
    next run: re-running compact() yields exactly the index a never-crashed
    incremental compaction produces (ADVICE r2: the old append-then-state
    protocol duplicated postings and doc ordinals on re-run)."""
    import json

    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.streaming.ingest import compact, stream_analyze

    first, second, full = stream_corpus
    inp = str(tmp_path / f"crash_in_{stage}")
    sdir = str(tmp_path / f"crash_idx_{stage}")
    bdir = str(tmp_path / f"crash_batch_{stage}")

    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)  # bootstrap
    second.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    with pytest.raises(RuntimeError, match="injected crash"):
        compact(spark, sdir, fail_at=stage)
    # the re-run recovers the partial increment and applies it cleanly
    compact(spark, sdir)

    IndexBuilder(spark, bdir, n_batches=1).build(full)
    assert _postings_map(spark, sdir) == _postings_map(spark, bdir)
    assert _ranked(spark, sdir) == _ranked(spark, bdir)
    with open(os.path.join(sdir, "meta.json")) as f:
        n_docs = json.load(f)["n_docs"]
    assert n_docs == full.count()
    # no stray undo artifacts remain
    names = set(os.listdir(sdir))
    assert not any(n.startswith("lexicon__") for n in names)
    assert "_staging" not in names
    # doc ordinals never duplicated
    dm = spark.read.parquet(os.path.join(sdir, "doc_map"))
    assert dm.count() == dm.select("doc_ord").distinct().count()


def test_auto_recompact_self_maintains(spark, tmp_path):
    """compact() must self-maintain (VERDICT r3 'missing' #1): across N
    streamed increments, per-term segment counts stay bounded WITHOUT any
    manual recompact() call, and the final index content equals a
    one-shot batch build of the same corpus."""
    from collections import Counter

    from pyspark.sql import functions as F

    from apt_search_engine_spark.corpus import gen_corpus_spark
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.streaming.ingest import (
        compact,
        stream_analyze,
    )

    corpus = gen_corpus_spark(spark, 24).cache()
    inp = str(tmp_path / "auto_in")
    sdir = str(tmp_path / "auto_idx")
    bdir = str(tmp_path / "auto_batch")
    bound = 2
    for i in range(4):
        part = corpus.filter(
            F.pmod(F.xxhash64("conv_id"), F.lit(4)) == i
        )
        part.write.mode("append").parquet(inp)
        stream_analyze(spark, inp, sdir)
        compact(spark, sdir, max_segments_per_term=bound)
        counts = Counter(
            r.term
            for r in spark.read.parquet(os.path.join(sdir, "postings"))
            .select("term")
            .collect()
        )
        # folding triggers past the bound, so counts never exceed it for
        # more than the single increment that crossed it (+1 range-split
        # slack on the folded output)
        assert max(counts.values()) <= bound + 1, (i, counts.most_common(3))

    IndexBuilder(spark, bdir, n_batches=1).build(corpus, with_blocks=True)
    assert _postings_map(spark, sdir) == _postings_map(spark, bdir)
    assert _ranked(spark, sdir) == _ranked(spark, bdir)
    corpus.unpersist()


def test_recompact_bounds_segments(spark, tmp_path, stream_corpus):
    """After N incremental compactions a common term holds ~N delta
    segments; recompact() folds them back to full segments, preserves the
    exact postings content and ranked results (exact AND WAND paths), and
    leaves lexicon/doc_map/meta untouched."""
    from apt_search_engine_spark.query.engine import SearchEngine
    from apt_search_engine_spark.streaming.ingest import (
        compact,
        recompact,
        stream_analyze,
    )

    first, second, full = stream_corpus
    inp = str(tmp_path / "rc_in")
    sdir = str(tmp_path / "rc_idx")
    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)
    second.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)

    def seg_counts():
        from collections import Counter

        c = Counter(
            r.term
            for r in spark.read.parquet(os.path.join(sdir, "postings"))
            .select("term")
            .collect()
        )
        return c

    before = seg_counts()
    assert max(before.values()) >= 2, "fixture produced no fragmentation"
    content_before = _postings_map(spark, sdir)
    ranked_before = _ranked(spark, sdir)

    n = recompact(spark, sdir, max_segments_per_term=1)
    assert n > 0

    after = seg_counts()
    # every posting survived, nothing duplicated, segments folded
    assert _postings_map(spark, sdir) == content_before
    assert max(after.values()) < max(before.values())
    assert max(after.values()) <= 2  # ceil(df/cap)=1 + range-split slack
    assert _ranked(spark, sdir) == ranked_before
    eng = SearchEngine(spark, index_dir=sdir)
    wand = [
        (r.doc_id, round(r.score, 9))
        for r in eng.search_df_wand("travel guide", k=10).collect()
    ]
    assert wand == ranked_before
    # blocks were re-derived for the touched buckets: ordinal ranges of a
    # term's blocks stay disjoint and ascending
    bl = spark.read.parquet(os.path.join(sdir, "blocks")).collect()
    by_term = {}
    for b in bl:
        by_term.setdefault(b.term, []).append(b)
    for term, bs in by_term.items():
        bs.sort(key=lambda b: b.lo_ord)
        for x, y in zip(bs, bs[1:]):
            assert x.hi_ord < y.lo_ord, term


def test_long_lived_engine_survives_compaction(spark, tmp_path, stream_corpus):
    """A serving engine opened BEFORE an incremental compaction must
    answer correctly AFTER it: the engine's reader/df memos pin one
    index state, so the commit markers (meta.json / merge_state.json)
    must invalidate them (engine._ensure_fresh). Before the fix the
    memoized plans either threw FileNotFound on rewritten buckets or
    served the stale corpus (old n_docs prior, missing new docs)."""
    from apt_search_engine_spark.query.engine import SearchEngine
    from apt_search_engine_spark.streaming.ingest import compact, stream_analyze

    first, second, _ = stream_corpus
    inp = str(tmp_path / "incoming_ll")
    sdir = str(tmp_path / "stream_index_ll")

    first.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)

    eng = SearchEngine(spark, index_dir=sdir)
    q = "travel guide"
    before = eng.search_df(q, k=10).collect()  # memoizes readers + dfs
    n_before = eng.n_docs
    assert before

    second.write.mode("append").parquet(inp)
    stream_analyze(spark, inp, sdir)
    compact(spark, sdir)

    after = [(r.doc_id, r.score) for r in eng.search_df(q, k=10).collect()]
    assert eng.n_docs > n_before  # meta reloaded, prior/idf rescaled
    fresh = [
        (r.doc_id, r.score)
        for r in SearchEngine(spark, index_dir=sdir).search_df(q, k=10).collect()
    ]
    assert after == fresh
    # the stale-state answer must actually differ (scores scale with 1/N),
    # otherwise this test would pass vacuously
    assert after != [(r.doc_id, r.score) for r in before]


def test_interval_fold_is_partition_and_order_invariant():
    """Property test of the streaming-sessionization state monoid
    (_fold_events_into_intervals): folding ANY partition of an event
    set, in ANY batch order, equals direct gap-sessionization of the
    whole set. Pure python/numpy — no Spark round-trip — so hypothesis
    can hammer it."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from apt_search_engine_spark.streaming.windows import (
        _fold_events_into_intervals,
    )

    GAP = 100

    def direct(ts):
        ts = sorted(ts)
        out = []
        for t in ts:
            if out and t - out[-1][1] <= GAP:
                s, e, n = out[-1]
                out[-1] = (s, t, n + 1)
            else:
                out.append((t, t, 1))
        return out

    @settings(max_examples=200, deadline=None)
    @given(
        ts=st.lists(st.integers(0, 3000), min_size=1, max_size=60),
        assign=st.lists(st.integers(0, 4), min_size=60, max_size=60),
        order=st.permutations(range(5)),
    )
    def check(ts, assign, order):
        batches = [[] for _ in range(5)]
        for t, b in zip(ts, assign):
            batches[b].append(t)
        iv = []
        for b in order:
            if batches[b]:
                iv = _fold_events_into_intervals(
                    iv, np.sort(np.array(batches[b], dtype="int64")), GAP
                )
        assert iv == direct(ts)

    check()


def test_stream_enrich_exactly_once(spark, tmp_path):
    """Stream-static enrichment in append mode: every event enriched and
    emitted exactly once across micro-batches, and a re-drain with no
    new files adds nothing (checkpoint resume)."""
    from apt_search_engine_spark.streaming.windows import run_enrich_drain

    inp = str(tmp_path / "en_in")
    ck = str(tmp_path / "en_ck")
    out = str(tmp_path / "en_out")
    rows = [(i, i % 4, float(i)) for i in range(40)]
    schema = "event_id long, user_id long, value double"
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(inp)
    dim = spark.createDataFrame(
        [(u, f"tier{u % 3}") for u in range(4)], "user_id long, tier string"
    )
    got = run_enrich_drain(spark, inp, dim, ck, out, max_files_per_trigger=1)
    assert got.count() == 40
    assert got.select("event_id").distinct().count() == 40
    again = run_enrich_drain(spark, inp, dim, ck, out)
    assert again.count() == 40  # nothing replayed, nothing lost
    assert {(r.event_id, r.tier) for r in got.collect()} == {
        (i, f"tier{(i % 4) % 3}") for i in range(40)
    }


def test_streaming_sessions_eviction_closes_and_frees_state(spark, tmp_path):
    """Evicting sessionizer: once the watermark passes a user's last
    activity + gap, their sessions are emitted closed=true and the state
    is removed; a later (in-watermark) event for that user starts a
    FRESH session. Timeouts fire on the micro-batch AFTER the watermark
    advances, so the fixture drains four file drops on one checkpoint."""
    import datetime as dt

    from apt_search_engine_spark.streaming.windows import (
        run_sessions_evict_drain,
    )

    inp = str(tmp_path / "ev_in")
    ck = str(tmp_path / "ev_ck")
    out = str(tmp_path / "ev_out")
    h = 3600
    base = 1_700_000_000

    def ts(sec):
        return dt.datetime.fromtimestamp(base + sec, dt.timezone.utc).replace(
            tzinfo=None
        )

    schema = "user_id long, ts timestamp"

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        return run_sessions_evict_drain(spark, inp, ck, out)

    drop([(1, ts(0)), (1, ts(1 * h)), (2, ts(0))])  # wm -> t0+1h
    drop([(2, ts(30 * h))])  # wm -> t0+30h; user1 timeout t0+9h not yet fired
    got = drop([(3, ts(31 * h))])  # batch sees wm t0+30h -> user1 evicted

    us = 1_000_000
    closed = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in got.filter("closed").collect()
    }
    assert closed == {(1, base * us, (base + h) * us, 2)}

    # user1's state is gone: a fresh in-watermark event opens a NEW
    # 1-event session instead of resuming anything
    got = drop([(1, ts(40 * h))])
    fresh = {
        (r.start_us, r.end_us, r.n_events)
        for r in got.filter("user_id = 1 AND NOT closed").collect()
        if r.start_us >= (base + 40 * h) * us
    }
    assert ((base + 40 * h) * us, (base + 40 * h) * us, 1) in fresh
    # drain 4 advanced the watermark to t0+40h, past user2's timeout
    # (last activity t0+30h + 8h gap): BOTH of user2's sessions close
    # as separate final intervals (they were never gap-mergeable)
    closed2 = {
        (r.start_us, r.end_us, r.n_events)
        for r in got.filter("closed AND user_id = 2").collect()
    }
    assert closed2 == {
        (base * us, base * us, 1),
        ((base + 30 * h) * us, (base + 30 * h) * us, 1),
    }


def test_stream_jsonl_ingest_equals_batch(spark, tmp_path, stream_corpus):
    """Streaming ingest from JSONL log drops (fmt='json') must produce
    the same postings as the one-shot batch build — the format a real
    append-only conversation log arrives in."""
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.streaming.ingest import compact, stream_analyze

    first, second, full = stream_corpus
    inp = str(tmp_path / "incoming_jsonl")
    sdir = str(tmp_path / "stream_index_jsonl")
    bdir = str(tmp_path / "batch_index_jsonl")

    first.write.mode("append").json(inp)
    stream_analyze(spark, inp, sdir, fmt="json")
    second.write.mode("append").json(inp)
    stream_analyze(spark, inp, sdir, fmt="json")
    compact(spark, sdir, with_blocks=False)

    IndexBuilder(spark, bdir, n_batches=1).build(full, with_blocks=False)
    assert _postings_map(spark, sdir) == _postings_map(spark, bdir)
