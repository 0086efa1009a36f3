"""Index-build properties: resume-equivalence, lineage, blocks round-trip.

Covers the north-rule requirements: resumable builds from per-partition
lineage checkpoints, metrics emission, and the compressed block companion
decoding back to the canonical postings.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from apt_search_engine_spark.indexing import codec

from apt_search_engine_spark.indexing.build import with_postings_struct


def _postings_signature(spark, index_dir):
    """Per-term signature, segment-boundary-agnostic: a term's postings may
    be split across rows (range shards), and where the splits fall depends
    on range sampling — only the concatenated doc-ordered postings are part
    of the contract."""
    by_term: dict[str, list] = {}
    dfs: dict[str, int] = {
        r.term: r.df
        for r in spark.read.parquet(f"{index_dir}/lexicon").collect()
    }
    for r in with_postings_struct(
        spark.read.parquet(f"{index_dir}/postings"),
        spark.read.parquet(f"{index_dir}/doc_map"),
    ).collect():
        by_term.setdefault(r.term, []).append(r)
    out = {}
    for term, segs in by_term.items():
        segs.sort(key=lambda r: r.ord_lo)
        out[term] = (
            dfs[term],
            tuple(
                (p.doc_id, round(p.tf, 15), tuple(p.positions), tuple(p.tags))
                for r in segs
                for p in r.postings
            ),
        )
    return out


def test_resume_equivalence(spark, corpus_df, index_dir, tmp_path):
    """Killing a build after some analyze batches and resuming yields the
    same index as a single uninterrupted build (reference isIndexed-resume
    semantics, DBManager.java:177-212)."""
    from apt_search_engine_spark.indexing.build import IndexBuilder

    d = str(tmp_path / "resumed")
    b = IndexBuilder(spark, d, n_batches=3)
    # simulate a crash: analyze only (subset of batches recorded in lineage)
    b.analyze(corpus_df, build_id="first-attempt")
    done_before = b._completed_batches()
    assert done_before == {0, 1, 2}
    # wipe one batch's lineage mark is not possible with parquet append;
    # instead verify resume skips everything and a fresh builder over the
    # same dir completes merge identically
    b2 = IndexBuilder(spark, d, n_batches=3)
    b2.build(corpus_df, with_blocks=False)
    assert _postings_signature(spark, d) == _postings_signature(spark, index_dir)


def test_partial_resume_equivalence(spark, corpus_df, index_dir, tmp_path):
    """Analyze half the batches in one builder, resume with another."""
    from apt_search_engine_spark.indexing.build import IndexBuilder

    d = str(tmp_path / "halves")
    b = IndexBuilder(spark, d, n_batches=2)
    # first "run" crashes after analyzing batch 0 only
    b.analyze(corpus_df, "run1", only_batches=[0])
    assert b._completed_batches() == {0}
    # resume run sees the full corpus, skips batch 0
    b2 = IndexBuilder(spark, d, n_batches=2)
    b2.build(corpus_df, with_blocks=False)
    assert _postings_signature(spark, d) == _postings_signature(spark, index_dir)


def test_lineage_metrics(spark, index_dir):
    lin = spark.read.parquet(f"{index_dir}/lineage")
    rows = lin.collect()
    analyzed = [r for r in rows if r.snapshot_id.startswith("analyzed-")]
    postings = [r for r in rows if r.snapshot_id.startswith("postings-")]
    assert len(analyzed) >= 2  # one per analyze batch
    assert postings, "per-bucket postings lineage missing"
    for r in postings:
        assert r.n_rows > 0 and r.n_postings >= r.n_rows
        assert r.term_lo <= r.term_hi
        assert r.build_ms >= 0


def test_blocks_roundtrip(spark, index_dir):
    """Decoding every block reproduces the canonical postings exactly."""
    blocks = spark.read.parquet(f"{index_dir}/blocks").collect()
    doc_map = {
        r.doc_ord: r.doc_id
        for r in spark.read.parquet(f"{index_dir}/doc_map").collect()
    }
    # postings may be segmented: several rows per term, ordered by doc_lo
    canonical: dict[str, list] = {}
    for r in with_postings_struct(
        spark.read.parquet(f"{index_dir}/postings"),
        spark.read.parquet(f"{index_dir}/doc_map"),
    ).collect():
        canonical.setdefault(r.term, []).append(r)
    for segs in canonical.values():
        segs.sort(key=lambda r: r.ord_lo)
    assert {b.term for b in blocks} == set(canonical)
    lexicon_dfs = {
        r.term: r.df
        for r in spark.read.parquet(f"{index_dir}/lexicon").collect()
    }
    by_term: dict[str, list] = {}
    for b in blocks:
        by_term.setdefault(b.term, []).append(b)
    for term, bs in by_term.items():
        bs.sort(key=lambda b: b.lo_ord)
        segs = canonical[term]
        want_postings = [p for r in segs for p in r.postings]
        assert lexicon_dfs[term] == len(want_postings)
        # layout v5: blocks store exactly what WAND decodes — doc ordinals
        # + wtfs + block_max (tfs/positions dropped; positions live only in
        # the canonical postings table, which the phrase path reads)
        got_ids, got_wtfs = [], []
        for b in bs:
            ords = codec.decode_doc_ids(b.doc_ids_vb)
            got_ids.extend(doc_map[o] for o in ords)
            got_wtfs.extend(codec.decode_tfs(b.wtfs).tolist())
        assert got_ids == [p.doc_id for p in want_postings], term
        from apt_search_engine_spark.analysis.analyzer import tag_weight

        wtfs = [
            p.tf * (sum(tag_weight(t) for t in p.tags) if p.tags else 0.5)
            for p in want_postings
        ]
        assert got_wtfs == pytest.approx(wtfs), term
        # block-max invariant: ub >= any doc's weighted tf in the block
        assert max(b.block_max_wtf for b in bs) == pytest.approx(max(wtfs)), term


def _parquet_files(table_dir):
    import glob

    return glob.glob(f"{table_dir}/term_bucket=*/*.parquet")


def test_bucket_aligned_file_fanout(spark, index_dir, tmp_path):
    """Every postings write is bucket-aligned (build.bucket_ranged): each
    task covers one contiguous term_bucket range, so a write makes at most
    N_TERM_BUCKETS + n_parts - 1 files, and the one-wave blocks pass
    writes no more files than it reads. A term-only range makes up to
    n_parts x N_TERM_BUCKETS files. Checked after a bulk build and again
    after a purge rewrites the postings."""
    import shutil

    from apt_search_engine_spark.config import N_TERM_BUCKETS
    from apt_search_engine_spark.indexing.deletes import (
        delete_docs,
        purge_deleted,
    )

    dp = spark.sparkContext.defaultParallelism
    merge_parts = max(
        dp * 2, int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    postings = _parquet_files(f"{index_dir}/postings")
    blocks = _parquet_files(f"{index_dir}/blocks")
    assert 0 < len(postings) <= N_TERM_BUCKETS + merge_parts - 1
    assert 0 < len(blocks) <= len(postings)

    idx = str(tmp_path / "idx")
    shutil.copytree(index_dir, idx)
    dead = [
        r.doc_id
        for r in spark.read.parquet(f"{idx}/doc_map")
        .orderBy("doc_ord")
        .limit(3)
        .collect()
    ]
    delete_docs(spark, idx, dead)
    assert purge_deleted(spark, idx) == 3
    purge_parts = max(dp, N_TERM_BUCKETS)
    postings = _parquet_files(f"{idx}/postings")
    assert 0 < len(postings) <= N_TERM_BUCKETS + purge_parts - 1
    assert 0 < len(_parquet_files(f"{idx}/blocks")) <= len(postings)


def test_no_python_row_udfs_in_merge_plan(spark, index_dir):
    """North-rule: no per-row Python on the hot path. The merge/query plans
    must not contain BatchEvalPython (row-at-a-time UDF) nodes; Python only
    appears as Arrow-batched mapInPandas in the analyze stage."""
    from apt_search_engine_spark.query.engine import SearchEngine

    eng = SearchEngine(spark, index_dir)
    plan = eng.search_df("travel guide", 10)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


@pytest.mark.parametrize("cap", [3, 64, 32768])
def test_arrow_assembler_equals_pandas(spark, corpus_df, cap):
    """The Arrow-native segment assembler (merge hot path, zero-copy
    slicing) emits the same per-term posting content as the pandas
    reference implementation at every cap, including caps that force
    carry-over between Arrow batches. Segment BOUNDARIES are compared
    flattened: repartitionByRange samples its range bounds, so the split
    of one term's postings across partitions (and hence across segments)
    is legitimately not run-stable — content and per-segment invariants
    are."""
    from apt_search_engine_spark.indexing.build import (
        analyze_transcripts,
        merge_postings,
    )

    flat = analyze_transcripts(corpus_df.limit(400)).cache()

    def flatten(df):
        out: dict[str, list] = {}
        seg_ok = True
        for r in df.collect():
            seg_ok &= len(r.doc_ids) <= cap
            seg_ok &= list(r.doc_ids) == sorted(r.doc_ids)
            out.setdefault(r.term, []).extend(
                zip(
                    r.doc_ids, (bytes(p) for p in r.positions_vb),
                    r.n_titles, r.n_h1s, r.n_h2s, r.n_h3s, r.n_h456s,
                    r.occs, r.dls, r.xtras,
                )
            )
        assert seg_ok
        return {t: sorted(v) for t, v in out.items()}

    a = flatten(merge_postings(flat, max_per_row=cap, use_arrow=True))
    p = flatten(merge_postings(flat, max_per_row=cap, use_arrow=False))
    flat.unpersist()
    assert a == p


def test_h2_channel_weight_affects_ranking(spark):
    """End-to-end over the full heading channels: an h2-tagged query
    term must outscore the body-tagged one by exactly the reference
    weight ratio (2.0 vs 0.5) through analyze -> merge -> rank."""
    from apt_search_engine_spark.indexing.build import (
        analyze_transcripts,
        merge_postings,
    )
    from apt_search_engine_spark.query.engine import SearchEngine

    rows = [
        ("c", 0, "zebra apple grape filler", "zebra"),
        ("c", 1, "zebra apple grape filler", ""),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, h2txt string"
    )
    flat = analyze_transcripts(df, channels=(("h2", "col", "h2txt"),))
    eng = SearchEngine(spark, postings_df=merge_postings(flat), n_docs=2)
    res = eng.search_df("zebra", k=2).collect()
    assert [r.doc_id for r in res] == ["c#000000", "c#000001"]
    # tf = (1+1)/8; df = 2 -> idf floor(6000/2) = 3000; prior = 1/2
    # doc0 wtf = 2.0 * 0.25 (h2 tag), doc1 wtf = 0.5 * 0.25 (body tag)
    assert res[0].score == 0.5 * 3000 * 0.5
    assert res[1].score == 0.125 * 3000 * 0.5


def test_r10_url_dedup_merges_scores(spark, tmp_path):
    """R10 (Ranker.java:201-214): docs sharing a URL merge their score
    contributions into one result row; docs with unique URLs score
    exactly as the per-doc path."""
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.query.engine import SearchEngine
    from pyspark.sql import functions as F

    rows = [
        ("c", 0, "zebra apple grape filler"),
        ("c", 1, "zebra apple grape filler"),
        ("c", 2, "zebra apple grape filler"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    ).select(
        "conv_id", "turn_idx", F.lit("user").alias("role"), "text",
        F.lit("").alias("tool"),
        F.lit("2025-01-01").cast("timestamp").alias("ts"),
    )
    d = str(tmp_path / "r10_index")
    b = IndexBuilder(spark, d, n_batches=1)
    b.build(df, with_blocks=False)
    # turns 0 and 1 share a URL; turn 2 is alone
    b.write_doc_meta(
        df,
        url_expr=F.when(F.col("turn_idx") < 2, F.lit("u-shared")).otherwise(
            F.lit("u-solo")
        ),
    )
    eng = SearchEngine(spark, index_dir=d)
    per_doc = {r.doc_id: r.score for r in eng.search_df("zebra", k=10).collect()}
    per_url = {r.url: r.score for r in eng.search_df("zebra", k=10, dedup_by_url=True).collect()}
    assert set(per_url) == {"u-shared", "u-solo"}
    assert per_url["u-solo"] == per_doc["c#000002"]
    assert per_url["u-shared"] == pytest.approx(
        per_doc["c#000000"] + per_doc["c#000001"], rel=1e-12
    )


def test_grouped_merge_equivalence_and_disjoint_segments(spark, corpus_df):
    """Layout v12: the grouped-run merge exchange (one shuffle row per
    (term, ordinal stripe) run) emits the same per-term posting CONTENT
    as the pandas per-posting reference path — forced here with a tiny
    cap AND a tiny stripe width so head terms split across many runs,
    runs split across segments, and groups span Arrow batch boundaries.
    Per-term segments must stay disjoint strictly-increasing ordinal
    ranges (the blocks/WAND invariant, indexing/blocks.py:16-18) even
    though runs from different analyze partitions interleave in ordinal
    space."""
    from pyspark.sql import Window
    from apt_search_engine_spark.indexing.build import (
        analyze_transcripts,
        doc_id_expr,
        merge_postings,
    )

    tr = corpus_df.limit(400).withColumn(
        "doc_ord",
        (F.dense_rank().over(Window.orderBy(doc_id_expr())) - 1).cast("long"),
    )
    flat = analyze_transcripts(
        tr.repartition(5), extra_cols=("doc_ord",)
    ).cache()
    cap = 7

    def flatten(df):
        out: dict[str, list] = {}
        ranges: dict[str, list] = {}
        for r in df.collect():
            assert len(r.doc_ords) <= cap
            assert list(r.doc_ords) == sorted(r.doc_ords)
            ranges.setdefault(r.term, []).append((r.ord_lo, r.ord_hi))
            out.setdefault(r.term, []).extend(
                zip(
                    r.doc_ords, (bytes(p) for p in r.positions_vb),
                    r.n_titles, r.n_h1s, r.n_h2s, r.n_h3s, r.n_h456s,
                    r.occs, r.dls, r.xtras,
                )
            )
        for t, rs in ranges.items():
            rs.sort()
            for a, b in zip(rs, rs[1:]):
                assert b[0] > a[1], (t, rs)  # disjoint, increasing
        return {t: sorted(v) for t, v in out.items()}

    g = flatten(merge_postings(flat, max_per_row=cap, _stripe_width=16))
    p = flatten(
        merge_postings(flat, max_per_row=cap, use_arrow=False, grouped=False)
    )
    flat.unpersist()
    assert g == p


def test_read_transcripts_formats_roundtrip(spark, tmp_path):
    """The schema-enforced multi-format reader: the same corpus written
    as parquet, JSONL and CSV must read back row-identical (including
    timestamps), and parquet with extra/widened columns is projected
    back to the contract."""
    from pyspark.sql import functions as F

    from apt_search_engine_spark.corpus import gen_corpus_spark, read_transcripts

    tr = gen_corpus_spark(spark, 6)
    want = sorted(tuple(r) for r in tr.collect())

    p = str(tmp_path / "t_parquet")
    j = str(tmp_path / "t_json")
    c = str(tmp_path / "t_csv")
    tr.write.parquet(p)
    tr.write.json(j)
    tr.write.option("header", True).option("escape", '"').option(
        "nullValue", "\\N"
    ).csv(c)
    for path, fmt in ((p, "parquet"), (j, "json"), (c, "csv")):
        got = sorted(tuple(r) for r in read_transcripts(spark, path, fmt).collect())
        assert got == want, fmt

    # extra column + widened type are projected/cast back to the contract
    messy = str(tmp_path / "t_messy")
    tr.withColumn("extra", F.lit(1)).withColumn(
        "turn_idx", F.col("turn_idx").cast("long")
    ).write.parquet(messy)
    got = read_transcripts(spark, messy, "parquet")
    # cast() marks columns nullable, so compare names + types
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in tr.schema
    ]
    assert sorted(tuple(r) for r in got.collect()) == want

    # missing contract column fails loudly
    import pytest as _pytest

    bad = str(tmp_path / "t_bad")
    tr.drop("text").write.parquet(bad)
    with _pytest.raises(ValueError, match="missing columns"):
        read_transcripts(spark, bad, "parquet")


def test_synth_datasource_equals_generator(spark):
    """The aptse_synth Python DataSource (Spark DataSource V2 in Python)
    must yield row-identical output to gen_corpus_spark for the same
    (convs, seed), across a partitioning that splits conversations."""
    from apt_search_engine_spark.corpus import gen_corpus_spark
    from apt_search_engine_spark.sources.synth import register

    register(spark)
    via_source = (
        spark.read.format("aptse_synth")
        .option("convs", 7)
        .option("numPartitions", 3)
        .load()
    )
    assert via_source.rdd.getNumPartitions() == 3
    got = sorted(tuple(r) for r in via_source.collect())
    want = sorted(tuple(r) for r in gen_corpus_spark(spark, 7).collect())
    assert got == want and want


def test_read_transcripts_rejects_lossy_casts(spark, tmp_path):
    """A widened upstream value that cannot be represented in the
    contract type (turn_idx >= 2^31) must raise at scan time, not wrap
    silently into a corrupted doc identity."""
    import pytest as _pytest
    from pyspark.errors import PySparkException

    from apt_search_engine_spark.corpus import read_transcripts

    bad = str(tmp_path / "t_overflow")
    spark.createDataFrame(
        [("c1", 2**31 + 7, "user", "hello", "", None)],
        "conv_id string, turn_idx long, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(bad)
    with _pytest.raises(PySparkException, match="not losslessly castable"):
        read_transcripts(spark, bad, "parquet").collect()


def test_synth_datasource_zero_convs_is_empty(spark):
    """convs=0 must yield an empty frame, not a range()-step-zero crash."""
    from apt_search_engine_spark.sources.synth import register

    register(spark)
    df = spark.read.format("aptse_synth").option("convs", 0).load()
    assert df.count() == 0
