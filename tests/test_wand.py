"""Block-max WAND parity: the pruned compressed-blocks scorer must return
exactly the same top-k (doc_ids rank-identical, scores to 1e-9 rel) as the
exact DataFrame plan — WAND only skips slices whose upper bound is below
the current kth score, so top-k scores are exact (SURVEY.md 4.2 item 3)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from apt_search_engine_spark.indexing.build import with_postings_struct

QUERIES = [
    "travel guide",
    "travel guide europe tips",
    "spark shuffle index query",
    "europe",
    "guide guide travel",  # duplicate words: exact path dedups, so must WAND
    "zzzunknownzzz",  # no hit
    "the and of",  # stopwords: indexed never, query side keeps them (P1)
    "travel zzzunknownzzz",  # mix of hit and miss terms
]


def _rows(df):
    return [(r.doc_id, r.score) for r in df.collect()]


@pytest.mark.parametrize("query", QUERIES)
def test_wand_matches_exact(engine, query):
    exact = _rows(engine.search_df(query, k=10))
    wand = _rows(engine.search_df_wand(query, k=10))
    assert [d for d, _ in wand] == [d for d, _ in exact], query
    for (_, sw), (_, se) in zip(wand, exact):
        assert sw == pytest.approx(se, rel=1e-9)


@pytest.mark.parametrize("scorer", ["reference", "bm25"])
def test_wand_small_slices_and_spanning_blocks(spark, engine, index_dir, scorer):
    """Force many ordinal slices (width 64 << block size 128) so blocks span
    slice boundaries and the dedup mask + multi-partition heap paths run,
    under each scorer's block bound and decode."""
    from apt_search_engine_spark.query import wand
    from apt_search_engine_spark.query.engine import BM25_B, BM25_K1

    terms = ["guid", "travel"]  # stemmed forms
    buckets = sorted({engine._bucket(t) for t in terms})
    blocks = (
        spark.read.parquet(os.path.join(index_dir, "blocks"))
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
    )
    if scorer == "reference":
        dfs = engine.term_dfs(terms)
        weights = {t: float(engine.idf_numerator // dfs[t]) for t in terms}
        kw = {"scorer": wand.REFERENCE, "prior": engine.prior}
        exact = _rows(engine.search_df("travel guide", k=10))
    else:
        bm = engine._bm25(terms, BM25_K1, BM25_B)
        weights = bm.idfs
        kw = {"scorer": wand.bm25_scorer(bm.k1p1, bm.c0, bm.c1)}
        exact = _rows(engine.search_bm25_df("travel guide", k=10))
    got = [
        (r.doc_id, r.score)
        for r in wand.wand_topk(
            spark, blocks, engine._doc_ids, weights, k=10, slice_ords=64, **kw
        ).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in exact]
    for (_, sw), (_, se) in zip(got, exact):
        assert sw == pytest.approx(se, rel=1e-9)


def test_wand_k_larger_than_matches(engine):
    exact = _rows(engine.search_df("europe tips", k=10_000))
    wand = _rows(engine.search_df_wand("europe tips", k=10_000))
    assert wand == pytest.approx(exact)


def test_wand_falls_back_for_phrase(engine):
    """Phrase queries need positions; search_df_wand must delegate to the
    exact plan and produce identical results."""
    exact = _rows(engine.search_df('"travel guide"', k=10))
    via_wand_api = _rows(engine.search_df_wand('"travel guide"', k=10))
    assert via_wand_api == exact


def test_doc_map_dense_and_ordered(spark, index_dir):
    rows = spark.read.parquet(os.path.join(index_dir, "doc_map")).collect()
    by_ord = sorted(rows, key=lambda r: r.doc_ord)
    assert [r.doc_ord for r in by_ord] == list(range(len(rows)))
    ids = [r.doc_id for r in by_ord]
    assert ids == sorted(ids)


def test_wand_plan_has_no_row_python(engine):
    plan = (
        engine.search_df_wand("travel guide", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan  # Arrow-batched mapInPandas only


def _assert_local_result(df):
    """The returned top-k frame is the driver-local relation of the <=k
    translated rows: no doc_map (or any other) scan, no join."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    assert "FileScan" not in plan and "doc_map" not in plan, plan
    assert "Join" not in plan, plan


def test_wand_doc_map_translation_is_point_lookup(engine):
    """VERDICT r3 'what's wrong' #3: the final ord->doc_id translation
    must not JOIN against the corpus-sized doc_map (the k-row side
    broadcasts but the map side scans). The ordinals are point-read in
    the driver (footer row-group pruning, query/pointread.py) and the
    returned plan is the local relation of the k translated rows."""
    _assert_local_result(engine.search_df_wand("travel guide", 10))


def test_exact_path_translation_is_point_lookup(engine):
    """Same contract for the exact scoring paths (disk indexes score in
    ordinal space end-to-end; only the final k rows translate)."""
    for df in (
        engine.search_df("travel guide", 10),
        engine.search_bm25_df("travel guide", 10),
    ):
        _assert_local_result(df)


def test_point_read_opens_only_row_groups_holding_a_key(
    tmp_path, monkeypatch
):
    """On an ordinal-ordered doc_map written with several row groups per
    file, the point read opens exactly the row groups whose footer
    doc_ord range holds a requested ordinal, and reads footers once
    per memo."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from apt_search_engine_spark.query import pointread

    d = tmp_path / "doc_map"
    d.mkdir()
    for f in range(2):  # two files x 4 row groups of 25 ordinals
        ords = list(range(f * 100, f * 100 + 100))
        pq.write_table(
            pa.table({"doc_ord": ords, "doc_id": [f"d{o:04d}" for o in ords]}),
            d / f"part-{f:05d}.parquet",
            row_group_size=25,
        )
    (d / "_SUCCESS").write_text("")
    opened, footer_reads = [], []
    real_file, real_meta = pq.ParquetFile, pq.read_metadata

    class SpyFile(real_file):
        def __init__(self, source, *a, **kw):
            super().__init__(source, *a, **kw)
            self.spy_name = os.path.basename(source)

        def read_row_groups(self, row_groups, *a, **kw):
            opened.append((self.spy_name, sorted(row_groups)))
            return super().read_row_groups(row_groups, *a, **kw)

    def spy_meta(path, *a, **kw):
        footer_reads.append(os.path.basename(path))
        return real_meta(path, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", SpyFile)
    monkeypatch.setattr(pq, "read_metadata", spy_meta)
    footers: dict = {}
    rows = pointread.read_rows(
        str(d), "doc_ord", [3, 160, 199, 400], ["doc_ord", "doc_id"], footers
    )
    assert sorted((r["doc_ord"], r["doc_id"]) for r in rows) == [
        (3, "d0003"), (160, "d0160"), (199, "d0199"),
    ]
    # ord 3 -> file 0 group 0; 160 -> file 1 group 2; 199 -> file 1
    # group 3; 400 is past every range and opens nothing
    assert sorted(opened) == [
        ("part-00000.parquet", [0]), ("part-00001.parquet", [2, 3]),
    ]
    assert sorted(footer_reads) == ["part-00000.parquet", "part-00001.parquet"]
    pointread.read_rows(str(d), "doc_ord", [50], ["doc_ord"], footers)
    assert len(footer_reads) == 2  # memoized: no second footer read
    assert opened[-1] == ("part-00000.parquet", [2])


def test_translated_doc_id_round_trips_quote_and_backslash(spark):
    """doc_ids reach Spark through the local relation's SQL text; a
    quote, a backslash and a `${...}` must come back unchanged, in
    (score desc, doc_id asc) order, with scores bit-identical."""
    from apt_search_engine_spark.query.wand import translate_topk

    ids = {3: "conv'7#\\01", 5: 'a"b\\', 9: "x${y}"}
    ords = spark.createDataFrame(
        [(3, 0.1 + 0.2), (5, 2.5), (9, 0.1 + 0.2), (11, 1e-300)],
        "doc_ord long, score double",
    )
    got = translate_topk(spark, ords, lambda o: {i: ids[i] for i in o if i in ids}, 3)
    assert [(r.doc_id, r.score) for r in got.collect()] == [
        ('a"b\\', 2.5), ("conv'7#\\01", 0.1 + 0.2), ("x${y}", 0.1 + 0.2),
    ]
def test_phrase_semi_join_precedes_positions_aggregate(engine, monkeypatch):
    """VERDICT r3 'what's wrong' #2: when the candidate bound applies,
    the phrase candidate aggregate only sees docs containing the RAREST
    term — the optimized plan has the bound BELOW the aggregate that
    feeds the fused Arrow filter, so a head term's full postings never
    cross the aggregate shuffle. The semi-join shape is forced through
    the config constant."""
    from apt_search_engine_spark import config

    monkeypatch.setattr(config, "BOUND_MIN_CUT_ROWS", -(10**18))
    fd = engine._phrase_filtered(["travel", "guid"])
    plan = fd._jdf.queryExecution().optimizedPlan().toString()
    # the adjacency check is the fused Arrow filter over aggregated rows
    i_adj = plan.find("ArrowEvalPython")
    assert i_adj != -1, plan
    i_agg = plan.find("Aggregate", i_adj)
    assert i_agg != -1, plan
    assert "LeftSemi" in plan[i_agg:], plan


def test_sql_text_literals_round_trip(spark):
    """Driver values written into plan text come back exactly: doubles
    bit-identical (subnormals, 0.1 + 0.2 = 0.30000000000000004, BM25's
    default c0 = k1 * (1 - b)),
    ints of both widths, and terms with quotes, backslashes or `${...}`
    match in IN lists and map(...) lookups."""
    import struct

    from apt_search_engine_spark.query.pointread import (
        _sql_lit,
        local_frame,
        sql_in,
    )

    from apt_search_engine_spark.query.engine import BM25_B, BM25_K1

    c0 = BM25_K1 * (1.0 - BM25_B)
    doubles = [1e-300, 5e-324, 0.1 + 0.2, 0.30000000000000004, c0, -2.5,
               1e300, 1 / 3, 0.0]
    row = spark.sql(
        "SELECT " + ", ".join(
            f"{_sql_lit(v)} AS c{i}" for i, v in enumerate(doubles)
        )
    ).collect()[0]
    assert [struct.pack("<d", x) for x in row] == [
        struct.pack("<d", v) for v in doubles
    ]
    ints = [0, -7, 2**31 - 1, 2**31, -(2**31) - 1, 2**62]
    row = spark.sql(
        "SELECT " + ", ".join(f"{_sql_lit(v)} AS c{i}" for i, v in enumerate(ints))
    ).collect()[0]
    assert list(row) == ints

    terms = ["a'b", "c\\d", "x${y}", "plain", "\u00e9t\u00e9", "q'\\'"]
    frame = local_frame(
        spark, [(t,) for t in terms + ["other", "a"]], "term string"
    )
    got = {r.term for r in frame.where(sql_in("term", terms)).collect()}
    assert got == set(terms)
    pairs = ", ".join(f"{_sql_lit(t)}, {_sql_lit(i)}" for i, t in enumerate(terms))
    got = {
        r.term: r.v
        for r in frame.selectExpr("term", f"map({pairs})[term] AS v").collect()
    }
    assert got == {**{t: i for i, t in enumerate(terms)}, "other": None, "a": None}
    assert frame.where(sql_in("term", [])).collect() == []


def test_wtfs_decode_matches_reference_kernel(spark, index_dir):
    """Per-doc wtf in blocks == tf * sum(tag weights) from canonical postings."""
    import numpy as np

    from apt_search_engine_spark.analysis.analyzer import tag_weight
    from apt_search_engine_spark.indexing import codec

    blocks = spark.read.parquet(f"{index_dir}/blocks").collect()
    # group segment rows per term, ordinal-ordered (a term may span
    # several segment rows — a dict would silently keep only one)
    canonical: dict[str, list] = {}
    for r in with_postings_struct(
        spark.read.parquet(f"{index_dir}/postings"),
        spark.read.parquet(f"{index_dir}/doc_map"),
    ).collect():
        canonical.setdefault(r.term, []).append(r)
    for segs in canonical.values():
        segs.sort(key=lambda r: r.doc_ords[0])
    for term in list(canonical)[:50]:
        bs = sorted([b for b in blocks if b.term == term], key=lambda b: b.lo_ord)
        got = np.concatenate([codec.decode_tfs(b.wtfs) for b in bs])
        want = [
            p.tf * (sum(tag_weight(t) for t in p.tags) if p.tags else 0.5)
            for seg in canonical[term]
            for p in seg.postings
        ]
        assert got.tolist() == pytest.approx(want), term
        for b in bs:
            w = codec.decode_tfs(b.wtfs)
            assert b.block_max_wtf == pytest.approx(float(w.max()))
            ords = codec.decode_doc_ids(b.doc_ids_vb)
            assert b.lo_ord == int(ords[0]) and b.hi_ord == int(ords[-1])
