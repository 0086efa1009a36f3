"""Distributed inverted-index build (SURVEY.md section 3.2 Spark lifecycle).

Replaces the reference's thread-pool indexer loop
(server/src/main/java/Indexer/Indexer.java:102-204 — fetch batch, analyze
per doc, per-term Mongo upserts, mark isIndexed) with a 3-stage Spark job:

  stage 1  ANALYZE (narrow, resumable): transcripts -> flat posting rows
           (doc_id, term, tf, positions, tags) via the vectorized analyzer
           inside mapInPandas. Output lands partitioned by a deterministic
           doc-batch id; a lineage row marks each completed batch, so a
           restarted build skips analyzed batches — the Spark analogue of
           the reference's `isIndexed` flag + batch resume
           (DBManager.java:177-212, 319-325), with Parquet directories
           standing in for Iceberg snapshots (no Iceberg runtime jar in
           this environment; layout is Iceberg-compatible).

  stage 2  MERGE (one range shuffle): sort-based segment assembly.
           Zipfian head terms make a naive groupBy(term).collect_list both
           a shuffle hot-spot AND an unbounded-row OOM (a head term at
           10^12 turns is ~10^11 postings — it cannot be one row, or even
           one partition). Instead the (term, stripe) runs are
           repartitionByRange(term_bucket, term, stripe) +
           sortWithinPartitions on the same keys (bucket_ranged) — the
           stripe range shard plays the salt's role in the salted
           repartition-by-term pattern (SURVEY.md 4.2 item 1) while
           keeping each term's runs contiguous and doc-ordered — and an
           Arrow-batched pass emits one postings row per (term, run of
           <= MAX_POSTINGS_PER_ROW docs): bounded memory everywhere,
           sorted segments, no giant rows. Leading with term_bucket
           makes the exchange bucket-aligned: each task holds one
           contiguous bucket range, so the stage-3 write makes at most
           N_TERM_BUCKETS + n_parts - 1 files, term-sorted inside each
           file. df (true document frequency, what the reference reads
           as postings-map size, Ranker.java:194) goes to a separate
           LEXICON table via a skew-free partial aggregate — see
           build_lexicon / schema.py LEXICON.

  stage 3  WRITE: postings directory-partitioned by
           term_bucket = pmod(xxhash64(term), N) so query-time term lookup
           prunes to |terms| buckets; the block-max companion is derived
           from them in one narrow wave (indexing/blocks.write_blocks);
           per-bucket lineage metrics appended.

The per-term Mongo upsert pattern (DBManager.java:214-302, one round trip
per (term, doc)) is the reference's main scalability bug and is deliberately
NOT reproduced: each build writes every posting exactly once.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from apt_search_engine_spark.analysis.analyzer import (
    META_VB_COLS,
    analyze_batch_flat,
)
from apt_search_engine_spark.config import (
    MAX_POSTINGS_PER_ROW,
    N_TERM_BUCKETS,
    doc_id_expr,
)

# Tags are stored as per-channel prefix counts — the analyzer's overwrite
# order always yields ['title']*a + ['h1']*b + ['h2']*c + ['h3']*d +
# ['h456']*e + ['body']*rest (reference channel order,
# Tokenizer.java:143-171), so five ints replace an array<string> per
# posting; merge_postings reconstructs the full array natively
# (array_repeat concat).
_N_COLS = ("n_title", "n_h1", "n_h2", "n_h3", "n_h456")
# Layout v11: the eight per-posting small ints travel as ONE varbyte
# binary (meta_vb, pack order analyzer.META_VB_COLS) — UnsafeRow charges
# 8 bytes of fixed slot per field, so 8 int fields were ~64 bytes/posting
# of pure row structure through the merge exchange and its sort buffers
# (the measured memcpy-bound stage) against ~8-10 varbyte bytes. The
# merge's ungroup pass expands meta_vb back to the v10 columns in one
# vectorized codec pass (_ungroup_runs); the STORED postings layout and
# every query path are unchanged. Plain occ/dl stay on the analyzed rows
# for the narrow side-table scans (doc_len, BM25 totals) — parquet RLE
# makes them nearly free at rest and they are never selected into the
# exchange.
ANALYZED_SCHEMA = (
    "doc_id string, term string, positions_vb binary, meta_vb binary, "
    "occ int, dl int"
)

# Bump whenever the analyzed/postings layout changes (columns, encoding,
# channel set): resume and cache keys refuse to mix layouts (ADVICE r1 —
# an old index silently rescoring new channels at the body weight).
# v5: doc_ord stamped on analyzed rows (docID space assigned at ingest,
# not re-joined per merge) + blocks drop the dead tfs/positions_vb columns.
# v6: analyzed rows carry `occ` (raw occurrence count) and the index gains
# a doc_len table + meta total_len — the BM25 scoring path's per-doc
# length statistics (engine.search_bm25_df).
# v7: analyzed rows also carry `dl` (the doc's total admitted occurrence
# count, stamped by the analyzer — the only place that sees the whole
# doc, so it reaches the index with zero joins); disk postings store
# parallel occs/dls arrays and the blocks companion gains
# occs_vb/dls_vb + block_max_occ/block_min_dl, enabling block-max WAND
# for the BM25 scorer (query/wand.bm25_scorer).
# v9: positions are delta+varbyte-encoded AT ANALYZE TIME (one segmented
# codec pass inside the analyzer UDF) and travel as a `positions_vb`
# binary column through the analyze checkpoint, the merge shuffle and
# the stored postings (array<binary> per segment). After v8 removed
# doc_id strings, the per-posting int position arrays were the fattest
# payload of the merge exchange — the measured data-movement share
# (m = 0.44) that bounds scaling on this box (BASELINE.md round 3).
# Decoding happens only where positions are consumed: the phrase
# adjacency check and the reconstructed API view.
# v10: tf and wtf are no longer shuffled OR stored — 16 bytes/posting of
# incompressible doubles (the dominant payload left after v9; measured
# via tools/ab_build_bytes.py). Both are exact functions of small ints
# already on the row: tf = (occ+1)/(dl+xtra) (quirk Q2 denominator
# tt = kept positions + distinct terms, carried as xtra = tt - dl) and
# wtf = tagsum * tf with tagsum exact in binary (all channel weights
# are multiples of 0.5), so recomputation anywhere — SQL expr on pruned
# query reads, numpy in the blocks writer — is bit-identical to the
# analyzer's float64 arithmetic.
# v11: the remaining eight per-posting small ints cross the analyze
# checkpoint and the merge exchange as ONE varbyte blob (meta_vb) — the
# exchange row drops from 11 UnsafeRow fields (8 B of fixed slot each)
# to 4; the assembler expands the blob back in one vectorized codec
# pass, so the STORED segment layout is identical to v10 (bump needed
# only because the analyzed/ checkpoint schema changed).
# v12: grouped-run merge exchange — one shuffle row per (term, ordinal
# stripe) run instead of one per posting (GROUPED_SCHEMA rationale
# below). On-disk bytes (analyzed checkpoint AND postings) are
# bit-compatible with v11; the bump names the exchange format so bench
# A/Bs can refer to it.
# v13: batch builds write the analyze checkpoint ALREADY GROUPED
# (GROUPED_BATCH_SCHEMA + doc rows) — the grouping hop is fused into
# analyze, the checkpoint shrinks, the BM25 doc-length table becomes a
# columnar filter instead of a per-posting groupBy shuffle. Stored
# postings remain bit-compatible; stream-ingested checkpoints keep the
# per-posting layout (ordinals unknown at arrival).
INDEX_LAYOUT_VERSION = 13


# Q11: the reference's title channel processes the literal string "title"
# (Tokenizer.java:143), never the document's real title.
_REF_TITLE_TEXT = "title"

# Heading-channel feed for transcript input (FIXTURES.md adapter): title
# is the Q11 literal, h1 is the role column, h2/h3/h456 have no
# transcript analog and stay empty. Each spec is (channel, kind, value)
# with kind 'lit' (constant text) or 'col' (input column).
DEFAULT_CHANNELS = (
    ("title", "lit", _REF_TITLE_TEXT),
    ("h1", "col", "role"),
)


def _analyze_partition_factory(
    extra_cols: tuple[str, ...] = (),
    channels: tuple[tuple[str, str, str], ...] = DEFAULT_CHANNELS,
):
    """mapInPandas fn: analyze a batch; per-doc `extra_cols` (e.g. the
    resume batch id) are carried through by doc index — no recompute.
    `channels` feeds the five weighted heading channels (see
    DEFAULT_CHANNELS)."""

    def _analyze_partition(batches):
        for pdf in batches:
            kw = {}
            for name, kind, value in channels:
                if kind == "lit":
                    kw[name] = pd.Series([value] * len(pdf))
                else:
                    kw[name] = pdf[value].reset_index(drop=True)
            flat = analyze_batch_flat(pdf["text"], tags_as_counts=True, **kw)
            doc_ilocs = flat["doc"].to_numpy() if len(flat) else np.empty(0, np.int64)
            doc_ids = pdf["doc_id"].to_numpy()
            out = {
                "doc_id": doc_ids[doc_ilocs]
                if len(flat)
                else np.empty(0, dtype=object),
                "term": flat["term"],
                "positions_vb": flat["positions_vb"],
                "meta_vb": flat["meta_vb"],
                "occ": flat["occ"],
                "dl": flat["dl"],
            }
            for c in extra_cols:
                vals = pdf[c].to_numpy()
                out[c] = vals[doc_ilocs] if len(flat) else vals[:0]
            yield pd.DataFrame(out)

    return _analyze_partition


def analyze_transcripts(
    transcripts: DataFrame,
    extra_cols: tuple[str, ...] = (),
    channels: tuple[tuple[str, str, str], ...] = DEFAULT_CHANNELS,
) -> DataFrame:
    """Stage 1 transform: transcripts -> flat posting rows. Narrow (no
    shuffle); all Python work is Arrow-batched. `extra_cols` names extra
    per-turn columns of `transcripts` to carry onto each posting row;
    `channels` maps heading channels to literals or input columns (a
    richer document source — e.g. pre-fielded HTML — feeds h2/h3/h456
    here)."""
    channel_cols = sorted({v for _, kind, v in channels if kind == "col"})
    docs = transcripts.select(
        doc_id_expr().alias("doc_id"),
        F.col("text"),
        *[F.col(c) for c in channel_cols],
        *[F.col(c) for c in extra_cols],
    )
    schema = ANALYZED_SCHEMA
    if extra_cols:
        extra_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in docs.schema.fields
            if f.name in extra_cols
        )
        schema = f"{ANALYZED_SCHEMA}, {extra_schema}"
    return docs.mapInPandas(
        _analyze_partition_factory(extra_cols, channels), schema=schema
    )


_N_PLURALS = tuple(f"{c}s" for c in _N_COLS)
# Layout v8: disk postings store ONLY integer ordinals — no doc_id string
# arrays. String keys live exactly once, in doc_map; consumers translate
# ord -> doc_id on pruned reads (query engine) or the final top-k rows
# (WAND). Rationale: doc_ids arrays were 40% of index bytes at the 1M-turn
# profile (strings shuffled per posting, assembled per posting, written
# per posting) — the dominant payload of the merge stage's shuffle, Arrow
# assembly memcpy, and parquet encode, all of which are the bandwidth-
# bound non-scaling parts of the build (BASELINE.md round-3 ladder
# analysis). At 10^12 turns a per-posting string key is ~20 bytes against
# ~1-2 bytes for a delta-coded ordinal.
_ASSEMBLED_SCHEMA_ORD = (
    "term string, doc_ords array<long>, positions_vb array<binary>, "
    + ", ".join(f"{c} array<int>" for c in _N_PLURALS)
    + ", occs array<int>, dls array<int>, xtras array<int>"
)

# tf and the per-posting weighted tf are DERIVED, never stored/shuffled
# (layout v10). tf = (occ+1)/tt, tt = dl + xtra (quirk Q2). wtf =
# tagsum * tf where tagsum is the closed form of the reference's tag
# fold (Ranker.java:43-52 switch: title 4.0, h1 2.5, h2 2.0, h3 1.5;
# the stored 'h456' tag falls through to the DEFAULT 0.5 arm). All
# weights and their integer multiples are exact binary fractions, so
# tagsum is EXACT regardless of evaluation order and the single
# division + single multiply make every recomputation bit-identical to
# the analyzer's float64 arithmetic (pinned by the oracle gate and
# tests/test_parity.py).
def tf_expr(prefix: str = "") -> str:
    return (
        f"(CAST({prefix}occ + 1 AS DOUBLE) / "
        f"CAST({prefix}dl + {prefix}xtra AS DOUBLE))"
    )


def wtf_expr(prefix: str = "") -> str:
    p = prefix
    return (
        f"(((4.0D * {p}n_title + 2.5D * {p}n_h1 + 2.0D * {p}n_h2 + "
        f"1.5D * {p}n_h3) + 0.5D * ({p}occ - {p}n_title - {p}n_h1 - "
        f"{p}n_h2 - {p}n_h3)) * {tf_expr(p)})"
    )


# per-SEGMENT derivation over the stored parallel arrays (pruned query
# reads; JVM codegen, no Python)
WTFS_FROM_SEGMENT_EXPR = (
    "transform(arrays_zip(occs, dls, xtras, n_titles, n_h1s, n_h2s, "
    "n_h3s), x -> ((4.0D * x.n_titles + 2.5D * x.n_h1s + 2.0D * x.n_h2s"
    " + 1.5D * x.n_h3s) + 0.5D * (x.occs - x.n_titles - x.n_h1s - "
    "x.n_h2s - x.n_h3s)) * (CAST(x.occs + 1 AS DOUBLE) / "
    "CAST(x.dls + x.xtras AS DOUBLE)))"
)

# per-posting columns of the assembler/flatten passes: the ordinal is the
# only doc key (its order == global doc_id order — write_doc_map assigns
# ordinals in doc_id order); occ/dl are also the BM25 inputs
_COLS_ORD = (
    ("doc_ord", "positions_vb") + _N_COLS + ("occ", "dl", "xtra")
)
# singular posting column -> the segment row's plural array column
_PLURAL = {
    "doc_ord": "doc_ords", "positions_vb": "positions_vb",
    "occ": "occs", "dl": "dls", "xtra": "xtras",
} | dict(zip(_N_COLS, _N_PLURALS))


def _decode_meta_np(n_rows: int, region: bytes) -> dict[str, np.ndarray]:
    """One vectorized varbyte pass over a batch's concatenated meta_vb
    bytes -> int32 numpy columns in META_VB_COLS order. Every posting row
    encodes exactly len(META_VB_COLS) values (analyzer contract), so the
    flat decode reshapes without consulting per-row offsets."""
    from apt_search_engine_spark.indexing import codec

    w = len(META_VB_COLS)
    if n_rows == 0:
        return {c: np.empty(0, np.int32) for c in META_VB_COLS}
    vals = codec.varbyte_decode(region).reshape(n_rows, w)
    return {
        c: vals[:, j].astype(np.int32) for j, c in enumerate(META_VB_COLS)
    }


# -- layout v12: grouped-run merge exchange --------------------------------
# The north-star merge shape (BASELINE.json north_star: "per-partition
# sorted posting lists ... merged via salted repartition-by-term
# shuffles"): each analyze partition emits ONE exchange row per
# (term, ordinal stripe) holding that run's delta+varbyte-packed
# postings, instead of one row per posting. ~10-100x fewer rows cross
# the exchange, and the per-posting ordering work happens as vectorized
# numpy lexsorts inside the Python stages (map-side per flush,
# reduce-side per group) instead of JVM UnsafeRow comparisons in the
# shuffle sorter — the measured memory-bound stage of the build
# (BASELINE.md hardware-ceiling analysis).
#
# The salt is a FIXED global ordinal stripe (stripe = doc_ord //
# stripe_width): runs of different stripes are ord-disjoint BY
# CONSTRUCTION, and Spark's RangePartitioner never splits equal keys,
# so a partition boundary can only fall BETWEEN stripes — per-term
# segments remain disjoint, strictly-increasing ordinal ranges, the
# invariant the blocks/WAND companion keys on (indexing/blocks.py:16-18).
# Head-term skew: a head term spreads over n_docs/stripe_width
# independent stripes, each its own unit of shuffle and assembly.

GROUPED_SCHEMA = (
    "term string, stripe int, n int, doc_ords_vb binary, "
    "positions_vb binary, meta_vb binary"
)
# checkpoint variant (layout v13): the batch-build analyze stage writes
# its checkpoint ALREADY GROUPED (fused into the analyze pipeline — no
# separate merge-side grouping hop, ~60% smaller checkpoint), carrying
# the resume batch id per run plus DOC ROWS: stripe = -1, term = the
# doc_id string, n = the doc's length (dl), doc_ords_vb = varbyte(ord).
# Doc rows turn the BM25 doc-length table into a columnar filter of the
# checkpoint (no groupBy shuffle over per-posting rows) and carry the
# min/max doc_id lineage stats.
GROUPED_BATCH_SCHEMA = GROUPED_SCHEMA + ", batch int"
DOC_ROW_STRIPE = -1

# map-side flush threshold (posting rows): bigger flushes amortize more
# runs; bounded so per-task numpy state stays ~100 MB at worst
_FLUSH_POSTINGS = 1 << 21
# stripe width bounds: at least one full segment per stripe (rare/mid
# terms don't fragment), at most 2^20 ordinals (bounds the reduce-side
# per-group buffer regardless of corpus size)
_MIN_STRIPE = MAX_POSTINGS_PER_ROW
_MAX_STRIPE = 1 << 20


def stripe_width_for(n_docs: int, n_parts: int) -> int:
    """Stripe width for the grouped merge: aim for ~4 stripes per
    shuffle partition across the ordinal space, clamped to
    [_MIN_STRIPE, _MAX_STRIPE]."""
    target = -(-max(1, n_docs) // max(1, n_parts * 4))
    return max(_MIN_STRIPE, min(_MAX_STRIPE, target))


def _binary_from_offsets(n: int, offsets: np.ndarray, data: np.ndarray):
    """Zero-copy pa.BinaryArray over `data` (uint8) cut at `offsets`
    (int64, len n+1, ascending, offsets[0] == 0)."""
    import pyarrow as pa

    # Arrow binary offsets are int32; a >2 GiB flush group would wrap
    # silently in the cast below (corrupt slices, no exception). The
    # flush thresholds keep real groups far below this — fail loudly if
    # an extreme corpus ever reaches it rather than emit garbage.
    if n and int(offsets[-1]) > np.iinfo(np.int32).max:
        raise ValueError(
            f"binary region of {int(offsets[-1])} bytes exceeds Arrow "
            "32-bit binary offsets; lower _FLUSH_POSTINGS or the segment "
            "size so flush groups stay under 2 GiB"
        )
    return pa.Array.from_buffers(
        pa.binary(),
        n,
        [
            None,
            pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int32)),
            pa.py_buffer(data),
        ],
    )


def _runs_binary(arr, run_bounds: np.ndarray):
    """Per-run concatenations of a BinaryArray whose rows are already in
    run order: run i = bytes of rows run_bounds[i]:run_bounds[i+1].
    Zero-copy — new offsets over the array's own value buffer."""
    import pyarrow as pa

    n = len(arr)
    if n == 0:
        return _binary_from_offsets(
            len(run_bounds) - 1,
            np.zeros(len(run_bounds), dtype=np.int64),
            np.empty(0, dtype=np.uint8),
        )
    off_t = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=off_t)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    bounds = offs[run_bounds]
    base = int(bounds[0])
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[
        base : int(bounds[-1])
    ]
    return _binary_from_offsets(len(run_bounds) - 1, bounds - base, data)


def _group_runs_arrow_factory(
    stripe_width: int,
    with_batch: bool = False,
    with_doc_rows: bool = False,
):
    """mapInArrow factory over analyzed per-posting rows (term, doc_ord,
    positions_vb, meta_vb[, batch, doc_id, dl]): emits GROUPED_SCHEMA
    (or GROUPED_BATCH_SCHEMA) rows — one per (term, stripe[, batch]) run
    of this task's accumulated input, postings ord-sorted and
    delta+varbyte-packed within the run. With `with_doc_rows` one DOC
    ROW per distinct document OF EACH FLUSH is emitted alongside
    (stripe = DOC_ROW_STRIPE, term = doc_id, n = dl, doc_ords_vb =
    varbyte(ord)). A document whose posting rows straddle a flush
    boundary (Spark re-slices the analyzer's output frames into 10k-row
    Arrow batches) yields one IDENTICAL doc row per flush — consumers
    dedupe by doc_id (build_doc_len_from_flat); min/max lineage stats
    are duplicate-immune.
    Accumulates ~_FLUSH_POSTINGS rows before grouping so runs amortize
    over far more than one incoming 10k-row Arrow batch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from apt_search_engine_spark.indexing import codec

    def _cat(chunks):
        return pa.concat_arrays(chunks) if len(chunks) > 1 else chunks[0]

    def _flush(acc):
        terms = _cat(acc["term"])
        denc = pc.dictionary_encode(terms)
        codes = denc.indices.to_numpy().astype(np.int64)
        ords = (
            np.concatenate(acc["ord"])
            if len(acc["ord"]) > 1
            else acc["ord"][0]
        )
        m = codes.size
        if m == 0:
            return
        batches_np = None
        if with_batch:
            batches_np = (
                np.concatenate(acc["batch"])
                if len(acc["batch"]) > 1
                else acc["batch"][0]
            )
        # stripe = ord // width is monotone in ord, so sorting by
        # (code, ord) already orders by (code, stripe, ord); batch is
        # the outermost key (the checkpoint partitions by it)
        keys = (ords, codes) if not with_batch else (ords, codes, batches_np)
        order = np.lexsort(keys)
        codes_s = codes[order]
        ords_s = ords[order]
        stripes_s = ords_s // stripe_width
        neq = (codes_s[1:] != codes_s[:-1]) | (
            stripes_s[1:] != stripes_s[:-1]
        )
        if with_batch:
            b_s = batches_np[order]
            neq = neq | (b_s[1:] != b_s[:-1])
        change = np.flatnonzero(neq) + 1
        run_starts = np.concatenate((np.zeros(1, dtype=np.int64), change))
        run_bounds = np.concatenate((run_starts, [m]))
        take_idx = pa.array(order)
        pos_taken = pc.take(_cat(acc["pos"]), take_idx)
        meta_taken = pc.take(_cat(acc["meta"]), take_idx)
        ords_buf, ords_offs = codec.encode_doc_ids_segmented(
            ords_s, run_starts
        )
        doc_ords_vb = _binary_from_offsets(
            len(run_starts), ords_offs, np.frombuffer(ords_buf, np.uint8)
        )
        term_col = pc.take(denc.dictionary, pa.array(codes_s[run_starts]))
        arrays = [
            term_col,
            pa.array(stripes_s[run_starts].astype(np.int32)),
            pa.array(np.diff(run_bounds).astype(np.int32)),
            doc_ords_vb,
            _runs_binary(pos_taken, run_bounds),
            _runs_binary(meta_taken, run_bounds),
        ]
        names = [
            "term", "stripe", "n",
            "doc_ords_vb", "positions_vb", "meta_vb",
        ]
        if with_batch:
            arrays.append(pa.array(b_s[run_starts].astype(np.int32)))
            names.append("batch")
        yield pa.RecordBatch.from_arrays(arrays, names=names)
        if with_doc_rows:
            u_ords, uidx = np.unique(ords, return_index=True)
            nd = u_ords.size
            dbuf, doffs = codec.encode_doc_ids_segmented(
                u_ords, np.arange(nd, dtype=np.int64)
            )
            dls = (
                np.concatenate(acc["dl"])
                if len(acc["dl"]) > 1
                else acc["dl"][0]
            )
            empty = _binary_from_offsets(
                nd, np.zeros(nd + 1, np.int64), np.empty(0, np.uint8)
            )
            d_arrays = [
                pc.take(_cat(acc["doc_id"]), pa.array(uidx)),
                pa.array(np.full(nd, DOC_ROW_STRIPE, np.int32)),
                pa.array(dls[uidx].astype(np.int32)),
                _binary_from_offsets(
                    nd, doffs, np.frombuffer(dbuf, np.uint8)
                ),
                empty,
                empty,
            ]
            if with_batch:
                d_arrays.append(pa.array(batches_np[uidx].astype(np.int32)))
            yield pa.RecordBatch.from_arrays(d_arrays, names=names)

    in_cols = ["term", "ord", "pos", "meta"]
    if with_batch:
        in_cols.append("batch")
    if with_doc_rows:
        in_cols += ["doc_id", "dl"]

    def group(batches):
        acc: dict[str, list] = {c: [] for c in in_cols}
        cnt = 0
        for batch in batches:
            if not batch.num_rows:
                continue
            col = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            acc["term"].append(col["term"])
            acc["ord"].append(col["doc_ord"].to_numpy())
            acc["pos"].append(col["positions_vb"])
            acc["meta"].append(col["meta_vb"])
            if with_batch:
                acc["batch"].append(
                    col["batch"].to_numpy().astype(np.int64)
                )
            if with_doc_rows:
                acc["doc_id"].append(col["doc_id"])
                acc["dl"].append(col["dl"].to_numpy())
            cnt += batch.num_rows
            if cnt >= _FLUSH_POSTINGS:
                yield from _flush(acc)
                acc = {c: [] for c in in_cols}
                cnt = 0
        if cnt:
            yield from _flush(acc)

    return group


def _binary_parts(arr) -> tuple[np.ndarray, np.ndarray]:
    """(byte_offsets int64 rebased to 0, data uint8) of a BinaryArray."""
    import pyarrow as pa

    n = len(arr)
    if n == 0:
        return np.zeros(1, np.int64), np.empty(0, np.uint8)
    off_t = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=off_t)[
        arr.offset : arr.offset + n + 1
    ].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)[
        int(offs[0]) : int(offs[-1])
    ]
    return offs - offs[0], data


def _ungroup_runs(batches):
    """Generator adapter: GROUPED_SCHEMA batches (sorted by term, stripe
    within the partition) -> per-posting RecordBatches sorted by
    (term, doc_ord), columns exactly (term, *_COLS_ORD) with meta
    expanded — the stream _assemble_arrow_factory consumes.

    Fully batch-vectorized: each incoming batch is decoded (ords, meta,
    positions boundaries) in one codec pass per column, posting order is
    restored with ONE lexsort over (group id, ord), and gathers are
    numpy fancy-indexing / pc.take — no per-run or per-group Python.
    Only the trailing (term, stripe) group of each batch is held back
    (it may continue in the next batch; bounded by stripe width)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from apt_search_engine_spark.indexing import codec

    # pending: raw per-run components of the (possibly) open last group
    pend: dict | None = None  # term, stripe, ords/pos/meta (offs, data), n

    def _pack(term_arr, stripes, ns, ords_p, pos_p, meta_p, lo, hi):
        """Slice run components [lo:hi) into a pending dict."""
        o_off, o_dat = ords_p
        p_off, p_dat = pos_p
        m_off, m_dat = meta_p
        return {
            "term": term_arr[lo].as_py(),
            "stripe": int(stripes[lo]),
            "n_runs": hi - lo,
            "ns": ns[lo:hi].copy(),
            "ords": (o_off[lo : hi + 1] - o_off[lo],
                     o_dat[o_off[lo] : o_off[hi]].copy()),
            "pos": (p_off[lo : hi + 1] - p_off[lo],
                    p_dat[p_off[lo] : p_off[hi]].copy()),
            "meta": (m_off[lo : hi + 1] - m_off[lo],
                     m_dat[m_off[lo] : m_off[hi]].copy()),
        }

    def _process(terms_pa, stripes, ns, ords_p, pos_p, meta_p, gid):
        """Vectorized ungroup of complete runs: gid = 0-based group id
        per run (ascending). Returns a per-posting RecordBatch sorted by
        (group, ord)."""
        o_off, o_dat = ords_p
        p_off, p_dat = pos_p
        m_off, m_dat = meta_p
        ords, _ = codec.decode_doc_ids_region(o_dat, o_off)
        n_post = ords.size
        if n_post == 0:
            return None
        meta = _decode_meta_np(n_post, m_dat)
        pos_offs = codec.split_varbyte_stream(
            p_dat, meta["occ"].astype(np.int64)
        )
        post_gid = np.repeat(gid, ns)
        order = np.lexsort((ords, post_gid))
        pos_sorted = pc.take(
            _binary_from_offsets(n_post, pos_offs, p_dat),
            pa.array(order),
        )
        # group id -> term string: take the term of each group's first
        # run; per-posting term = dictionary over sorted group ids
        run_first = np.concatenate(
            (np.zeros(1, np.int64), 1 + np.flatnonzero(np.diff(gid)))
        )
        group_terms = pc.take(terms_pa, pa.array(run_first))
        term_col = pc.cast(
            pa.DictionaryArray.from_arrays(
                pa.array(post_gid[order].astype(np.int32)), group_terms
            ),
            terms_pa.type,
        )
        arrays = [term_col]
        for c in _COLS_ORD:
            if c == "doc_ord":
                arrays.append(pa.array(ords[order]))
            elif c == "positions_vb":
                arrays.append(pos_sorted)
            else:
                arrays.append(pa.array(meta[c][order]))
        return pa.RecordBatch.from_arrays(arrays, names=["term", *_COLS_ORD])

    def _merge_pending(pend, terms_pa, stripes, ns, ords_p, pos_p, meta_p):
        """Prepend pending runs to the batch's run components."""
        k = pend["n_runs"]
        terms_pa = pa.concat_arrays(
            [
                pc.cast(pa.array([pend["term"]] * k), terms_pa.type),
                terms_pa,
            ]
        )
        stripes = np.concatenate(
            (np.full(k, pend["stripe"], dtype=stripes.dtype), stripes)
        )
        ns = np.concatenate((pend["ns"], ns))

        def _cat(a, b):
            ao, ad = a
            bo, bd = b
            return (
                np.concatenate((ao[:-1], bo + ao[-1])),
                np.concatenate((ad, bd)),
            )

        return (
            terms_pa,
            stripes,
            ns,
            _cat(pend["ords"], ords_p),
            _cat(pend["pos"], pos_p),
            _cat(pend["meta"], meta_p),
        )

    for batch in batches:
        if not batch.num_rows:
            continue
        col = {
            name: batch.column(i)
            for i, name in enumerate(batch.schema.names)
        }
        terms_pa = col["term"]
        stripes = col["stripe"].to_numpy()
        ns = col["n"].to_numpy().astype(np.int64)
        ords_p = _binary_parts(col["doc_ords_vb"])
        pos_p = _binary_parts(col["positions_vb"])
        meta_p = _binary_parts(col["meta_vb"])
        if pend is not None:
            terms_pa, stripes, ns, ords_p, pos_p, meta_p = _merge_pending(
                pend, terms_pa, stripes, ns, ords_p, pos_p, meta_p
            )
            pend = None
        n_runs = len(terms_pa)
        # 0-based ascending group id per run (input sorted by term,stripe)
        denc = pc.dictionary_encode(terms_pa)
        codes = denc.indices.to_numpy().astype(np.int64)
        change = (codes[1:] != codes[:-1]) | (stripes[1:] != stripes[:-1])
        gid = np.concatenate(
            (np.zeros(1, np.int64), np.cumsum(change, dtype=np.int64))
        )
        # hold back the trailing group — it may continue next batch
        last_start = (
            int(1 + np.flatnonzero(change)[-1]) if change.any() else 0
        )
        pend = _pack(
            terms_pa, stripes, ns, ords_p, pos_p, meta_p,
            last_start, n_runs,
        )
        if last_start:
            o_off, o_dat = ords_p
            p_off, p_dat = pos_p
            m_off, m_dat = meta_p
            out = _process(
                terms_pa.slice(0, last_start),
                stripes[:last_start],
                ns[:last_start],
                (o_off[: last_start + 1], o_dat[: o_off[last_start]]),
                (p_off[: last_start + 1], p_dat[: p_off[last_start]]),
                (m_off[: last_start + 1], m_dat[: m_off[last_start]]),
                gid[:last_start],
            )
            if out is not None:
                yield out
    if pend is not None:
        terms_pa, stripes, ns, ords_p, pos_p, meta_p = _merge_pending(
            pend,
            pa.array([], type=pa.string()),
            np.empty(0, np.int32),
            np.empty(0, np.int64),
            (np.zeros(1, np.int64), np.empty(0, np.uint8)),
            (np.zeros(1, np.int64), np.empty(0, np.uint8)),
            (np.zeros(1, np.int64), np.empty(0, np.uint8)),
        )
        out = _process(
            terms_pa, stripes, ns, ords_p, pos_p, meta_p,
            np.zeros(len(terms_pa), np.int64),
        )
        if out is not None:
            yield out


def _assemble_grouped_arrow_factory(cap: int):
    """Grouped-exchange assembler: ungroup the (term, stripe) runs back
    to sorted per-posting batches and feed the standard Arrow assembler —
    same segments, same bytes (modulo boundary placement, which is
    partitioner-dependent in every layout)."""
    inner = _assemble_arrow_factory(cap)

    def assemble(batches):
        return inner(_ungroup_runs(batches))

    return assemble


def _assemble_arrow_factory(cap: int):
    """mapInArrow pass over (term, doc_ord)-sorted per-posting rows
    (columns term + _COLS_ORD): emit one segment row per run of <= cap
    postings of one term (pinned against a plain-Python reference in
    tests/test_build.py). Every output segment's list columns are
    CONTIGUOUS RUNS of the input columns, so output ListArrays are built
    as (absolute chunk offsets, the untouched input column) pairs — zero
    copies for everything emitted from the current batch; the only copies
    are the per-term carry buffer between batches (< cap rows) and
    Arrow's own output serialization."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = _COLS_ORD
    out_names = ["term"] + [_PLURAL[c] for c in cols]

    def _mk_batch(term_arr, vals: dict, offs: np.ndarray):
        """offs are ABSOLUTE posting indices into vals' columns (monotone,
        len = n_segments + 1). Emitted as 0-BASED offsets over a zero-copy
        SLICE of each column: Spark's Arrow IPC boundary truncates child
        buffers assuming list offsets start at 0, so non-rebased offsets
        arrive corrupted (probed: [[4,5],[null,null]] for offsets [2,4,6])
        while sliced values round-trip exactly."""
        lo = int(offs[0])
        ln = int(offs[-1]) - lo
        off_pa = pa.array(offs - lo, type=pa.int32())
        arrays = [term_arr]
        for c in cols:
            v = vals[c]
            arrays.append(
                pa.ListArray.from_arrays(
                    off_pa, v.slice(lo, ln) if lo or ln < len(v) else v
                )
            )
        return pa.RecordBatch.from_arrays(arrays, names=out_names)

    def _chunk_bounds(run_starts: np.ndarray, run_ends: np.ndarray):
        """Chunk every run into <= cap pieces; returns (offsets, starts):
        offsets = absolute boundaries (len = n_chunks + 1, first =
        run_starts[0]; runs must be contiguous), starts = each chunk's
        absolute start index (for pc.take of the term column)."""
        lens = run_ends - run_starts
        n_chunks = (lens + cap - 1) // cap
        tot = int(n_chunks.sum())
        chunk_run = np.repeat(np.arange(len(lens)), n_chunks)
        first = np.cumsum(n_chunks) - n_chunks
        within = (np.arange(tot) - first[chunk_run]) * cap
        starts = run_starts[chunk_run] + within
        ends = np.minimum(starts + cap, run_ends[chunk_run])
        offs = np.empty(tot + 1, dtype=np.int64)
        offs[0] = run_starts[0] if len(lens) else 0
        offs[1:] = ends
        return offs, starts

    def assemble(batches):
        cur_term: str | None = None
        buf: list[dict] = []  # per-column array slices of ONE open term
        buf_n = 0
        term_type = [None]

        def _buf_vals():
            return {
                c: (
                    pa.concat_arrays([p[c] for p in buf])
                    if len(buf) > 1
                    else buf[0][c]
                )
                for c in cols
            }

        def _term_arr(n_seg: int):
            arr = pa.array([cur_term] * n_seg)
            return arr.cast(term_type[0]) if term_type[0] is not None else arr

        def _flush_buffer_final():
            """The carried term ended: emit its remaining postings as
            final segments (ceil chunks, last one short)."""
            nonlocal buf, buf_n
            if buf_n == 0:
                buf = []
                return None
            vals = _buf_vals()
            offs, _ = _chunk_bounds(
                np.zeros(1, dtype=np.int64), np.array([buf_n], dtype=np.int64)
            )
            out = _mk_batch(_term_arr(len(offs) - 1), vals, offs)
            buf, buf_n = [], 0
            return out

        def _drain_buffer_caps():
            """The carried term is still open: emit only FULL cap chunks,
            keep the remainder carried."""
            nonlocal buf, buf_n
            n_full = buf_n // cap
            if not n_full:
                return None
            vals = _buf_vals()
            offs = (np.arange(n_full + 1, dtype=np.int64) * cap)
            out = _mk_batch(_term_arr(n_full), vals, offs)
            rem = buf_n - n_full * cap
            if rem:
                buf = [{c: vals[c].slice(n_full * cap, rem) for c in cols}]
                buf_n = rem
            else:
                buf, buf_n = [], 0
            return out

        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            terms = col["term"]
            term_type[0] = terms.type
            if n > 1:
                neq = pc.not_equal(
                    terms.slice(1), terms.slice(0, n - 1)
                ).to_numpy(zero_copy_only=False)
                run_starts = np.concatenate(
                    ([0], np.flatnonzero(neq) + 1)
                ).astype(np.int64)
            else:
                run_starts = np.zeros(1, dtype=np.int64)
            run_ends = np.append(run_starts[1:], n)
            first_term = terms[0].as_py()
            k = len(run_starts)

            # 1. the carried term does not continue: flush it fully
            if buf_n and first_term != cur_term:
                out = _flush_buffer_final()
                if out is not None:
                    yield out
            # 2. first run continues the carried term
            ri = 0
            if buf_n and first_term == cur_term:
                buf.append({c: col[c].slice(0, int(run_ends[0])) for c in cols})
                buf_n += int(run_ends[0])
                ri = 1
                if k == 1:
                    # the whole batch is one continuing term: emit full
                    # chunks, keep the remainder carried
                    out = _drain_buffer_caps()
                    if out is not None:
                        yield out
                    continue
                out = _flush_buffer_final()
                if out is not None:
                    yield out
            # 3. complete runs (terms that both start and end in batch)
            last_start = int(run_starts[-1])
            if k - ri >= 2:
                offs, seg_starts = _chunk_bounds(
                    run_starts[ri : k - 1], run_ends[ri : k - 1]
                )
                yield _mk_batch(
                    pc.take(terms, pa.array(seg_starts)), col, offs
                )
            # 4. last run may continue into the next batch: emit full cap
            # chunks now, carry the remainder
            cur_term = terms[n - 1].as_py()
            run_len = n - last_start
            n_full = run_len // cap
            if n_full:
                offs = last_start + np.arange(n_full + 1, dtype=np.int64) * cap
                yield _mk_batch(
                    pc.take(terms, pa.array(offs[:-1])), col, offs
                )
            rem = run_len - n_full * cap
            buf, buf_n = [], 0
            if rem:
                buf = [
                    {
                        c: col[c].slice(last_start + n_full * cap, rem)
                        for c in cols
                    }
                ]
                buf_n = rem

        out = _flush_buffer_final()
        if out is not None:
            yield out

    return assemble


def _flatten_segments_arrow_factory():
    """mapInArrow pass that explodes SEGMENT rows (plural array columns)
    back to flat posting rows (singular columns) with zero-copy child
    buffers: each list column's values are taken via ListArray.flatten()
    (offset-aware, no per-element Python) and the term column is repeated
    with one vectorized take. Composes with _assemble_arrow_factory to
    re-chunk segments at a new cap (rechunk_segments): input segments
    sorted by (term, first ordinal) yield flat rows sorted by
    (term, doc_ord), exactly the assembler's input contract."""
    import pyarrow as pa
    import pyarrow.compute as pc

    cols = _COLS_ORD

    def flatten(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            col = {
                name: batch.column(i)
                for i, name in enumerate(batch.schema.names)
            }
            lens = (
                pc.list_value_length(col[_PLURAL[cols[0]]])
                .to_numpy()
                .astype(np.int64)
            )
            idx = pa.array(np.repeat(np.arange(n), lens))
            arrays = [pc.take(col["term"], idx)]
            for c in cols:
                arrays.append(col[_PLURAL[c]].flatten())
            yield pa.RecordBatch.from_arrays(
                arrays, names=["term", *cols]
            )

    return flatten


def merge_postings(
    flat: DataFrame,
    max_per_row: int = MAX_POSTINGS_PER_ROW,
    doc_map: DataFrame | None = None,
    n_docs_hint: int | None = None,
    _stripe_width: int | None = None,
) -> DataFrame:
    """Stage 2: sort-based segment assembly -> one row per (term, segment
    of <= max_per_row docs), postings sorted by doc ordinal within and
    across a term's segments, scalar ordinal-range columns (so lineage
    stats never re-read the nested postings column). df deliberately does
    NOT live here — see build_lexicon / schema.py LEXICON for why
    (head-term colocation is a straggler at 10^12 turns).

    Two input shapes, ONE exchange: (term, stripe) runs range-partitioned
    by bucket_ranged(runs, n_parts, "stripe") into the grouped Arrow
    assembler (GROUPED_SCHEMA rationale above).
      - pre-grouped runs (layout v13 analyze checkpoint, the batch
        build): the doc rows and the batch id drop, the runs go straight
        to the exchange — ordinals were stamped before grouping;
      - per-posting analyzed rows (stream-analyzed batches: the compact
        bootstrap and increments), grouped here by
        _group_runs_arrow_factory. Their ordinals come from a `doc_ord`
        column on `flat`, or from an explicit `doc_map` (doc_id ->
        doc_ord) frame joined here — compaction deltas (a delta-sized
        join) and stream batches cannot know ordinals at arrival.
    A frame with neither ordinals nor a doc_map is refused."""
    # explicit partition count: the stage downstream of this exchange is
    # the Arrow assembly, so size it by cores (2 waves), not by the
    # 64MB-per-partition heuristic AQE would coalesce to
    n_parts = max(
        flat.sparkSession.sparkContext.defaultParallelism * 2,
        int(flat.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")),
    )
    if "stripe" in flat.columns:
        if doc_map is not None:
            raise ValueError("pre-grouped frames carry final ordinals")
        runs = flat.filter(F.col("stripe") >= 0).select(
            "term", "stripe", "n",
            "doc_ords_vb", "positions_vb", "meta_vb",
        )
    else:
        if doc_map is not None:
            # an explicit map always wins: compaction deltas re-assign
            # above the existing ordinal space, so any stamped value is
            # stale here
            if "doc_ord" in flat.columns:
                flat = flat.drop("doc_ord")
            flat = flat.join(doc_map, "doc_id")
        elif "doc_ord" not in flat.columns:
            raise ValueError(
                "merge_postings needs doc ordinals: a doc_ord column on "
                "the analyzed rows or a doc_map to join"
            )
        if _stripe_width is not None:
            width = _stripe_width  # tests: force multi-stripe splitting
        else:
            if n_docs_hint is None:
                # one narrow column agg over the analyzed frame; builder
                # paths pass the known corpus size instead
                n_docs_hint = (
                    flat.agg(F.max("doc_ord").alias("m")).first()["m"] or 0
                ) + 1
            width = stripe_width_for(int(n_docs_hint), n_parts)
        runs = flat.select(
            "term", "doc_ord", "positions_vb", "meta_vb"
        ).mapInArrow(_group_runs_arrow_factory(width), GROUPED_SCHEMA)
    assembled = bucket_ranged(runs, n_parts, "stripe").mapInArrow(
        _assemble_grouped_arrow_factory(max_per_row), _ASSEMBLED_SCHEMA_ORD
    )
    return _finish_segments(assembled)


def rechunk_segments(
    src: DataFrame,
    n_parts: int,
    cap: int = MAX_POSTINGS_PER_ROW,
    posting_filter=None,
) -> DataFrame:
    """Re-chunk stored segment rows at `cap` — the one rewrite pass of
    every maintenance job that moves postings without re-analyzing them
    (streaming/ingest.recompact, indexing/deletes.purge_deleted,
    indexing/merge.merge_indexes). All of a term's segments colocate in
    one task, sorted by their first ordinal (segment ordinal ranges are
    disjoint, so concatenation keeps doc_ords ascending), flatten back
    to posting rows zero-copy and re-assemble through the build's Arrow
    assembler. `posting_filter`, when given, maps the flattened
    per-posting Arrow batches (columns term + _COLS_ORD) before assembly
    — purge drops tombstoned ordinals there.

    The exchange ranges by (term_bucket, term) only, never by segment: a
    partition boundary between two segments of one term would leave one
    per side (guaranteed under the stripe-grouped merge, which emits one
    segment per (term, stripe-range) partition), so the fold could not
    reach full segments. The cost is one serial task per head term,
    during maintenance only; memory stays bounded because the assembler
    streams segment rows and emits every `cap` postings."""
    ranged = bucket_ranged(
        src.withColumn("seg_lo", F.expr("doc_ords[0]")),
        n_parts, "seg_lo", split_terms=False,
    )
    flatten = _flatten_segments_arrow_factory()
    assemble = _assemble_arrow_factory(cap)

    def rechunk(batches):
        flat = flatten(batches)
        if posting_filter is not None:
            flat = posting_filter(flat)
        return assemble(flat)

    return _finish_segments(
        ranged.mapInArrow(rechunk, _ASSEMBLED_SCHEMA_ORD)
    )


def term_bucket_col():
    """The postings/lexicon/blocks directory partition key:
    pmod(xxhash64(term), N_TERM_BUCKETS)."""
    return F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int")


def bucket_ranged(
    df: DataFrame, n_parts: int, sub_key: str, split_terms: bool = True
) -> DataFrame:
    """The exchange in front of every partitionBy("term_bucket") postings
    write: range-partition on (term_bucket, term, sub_key) and sort
    within partitions on the same keys, stamping term_bucket if absent.
    Each task then holds one contiguous bucket range, so a write makes
    at most N_TERM_BUCKETS + n_parts - 1 files (a term-only range put
    every task into every bucket: n_parts x N_TERM_BUCKETS small files,
    each its own blocks-pass split), and rows stay term-sorted inside a
    file for row-group pruning. A term's rows stay contiguous and
    sub_key-ordered, which is all the assemblers read. split_terms=False
    ranges on (term_bucket, term) only, so every row of a term lands in
    one task: the rechunk passes (purge, merge, recompact) fold all of a
    term's segments."""
    if "term_bucket" not in df.columns:
        df = df.withColumn("term_bucket", term_bucket_col())
    keys = ["term_bucket", "term", sub_key]
    return df.repartitionByRange(
        n_parts, *keys[: 3 if split_terms else 2]
    ).sortWithinPartitions(*keys)


def _finish_segments(assembled: DataFrame) -> DataFrame:
    """Shared tail of every segment writer (merge_postings,
    rechunk_segments): term bucket + scalar ordinal-range columns, in the
    one stored column order. Storage stays columnar-in-row (parallel
    arrays, tag prefix counts): materializing array<struct> +
    per-position tag strings here costs an unvectorized codegen loop per
    32k-element row and multiplies index bytes — consumers reconstruct
    lazily via with_postings_struct on term-pruned reads (schema.py
    POSTINGS rationale)."""
    # scalar ordinal range per segment (lineage stats / range pruning
    # without touching the nested arrays); doc_id strings appear nowhere
    # — doc_map translates where a consumer needs them
    return (
        assembled.withColumn("term_bucket", term_bucket_col())
        .withColumn("ord_lo", F.expr("doc_ords[0]"))
        .withColumn("ord_hi", F.expr("element_at(doc_ords, -1)"))
        .select(
            "term", "doc_ords", "positions_vb", *_N_PLURALS,
            "ord_lo", "ord_hi", "term_bucket", "occs", "dls", "xtras",
        )
    )


def build_lexicon(postings: DataFrame) -> DataFrame:
    """Lexicon (term -> df) from segment rows. A partial-aggregated
    groupBy over (term, size(doc_ords)) scalars: map-side combine collapses
    each partition to its distinct terms, so a head term contributes at
    most one row per partition to the shuffle — no colocation of its
    posting data, no skew (schema.py LEXICON rationale). df = sum of
    segment sizes = the term's true document frequency (what the reference
    reads as postings-map size, Ranker.java:194)."""
    return postings.groupBy("term_bucket", "term").agg(
        F.sum(F.size("doc_ords")).cast("int").alias("df")
    ).select("term", "df", "term_bucket")


def build_lexicon_from_flat(flat: DataFrame) -> DataFrame:
    """Lexicon straight from the analyzed checkpoint: df = count per
    term. Per-posting frames count rows; grouped (v13) checkpoints sum
    the per-run posting counts over (term, n) — runs, not postings,
    reach the aggregate. Columnar pruning either way — building from
    written postings would re-scan the nested arrays of the whole
    index. Same skew-free partial aggregate as build_lexicon."""
    if "stripe" in flat.columns:
        agg = (
            flat.filter(F.col("stripe") >= 0)
            .groupBy("term")
            .agg(F.sum("n").cast("int").alias("df"))
        )
    else:
        agg = flat.groupBy("term").agg(F.count("*").cast("int").alias("df"))
    return agg.withColumn("term_bucket", term_bucket_col()).select(
        "term", "df", "term_bucket"
    )


def build_doc_len_from_flat(flat: DataFrame) -> DataFrame:
    """Per-doc length table (doc_id, dl) for BM25: dl = total admitted
    token occurrences in the doc = sum of per-(doc, term) raw occurrence
    counts. Reads ONLY (doc_id, occ) — a narrow columnar scan with
    map-side combine (one row per doc reaches the shuffle); the fat
    positions arrays are never touched. Docs with zero admitted tokens
    carry no postings and so never appear here; query paths coalesce a
    missing dl to 0 (they can only see docs that DO have postings).

    Grouped (v13) checkpoints carry DOC ROWS (stripe == DOC_ROW_STRIPE,
    term = doc_id, n = dl): the table is a columnar FILTER of the
    checkpoint — no per-posting aggregate at all. dropDuplicates because
    a doc whose posting rows straddled a group-pass flush emitted one
    identical doc row per flush."""
    if "stripe" in flat.columns:
        return (
            flat.filter(F.col("stripe") == DOC_ROW_STRIPE)
            .select(
                F.col("term").alias("doc_id"),
                F.col("n").cast("long").alias("dl"),
            )
            .dropDuplicates(["doc_id"])
        )
    return flat.groupBy("doc_id").agg(
        F.sum("occ").cast("long").alias("dl")
    )


# exploded-entry expressions shared by the reconstructed view and the query
# engine: tags rebuilt from prefix counts (analyzer emits channel-order
# prefixes then body), struct view zipped from the parallel arrays
def _tags_from_counts(prefix: str, pos: str) -> str:
    channels = ("title", "h1", "h2", "h3", "h456")
    reps = ", ".join(
        f"array_repeat('{c}', {prefix}n_{c}s)" for c in channels
    )
    body_n = " - ".join([f"size({pos})"] + [f"{prefix}n_{c}s" for c in channels])
    return f"concat({reps}, array_repeat('body', {body_n}))"


def decode_positions_list_udf():
    """Arrow-batched decoder: per-segment `positions_vb array<binary>`
    (layout v9) -> `array<array<int>>`. For pruned/API reads only — the
    scoring paths never decode positions; the phrase adjacency path
    decodes per exploded posting (query/engine)."""
    from apt_search_engine_spark.indexing import codec

    @F.pandas_udf("array<array<int>>")
    def _d(s: pd.Series) -> pd.Series:
        # one vectorized codec pass over the whole batch's blobs
        lens = [len(lst) for lst in s]
        flat = codec.decode_doc_ids_many(
            [bytes(b) for lst in s for b in lst]
        )
        out, i = [], 0
        for ln in lens:
            out.append([a.astype(np.int32, copy=False) for a in flat[i : i + ln]])
            i += ln
        return pd.Series(out)

    return _d


def with_postings_struct(df: DataFrame, doc_map: DataFrame) -> DataFrame:
    """Compatibility/API view: adds the `postings
    array<struct<doc_id,tf,positions,tags>>` column reconstructed from the
    compact parallel arrays (varbyte positions decoded). Use on
    term-pruned reads (tests, exports) — NOT on the build hot path.

    Segments store ordinals only (layout v8: no doc_id strings on disk),
    so the index's `doc_map` translates: the arrays are exploded, joined,
    and regrouped per segment — fine for pruned/test reads, never for the
    build path."""
    if "positions_vb" in df.columns and "positions" not in df.columns:
        df = df.withColumn(
            "positions", decode_positions_list_udf()(F.col("positions_vb"))
        )
    tags = _tags_from_counts("x.", "x.positions")
    # tf derived per entry (layout v10: not stored) — same float64
    # division the analyzer performed
    tf = (
        "(CAST(x.occs + 1 AS DOUBLE) / CAST(x.dls + x.xtras AS DOUBLE))"
    )
    # Content-derived segment key: segments partition each term's
    # ordinal space, so (term, first ordinal) is unique — unlike
    # monotonically_increasing_id(), it is stable when the two branches
    # of this fork-join recompute the scan independently (m.i.id is
    # partition-layout-dependent and silently zipped wrong doc_ids onto
    # segments when task placement differed).
    seg = df.withColumn(
        "_seg",
        F.concat_ws(
            "\x00",
            F.col("term"),
            F.element_at("doc_ords", 1).cast("string"),
        ),
    )
    ex = seg.select(
        "_seg",
        F.explode(F.col("doc_ords")).alias("doc_ord"),
    ).join(doc_map, "doc_ord")
    rebuilt = ex.groupBy("_seg").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_ord", "doc_id"))
        ).alias("_entries")
    ).select(
        "_seg",
        F.expr("transform(_entries, x -> x.doc_id)").alias("doc_ids"),
    )
    df = seg.join(rebuilt, "_seg").drop("_seg")
    zipped = (
        "arrays_zip(doc_ids, positions, occs, dls, xtras, "
        + ", ".join(_N_PLURALS)
        + ")"
    )
    return df.withColumn(
        "postings",
        F.expr(
            f"transform({zipped}, "
            f"x -> struct(x.doc_ids as doc_id, {tf} as tf, "
            f"x.positions as positions, {tags} as tags))"
        ),
    )


class IndexBuilder:
    """Builds (and resumes) an index at `index_dir` from a transcripts
    DataFrame source."""

    def __init__(self, spark: SparkSession, index_dir: str, n_batches: int = 4,
                 max_per_row: int = MAX_POSTINGS_PER_ROW,
                 channels: tuple = DEFAULT_CHANNELS):
        self.spark = spark
        self.index_dir = index_dir
        self.n_batches = n_batches
        self.max_per_row = max_per_row
        self.channels = channels
        # wall seconds per build phase, filled by build()/merge_and_write()
        # — scaling work needs to know WHICH job stops speeding up with
        # cores, not just the total (BASELINE.md ladder analysis)
        self.phase_sec: dict[str, float] = {}

    def _phase(self, name: str, t0: float) -> float:
        now = time.time()
        self.phase_sec[name] = round(
            self.phase_sec.get(name, 0.0) + (now - t0), 2
        )
        return now

    @property
    def layout_path(self):
        return os.path.join(self.index_dir, "layout.json")

    def _check_layout(self) -> None:
        """Refuse to resume into an index written by a different layout
        version — mixed analyzed schemas would silently misscore (e.g.
        old files lacking the h2/h3/h456 count columns read as nulls)."""
        if os.path.exists(self.layout_path):
            with open(self.layout_path) as f:
                found = json.load(f).get("layout")
            if found != INDEX_LAYOUT_VERSION:
                raise RuntimeError(
                    f"index at {self.index_dir} has layout {found}, code is "
                    f"layout {INDEX_LAYOUT_VERSION}: rebuild into a fresh dir"
                )
        else:
            os.makedirs(self.index_dir, exist_ok=True)
            with open(self.layout_path, "w") as f:
                json.dump({"layout": INDEX_LAYOUT_VERSION}, f)

    # -- paths ------------------------------------------------------------
    @property
    def analyzed_dir(self):
        return os.path.join(self.index_dir, "analyzed")

    @property
    def postings_dir(self):
        return os.path.join(self.index_dir, "postings")

    @property
    def blocks_dir(self):
        return os.path.join(self.index_dir, "blocks")

    @property
    def lineage_dir(self):
        return os.path.join(self.index_dir, "lineage")

    @property
    def meta_path(self):
        return os.path.join(self.index_dir, "meta.json")

    def _completed_batches(self) -> set[int]:
        # a fresh build has no lineage yet: planning a read of the
        # missing path would raise (and log) PATH_NOT_FOUND
        if not os.path.isdir(self.lineage_dir):
            return set()
        try:
            lin = self.spark.read.parquet(self.lineage_dir)
        except Exception:
            return set()
        rows = (
            lin.filter(F.col("snapshot_id").startswith("analyzed-"))
            .select("partition_id")
            .distinct()
            .collect()
        )
        return {r.partition_id for r in rows}

    def _append_lineage(self, rows: list[dict]):
        from apt_search_engine_spark.schema import LINEAGE

        self.spark.createDataFrame(rows, LINEAGE).coalesce(1).write.mode(
            "append"
        ).parquet(self.lineage_dir)

    # -- stage 1 ----------------------------------------------------------
    def analyze(self, transcripts: DataFrame, build_id: str,
                only_batches: list[int] | None = None) -> int | None:
        """Resumable analyze in ONE input pass: every not-yet-done batch
        is analyzed in a single job writing partitionBy(batch) with
        dynamic partition overwrite (only the touched batch directories
        are replaced — a crashed run's partial files are cleared when its
        batch re-runs), then one lineage row per completed batch.

        A naive implementation loops `for b in range(n_batches)`
        re-filtering the full input scan on a COMPUTED column
        (pmod(xxhash64(conv_id), B)) that no reader can prune — B full
        scans of the corpus, i.e. 64 scans of a 100 TB table at the job
        default. Per-batch lineage stats ride the single write as
        Observation aggregates (small todo sets) or one pruned read-back
        of the analyzed output (large ones) — see inline rationale.

        Returns the input turn count when the run covered every batch
        (observed on the same job — saves build() a full input scan),
        else None. `only_batches` restricts the run (operational partial
        runs / crash simulation in tests); resume granularity is
        unchanged."""
        self._check_layout()
        done = self._completed_batches()
        todo = [
            b
            for b in range(self.n_batches)
            if b not in done and (only_batches is None or b in only_batches)
        ]
        if not todo:
            return None
        t0 = time.time()
        t_ph = t0
        from pyspark.sql import Observation

        # stage 0 — docID space assignment at ingest: dense ordinals for
        # EVERY turn (incl. empty docs: they carry no postings but hold an
        # ordinal, like the uniform prior's n_docs counts them), written
        # once, reused by resumed runs (resume assumes the same input
        # corpus, as the batch hashing already does; growing corpora go
        # through streaming compact()). Stamping doc_ord HERE means the
        # merge shuffle never re-joins the much larger flat posting frame
        # against a corpus-sized doc_map (VERDICT r2 #5); the join below is
        # turn-sized, and broadcast-sized doc_maps keep analyze effectively
        # narrow. A real ingest pipeline would persist doc_ord as a table
        # column and skip even this.
        if not os.path.exists(os.path.join(self.doc_map_dir, "_SUCCESS")):
            from apt_search_engine_spark.indexing.blocks import write_doc_map

            write_doc_map(
                self.spark,
                transcripts.select(doc_id_expr().alias("doc_id")).distinct(),
                self.doc_map_dir,
            )
        t_ph = self._phase("doc_map", t_ph)
        doc_map = self.spark.read.parquet(self.doc_map_dir)
        with_batch = transcripts.withColumn(
            "batch", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_batches)).cast("int")
        )
        with_batch = (
            with_batch.withColumn("doc_id", doc_id_expr())
            .join(doc_map, "doc_id")
            .drop("doc_id")
        )
        full_run = len(todo) == self.n_batches
        obs_in = Observation("analyze-input") if full_run else None
        if full_run:
            # input turn count rides the same job (build() needs n_docs;
            # a separate transcripts.count() is one more full input scan)
            part = with_batch.observe(obs_in, F.count(F.lit(1)).alias("n_turns"))
        else:
            part = with_batch.filter(F.col("batch").isin(todo))
        flat = analyze_transcripts(
            part, extra_cols=("batch", "doc_ord"), channels=self.channels
        )
        # layout v13: the checkpoint is written ALREADY GROUPED — the
        # (term, stripe) run grouping is fused onto the analyze pipeline
        # (same stage, no shuffle, no extra parquet round trip), so the
        # merge reads runs directly and the checkpoint stores varbyte
        # runs instead of per-posting rows. Doc rows (stripe = -1) carry
        # (doc_id, dl) for the BM25 doc-length table and the doc-range
        # lineage stats.
        grouped = flat.select(
            "term", "doc_ord", "positions_vb", "meta_vb",
            "batch", "doc_id", "dl",
        ).mapInArrow(
            _group_runs_arrow_factory(
                self._stripe_width(), with_batch=True, with_doc_rows=True
            ),
            GROUPED_BATCH_SCHEMA,
        )
        # per-batch lineage stats: for small todo sets they RIDE the write
        # as conditional aggregates in one Observation (zero extra jobs —
        # extra driver-side serial jobs are exactly what erodes N->4N
        # scaling efficiency); beyond the threshold the per-row CASE cost
        # of B*5 observed expressions outweighs one pruned columnar
        # read-back of the (much smaller) analyzed output.
        use_obs = len(todo) <= 8
        if use_obs:
            from pyspark.sql import Observation

            obs = Observation("analyze")
            exprs = []
            for b in todo:
                cond = F.col("batch") == b
                post = cond & (F.col("stripe") >= 0)
                docr = cond & (F.col("stripe") == DOC_ROW_STRIPE)
                exprs += [
                    F.sum(F.when(post, F.col("n"))).alias(f"n_{b}"),
                    F.min(F.when(docr, F.col("term"))).alias(f"dlo_{b}"),
                    F.max(F.when(docr, F.col("term"))).alias(f"dhi_{b}"),
                    F.min(F.when(post, F.col("term"))).alias(f"tlo_{b}"),
                    F.max(F.when(post, F.col("term"))).alias(f"thi_{b}"),
                ]
            grouped = grouped.observe(obs, *exprs)
        (
            grouped.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(self.analyzed_dir)
        )
        t_ph = self._phase("analyze", t_ph)
        # the single-pass job covers len(todo) batches at once; record the
        # per-batch SHARE so lineage timing keeps the per-batch semantics
        # consumers had under the old loop (ADVICE r2: the shared job wall
        # on every row inflated per-batch stats n_batches-fold)
        ms = int((time.time() - t0) * 1000 / len(todo))

        class _Row:
            __slots__ = ("n", "dlo", "dhi", "tlo", "thi")

            def __init__(self, n, dlo, dhi, tlo, thi):
                self.n, self.dlo, self.dhi, self.tlo, self.thi = (
                    n, dlo, dhi, tlo, thi,
                )

        if use_obs:
            got = obs.get
            stats = {
                b: _Row(
                    got[f"n_{b}"], got[f"dlo_{b}"], got[f"dhi_{b}"],
                    got[f"tlo_{b}"], got[f"thi_{b}"],
                )
                for b in todo
                if got[f"n_{b}"]
            }
        else:
            post = F.col("stripe") >= 0
            docr = F.col("stripe") == DOC_ROW_STRIPE
            stats = {
                int(r.batch): r
                for r in (
                    self.spark.read.parquet(self.analyzed_dir)
                    .filter(F.col("batch").isin(todo))
                    .groupBy("batch")
                    .agg(
                        F.sum(F.when(post, F.col("n"))).alias("n"),
                        F.min(F.when(docr, F.col("term"))).alias("dlo"),
                        F.max(F.when(docr, F.col("term"))).alias("dhi"),
                        F.min(F.when(post, F.col("term"))).alias("tlo"),
                        F.max(F.when(post, F.col("term"))).alias("thi"),
                    )
                    .collect()
                )
            }
        self._append_lineage(
            [
                {
                    "build_id": build_id,
                    "partition_id": b,
                    "term_lo": stats[b].tlo if b in stats else None,
                    "term_hi": stats[b].thi if b in stats else None,
                    "doc_lo": stats[b].dlo if b in stats else None,
                    "doc_hi": stats[b].dhi if b in stats else None,
                    "n_rows": int(stats[b].n) if b in stats else 0,
                    "n_postings": int(stats[b].n) if b in stats else 0,
                    "build_ms": ms,
                    "snapshot_id": f"analyzed-{b}",
                }
                for b in todo
            ]
        )
        return int(obs_in.get["n_turns"]) if obs_in is not None else None

    @property
    def doc_map_dir(self):
        return os.path.join(self.index_dir, "doc_map")

    def _stripe_width(self) -> int:
        """Stripe width of this index's grouped checkpoint/merge. Chosen
        once from the corpus size (doc_map footers count) and PERSISTED
        in layout.json: resumed analyze runs must cut runs at identical
        ordinal boundaries or the per-term segment disjointness argument
        breaks across batches."""
        with open(self.layout_path) as f:
            layout = json.load(f)
        if "stripe_width" not in layout:
            n_docs = self.spark.read.parquet(self.doc_map_dir).count()
            n_parts = max(
                self.spark.sparkContext.defaultParallelism * 2,
                int(
                    self.spark.conf.get("spark.sql.shuffle.partitions", "32")
                ),
            )
            layout["stripe_width"] = stripe_width_for(n_docs, n_parts)
            with open(self.layout_path, "w") as f:
                json.dump(layout, f)
        return int(layout["stripe_width"])

    # -- stages 2+3 -------------------------------------------------------
    @property
    def lexicon_dir(self):
        return os.path.join(self.index_dir, "lexicon")

    @property
    def doc_len_dir(self):
        return os.path.join(self.index_dir, "doc_len")

    def merge_and_write(
        self,
        build_id: str,
        with_blocks: bool = False,
        transcripts: DataFrame | None = None,
    ) -> int:
        """Stages 2+3. The merge shuffle is the critical path; the three
        side tables that DON'T depend on it — lexicon + doc_len (both read
        only narrow columns of the analyzed output) and doc_meta (reads
        the input `transcripts` when given) — are submitted from threads
        so their tasks fill executor slots the merge's narrow tail stages
        and driver-side gaps (job setup, commit, footer listing) leave
        idle. On a multi-executor cluster this is ordinary concurrent-job
        scheduling; serializing ~4 small jobs behind the big one was pure
        wall-clock loss that N->4N scaling paid for twice (the side jobs'
        fixed costs don't shrink with cores — BASELINE.md round 3)."""
        from concurrent.futures import ThreadPoolExecutor

        from apt_search_engine_spark.indexing.blocks import (
            write_blocks,
            write_doc_map,
        )

        t0 = time.time()
        t_ph = t0
        flat = self.spark.read.parquet(self.analyzed_dir)

        def _lexicon_job():
            # lexicon from flat (term column only — never re-scans the
            # written nested arrays). Term-sorted within each written
            # file so parquet row-group min/max statistics carry tight
            # term ranges: prefix scans (StringStartsWith pushdown) and
            # point lookups skip row groups instead of reading every
            # bucket file end-to-end — the lexicon analogue of the
            # ordinal-ordered doc_map point-lookup trick.
            tp = time.time()
            build_lexicon_from_flat(flat).sortWithinPartitions(
                "term_bucket", "term"
            ).write.mode("overwrite").partitionBy(
                "term_bucket"
            ).parquet(self.lexicon_dir)
            self._phase("lexicon", tp)

        def _doc_len_job() -> int:
            # BM25 doc-length table from flat ((doc_id, occ) columns
            # only); the corpus total rides the write as an Observation —
            # avgdl is then meta-derived (total_len / n_docs), no extra
            # scan
            from pyspark.sql import Observation

            tp = time.time()
            obs_dl = Observation(f"doc-len-{build_id}")
            dl = build_doc_len_from_flat(flat).observe(
                obs_dl, F.sum("dl").alias("total_len")
            )
            dl.write.mode("overwrite").parquet(self.doc_len_dir)
            total = int(obs_dl.get["total_len"] or 0)
            self._phase("doc_len", tp)
            return total

        def _doc_meta_job():
            tp = time.time()
            self.write_doc_meta(transcripts)
            self._phase("doc_meta", tp)

        pool = ThreadPoolExecutor(max_workers=3)
        try:
            fut_lex = pool.submit(_lexicon_job)
            fut_dl = pool.submit(_doc_len_job)
            fut_meta = (
                pool.submit(_doc_meta_job) if transcripts is not None else None
            )
            if "stripe" in flat.columns:
                # layout v13: the checkpoint is already grouped runs —
                # the merge is exactly one exchange + assembly
                postings = merge_postings(flat, self.max_per_row)
            else:
                # stream-analyzed rows (compact bootstrap) can't know
                # ordinals at arrival: assign now and join. The doc space
                # comes from the stream-written doc_ids tables when
                # present (complete: includes empty docs, which emit no
                # posting rows but ARE documents — T7, and doc_map is the
                # doc registry deletes/purge rely on); posting-derived
                # doc_ids are the pre-doc_ids-table fallback.
                doc_ids_dir = os.path.join(self.index_dir, "doc_ids")
                if os.path.isdir(doc_ids_dir):
                    doc_space = (
                        self.spark.read.parquet(doc_ids_dir)
                        .select("doc_id")
                        .unionByName(flat.select("doc_id"))
                        .distinct()
                    )
                else:
                    doc_space = flat.select("doc_id").distinct()
                write_doc_map(
                    self.spark,
                    doc_space,
                    self.doc_map_dir,
                )
                doc_map = self.spark.read.parquet(self.doc_map_dir)
                postings = merge_postings(
                    flat, self.max_per_row, doc_map=doc_map
                )
            postings.write.mode("overwrite").partitionBy(
                "term_bucket"
            ).parquet(self.postings_dir)
            t_ph = self._phase("merge", t_ph)
            if with_blocks:
                # derive from the freshly written parquet: a columnar
                # re-read of the needed columns beats caching the wide
                # nested frame (measured — the in-memory columnar cache of
                # array-heavy rows costs more to build than the read it
                # saves)
                write_blocks(self.spark, self.postings_dir, self.blocks_dir)
                t_ph = self._phase("blocks", t_ph)
            total_len = fut_dl.result()
            fut_lex.result()
            if fut_meta is not None:
                fut_meta.result()
        finally:
            pool.shutdown(wait=False)
        t_ph = time.time()
        # per-bucket lineage metrics: term ranges + exact posting counts
        # from the lexicon, doc ranges from the postings scalar columns
        lex = self.spark.read.parquet(self.lexicon_dir)
        # per-bucket ordinal range from the scalar segment columns, then
        # two tiny joins against doc_map recover the doc_id STRINGS the
        # lineage contract records (postings themselves no longer carry
        # string keys — layout v8)
        dm = self.spark.read.parquet(self.doc_map_dir)
        ranges = (
            self.spark.read.parquet(self.postings_dir)
            .groupBy("term_bucket")
            .agg(F.min("ord_lo").alias("olo"), F.max("ord_hi").alias("ohi"))
            .join(
                dm.select(F.col("doc_ord").alias("olo"),
                          F.col("doc_id").alias("dlo")),
                "olo",
            )
            .join(
                dm.select(F.col("doc_ord").alias("ohi"),
                          F.col("doc_id").alias("dhi")),
                "ohi",
            )
            .select("term_bucket", "dlo", "dhi")
        )
        stats = (
            lex.groupBy("term_bucket")
            .agg(
                F.min("term").alias("tlo"),
                F.max("term").alias("thi"),
                F.count("*").alias("n_terms"),
                F.sum("df").alias("n_postings"),
            )
            .join(ranges, "term_bucket")
            .collect()
        )
        self._phase("lineage_stats", t_ph)
        ms = int((time.time() - t0) * 1000)
        self._append_lineage(
            [
                {
                    "build_id": build_id,
                    "partition_id": int(r.term_bucket),
                    "term_lo": r.tlo,
                    "term_hi": r.thi,
                    "doc_lo": r.dlo,
                    "doc_hi": r.dhi,
                    "n_rows": int(r.n_terms),
                    "n_postings": int(r.n_postings),
                    "build_ms": ms,
                    "snapshot_id": f"postings-{build_id}",
                }
            for r in stats
            ]
        )
        return total_len

    def write_doc_meta(self, transcripts: DataFrame, url_expr=None) -> None:
        """Forward store for result assembly (S9): doc_id, url, title
        (<- tool per the FIXTURES.md adapter), ps (sentence-split text —
        the reference's paragraph list analog for snippets). `url_expr`
        overrides the default url == doc_id (transcripts use natural
        keys); sources with real URLs feed it so the R10 per-URL score
        dedup (engine dedup_by_url) has something to merge.

        Rows are range-partitioned and sorted by doc_id, as write_doc_map
        does, so each file holds a disjoint doc_id range: the query
        side's driver-side point read of the k result docs
        (query/pointread.py) opens only the row groups whose footer
        range holds one of them, whatever order the input arrives in."""
        meta = transcripts.select(
            doc_id_expr().alias("doc_id"),
            (url_expr if url_expr is not None else doc_id_expr()).alias("url"),
            F.col("tool").alias("title"),
            F.when(
                F.length(F.coalesce(F.col("text"), F.lit(""))) > 0,
                F.split(F.col("text"), r"(?<=[.!?])\s+"),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("ps"),
        )
        n_parts = max(2, self.spark.sparkContext.defaultParallelism)
        meta.repartitionByRange(n_parts, "doc_id").sortWithinPartitions(
            "doc_id"
        ).write.mode("overwrite").parquet(
            os.path.join(self.index_dir, "doc_meta")
        )

    def build(self, transcripts: DataFrame, with_blocks: bool = True) -> str:
        """Full (resumable) build. Returns the build id."""
        build_id = uuid.uuid4().hex[:12]
        # fresh builds get the turn count from the analyze job's input
        # observation (no separate full scan); resumed builds (analyze
        # skips completed batches) fall back to counting
        n_docs = self.analyze(transcripts, build_id)
        if n_docs is None:
            n_docs = transcripts.count()
        total_len = self.merge_and_write(
            build_id, with_blocks=with_blocks, transcripts=transcripts
        )
        with open(self.meta_path, "w") as f:
            json.dump({"build_id": build_id, "n_docs": n_docs,
                       "total_len": total_len,
                       "layout": INDEX_LAYOUT_VERSION}, f)
        return build_id
