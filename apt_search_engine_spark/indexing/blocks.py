"""Compressed posting blocks for block-max WAND (FIXTURES.md section P).

Derives, from the canonical segmented postings table, a blocked companion:
one row per (term, block of <=POSTING_BLOCK_SIZE docs) with delta+varbyte
doc ordinals, per-doc weighted tfs (tf * sum(tag_weights) — the
reference's Ranker.java:55-66 score kernel minus the idf factor), the
block's ordinal bounds [lo_ord, hi_ord] and the score upper bound
`block_max_wtf = max(wtf)` — multiplied by floor(6000/df) at query time it
bounds any document's score contribution from this term, which is what
lets WAND skip blocks (SURVEY.md 4.2 item 3).

The derivation is NARROW: postings segments already carry parallel
doc_ords / wtfs arrays (stamped during the merge shuffle,
indexing/build.py), so block cutting is a per-row chunking pass — no
shuffle, no join, no re-grouping of the index. Postings within a segment
are doc-ordered and segments of a term are disjoint ordinal ranges, so
blocks of a term cover disjoint strictly-increasing ordinal ranges, so
lo_ord is the block identity and sort key.

Doc ordinals come from a corpus-wide doc_map (doc_id -> dense ordinal in
doc_id order), written at ingest (IndexBuilder.analyze stage 0) — the
docID space assignment every real inverted index does at ingest.
Assignment is two-pass and Arrow-batched (range-partition by doc_id,
count per partition, then offset + arange per batch): no per-row Python,
no driver-side collect of doc ids.

Blocks store exactly what the WAND scorer decodes: delta+varbyte doc
ordinals, raw-float wtfs, and the block-max bound. Raw tfs and packed
positions were DROPPED in layout v5 (VERDICT r2 'what's wrong' #2): the
bag-of-words scorer never reads them, parquet column pruning merely hid
the cost of encoding them and roughly doubling the companion's bytes.
Phrase/boolean queries keep using the exact positional plan over the
canonical postings table (query/engine.py) — positions live exactly once,
there. (Measured on a 2,000-conversation build: companion 18.5 MB ->
8.9 MB, 2.1x smaller; see BASELINE.md round 3.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from apt_search_engine_spark.config import POSTING_BLOCK_SIZE
from apt_search_engine_spark.indexing import codec

# block identity/order = lo_ord: blocks of a term cover disjoint,
# strictly-increasing ordinal ranges, so sorting by lo_ord reconstructs
# global doc order (no separate block_id needed).
BLOCKS_SCHEMA = (
    "term string, n_docs int, doc_ids_vb binary, wtfs binary, "
    "block_max_wtf double, lo_ord long, hi_ord long, term_bucket int, "
    # BM25 companion columns (layout v7): varbyte raw occurrence counts +
    # analyzer-stamped doc lengths per posting, and the block stats that
    # give an ADMISSIBLE query-time upper bound for the BM25 contribution
    # (tfnorm is increasing in occ, decreasing in dl, so
    # tfnorm(block_max_occ, block_min_dl) bounds every posting in the
    # block under WHATEVER avgdl/k1/b the query uses — the bound composes
    # at query time, surviving compaction-driven avgdl drift)
    "occs_vb binary, dls_vb binary, block_max_occ int, block_min_dl int"
)

DOC_MAP_SCHEMA = "doc_id string, doc_ord long"


def write_doc_map(
    spark: SparkSession,
    doc_ids: DataFrame,
    out_dir: str,
    start_ord: int = 0,
    mode: str = "overwrite",
) -> None:
    """Dense ordinal per doc_id in global doc_id order, distributed:
    range-partition by doc_id, sort within partitions, then a two-pass
    (per-partition counts -> broadcast prefix offsets -> offset + arange)
    assignment in mapInPandas. The persist() pins one range partitioning
    across both passes (range boundaries come from sampling).

    Incremental compaction appends NEW docs with `start_ord` = the
    existing doc count and mode='append': new docs land above every old
    ordinal, keeping per-term block ordinal ranges disjoint across
    increments (blocks invariant in the module docstring)."""
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    ranged = (
        doc_ids.repartitionByRange(n_parts, "doc_id")
        .sortWithinPartitions("doc_id")
        .withColumn("pid", F.spark_partition_id())
    )
    ranged.persist()
    try:
        counts = {
            r.pid: r.n
            for r in ranged.groupBy("pid").agg(F.count("*").alias("n")).collect()
        }
        offsets: dict[int, int] = {}
        acc = start_ord
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        bc = spark.sparkContext.broadcast(offsets)

        def assign(batches):
            nxt = None
            for pdf in batches:
                if not len(pdf):
                    continue
                if nxt is None:
                    nxt = bc.value.get(int(pdf["pid"].iloc[0]), 0)
                n = len(pdf)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "doc_ord": np.arange(nxt, nxt + n, dtype=np.int64),
                    }
                )
                nxt += n

        ranged.mapInPandas(assign, DOC_MAP_SCHEMA).write.mode(mode).parquet(
            out_dir
        )
    finally:
        ranged.unpersist()


def _blocks_from_segments(batches):
    """One vectorized pass per Arrow RecordBatch: all segment rows'
    postings are taken FLAT from the ListArray buffers (flatten() +
    list_value_length — no per-row Python materialization at all), block
    boundaries computed globally, each byte column encoded with ONE
    segmented codec pass and sliced per block
    (codec.varbyte_encode_segmented). Bit-identical to encoding each
    block separately; the earlier per-block Python loop and the pandas
    object-array conversion both dominated the stage on Zipf-tail
    segments (millions of 1-posting rows at corpus scale)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for batch in batches:
        n_rows = batch.num_rows
        if not n_rows:
            continue
        col = {
            name: batch.column(i) for i, name in enumerate(batch.schema.names)
        }
        ords_arr = col["doc_ords"]
        lens = pc.list_value_length(ords_arr).to_numpy().astype(np.int64)
        all_ords = ords_arr.flatten().to_numpy().astype(np.int64, copy=False)
        # layout v10: wtf is derived, not stored. Recompute here with the
        # exact float64 arithmetic of the analyzer/query expressions:
        # tagsum is exact in binary (all channel weights are multiples of
        # 0.5 and the counts are small ints), tf is a single IEEE
        # division, the product a single multiply — bit-identical to the
        # SQL wtf_expr and to the analyzer (tests/test_wand.py pins the
        # decode against the reference kernel).
        all_occs = (
            col["occs"].flatten().to_numpy().astype(np.int64, copy=False)
        )
        all_dls = (
            col["dls"].flatten().to_numpy().astype(np.int64, copy=False)
        )
        all_xtras = (
            col["xtras"].flatten().to_numpy().astype(np.int64, copy=False)
        )
        nt, nh1, nh2, nh3 = (
            col[c].flatten().to_numpy().astype(np.float64, copy=False)
            for c in ("n_titles", "n_h1s", "n_h2s", "n_h3s")
        )
        occ_f = all_occs.astype(np.float64)
        tagsum = (4.0 * nt + 2.5 * nh1 + 2.0 * nh2 + 1.5 * nh3) + 0.5 * (
            occ_f - nt - nh1 - nh2 - nh3
        )
        tf = (all_occs + 1).astype(np.float64) / (
            all_dls + all_xtras
        ).astype(np.float64)
        all_wtfs = tagsum * tf
        # block starts (posting indices): multiples of POSTING_BLOCK_SIZE
        # within each row, offset by the row's start
        n_blocks = (lens + POSTING_BLOCK_SIZE - 1) // POSTING_BLOCK_SIZE
        row_starts = np.cumsum(lens) - lens
        # within-row block offsets 0, B, 2B... per row, flattened
        tot_blocks = int(n_blocks.sum())
        block_row = np.repeat(np.arange(n_rows), n_blocks)
        first_block_of_row = np.cumsum(n_blocks) - n_blocks
        within = (
            np.arange(tot_blocks) - first_block_of_row[block_row]
        ) * POSTING_BLOCK_SIZE
        block_starts = row_starts[block_row] + within
        block_ends = np.minimum(
            block_starts + POSTING_BLOCK_SIZE, row_starts[block_row] + lens[block_row]
        )

        ids_buf, ids_off = codec.encode_doc_ids_segmented(all_ords, block_starts)
        wtf_buf = all_wtfs.tobytes()
        block_max = np.maximum.reduceat(all_wtfs, block_starts)
        occ_buf, occ_off = codec.varbyte_encode_segmented(all_occs, block_starts)
        dl_buf, dl_off = codec.varbyte_encode_segmented(all_dls, block_starts)
        block_max_occ = np.maximum.reduceat(all_occs, block_starts)
        block_min_dl = np.minimum.reduceat(all_dls, block_starts)

        take_idx = pa.array(block_row)
        yield pa.RecordBatch.from_arrays(
            [
                pc.take(col["term"], take_idx),
                pa.array((block_ends - block_starts).astype(np.int32)),
                pa.array(
                    [ids_buf[a:b] for a, b in zip(ids_off[:-1], ids_off[1:])],
                    type=pa.binary(),
                ),
                pa.array(
                    [
                        wtf_buf[8 * a : 8 * b]
                        for a, b in zip(block_starts, block_ends)
                    ],
                    type=pa.binary(),
                ),
                pa.array(block_max, type=pa.float64()),
                pa.array(all_ords[block_starts], type=pa.int64()),
                pa.array(all_ords[block_ends - 1], type=pa.int64()),
                pc.take(col["term_bucket"], take_idx),
                pa.array(
                    [occ_buf[a:b] for a, b in zip(occ_off[:-1], occ_off[1:])],
                    type=pa.binary(),
                ),
                pa.array(
                    [dl_buf[a:b] for a, b in zip(dl_off[:-1], dl_off[1:])],
                    type=pa.binary(),
                ),
                pa.array(block_max_occ.astype(np.int32)),
                pa.array(block_min_dl.astype(np.int32)),
            ],
            names=[
                "term", "n_docs", "doc_ids_vb", "wtfs",
                "block_max_wtf", "lo_ord", "hi_ord", "term_bucket",
                "occs_vb", "dls_vb", "block_max_occ", "block_min_dl",
            ],
        )


def write_blocks(
    spark: SparkSession,
    postings_src,
    blocks_dir: str,
    mode: str = "overwrite",
    dynamic: bool = False,
) -> None:
    """Narrow derivation: chunk each postings segment row into compressed
    blocks. No shuffle — the merge already ordered and ord-stamped it.
    df is not duplicated here; WAND takes it from the lexicon.

    One wave: the input is coalesced (narrow, no shuffle) to
    defaultParallelism partitions before the Arrow pass, so the per-task
    Python-worker cost is paid once per core rather than once per
    postings file. Postings writes are bucket-aligned
    (build.bucket_ranged), so each task writes one blocks file per
    (input postings file or partition, bucket) it covers: blocks files
    <= postings files.

    `postings_src` is a directory path OR a (persisted) postings
    DataFrame — passing the in-flight frame from the merge avoids
    re-reading and re-decoding the whole index's nested arrays.
    `dynamic` makes an overwrite replace only the term_bucket partitions
    present in the input (recompaction rewrites just touched buckets)."""
    if isinstance(postings_src, str):
        postings_src = spark.read.parquet(postings_src)
    postings = postings_src.select(
        "term", "term_bucket", "doc_ords", "occs", "dls", "xtras",
        "n_titles", "n_h1s", "n_h2s", "n_h3s",
    )
    blocks = postings.coalesce(
        spark.sparkContext.defaultParallelism
    ).mapInArrow(_blocks_from_segments, schema=BLOCKS_SCHEMA)
    writer = blocks.write.mode(mode)
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("term_bucket").parquet(blocks_dir)
