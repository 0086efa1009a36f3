"""Document deletion for the disk index: tombstones + purge.

The reference engine has no delete path (its Mongo collections only grow,
S/db/DBManager.java); a complete index lifecycle needs one, so this
follows the standard LSM/Lucene semantics:

  1. `delete_docs` is CHEAP: it resolves the doc_ids to ordinals via
     doc_map and commits them to a tombstone table under the index dir.
     Queries immediately stop returning tombstoned docs (the engine
     filters candidates by ordinal; query/wand.py masks decoded block
     ords) — but corpus statistics (n_docs, df, avgdl, the uniform
     prior 1/N) intentionally stay at their pre-delete values until the
     next purge, exactly like Lucene scoring around not-yet-merged
     deletes. Scores of surviving docs are therefore UNCHANGED by a
     delete (pinned in tests/test_deletes.py).

  2. `purge_deleted` is the maintenance pass: it rewrites the postings
     without the tombstoned ordinals (reusing the merge stage's
     zero-copy flatten/assemble machinery, the same path recompact
     rides), rebuilds lexicon/blocks from the rewritten segments,
     filters the doc tables, recomputes meta stats from the REWRITTEN
     tables (idempotent — a crashed purge can simply run again), and
     clears the tombstones last. After a purge the index is
     statistically identical to a fresh build over the surviving corpus
     (doc ordinals keep their values — holes are fine, ordinal order
     still equals doc_id order — and every score matches the fresh
     build bit-for-bit; equivalence-tested).

Crash-safety ordering: every table is staged and swapped before meta is
rewritten, and the tombstones are removed LAST — so at any crash point
the query-time tombstone filter is still active, and filtering ordinals
that no longer exist in the postings is a harmless no-op.

Scale notes: up to engine.DELETED_COLLECT_MAX tombstones the set is
collected driver-side for the WAND mask (a sorted int64 array, like
Lucene's memory-resident liveDocs bitset); past that the QUERY path
keeps it distributed (exact plans anti-join the tombstone table, the
WAND scorers receive slice-co-partitioned tombstone rows —
query/engine._deleted_df, query/wand tomb rows). `purge_deleted`
still collects the set into its rewrite closure — the purge IS the
remedy for oversized tombstone volumes, so run it before they exceed
driver memory (compact()'s auto-purge bounds the fraction). The purge
itself is one pass over the postings (term-ranged, streaming
re-chunk, bounded memory per task) plus three narrow doc-table filters.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

TOMBSTONES_DIRNAME = "tombstones"
TOMBSTONES_MARKER = "tombstones.json"


def _write_json_atomic(path: str, obj) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:6]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _swap_dir(new_dir: str, live_dir: str) -> None:
    """Replace live_dir with new_dir via two renames (the compact()
    lexicon-swap pattern). The window between the renames is the only
    non-atomic moment; purge keeps tombstones active across it, so a
    crash there still serves correct results."""
    old = f"{live_dir}__old_{uuid.uuid4().hex[:6]}"
    if os.path.isdir(live_dir):
        os.rename(live_dir, old)
    os.rename(new_dir, live_dir)
    shutil.rmtree(old, ignore_errors=True)


def tombstones_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """(doc_ord, doc_id) of every tombstoned doc, or None when the index
    has no committed tombstones."""
    marker = os.path.join(index_dir, TOMBSTONES_MARKER)
    tdir = os.path.join(index_dir, TOMBSTONES_DIRNAME)
    if not (os.path.exists(marker) and os.path.isdir(tdir)):
        return None
    return spark.read.parquet(tdir).select("doc_ord", "doc_id")


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Tombstone `doc_ids` (an iterable of doc_id strings, or a DataFrame
    with a doc_id column). Returns the TOTAL number of tombstoned docs
    after the merge (ids absent from the index resolve to nothing and are
    ignored). Commit order: stage -> swap dir -> marker; the marker is
    what the engine's freshness token watches, so readers see the new
    set exactly when it is fully on disk."""
    doc_map = spark.read.parquet(os.path.join(index_dir, "doc_map")).select(
        "doc_ord", "doc_id"
    )
    if isinstance(doc_ids, DataFrame):
        req = doc_ids.select("doc_id").distinct()
        resolved = doc_map.join(F.broadcast(req), "doc_id", "left_semi")
    else:
        ids = sorted(set(doc_ids))
        if not ids:
            existing = tombstones_df(spark, index_dir)
            return existing.count() if existing is not None else 0
        resolved = doc_map.filter(F.col("doc_id").isin(ids))
    merged = resolved.select("doc_ord", "doc_id")
    existing = tombstones_df(spark, index_dir)
    if existing is not None:
        merged = merged.unionByName(existing).distinct()
    tdir = os.path.join(index_dir, TOMBSTONES_DIRNAME)
    staged = f"{tdir}__new_{uuid.uuid4().hex[:6]}"
    # coalesce(1): tombstone sets are deletion-volume-sized, not
    # corpus-sized (see module docstring) — one file keeps the read cheap
    merged.coalesce(1).write.mode("overwrite").parquet(staged)
    n = spark.read.parquet(staged).count()
    _swap_dir(staged, tdir)
    _write_json_atomic(
        os.path.join(index_dir, TOMBSTONES_MARKER),
        {"n_deleted": n, "token": uuid.uuid4().hex},
    )
    return n


def purge_deleted(
    spark: SparkSession, index_dir: str, fail_at: str | None = None
) -> int:
    """Physically remove tombstoned docs from every index table and fold
    their counts out of the corpus statistics. Returns the number of
    docs purged (0 = no tombstones, nothing touched). Idempotent: stats
    are recomputed from the rewritten tables, never decremented.

    `fail_at` injects a crash for recovery tests (tests/test_deletes.py):
    'staged' = everything staged, nothing swapped; 'half_swapped' =
    postings swapped, doc tables not; 'pre_meta' = all swaps done, meta
    and tombstones untouched. At every point the tombstones are still
    committed, so a reader keeps filtering (filtering already-purged
    ordinals is a no-op) and a purge re-run heals the index."""
    import numpy as np

    from apt_search_engine_spark.config import (
        MAX_POSTINGS_PER_ROW,
        N_TERM_BUCKETS,
    )
    from apt_search_engine_spark.indexing.blocks import write_blocks
    from apt_search_engine_spark.indexing.build import (
        _ASSEMBLED_SCHEMA_ORD,
        _COLS_ORD,
        _assemble_arrow_factory,
        _flatten_segments_arrow_factory,
        bucket_ranged,
        build_lexicon,
        term_bucket_col,
    )

    # single-writer maintenance (the compact() contract): stale staged or
    # half-swapped dirs from a crashed prior run are garbage — collect
    # them before staging anew
    for d in os.listdir(index_dir):
        if "__new_" in d or "__old_" in d:
            shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)

    tomb = tombstones_df(spark, index_dir)
    if tomb is None:
        return 0
    rows = tomb.collect()
    if not rows:
        _clear_tombstones(index_dir)
        return 0
    dead_ords = np.sort(np.array([r.doc_ord for r in rows], dtype=np.int64))
    dead_ids = sorted(r.doc_id for r in rows)

    postings_dir = os.path.join(index_dir, "postings")
    blocks_dir = os.path.join(index_dir, "blocks")
    with_blocks = os.path.isdir(blocks_dir)

    # ---- postings: flatten -> drop dead ords -> re-assemble ------------
    # same bucket-aligned, streaming-rechunk shape as recompact: all of a
    # term's segments colocate (sorted by first ordinal), flatten to
    # posting rows zero-copy, mask, re-chunk at the standard cap
    src = spark.read.parquet(postings_dir).withColumn(
        "seg_lo", F.expr("doc_ords[0]")
    )
    n_parts = max(spark.sparkContext.defaultParallelism, N_TERM_BUCKETS)
    ranged = bucket_ranged(src, n_parts, "seg_lo", split_terms=False)
    flatten = _flatten_segments_arrow_factory(_COLS_ORD)
    assemble = _assemble_arrow_factory(MAX_POSTINGS_PER_ROW, _COLS_ORD)
    ord_idx = 1 + _COLS_ORD.index("doc_ord")  # after the leading term col

    def _drop_dead(batches):
        import pyarrow as pa

        for b in batches:
            ords = b.column(ord_idx).to_numpy()
            pos = np.searchsorted(dead_ords, ords)
            pos_c = np.minimum(pos, dead_ords.size - 1)
            live = dead_ords[pos_c] != ords
            if live.all():
                yield b
            elif live.any():
                yield b.filter(pa.array(live))

    def _rewrite(batches):
        return assemble(_drop_dead(flatten(batches)))

    body = ranged.mapInArrow(_rewrite, _ASSEMBLED_SCHEMA_ORD)
    rewritten = (
        body.withColumn("term_bucket", term_bucket_col())
        .withColumn("ord_lo", F.expr("doc_ords[0]"))
        .withColumn("ord_hi", F.expr("element_at(doc_ords, -1)"))
    )
    staging = os.path.join(index_dir, "_staging", f"purge_{uuid.uuid4().hex[:8]}")
    rewritten.write.mode("overwrite").partitionBy("term_bucket").parquet(staging)
    staged = spark.read.parquet(staging)

    # lexicon/blocks derive from the staged postings BEFORE any swap —
    # nothing live is disturbed until everything new exists on disk
    lex_new = os.path.join(index_dir, f"lexicon__new_{uuid.uuid4().hex[:6]}")
    # term-sorted within files like the batch build (row-group stats)
    build_lexicon(staged).sortWithinPartitions(
        "term_bucket", "term"
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(lex_new)
    blk_new = None
    if with_blocks:
        blk_new = os.path.join(index_dir, f"blocks__new_{uuid.uuid4().hex[:6]}")
        write_blocks(spark, staged, blk_new, mode="overwrite")

    # ---- doc tables: narrow anti-filters, staged the same way ----------
    def _filtered_table(name: str, col: str, dead: list) -> str | None:
        live_dir = os.path.join(index_dir, name)
        if not os.path.isdir(live_dir):
            return None
        new_dir = os.path.join(index_dir, f"{name}__new_{uuid.uuid4().hex[:6]}")
        spark.read.parquet(live_dir).filter(
            ~F.col(col).isin(dead)
        ).write.mode("overwrite").parquet(new_dir)
        return new_dir

    map_new = _filtered_table("doc_map", "doc_ord", [int(o) for o in dead_ords])
    meta_new = _filtered_table("doc_meta", "doc_id", dead_ids)
    len_new = _filtered_table("doc_len", "doc_id", dead_ids)
    if fail_at == "staged":
        raise RuntimeError("injected crash: everything staged, nothing swapped")

    # ---- swap everything, then recompute meta, then drop tombstones ----
    _swap_dir(staging, postings_dir)
    if fail_at == "half_swapped":
        raise RuntimeError("injected crash: postings swapped, doc tables not")
    os_swaps = [(lex_new, os.path.join(index_dir, "lexicon"))]
    if blk_new is not None:
        os_swaps.append((blk_new, blocks_dir))
    for name, new_dir in (
        ("doc_map", map_new),
        ("doc_meta", meta_new),
        ("doc_len", len_new),
    ):
        if new_dir is not None:
            os_swaps.append((new_dir, os.path.join(index_dir, name)))
    for new_dir, live_dir in os_swaps:
        _swap_dir(new_dir, live_dir)
    if fail_at == "pre_meta":
        raise RuntimeError("injected crash: swaps done, meta/tombstones untouched")

    n_docs = spark.read.parquet(os.path.join(index_dir, "doc_map")).count()
    total_len = 0
    dl_dir = os.path.join(index_dir, "doc_len")
    if os.path.isdir(dl_dir):
        total_len = int(
            spark.read.parquet(dl_dir).agg(F.sum("dl")).collect()[0][0] or 0
        )
    meta_path = os.path.join(index_dir, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["n_docs"] = int(n_docs)
    meta["total_len"] = total_len
    _write_json_atomic(meta_path, meta)
    # streamed indexes carry the LSM commit state whose running
    # n_docs/total_len future compact() increments build on — keep it
    # consistent with the purge
    state_path = os.path.join(index_dir, "merge_state.json")
    if os.path.exists(state_path):
        with open(state_path) as f:
            state = json.load(f)
        state["n_docs"] = int(n_docs)
        state["total_len"] = total_len
        _write_json_atomic(state_path, state)

    _clear_tombstones(index_dir)
    shutil.rmtree(os.path.join(index_dir, "_staging"), ignore_errors=True)
    return int(dead_ords.size)


def _clear_tombstones(index_dir: str) -> None:
    shutil.rmtree(
        os.path.join(index_dir, TOMBSTONES_DIRNAME), ignore_errors=True
    )
    try:
        os.remove(os.path.join(index_dir, TOMBSTONES_MARKER))
    except OSError:
        pass
