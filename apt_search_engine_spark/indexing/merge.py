"""Offline index merge: combine independently built indexes into one.

The distributed-build story the reference cannot tell (its single JVM
indexes one Mongo collection): at 10^12 turns the natural plan is to
build per-shard indexes INDEPENDENTLY (each shard a separate
spark-submit over its slice of the corpus — no cross-shard shuffle at
all) and merge the results, exactly Lucene's IndexMergeTool /
SegmentMerger with per-reader docBase offsets.

Merge semantics (Lucene docBase concatenation):
  - every shard's ordinals shift by the cumulative ordinal-space size of
    the shards before it, so per-doc ordinals stay dense and per-term
    ordinal ranges stay disjoint — the same invariant streaming
    compaction's `start_ord` append already relies on
    (blocks.write_doc_map).
  - doc_map / doc_len / doc_meta are unions (doc_map with shifted
    ordinals, rewritten ordinal-ordered for row-group point-lookup
    skipping); the lexicon is recounted from the merged postings
    (shards are doc-disjoint, so dfs add); blocks are re-derived.
  - postings segments are re-chunked at the standard cap with the same
    zero-copy Arrow flatten -> assemble pass purge/recompact use, so a
    K-shard merge does not leave K-way per-term segment fragmentation.

Scores are unaffected by the ordinal renumbering: per-doc contributions
fold in ascending TERM order (engine._score), tf/wtf/df/dl are
per-doc / per-corpus quantities, so merged-index scores are
bit-identical to a fresh build over the union (tests/test_merge.py).
Like a streamed index after incremental compaction, a merged index's
ordinal order is shard-concatenation order, not global doc_id order —
only the tie-break among EXACTLY equal scores can observe that.

Cost shape at scale: one map-only ordinal shift + ONE bucket-aligned
repartitionByRange(term_bucket, term) exchange for the re-chunk
(build.bucket_ranged: each task writes one contiguous bucket range, so
the postings write makes at most N_TERM_BUCKETS + n_parts - 1 files) +
the lexicon derivation and the one-wave blocks pass — the batch build
minus its analyze stage (which at 10^12 turns is the dominant cost the
per-shard builds already paid).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from apt_search_engine_spark.config import (
    MAX_POSTINGS_PER_ROW,
    N_TERM_BUCKETS,
)


def _read_meta(src: str) -> dict:
    with open(os.path.join(src, "meta.json")) as f:
        return json.load(f)


def _has(src: str, name: str) -> bool:
    return os.path.isdir(os.path.join(src, name))


def merge_indexes(
    spark: SparkSession, src_dirs: list[str], out_dir: str
) -> dict:
    """Merge the indexes at `src_dirs` (>= 2, doc-disjoint, same layout)
    into a fresh index at `out_dir`. Returns the merged meta dict.

    Refuses shards with pending tombstones (purge first: tombstoned
    ordinals are shard-local and must not survive the renumbering) and
    overlapping doc_ids (the same doc indexed twice would double-count
    df and score)."""
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
    from apt_search_engine_spark.indexing.deletes import tombstones_df

    if len(src_dirs) < 2:
        raise ValueError("merge needs at least two source indexes")
    metas = [_read_meta(s) for s in src_dirs]
    layouts = {m.get("layout") for m in metas}
    if len(layouts) != 1:
        raise ValueError(f"layout versions differ across shards: {layouts}")
    # two equally-stale shards would otherwise fail mid-merge with an
    # opaque analysis error (or emit an index stamped with the old
    # marker) — mirror IndexBuilder's up-front layout guard
    from apt_search_engine_spark.indexing.build import INDEX_LAYOUT_VERSION

    if metas[0].get("layout") != INDEX_LAYOUT_VERSION:
        raise ValueError(
            f"shards have layout {metas[0].get('layout')}, code expects "
            f"layout {INDEX_LAYOUT_VERSION}: rebuild them into fresh dirs"
        )
    for s in src_dirs:
        t = tombstones_df(spark, s)
        if t is not None and t.limit(1).count() > 0:
            raise ValueError(
                f"{s} has pending tombstones — purge_deleted() it before "
                "merging (tombstoned ordinals are shard-local)"
            )

    if os.path.isdir(out_dir):
        raise ValueError(f"out_dir exists: {out_dir}")

    # ---- docBase offsets: cumulative ordinal-space size per shard ------
    # (max ordinal + 1, not n_docs: a purged shard keeps sparse ordinals;
    # a max ordinal of 0 — one-doc shard — is a real size of 1, so None
    # must be tested explicitly, never via falsiness)
    maps = [
        spark.read.parquet(os.path.join(s, "doc_map")) for s in src_dirs
    ]
    sizes = []
    for m in maps:
        mx = m.agg(F.max("doc_ord")).collect()[0][0]
        sizes.append((-1 if mx is None else int(mx)) + 1)
    offsets = []
    acc = 0
    for n in sizes:
        offsets.append(acc)
        acc += n

    # ---- doc-disjointness check (one pass over the union) --------------
    all_ids = maps[0].select("doc_id")
    for m in maps[1:]:
        all_ids = all_ids.unionByName(m.select("doc_id"))
    dup = (
        all_ids.groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"shards overlap: doc_id {dup[0].doc_id!r} appears in more "
            "than one source index"
        )

    os.makedirs(out_dir)

    # ---- doc_map: shifted union, rewritten ordinal-ordered -------------
    shifted_map = None
    for m, off in zip(maps, offsets):
        sm = m.select(
            "doc_id", (F.col("doc_ord") + F.lit(off)).alias("doc_ord")
        )
        shifted_map = sm if shifted_map is None else shifted_map.unionByName(sm)
    n_parts = max(spark.sparkContext.defaultParallelism, N_TERM_BUCKETS)
    (
        shifted_map.repartitionByRange(
            max(2, spark.sparkContext.defaultParallelism), "doc_ord"
        )
        .sortWithinPartitions("doc_ord")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "doc_map"))
    )

    # ---- postings: shift ordinals, union, re-chunk at the cap ----------
    src = None
    for s, off in zip(src_dirs, offsets):
        p = spark.read.parquet(os.path.join(s, "postings")).withColumn(
            "doc_ords", F.expr(f"transform(doc_ords, x -> x + {off}L)")
        )
        src = p if src is None else src.unionByName(p)
    ranged = bucket_ranged(
        src.withColumn("seg_lo", F.expr("doc_ords[0]")),
        n_parts, "seg_lo", split_terms=False,
    )
    flatten = _flatten_segments_arrow_factory(_COLS_ORD)
    assemble = _assemble_arrow_factory(MAX_POSTINGS_PER_ROW, _COLS_ORD)

    def _rechunk(batches):
        return assemble(flatten(batches))

    body = ranged.mapInArrow(_rechunk, _ASSEMBLED_SCHEMA_ORD)
    rewritten = (
        body.withColumn("term_bucket", term_bucket_col())
        .withColumn("ord_lo", F.expr("doc_ords[0]"))
        .withColumn("ord_hi", F.expr("element_at(doc_ords, -1)"))
    )
    postings_dir = os.path.join(out_dir, "postings")
    rewritten.write.mode("overwrite").partitionBy("term_bucket").parquet(
        postings_dir
    )
    staged = spark.read.parquet(postings_dir)

    # ---- lexicon (df recount — shards doc-disjoint, so dfs add) --------
    build_lexicon(staged).sortWithinPartitions(
        "term_bucket", "term"
    ).write.mode("overwrite").partitionBy("term_bucket").parquet(
        os.path.join(out_dir, "lexicon")
    )

    # ---- blocks: re-derive when every shard served them ----------------
    if all(_has(s, "blocks") for s in src_dirs):
        write_blocks(
            spark, staged, os.path.join(out_dir, "blocks"), mode="overwrite"
        )

    # ---- doc_len / doc_meta: doc_id-keyed unions -----------------------
    for name in ("doc_len", "doc_meta"):
        if all(_has(s, name) for s in src_dirs):
            u = None
            for s in src_dirs:
                d = spark.read.parquet(os.path.join(s, name))
                u = d if u is None else u.unionByName(d)
            u.write.mode("overwrite").parquet(os.path.join(out_dir, name))

    # ---- layout marker + commit meta -----------------------------------
    lay_src = os.path.join(src_dirs[0], "layout.json")
    if os.path.exists(lay_src):
        shutil.copyfile(lay_src, os.path.join(out_dir, "layout.json"))
    meta = {
        "build_id": uuid.uuid4().hex[:12],
        "n_docs": sum(int(m["n_docs"]) for m in metas),
        "total_len": sum(int(m.get("total_len", 0)) for m in metas),
        "layout": metas[0].get("layout"),
        "merged_from": [os.path.abspath(s) for s in src_dirs],
    }
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta
