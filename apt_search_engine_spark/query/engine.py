"""Query engine: retrieval + ranking as DataFrame plans (SURVEY.md 2.3/2.4).

Per-query lifecycle (replaces QueryProcessor + Ranker, SURVEY.md 3.1):
driver parses the query (pure Python, tiny) and builds ONE DataFrame plan:

  bucket-pruned postings scan (P2)         filter(term_bucket in B, term in T)
  -> explode postings                       (P6: $objectToArray+$unwind)
  -> candidate set algebra (P4/P7)          semi/anti joins, union-distinct
  -> positional adjacency (P5)              array_intersect over shifted
                                            position arrays
  -> score expression (R1-R4)               tf * floor(6000/df) * sum(tag
                                            weights) summed per doc in
                                            ascending term order
  -> TakeOrderedAndProject (R5)             one orderBy(score desc,
                                            doc_ord).limit(k) collect
                                            (wand.translate_topk)
  -> metadata point read + snippets on k rows (S9/R9)

Each plan is built from a few `where`/`selectExpr` steps over SQL-text
expressions (literals via query/pointread._sql_lit), not chains of
withColumn over Column trees: the JVM parses each step in one call.

Faithful reference semantics, verified against tests/oracle.py:
  - df used in scoring is the size of the term's doc-map AT RANKING TIME
    (Ranker.java:194,324): true df for normal queries, the FILTERED
    candidate count for phrase/boolean queries (quirk Q12). Implemented as
    count() over Window.partitionBy(term) on the final filtered postings.
  - phrase ranking iterates docs of the FIRST scoring word only (quirk Q7,
    Ranker.java:303) — a max(term = gate) flag computed in the scorer's
    per-doc aggregate and filtered after it.
  - boolean structure affects the candidate set, not the scoring word list
    (quirk Q8, Ranker.java:409-424); duplicate scoring words contribute
    once per occurrence (Ranker.java:311).
  - unquoted boolean queries are bag-of-words with operator words dropped
    (QueryProcessor.java:121-128).
  - per-doc sums run in ascending term order (determinism contract,
    SURVEY.md 7.4) via aggregate(array_sort(collect_list(...))).
"""

from __future__ import annotations

import json
import os
import re
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from apt_search_engine_spark import config
from apt_search_engine_spark.config import (
    DEFAULT_MAX_EXPANSIONS,
    DEFAULT_MLT_MAX_TERMS,
    DEFAULT_TOP_K,
    N_TERM_BUCKETS,
    idf_numerator,
)
from apt_search_engine_spark.query import parser, wand
from apt_search_engine_spark.query.pointread import (
    _sql_lit,
    local_frame,
    read_rows,
    sql_in,
)
from apt_search_engine_spark.query.snippets import generate_snippet

# R1/R2 tag-weight fold (Ranker.java:43-66) is precomputed at build time
# into the stored per-posting `wtf` column: wtf = tf * sum(tag weights),
# the closed form (4.0*n_title + 2.5*n_h1) + 0.5*n_body being bit-identical
# to the reference's left fold (exact binary fractions; build.py _WTF_EXPR).
# The reference's empty-tags -> one 0.5 weight branch is unreachable (every
# kept posting has >= 1 position, quirk Q6) and therefore not stored.


def _phrase_match_udf(terms: list[str]):
    """Fused P5 adjacency filter over per-doc aggregated rows: input is
    the doc's collected (term list, positions_vb list), output is
    whether the exact phrase occurs. One Arrow batch = one vectorized
    codec decode (layout v9 delta+varbyte) + one sorted intersection
    fold over doc-strided position keys (row_index * 2^33 + position -
    phrase_offset): positions within a doc are stored ascending and
    rows ascend within the batch, so every per-offset step is a single
    searchsorted probe — no per-row Python loop (a per-row lambda here
    tripled latency on head-term phrases), and no re-sort (the arrays
    arrive sorted). Rows lacking a phrase term simply contribute no
    keys for it and fall out of the intersection, so correctness does
    not depend on the P4 nt-filter having run first (Catalyst may
    reorder deterministic UDF filters).

    Reference semantics: handlePhrase's per-doc index-shifted positions
    intersection (QueryProcessor.java:130-173), including repeated
    terms at multiple phrase offsets."""
    from apt_search_engine_spark.indexing import codec

    offsets: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        offsets.setdefault(t, []).append(i)
    term_list = list(offsets.keys())
    off_list = [offsets[t] for t in term_list]
    stride = np.int64(1) << 33  # positions are int32 < 2^31 << stride

    @F.pandas_udf("boolean")
    def _m(ts: pd.Series, vbs: pd.Series) -> pd.Series:
        n = len(vbs)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        counts = np.fromiter((len(r) for r in vbs), np.int64, n)
        flat_vb = [bytes(v) for row in vbs for v in row]
        flat_t = np.array([t for row in ts for t in row])
        arrs = codec.decode_doc_ids_many(flat_vb)
        lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
        row_of = np.repeat(np.arange(n, dtype=np.int64), counts)
        cur = None
        for tname, offs in zip(term_list, off_list):
            sel = np.flatnonzero(flat_t == tname)
            if sel.size == 0:
                cur = np.empty(0, np.int64)
                break
            cat = np.concatenate([arrs[j] for j in sel])
            base = np.repeat(row_of[sel], lens[sel]) * stride + cat
            for off in offs:
                sh = base - off
                if cur is None:
                    cur = sh
                else:
                    idx = np.searchsorted(sh, cur)
                    valid = idx < sh.size
                    keep = np.zeros(cur.size, dtype=bool)
                    keep[valid] = sh[idx[valid]] == cur[valid]
                    cur = cur[keep]
                if cur.size == 0:
                    break
            if cur is not None and cur.size == 0:
                break
        out = np.zeros(n, dtype=bool)
        if cur is not None and cur.size:
            out[np.unique(cur // stride)] = True
        return pd.Series(out)

    return _m


def _sloppy_match_udf(terms: list[str], slop: int):
    """Fused n-term sloppy-phrase filter over per-doc aggregated rows:
    true when the document contains a strictly-increasing position
    chain p1 < p2 < ... < pn (pi an occurrence of terms[i]) whose span
    excess (p_n - p_1) - (n - 1) is <= `slop` — Lucene PhraseQuery
    slop semantics restricted to in-order chains (slop 0 == the exact
    phrase). Same batch shape as the phrase filter: one vectorized
    varbyte decode, doc-strided position keys, then ONE searchsorted
    pass per phrase offset building the GREEDY minimal chain end for
    every start position — taking the smallest next occurrence > the
    current chain end minimizes p_n for each p1, so a start matches
    iff its greedy span fits. side='right' makes the chain strictly
    increasing, so a repeated stem ("run x running"~k) must use two
    DISTINCT occurrences — no self-pairing (the r4 ADVICE hazard).
    slop + n << 2^33 (the row stride), so a chain that leaks across a
    doc boundary always violates the span check by construction. No
    per-row Python."""
    from apt_search_engine_spark.indexing import codec

    stride = np.int64(1) << 33
    n_terms = len(terms)
    budget = np.int64(slop + n_terms - 1)  # max allowed span p_n - p_1

    @F.pandas_udf("boolean")
    def _m(ts: pd.Series, vbs: pd.Series) -> pd.Series:
        n = len(vbs)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        counts = np.fromiter((len(r) for r in vbs), np.int64, n)
        flat_vb = [bytes(v) for row in vbs for v in row]
        flat_t = np.array([t for row in ts for t in row])
        arrs = codec.decode_doc_ids_many(flat_vb)
        lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
        row_of = np.repeat(np.arange(n, dtype=np.int64), counts)

        def keys_of(term):
            sel = np.flatnonzero(flat_t == term)
            if sel.size == 0:
                return np.empty(0, np.int64)
            cat = np.concatenate([arrs[j] for j in sel])
            return np.repeat(row_of[sel], lens[sel]) * stride + cat

        by_term = {t: keys_of(t) for t in set(terms)}
        out = np.zeros(n, dtype=bool)
        if any(by_term[t].size == 0 for t in terms):
            return pd.Series(out)
        start = by_term[terms[0]]
        cur = start
        alive = np.ones(start.size, dtype=bool)
        sentinel = np.int64(np.iinfo(np.int64).max // 2)
        for t in terms[1:]:
            a = by_term[t]
            idx = np.searchsorted(a, cur, side="right")
            ok = idx < a.size
            nxt = np.full(cur.size, sentinel, dtype=np.int64)
            nxt[ok] = a[idx[ok]]
            cur = nxt
            alive &= ok
            if not alive.any():
                return pd.Series(out)
        hit = alive & (cur - start <= budget)
        if hit.any():
            out[np.unique(start[hit] // stride)] = True
        return pd.Series(out)

    return _m


def _boolean_fold_udf(seg_specs: list[list[str]]):
    """Fused P4+P5 decision for the boolean path: ONE Arrow pass over
    per-doc rows collected from ALL segments' postings (tagged with a
    segment id) evaluates every segment's match — presence for a bare /
    one-word segment, the shift-intersection adjacency for a phrase
    segment — and returns the PER-SEGMENT match flags as a boolean
    array (the P7 left-fold set algebra and the per-segment posting
    restriction both evaluate over these flags in the calling plan).
    Returning flags rather than the folded verdict is load-bearing for
    OR/NOT queries: a doc kept through one branch must NOT score
    another phrase segment's terms when that phrase did not match in
    it — the reference's segment maps only ever contain MATCHING docs
    (handlePhraseWithBoolean, QueryProcessor.java:202-281). The r4
    shape aggregated each phrase segment separately (own exchange +
    own Arrow filter stage) and folded the per-segment aggregates in
    a second exchange; this shape pays one exchange and one Python
    stage for the whole query. Same vectorized machinery as
    _phrase_match_udf, restricted per segment by the collected seg
    tag."""
    from apt_search_engine_spark.indexing import codec

    stride = np.int64(1) << 33
    phrase_specs = []
    for terms in seg_specs:
        offsets: dict[str, list[int]] = {}
        for i, t in enumerate(terms):
            offsets.setdefault(t, []).append(i)
        phrase_specs.append(
            (list(offsets.keys()), [offsets[t] for t in offsets])
        )

    @F.pandas_udf("array<boolean>")
    def _m(segs: pd.Series, ts: pd.Series, vbs: pd.Series) -> pd.Series:
        n = len(vbs)
        if n == 0:
            return pd.Series(np.zeros((0, len(seg_specs)), dtype=bool).tolist())
        counts = np.fromiter((len(r) for r in vbs), np.int64, n)
        flat_vb = [
            bytes(v) if v is not None else b""
            for row in vbs
            for v in row
        ]
        flat_t = np.array([t for row in ts for t in row])
        flat_s = np.fromiter(
            (s for row in segs for s in row), np.int64, len(flat_t)
        )
        arrs = codec.decode_doc_ids_many(flat_vb)
        lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
        row_of = np.repeat(np.arange(n, dtype=np.int64), counts)

        pres: list[np.ndarray] = []
        for si, terms in enumerate(seg_specs):
            seg_rows = flat_s == si
            p = np.zeros(n, dtype=bool)
            if len(terms) <= 1:
                # bare term / one-word phrase: presence == any posting
                # (a REPEATED-term phrase like '"run run"' still takes
                # the chain below — it needs two adjacent occurrences)
                hit = np.flatnonzero(seg_rows)
                if hit.size:
                    p[np.unique(row_of[hit])] = True
                pres.append(p)
                continue
            term_list, off_list = phrase_specs[si]
            cur = None
            for tname, offs in zip(term_list, off_list):
                sel = np.flatnonzero(seg_rows & (flat_t == tname))
                if sel.size == 0:
                    cur = np.empty(0, np.int64)
                    break
                cat = np.concatenate([arrs[j] for j in sel])
                base = (
                    np.repeat(row_of[sel], lens[sel]) * stride + cat
                )
                for off in offs:
                    sh = base - off
                    if cur is None:
                        cur = sh
                    else:
                        idx = np.searchsorted(sh, cur)
                        valid = idx < sh.size
                        keep = np.zeros(cur.size, dtype=bool)
                        keep[valid] = sh[idx[valid]] == cur[valid]
                        cur = cur[keep]
                    if cur.size == 0:
                        break
                if cur is not None and cur.size == 0:
                    break
            if cur is not None and cur.size:
                p[np.unique(cur // stride)] = True
            pres.append(p)

        return pd.Series(np.stack(pres, axis=1).tolist())

    # nondeterministic so Catalyst evaluates it ONCE: the caller projects
    # `segm` and filters on it, and a deterministic UDF would be copied
    # into the pushed-down filter — a second Arrow pass over the rows
    return _m.asNondeterministic()


def _near_match_udf(w1: str, w2: str, slop: int, ordered: bool = False):
    """Fused NEAR/slop proximity filter over per-doc aggregated rows:
    true when some occurrence of `w1` and some occurrence of `w2` lie
    within `slop` positions of each other (either order; with `ordered`
    only w1-before-w2 pairs count — the sloppy-phrase shape). Same batch
    shape as the phrase filter: one vectorized varbyte decode, doc-
    strided position keys, and a single searchsorted probe per side —
    the left/right nearest `w2` key of every `w1` key decides the
    match, and slop << 2^33 (the row stride) makes cross-doc pairs
    impossible by construction. No per-row Python."""
    from apt_search_engine_spark.indexing import codec

    stride = np.int64(1) << 33

    @F.pandas_udf("boolean")
    def _m(ts: pd.Series, vbs: pd.Series) -> pd.Series:
        n = len(vbs)
        if n == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        counts = np.fromiter((len(r) for r in vbs), np.int64, n)
        flat_vb = [bytes(v) for row in vbs for v in row]
        flat_t = np.array([t for row in ts for t in row])
        arrs = codec.decode_doc_ids_many(flat_vb)
        lens = np.fromiter((a.size for a in arrs), np.int64, len(arrs))
        row_of = np.repeat(np.arange(n, dtype=np.int64), counts)

        def keys_of(term):
            sel = np.flatnonzero(flat_t == term)
            if sel.size == 0:
                return np.empty(0, np.int64)
            cat = np.concatenate([arrs[j] for j in sel])
            return np.repeat(row_of[sel], lens[sel]) * stride + cat

        a, b = keys_of(w1), keys_of(w2)
        out = np.zeros(n, dtype=bool)
        if w1 == w2:
            # same stem: NEAR means TWO occurrences within slop, not an
            # occurrence near itself — match on consecutive-position
            # gaps (arrays ascend within a doc; cross-doc neighbors
            # differ by >= stride >> slop, so no row check needed)
            if a.size > 1:
                gaps = a[1:] - a[:-1]
                near = gaps <= slop
                if near.any():
                    out[np.unique(a[1:][near] // stride)] = True
            return pd.Series(out)
        if a.size and b.size:
            idx = np.searchsorted(b, a)
            near = np.zeros(a.size, dtype=bool)
            right = idx < b.size
            near[right] = b[idx[right]] - a[right] <= slop
            if not ordered:
                left = idx > 0
                near[left] |= a[left] - b[idx[left] - 1] <= slop
            if near.any():
                out[np.unique(a[near] // stride)] = True
        return pd.Series(out)

    return _m


# -- BM25 (the standard scorer offered alongside reference parity) --------
BM25_K1 = 1.2
BM25_B = 0.75

# Tombstone sets up to this size are collected driver-side (a sorted
# int64 array the WAND scorers mask with — ~8 MB at the default); past
# it they stay a DataFrame: exact plans anti-join, WAND gets per-slice
# tombstone rows co-partitioned with the blocks (query/wand.py), so the
# driver never materializes the set (r4 VERDICT scale-hardening #2).
# compact()'s auto-purge bounds the tombstone FRACTION, not the count.
DELETED_COLLECT_MAX = 1_000_000

# BM25F default field weights = the reference's tag-weight vector
# (Ranker.java:43-66) applied as field emphasis in the principled scorer
BM25F_WEIGHTS = {
    "title": 4.0,
    "h1": 2.5,
    "h2": 2.0,
    "h3": 1.5,
    "body": 0.5,
}


def bm25_idf(df: int, n_docs: int) -> float:
    """Okapi BM25 idf, Lucene's always-positive variant:
    ln(1 + (N - df + 0.5) / (df + 0.5)). Computed DRIVER-SIDE in Python:
    the resulting double enters both the Spark plan and the DuckDB oracle
    SQL as a literal, so no runtime log() is in either plan and scores
    compare bit-identically."""
    import math

    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


# the per-doc sum of `contrib` over (term, contrib) rows in ascending term
# order (determinism contract, SURVEY.md 7.4)
_TERM_FOLD = (
    "aggregate(array_sort(collect_list(struct(term, contrib))), "
    "0D, (acc, x) -> acc + x.contrib)"
)


def _bag_words(parsed: parser.ParsedQuery) -> list[str] | None:
    """The distinct stems of a bag-of-words query, or None for a phrase
    or boolean-phrase query: its candidates need positions, which the
    WAND blocks and the batched BM25 plan do not carry."""
    if parsed.qtype in ("normal", "normal+boolean"):
        return parsed.bag_words
    return None


class _BM25(NamedTuple):
    """One query's Okapi BM25 constants (SearchEngine._bm25), computed
    driver-side in Python and shared verbatim by the exact plans' SQL
    text, the WAND kernel (query/wand.bm25_scorer) and the DuckDB oracle
    SQL: `idfs` maps each query word with a df to its idf, and
    K(dl) = c0 + c1*dl with c0 = k1*(1-b) and c1 = k1*b/avgdl."""

    idfs: dict[str, float]
    k1p1: float
    c0: float
    c1: float

    def contrib(self, tf: str, idf: str | None = None) -> str:
        """SQL text of one posting's contribution idf * tfn(tf, dl) —
        `idf` defaults to the idf map looked up by term. Every
        sub-expression is parenthesized, so the text parses to the
        oracle's association: idf * ((tf * k1p1) / (tf + (c0 + c1*dl)))."""
        if idf is None:
            idf = "map(" + ", ".join(
                f"{_sql_lit(w)}, {_sql_lit(v)}" for w, v in self.idfs.items()
            ) + ")[term]"
        return (
            f"({idf} * (({tf} * {_sql_lit(self.k1p1)}) / ({tf} + "
            f"({_sql_lit(self.c0)} + ({_sql_lit(self.c1)} * "
            "CAST(dl AS DOUBLE))))))"
        )


# SearchEngine.run's plan per (scorer, exact): BM25F has no block bound,
# so it runs exact either way
_PLANS = {
    ("reference", True): "search_df",
    ("reference", False): "search_df_wand",
    ("bm25", True): "search_bm25_df",
    ("bm25", False): "search_bm25_wand_df",
    ("bm25f", True): "search_bm25f_df",
    ("bm25f", False): "search_bm25f_df",
}


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 doc_prior: DataFrame | None = None,
                 deleted_ids: list[str] | None = None):
        """Query engine over the disk index at `index_dir`: bucket-pruned
        scans in ordinal space (layout v8 — doc_id strings live once, in
        doc_map, and translate back only on the final top-k rows).

        `doc_prior` is an optional (url, prior) DataFrame — the reference's
        per-URL pagerank multiplier (Ranker.java:196,328; typically fed by
        ranking/pagerank.py output). Docs absent from the table score with
        the uniform default 1/n_docs, exactly the reference's absent-key
        branch. Without it the prior is the uniform constant.

        `deleted_ids` is an OPTIONAL ad-hoc deleted set (doc_id strings)
        hidden from every query of this engine instance without touching
        the index on disk; it composes with (unions into) any committed
        tombstones (indexing/deletes.delete_docs). Deletion semantics are
        Lucene's: hidden from results immediately, corpus statistics
        (n_docs, df, avgdl, uniform prior) unchanged until purge_deleted
        rewrites the index."""
        self.spark = spark
        self.index_dir = index_dir
        self.doc_prior = doc_prior
        self.deleted_ids = sorted(set(deleted_ids)) if deleted_ids else None
        self._deleted_cache: dict[str, object] = {}
        self._df_cache: dict[str, int | None] = {}
        self._reader_cache: dict[str, DataFrame] = {}
        # parquet footer key ranges per (table dir, key column) for the
        # driver-side point reads (query/pointread.py)
        self._footer_cache: dict[tuple[str, str], list] = {}
        # mlt_terms selections per (seed doc_id, max_terms)
        self._mlt_cache: dict[tuple[str, int], tuple[str, ...]] = {}
        self.postings_path = os.path.join(index_dir, "postings")
        self.lexicon_path = os.path.join(index_dir, "lexicon")
        self.doc_meta_path = os.path.join(index_dir, "doc_meta")
        self.doc_len_path = os.path.join(index_dir, "doc_len")
        self._load_meta()
        self._index_state = self._state_token()

    def _load_meta(self) -> None:
        with open(os.path.join(self.index_dir, "meta.json")) as f:
            meta = json.load(f)
        self.n_docs = int(meta["n_docs"])
        # BM25 corpus statistic (layout v6); 0 on older indexes —
        # search_bm25_df refuses rather than misscore
        self.total_len = int(meta.get("total_len") or 0)
        # uniform doc prior: transcripts have no link graph; the reference's
        # absent-URL default is 1/|pageRanks| (Ranker.java:196) — kept as a
        # multiplied constant so scores match the oracle bit-for-bit.
        self.prior = 1.0 / self.n_docs
        # == 6000 on any corpus the reference can build; = n_docs beyond
        # that regime, where the literal constant zeroes every score
        # (config.idf_numerator rationale)
        self.idf_numerator = idf_numerator(self.n_docs)

    def _state_token(self):
        """Cheap identity of the committed on-disk index state: mtime+size
        of meta.json (rewritten by every build/compact/recompact commit)
        and merge_state.json (the LSM commit marker, streamed indexes
        only). Two os.stat calls — no Spark job."""
        tok = []
        for name in ("meta.json", "merge_state.json", "tombstones.json"):
            try:
                st = os.stat(os.path.join(self.index_dir, name))
                tok.append((st.st_mtime_ns, st.st_size))
            except OSError:
                tok.append(None)
        return tuple(tok)

    def refresh(self) -> None:
        """Drop every memoized handle on the disk index and reload corpus
        stats — called automatically when a compaction/recompaction has
        committed a new index state under a long-lived engine."""
        self._df_cache.clear()
        self._reader_cache.clear()
        self._footer_cache.clear()
        self._deleted_cache.clear()
        # the MLT term-selection memo pins the same index state (dfs and
        # the seed's stored text both feed it)
        self._mlt_cache.clear()
        self._load_meta()
        self._index_state = self._state_token()

    def _ensure_fresh(self) -> None:
        """The df/reader memos pin one index state; compaction publishes a
        new one (atomic meta/merge_state replace). Re-checking the commit
        markers on each public query keeps long-lived engines (jobs/serve
        over a streamed index) correct across compactions."""
        if self._state_token() != self._index_state:
            self.refresh()

    # ------------------------------------------------------------------ P2
    # heading-channel -> per-posting count array of the segment layout
    _FIELD_COLS = {
        "title": "n_titles",
        "h1": "n_h1s",
        "h2": "n_h2s",
        "h3": "n_h3s",
    }

    def _exploded(
        self,
        terms: list[str],
        with_df: bool = False,
        with_occ_dl: bool = False,
        with_positions: bool = False,
        with_field: str | None = None,
        with_all_fields: bool = False,
    ) -> DataFrame:
        """Bucket-pruned scan of the distinct `terms`, exploded to
        (term, doc_ord, wtf[, positions_vb][, occ, dl][, df]) rows. Only
        what the caller's plan consumes is zipped and exploded, so parquet
        column pruning reaches the scan: the normal scoring path reads
        (term, doc_ord, wtf inputs) and nothing
        else. `with_df` carries the build-time document frequency as a
        literal map over the lexicon dfs — for the normal path this
        replaces a query-time Exchange+Sort+Window recount (same value:
        the filtered-df quirk Q12 only diverges on phrase/boolean paths,
        which recount). `with_occ_dl` adds the stored per-posting raw
        occurrence count and analyzer-stamped doc length (the BM25
        inputs, read straight off the pruned segments — NO doc_len
        join). `with_positions` adds the varbyte-encoded positions_vb
        (the phrase path decodes it after candidate bounding).

        Plan shape: one `where` (term_bucket and term predicates, pushed
        to the scan) and one `selectExpr` whose `inline(arrays_zip(...))`
        explodes and names every output column at once; tombstones add
        one more `where`. Literals are SQL text (query/pointread.py
        _sql_lit), so building the plan costs a few JVM calls whatever
        the number of terms."""
        distinct = sorted(set(terms))
        if not distinct:
            return self._empty_postings(
                with_positions=with_positions, with_occ_dl=with_occ_dl
            )
        buckets = sorted({self._bucket(t) for t in distinct})
        src = self._read(self.postings_path).where(
            f"{sql_in('term_bucket', buckets)} AND "
            f"{sql_in('term', distinct)}"
        )
        # wtf is derived, not stored (layout v10): one JVM transform over
        # the zipped small-int arrays of the pruned segments — identical
        # float64 arithmetic to the analyzer (build.WTFS_FROM_SEGMENT_EXPR
        # rationale), still inside whole-stage codegen
        from apt_search_engine_spark.indexing.build import (
            WTFS_FROM_SEGMENT_EXPR,
        )

        zips = {"doc_ord": "doc_ords", "wtf": WTFS_FROM_SEGMENT_EXPR}
        if with_positions:
            zips["positions_vb"] = "positions_vb"
        if with_occ_dl:
            zips["occ"] = "occs"
            zips["dl"] = "dls"
        if with_field is not None:
            zips["n_field"] = self._FIELD_COLS[with_field]
        if with_all_fields:
            for name, fcol in self._FIELD_COLS.items():
                zips[f"n_{name}"] = fcol
        cols = ["term"]
        if with_df:
            # lexicon lookup is a driver-side read of a few pruned rows;
            # stamping df as a literal map keeps the distributed plan
            # join-free (every indexed term is in the lexicon by
            # construction, so the map is total over matched rows)
            dfs = self.term_dfs(distinct)
            if not dfs:
                return self._empty_postings()
            pairs = ", ".join(
                f"{_sql_lit(t)}, {_sql_lit(d)}" for t, d in sorted(dfs.items())
            )
            cols.append(f"map({pairs})[term] AS df")
        cols.append(
            f"inline(arrays_zip({', '.join(zips.values())}))"
            f" AS ({', '.join(zips)})"
        )
        return self._filter_deleted(src.selectExpr(*cols))

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Document frequency per term from the lexicon: a driver-side
        point read of the query terms' `lexicon/term_bucket=*`
        directories (query/pointread.py — pyarrow opens only the row
        groups whose footer term range holds a query term; the lexicon
        is term-sorted within each bucket, so no Spark job runs).

        Memoized per engine instance (absent terms cached as absent
        too): one query touches the lexicon for the same words from
        several plan builders (_exploded's df stamp, the phrase rare
        probe, the scorer's idf). An engine is bound to one index
        state (refresh() clears the memo when a commit publishes a new
        one), so the cache cannot go stale mid-instance."""
        distinct = sorted(set(terms))
        if not distinct:
            return {}
        missing = [t for t in distinct if t not in self._df_cache]
        if missing:
            by_bucket: dict[int, list[str]] = {}
            for t in missing:
                by_bucket.setdefault(self._bucket(t), []).append(t)
            got = {}
            for b, ts in sorted(by_bucket.items()):
                for r in self._point_read(
                    os.path.join(self.lexicon_path, f"term_bucket={b}"),
                    "term",
                    ts,
                    ["term", "df"],
                ):
                    got[r["term"]] = int(r["df"])
            for t in missing:
                self._df_cache[t] = got.get(t)  # None = absent
        return {
            t: self._df_cache[t]
            for t in distinct
            if self._df_cache[t] is not None
        }

    def _point_read(
        self, table_dir: str, key: str, keys, columns: list[str]
    ) -> list[dict]:
        """Rows of one index table whose `key` is in `keys`, read in the
        driver from the row groups whose footer range can hold them
        (query/pointread.read_rows; footers memoized per index state)."""
        return read_rows(table_dir, key, keys, columns, self._footer_cache)

    def _doc_ids(self, ords: list[int]) -> dict[int, str]:
        """ord -> doc_id for a few ordinals: a point read of the
        ordinal-ordered doc_map (the top-k translation, translate_topk)."""
        rows = self._point_read(
            os.path.join(self.index_dir, "doc_map"),
            "doc_ord",
            ords,
            ["doc_ord", "doc_id"],
        )
        return {r["doc_ord"]: r["doc_id"] for r in rows}

    def _read(self, path: str) -> DataFrame:
        """Memoized `spark.read.parquet` over one index table. The
        returned frame is a LAZY logical plan — memoizing it reuses the
        resolved relation (file listing + schema footer read), which
        otherwise costs one serial 1-task driver job PER
        spark.read.parquet call: a single phrase query touches postings
        twice plus doc_map, and those metadata jobs plus their planning
        gaps were ~30% of query wall at bench scale. Filters/projections
        compose on top unchanged (scan pruning happens at execution).
        Like the df memo above, the cache pins the engine to one index
        state; compaction publishes a new state and readers re-open."""
        if path not in self._reader_cache:
            self._reader_cache[path] = self.spark.read.parquet(path)
        return self._reader_cache[path]

    def _doc_map(self) -> DataFrame:
        """(doc_ord, doc_id) forward map of the disk index."""
        return self._read(
            os.path.join(self.index_dir, "doc_map")
        ).select("doc_ord", "doc_id")

    def _deleted_keys(self):
        """The deleted-doc ordinals as a SORTED np.int64 array, or None:
        committed tombstones ∪ the ctor's ad-hoc deleted_ids resolved via
        doc_map — also what the WAND scorers mask with. Memoized per
        index state (refresh() clears it); None costs nothing on the hot
        path.

        Past DELETED_COLLECT_MAX tombstones the set is NOT collected:
        this returns None and _deleted_df() carries the distributed
        frame instead (r4 VERDICT 'what's wrong' #2 — auto-purge bounds
        the tombstone FRACTION, not the absolute count, and 1% of 10^12
        ordinals is 80 GB on the driver)."""
        if "keys" in self._deleted_cache:
            return self._deleted_cache["keys"]
        keys = None
        if not self._deleted_distributed():
            import numpy as np

            from apt_search_engine_spark.indexing.deletes import (
                tombstones_df,
            )

            ords: set[int] = set()
            tomb = tombstones_df(self.spark, self.index_dir)
            if tomb is not None:
                ords.update(
                    int(r.doc_ord) for r in tomb.select("doc_ord").collect()
                )
            if self.deleted_ids:
                ords.update(
                    int(r.doc_ord)
                    for r in self._doc_map()
                    .filter(F.col("doc_id").isin(self.deleted_ids))
                    .collect()
                )
            if ords:
                keys = np.array(sorted(ords), dtype=np.int64)
        self._deleted_cache["keys"] = keys
        return keys

    def _deleted_distributed(self) -> bool:
        """True when the tombstone set must stay a DataFrame. The count
        comes from the tombstone MARKER (n_deleted, stamped by
        delete_docs) plus the ad-hoc list — two os-level reads, no Spark
        job on the undeleted hot path."""
        n = len(self.deleted_ids or [])
        try:
            with open(
                os.path.join(self.index_dir, "tombstones.json")
            ) as f:
                n += int(json.load(f).get("n_deleted") or 0)
        except (OSError, ValueError):
            pass
        return n > DELETED_COLLECT_MAX

    def _deleted_df(self) -> DataFrame | None:
        """The tombstoned ordinals as a (doc_ord) DataFrame — the
        distributed-mode counterpart of _deleted_keys, returned only
        when the set exceeds DELETED_COLLECT_MAX. Exact plans anti-join
        it; the WAND scorers receive its rows co-partitioned with the
        blocks by ordinal slice (query/wand.py tomb rows — the same
        mechanism prior rows already use)."""
        if "df" in self._deleted_cache:
            return self._deleted_cache["df"]
        out = None
        if self._deleted_distributed():
            from apt_search_engine_spark.indexing.deletes import (
                tombstones_df,
            )

            tomb = tombstones_df(self.spark, self.index_dir)
            parts = []
            if tomb is not None:
                parts.append(tomb.select("doc_ord"))
            if self.deleted_ids:
                parts.append(
                    self._doc_map()
                    .filter(F.col("doc_id").isin(self.deleted_ids))
                    .select("doc_ord")
                )
            if parts:
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                out = out.distinct()
        self._deleted_cache["df"] = out
        return out

    def _filter_deleted(self, df: DataFrame) -> DataFrame:
        """Drop rows whose doc_ord is deleted — applied to the
        candidate source (_exploded) so every exact plan (normal/phrase/
        boolean, reference and BM25 scorers, batch mode) excludes
        tombstoned docs before scoring; the bound probe (_term_doc_set)
        relies on the side it bounds being filtered already. Stats
        intentionally stay stale (module semantics, indexing/deletes.py).
        Small sets inline
        as one SQL NOT IN literal list (no join, stays in codegen, one
        JVM parse however many ids); driver-sized
        sets become a broadcast anti-join; past DELETED_COLLECT_MAX the
        tombstones never leave the cluster — a plain anti-join against
        the tombstone table (AQE picks the join strategy)."""
        keys = self._deleted_keys()
        if keys is None:
            dead_df = self._deleted_df()
            if dead_df is None:
                return df
            return df.join(dead_df, "doc_ord", "left_anti")
        items = [int(k) for k in keys]
        if len(items) <= 1024:
            return df.where(f"NOT ({sql_in('doc_ord', items)})")
        dead = self.spark.createDataFrame(
            [(i,) for i in items], "doc_ord long"
        )
        return df.join(F.broadcast(dead), "doc_ord", "left_anti")

    def _bucket(self, term: str) -> int:
        # must match F.pmod(F.xxhash64(term), N) used at build time; the
        # vendored pure-Python XXH64 (functions/xxhash.py) is bit-identical
        # to Spark's, so bucket pruning costs zero Spark jobs at query time
        from apt_search_engine_spark.functions.xxhash import term_bucket

        return term_bucket(term, N_TERM_BUCKETS)

    def _empty_postings(
        self, with_positions: bool = False, with_occ_dl: bool = False
    ) -> DataFrame:
        pos = ", positions_vb binary" if with_positions else ""
        occ_dl = ", occ int, dl int" if with_occ_dl else ""
        return local_frame(
            self.spark, [],
            f"term string, doc_ord long, wtf double{pos}{occ_dl}",
        )

    def _term_doc_set(self, term: str) -> DataFrame:
        """Narrow doc-key set of ONE term: reads only (term, doc ords)
        off the pruned segments — no wtf derivation, no positions — so
        the semi-join side of a candidate bound (_bounded) costs a two-
        column parquet read instead of the full posting payload. It
        only bounds: the bounded side already dropped tombstoned docs."""
        return self._read(self.postings_path).where(
            f"term_bucket = {self._bucket(term)} AND "
            f"term = {_sql_lit(term)}"
        ).selectExpr("explode(doc_ords) AS doc_ord")

    def _bounded(
        self, ex: DataFrame, terms: list[str], dfs: dict[str, int],
        rare: str | None = None,
    ) -> DataFrame:
        """Restrict the exploded postings `ex` of `terms` to docs holding
        `rare` (default: the rarest of `terms`) before the per-doc
        positions aggregate, when the lexicon dfs say the bound pays
        (config.BOUND_MIN_CUT_ROWS): a broadcast semi-join against
        `rare`'s narrow doc set (_term_doc_set). No bound when it is sure
        to cut fewer than BOUND_MIN_CUT_ROWS rows net of its probe: the
        sum over the other terms of df(t) - df(rare) (rows of docs that
        cannot hold `rare`), minus df(rare) (the rows the probe reads).
        A head-term phrase keeps nearly every row, and a bound would only
        add a probe scan and its broadcast job.

        The bound only drops rows of docs that lack `rare` and so cannot
        match, so results never depend on the choice."""
        if rare is None:
            rare = min(terms, key=lambda t: (dfs[t], t))
        # rows the bound is sure to remove, net of the rows its probe reads
        cut = sum(
            max(dfs[t] - dfs[rare], 0) for t in terms if t != rare
        ) - dfs[rare]
        if cut < config.BOUND_MIN_CUT_ROWS:
            return ex
        return ex.join(self._term_doc_set(rare), "doc_ord", "left_semi")

    # -------------------------------------------------------------- P4+P5
    def _phrase_filtered(
        self, terms: list[str], with_occ_dl: bool = False
    ) -> DataFrame:
        """handlePhrase (QueryProcessor.java:130-173): returns the exploded
        postings of `terms` restricted to docs containing the exact phrase
        (the shared _proximity_filtered shape with the fused adjacency
        predicate). A term absent from the lexicon empties the
        intersection outright (P4 semantics: no doc can contain all
        terms)."""
        return self._proximity_filtered(
            terms, _phrase_match_udf(terms), with_occ_dl=with_occ_dl
        )

    def _proximity_filtered(
        self, terms: list[str], match_udf, with_occ_dl: bool = False
    ) -> DataFrame:
        """Shared P4+positions machinery: the candidate-bounded single
        scan of `terms`' postings, aggregated per doc, filtered by
        `match_udf` (the fused Arrow positions predicate — exact
        adjacency for phrases, window proximity for NEAR, in-order
        chains for sloppy phrases), survivors re-exploded.

        Plan shape (r4 single-scan restructure): the fat pruned scan
        (positions + wtf inputs) appears in the plan exactly ONCE. All
        payload columns ride THROUGH the per-doc aggregate as collected
        structs, the P4 intersection and the positions predicate run on
        the aggregated rows, and the survivors re-explode. P4 is
        `size(array_distinct(terms of the doc)) = n` on the collected
        list, not a countDistinct, which Spark plans as a two-level
        aggregate with its own exchange. When the lexicon dfs say a
        bound pays (_bounded), the rows are cut to the rarest term's
        docs BELOW the aggregate, so a head term's full posting list
        never crosses the aggregate shuffle just because it shares a
        phrase with a rare term."""
        distinct = sorted(set(terms))
        if not terms:
            return self._empty_postings(with_occ_dl=with_occ_dl)
        dfs = self.term_dfs(distinct)
        if any(t not in dfs for t in distinct):
            return self._empty_postings(with_occ_dl=with_occ_dl)
        ex = self._exploded(
            distinct, with_occ_dl=with_occ_dl, with_positions=True
        )
        if len(distinct) > 1:
            ex = self._bounded(ex, distinct, dfs)
        extra = ", occ, dl" if with_occ_dl else ""
        # P5 as ONE Arrow pass over the aggregated rows (decode +
        # index-shifted intersection fused): positions stay
        # delta+varbyte binary through the shuffle (smaller than decoded
        # array<int>), the whole batch decodes in one vectorized codec
        # call, and the per-offset intersection is a sorted searchsorted
        # probe over doc-strided position keys — no per-row Python, no
        # separate pre-shuffle decode stage, no Catalyst
        # map_from_entries/array_intersect fold (that chain cost ~2x
        # this shape's wall on head-term phrases at bench scale).
        matched = (
            ex.groupBy("doc_ord")
            .agg(F.expr(
                f"collect_list(struct(term, positions_vb, wtf{extra})) AS ps"
            ))
            .where(
                F.expr(
                    "size(array_distinct(transform(ps, x -> x.term))) = "
                    f"{len(distinct)}"
                )
                & match_udf(
                    F.expr("transform(ps, x -> x.term)"),
                    F.expr("transform(ps, x -> x.positions_vb)"),
                )
            )
        )
        out = "x.term AS term, x.wtf AS wtf" + (
            ", x.occ AS occ, x.dl AS dl" if with_occ_dl else ""
        )
        return matched.selectExpr(
            "doc_ord", f"inline(transform(ps, x -> struct({out})))"
        )

    # ----------------------------------------------------------------- P7
    def _boolean_filtered(
        self, parsed: parser.ParsedQuery, with_occ_dl: bool = False
    ) -> DataFrame:
        """handlePhraseWithBoolean (QueryProcessor.java:202-281): evaluate
        segments, fold doc-id sets left-to-right, filter each segment's
        postings to the merged set. Later segments overwrite same-term
        entries (reference map-put order).

        Plan shape: each segment is ONE pruned scan of its exploded
        postings (phrase segments carry positions; bare segments a null
        positions field), candidate-bounded where the lexicon dfs say a
        bound pays (_bounded): a phrase segment by its own rarest term,
        and under an all-AND query every segment by the globally rarest
        query term — one bound per segment, never two. The segments
        union into ONE per-doc aggregate, ONE fused Arrow UDF evaluates
        every segment's match, and the left-fold set algebra plus the
        owner-segment restriction are SQL expressions over its flags."""
        segments = [p for p in parsed.segments if not parser.is_operator(p)]
        operators = parser.extract_operators(parsed.segments)

        seg_terms: list[list[str]] = []   # sorted distinct, owner calc
        seg_specs: list[list[str]] = []   # ordered w/ repeats, fold UDF
        seg_phrase: list[bool] = []
        for part in segments:
            if part.startswith('"') and part.endswith('"'):
                toks = [parser.stem(w) for w in parser.tokenize(part[1:-1])]
                seg_phrase.append(True)
            else:
                toks = [parser.stem(part)]
                seg_phrase.append(False)
            seg_terms.append(sorted(set(toks)))
            seg_specs.append(toks)
        if not segments:
            return self._empty_postings(with_occ_dl=with_occ_dl)
        all_terms = sorted({t for ts in seg_terms for t in ts})
        dfs = self.term_dfs(all_terms)

        # All-AND candidate bound (r5): when every operator is AND, the
        # merged set can only contain docs holding the GLOBALLY rarest
        # query term, so every segment is bounded by that term (for a
        # phrase segment it is at least as rare as its own rarest). A
        # doc lacking it fails the AND fold regardless, and the bound
        # filters docs, never rows within a doc, so kept docs score the
        # same postings.
        all_and = (
            len(segments) > 1
            and bool(all_terms)  # stopword-only segments add no terms
            and bool(operators)
            and all(op == "AND" for op in operators[: len(segments) - 1])
        )
        rare = None
        if all_and:
            if not all(t in dfs for t in all_terms):
                # some AND-required term is unindexed: intersection empty
                return self._empty_postings(with_occ_dl=with_occ_dl)
            rare = min(all_terms, key=lambda t: (dfs[t], t))

        extra = ", occ, dl" if with_occ_dl else ""
        tagged = []
        for i, (toks, terms, phrase) in enumerate(
            zip(seg_specs, seg_terms, seg_phrase)
        ):
            if phrase and (not toks or any(t not in dfs for t in terms)):
                # P4: a phrase with an unindexed term matches nothing
                ex = self._empty_postings(
                    with_positions=True, with_occ_dl=with_occ_dl
                )
            else:
                ex = self._exploded(
                    terms, with_occ_dl=with_occ_dl, with_positions=phrase
                )
                if rare is not None:
                    ex = self._bounded(ex, terms, dfs, rare)
                elif phrase and len(terms) > 1:
                    ex = self._bounded(ex, terms, dfs)
            pos = "positions_vb" if phrase else (
                "CAST(NULL AS BINARY) AS positions_vb"
            )
            tagged.append(ex.selectExpr(
                "doc_ord",
                f"{i} AS seg",
                f"struct(term, wtf, {pos}{extra}) AS p",
            ))
        union = tagged[0]
        for t in tagged[1:]:
            union = union.unionByName(t)

        # Single-exchange, single-Arrow-pass fold (r5): ONE fused UDF
        # (_boolean_fold_udf) evaluates every segment's match — presence
        # for bare segments, the positions shift-intersection for phrase
        # segments — over the one per-doc aggregate of all segments
        fold = _boolean_fold_udf(seg_specs)
        per_doc = union.groupBy("doc_ord").agg(
            F.expr("collect_list(struct(seg, p)) AS ps")
        )
        per_doc = per_doc.select(
            "doc_ord",
            "ps",
            fold(
                F.expr("transform(ps, x -> x.seg)"),
                F.expr("transform(ps, x -> x.p.term)"),
                F.expr("transform(ps, x -> x.p.positions_vb)"),
            ).alias("segm"),
        )
        # P7: the reference's left-fold set algebra over the per-segment
        # match flags decides membership (AND=&&, OR=||, NOT=&&!)
        keep = "element_at(segm, 1)"
        for i in range(1, len(segments)):
            op = operators[i - 1] if i - 1 < len(operators) else None
            flag = f"element_at(segm, {i + 1})"
            if op == "AND":
                keep = f"({keep} AND {flag})"
            elif op == "OR":
                keep = f"({keep} OR {flag})"
            elif op == "NOT":
                keep = f"({keep} AND NOT {flag})"

        # later segments overwrite same-term entries (reference map-put
        # order): keep each term's rows only from its owning segment,
        # and ONLY where that segment matched the doc — the reference's
        # per-segment maps contain matching docs only, so a doc kept
        # through an OR/NOT branch must not score a phrase segment's
        # terms when the phrase did not occur in it (r5 review finding)
        owner: dict[str, int] = {}
        for i, terms in enumerate(seg_terms):
            for t in terms:
                owner[t] = i
        conds = []
        for i, terms in enumerate(seg_terms):
            mine = sorted(t for t in terms if owner[t] == i)
            if mine:
                conds.append(
                    f"(x.seg = {i} AND element_at(segm, {i + 1})"
                    f" AND {sql_in('x.p.term', mine)})"
                )
        if not conds:
            return self._empty_postings(with_occ_dl=with_occ_dl)
        out = "x.p.term AS term, x.p.wtf AS wtf" + (
            ", x.p.occ AS occ, x.p.dl AS dl" if with_occ_dl else ""
        )
        return per_doc.where(keep).selectExpr(
            "doc_ord",
            f"inline(transform(filter(ps, x -> {' OR '.join(conds)}), "
            f"x -> struct({out})))",
        )

    # ------------------------------------------------------------- R3/S10
    def _apply_prior(self, raw_df: DataFrame, key: str) -> DataFrame:
        """Multiply the per-doc raw sum by the doc prior. Uniform constant
        when no `doc_prior` table is set; otherwise a left join against the
        (url, prior) table with `coalesce(prior, 1/n_docs)` — the
        reference's absent-URL default (Ranker.java:196,328).

        Scale shape: `raw_df` is the query's candidate set (bounded by the
        matched posting lists), so this is one join of candidates against
        the prior table — AQE broadcasts small prior tables and falls back
        to a shuffle join when the prior side is corpus-sized. The prior is
        applied BEFORE top-k because it reorders results."""
        if self.doc_prior is None:
            return raw_df.selectExpr(
                "*", f"(raw * {_sql_lit(self.prior)}) AS score"
            )
        pri = self.doc_prior.select(
            "url", F.col("prior").cast("double").alias("prior")
        )
        if key == "doc_ord":
            # candidates live in ordinal space (layout v8): the prior maps
            # through doc_meta + doc_map ON THE PRIOR SIDE (metadata-table
            # joins, never the postings), so candidate rows join once
            pri = self._prior_by_ord()
        joined = raw_df.join(pri, key, "left")
        return joined.withColumn(
            "score",
            F.col("raw") * F.coalesce(F.col("prior"), F.lit(self.prior)),
        )

    # -------------------------------------------------------------- R1-R5
    def _score(
        self,
        filtered: DataFrame,
        scoring_words: list[str],
        gate_word: str | None,
        k: int,
        dedup_by_url: bool = False,
        count_only: bool = False,
    ) -> DataFrame:
        """Score the final filtered postings. df per term = filtered map
        size (quirk Q12, a count window over the scoring rows); if
        `filtered` already carries a `df` column (normal path: stored
        build-time df == filtered recount), it is used as-is — no
        query-time window. Duplicate scoring words multiply.

        The optional first-word gate (quirk Q7) is an aggregate beside
        `raw` in the same per-doc groupBy — max(term = gate) — filtered
        after it, so it costs no exchange of its own. Results return
        through translate_topk, which makes the one top-k cut.

        Plan shape: `where` + one `selectExpr` for contrib, the
        groupBy, then one `where` + `selectExpr` for the prior and the
        zero filter. Every literal is SQL text and every sub-expression
        is parenthesized, so the association — and the float result —
        is the Column tree's."""
        present = sorted(set(scoring_words))
        mult: dict[str, int] = {}
        for w in scoring_words:
            mult[w] = mult.get(w, 0) + 1
        mult_expr = "CASE term " + " ".join(
            f"WHEN {_sql_lit(t)} THEN {_sql_lit(float(c))}"
            for t, c in mult.items()
        ) + " ELSE 0D END"
        df_expr = (
            "df" if "df" in filtered.columns
            else "count(1) OVER (PARTITION BY term)"
        )
        # contrib = tf * idf * sum(tag weights) == wtf * idf (see _WSUM
        # note above); same product order as the reference's fold-then-
        # multiply, so scores stay bit-comparable to the oracle
        sp = filtered.where(sql_in("term", present)).selectExpr(
            "doc_ord",
            "term",
            f"((wtf * CAST(FLOOR({self.idf_numerator} / ({df_expr}))"
            f" AS DOUBLE)) * ({mult_expr})) AS contrib",
        )
        gate = None
        if gate_word is not None:
            gate = F.expr(
                f"max(CAST(term = {_sql_lit(gate_word)} AS INT)) AS gate"
            )

        if dedup_by_url:
            # R10 (Ranker.java:201-214): scoreTracker is keyed by URL, so
            # per-(term, doc) contributions of docs sharing a URL merge
            # into one result row. Fold order (term, doc) ascending —
            # identical to the per-doc path when URLs are unique
            # (determinism contract, SURVEY.md 7.4; ordinal order ==
            # doc_id order). URLs for every candidate are a semantic
            # requirement here, so the candidate rows join doc_meta (via
            # doc_map in ordinal space) — candidate-bounded left side.
            if gate is not None:
                # the Q7 gate is per DOC, the fold below per URL: gate
                # each doc's rows before they regroup
                sp = (
                    sp.groupBy("doc_ord")
                    .agg(
                        F.expr("collect_list(struct(term, contrib)) AS cs"),
                        gate,
                    )
                    .where("gate = 1")
                    .selectExpr("doc_ord", "inline(cs)")
                )
            urls = (
                self._read(self.doc_meta_path)
                .select("doc_id", "url")
                .join(self._doc_map(), "doc_id")
                .select("doc_ord", "url")
            )
            raw_by_url = (
                sp.join(urls, "doc_ord")
                .groupBy("url")
                .agg(
                    F.expr(
                        "aggregate(array_sort(collect_list("
                        "struct(term, doc_ord, contrib))), "
                        "0D, (acc, x) -> acc + x.contrib)"
                    ).alias("raw")
                )
            )
            scored = (
                self._apply_prior(raw_by_url, key="url")
                .where("score != 0D")
                .select("url", "score")
            )
            if count_only:
                return scored.selectExpr("count(1) AS n_matches")
            return scored.orderBy(F.desc("score"), F.asc("url")).limit(k)

        aggs = [F.expr(f"{_TERM_FOLD} AS raw")]
        if gate is not None:
            aggs.append(gate)
        raw_by_doc = sp.groupBy("doc_ord").agg(*aggs)
        if gate is not None:
            raw_by_doc = raw_by_doc.where("gate = 1")
        scored = (
            self._apply_prior(raw_by_doc, key="doc_ord")
            .where("score != 0D")
            .select("doc_ord", "score")
        )
        if count_only:
            # the reference's totalCount (results.size()) without the
            # sort/limit or the doc_map translation
            return scored.selectExpr("count(1) AS n_matches")
        # translate_topk cuts the top k and point-looks up doc_map for
        # those rows only
        return wand.translate_topk(self.spark, scored, self._doc_ids, k)

    def _prior_by_ord(self) -> DataFrame | None:
        """The url-keyed doc_prior mapped into ordinal space:
        (url, prior) -> doc_meta (url -> doc_id) -> doc_map -> (doc_ord,
        prior). Metadata-table-sized joins only — never touches postings."""
        if self.doc_prior is None:
            return None
        pri = self.doc_prior.select(
            "url", F.col("prior").cast("double").alias("prior")
        )
        if os.path.isdir(self.doc_meta_path):
            urls = self._read(self.doc_meta_path).select(
                "doc_id", "url"
            )
            pri = urls.join(pri, "url").select("doc_id", "prior")
        else:
            pri = pri.withColumnRenamed("url", "doc_id")
        return pri.join(self._doc_map(), "doc_id").select("doc_ord", "prior")

    # ---------------------------------------------------------------- WAND
    def search_df_wand(self, query: str, k: int = DEFAULT_TOP_K) -> DataFrame:
        """Bag-of-words top-k via block-max WAND over the compressed blocks
        (the hot-path scorer, query/wand.py). Phrase/boolean queries need
        positions and fall back to the exact plan; results are identical
        either way (parity asserted in tests/test_wand.py). A non-uniform
        `doc_prior` keeps the pruned path (prior-aware WAND): prior rows
        are co-partitioned with the blocks by ordinal slice, the scorer
        multiplies per-doc priors exactly and prunes with per-slice max
        priors — admissible, rank-identical to the exact prior plan
        (tests/test_prior.py)."""
        self._ensure_fresh()
        return self._wand_df(
            _bag_words(parser.parse(query)), k, lambda: self.search_df(query, k)
        )

    def _wand_df(
        self,
        words: list[str] | None,
        k: int,
        exact: Callable[[], DataFrame],
        bm25: tuple[float, float] | None = None,
    ) -> DataFrame:
        """The one block-max WAND entry (query/wand.wand_topk): the
        reference scorer, or Okapi BM25 with `bm25` = (k1, b). `words`
        are the distinct stems of a bag of words (multiplicity 1 — the
        exact bag-of-words plans dedup words too, so scores match them
        bit for bit). None marks a phrase-family query, which needs
        positions: it, and an index built without the blocks companion,
        run `exact()` — the same scorer's exact plan — instead."""
        blocks_dir = os.path.join(self.index_dir, "blocks")
        if words is None or not os.path.isdir(blocks_dir):
            return exact()
        if bm25 is None:
            dfs = self.term_dfs(words)
            weights = {
                t: float(self.idf_numerator // dfs[t]) for t in words if t in dfs
            }
            scorer, prior, prior_by_ord = (
                wand.REFERENCE, self.prior, self._prior_by_ord()
            )
        else:
            bm = self._bm25(words, *bm25)
            words = list(bm.idfs)
            weights, prior, prior_by_ord = bm.idfs, 1.0, None
            scorer = wand.bm25_scorer(bm.k1p1, bm.c0, bm.c1)
        if not weights:
            return self._empty_results()
        buckets = sorted({self._bucket(t) for t in words})
        blocks = (
            self._read(blocks_dir)
            .filter(F.col("term_bucket").isin(buckets))
            .filter(F.col("term").isin(words))
        )
        return wand.wand_topk(
            self.spark,
            blocks,
            self._doc_ids,
            weights,
            scorer,
            k,
            prior=prior,
            prior_by_ord=prior_by_ord,
            deleted=self._deleted_keys(),
            deleted_df=self._deleted_df(),
        )

    # ------------------------------------------------------------- public
    def search_df(
        self, query: str, k: int = DEFAULT_TOP_K, dedup_by_url: bool = False
    ) -> DataFrame:
        """The ranked top-k (doc_id, score) plan for `query`. With
        `dedup_by_url` the final aggregate is keyed by URL instead of
        doc_id (reference R10: docs sharing a URL merge scores) and the
        result schema is (url, score)."""
        self._ensure_fresh()
        filtered, words, gate = self._filtered_plan(parser.parse(query))
        if not words:
            return self._empty_results()
        return self._score(filtered, words, gate, k, dedup_by_url=dedup_by_url)

    def _filtered_plan(self, parsed, with_occ_dl: bool = False):
        """The one retrieval dispatch — the candidate operators every
        scorer shares (SURVEY.md 2.4: "the same candidate sets ... only
        the scorer differs"): (filtered postings plan, scoring words,
        gate). Phrase and boolean plans filter by positions and gate on
        their first scoring word (quirk Q7); a bag of words has no gate.
        `with_occ_dl` carries the BM25 inputs (occ, dl) in place of the
        reference scorer's stamped df column."""
        if parsed.qtype == "phrase":
            filtered = self._phrase_filtered(parsed.query_words, with_occ_dl)
            words = parsed.scoring_words
            gate = words[0] if words else None
        elif parsed.qtype == "phrase+boolean":
            filtered = self._boolean_filtered(parsed, with_occ_dl)
            words = parsed.scoring_words
            gate = words[0] if words else None
        else:  # normal / normal+boolean: bag of words, operators dropped
            words = parsed.bag_words
            if with_occ_dl:
                # BM25 scores only words with a df: the scan reads just
                # their buckets
                dfs = self.term_dfs(words)
                filtered = self._exploded(
                    [w for w in words if w in dfs], with_occ_dl=True
                )
            else:
                filtered = self._exploded(words, with_df=True)
            gate = None
        return filtered, words, gate

    def match_count_df(
        self, query: str, dedup_by_url: bool = False
    ) -> DataFrame:
        """Exact total match count for `query` as a 1-row (n_matches)
        frame — the size of the FULL ranked list the reference returns
        (SearchController totalCount; we keep top-k server-side, the P9
        documented deviation, so the exact count is exposed as its own
        aggregate). Same retrieval plan as search_df with the sort/limit
        replaced by one count — no ordering cost, no result
        materialization. The reference's scoreTracker is URL-keyed
        (R10), so on a corpus with url_expr overrides pass
        `dedup_by_url=True` to count merged URLs instead of doc ids
        (identical when URLs == doc ids, the transcripts default)."""
        self._ensure_fresh()
        filtered, words, gate = self._filtered_plan(parser.parse(query))
        if not words:
            return local_frame(self.spark, [(0,)], "n_matches long")
        return self._score(
            filtered, words, gate, k=0,
            dedup_by_url=dedup_by_url, count_only=True,
        )

    def explain(self, query: str, doc_id: str) -> dict:
        """Score explanation (Lucene IndexSearcher.explain analog): how
        `doc_id`'s score under `query` decomposes into per-term
        contributions — term, df (quirk-Q12 filtered recount where the
        query type demands it), floor idf, stored wtf, query-word
        multiplicity, contrib = wtf * idf * mult — plus the prior and
        the first-word gate verdict. The final `score` reproduces
        search_df BIT-EXACTLY (same float association: contributions
        folded in ascending term order, then * prior), pinned by
        tests/test_explain.py. Debug surface: runs the query's real
        filtered plan restricted to one document (dfs still computed
        over the full plan), never the hot path."""
        self._ensure_fresh()
        parsed = parser.parse(query)
        filtered, words, gate = self._filtered_plan(parsed)
        out = {
            "query": query,
            "qtype": parsed.qtype,
            "doc_id": doc_id,
            "matched": False,
            "gate_word": gate,
            "terms": [],
            "prior": None,
            "score": 0.0,
        }
        if not words:
            return out
        hit = self._point_read(
            os.path.join(self.index_dir, "doc_map"),
            "doc_id",
            [doc_id],
            ["doc_id", "doc_ord"],
        )
        if not hit:
            return out
        doc_ord = int(hit[0]["doc_ord"])
        present = sorted(set(words))
        sp = filtered.filter(F.col("term").isin(present))
        if "df" not in sp.columns:
            # Q12: the recount runs over the FULL filtered plan — the
            # window must see every candidate, so it precedes the
            # one-doc restriction
            sp = sp.withColumn(
                "df", F.count("*").over(Window.partitionBy("term"))
            )
        rows = (
            sp.filter(F.col("doc_ord") == doc_ord)
            .select("term", "wtf", "df")
            .collect()
        )
        if not rows:
            return out
        terms_present = {r.term for r in rows}
        if gate is not None and gate not in terms_present:
            # Q7: docs without the first scoring word never score
            out["gate_failed"] = True
            return out
        mult: dict[str, int] = {}
        for w in words:
            mult[w] = mult.get(w, 0) + 1
        raw = 0.0
        details = []
        for r in sorted(rows, key=lambda r: r.term):
            idf = float(self.idf_numerator // int(r.df))
            contrib = r.wtf * idf * float(mult[r.term])
            details.append(
                {
                    "term": r.term,
                    "df": int(r.df),
                    "idf": idf,
                    "wtf": r.wtf,
                    "multiplicity": mult[r.term],
                    "contrib": contrib,
                }
            )
            raw += contrib
        prior = self.prior
        if self.doc_prior is not None:
            url = doc_id
            m = self._point_read(
                self.doc_meta_path, "doc_id", [doc_id], ["doc_id", "url"]
            )
            if m:
                url = m[0]["url"]
            p = (
                self.doc_prior.filter(F.col("url") == url)
                .select(F.col("prior").cast("double").alias("prior"))
                .collect()
            )
            if p:
                prior = float(p[0].prior)
        score = raw * prior
        out.update(
            {
                "matched": score != 0.0,
                "terms": details,
                "prior": prior,
                "score": score,
            }
        )
        return out

    # ------------------------------------------------- multi-term rewrite
    def _lexicon_src(self) -> DataFrame:
        """The full (term, df) lexicon frame — vocab-sized, NOT postings-
        sized: at 10^12 turns the vocabulary is O(10^7-10^8) rows, a cheap
        columnar scan. Prefix/fuzzy expansion cannot bucket-prune (buckets
        are term hashes), so it pays exactly this one scan."""
        return self._read(self.lexicon_path)

    def _cache_dfs(self, rows) -> list[str]:
        terms = []
        for r in rows:
            self._df_cache[r.term] = int(r.df)
            terms.append(r.term)
        return terms

    def expand_prefix(
        self, prefix: str, max_expansions: int = DEFAULT_MAX_EXPANSIONS
    ) -> list[str]:
        """Lucene-style prefix (wildcard `pre*`) expansion against the
        stored vocabulary: every indexed term starting with `prefix`,
        capped deterministically at `max_expansions` by (df DESC, term
        ASC) — the highest-df expansions win, mirroring Lucene's
        TopTermsRewrite. The prefix is matched verbatim against the
        (stemmed) lexicon — multi-term queries skip analysis, as in
        Lucene's MultiTermQuery. Collect is bounded by max_expansions."""
        if not prefix:
            return []
        rows = (
            self._lexicon_src()
            .filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term", "df")
            .collect()
        )
        return self._cache_dfs(rows)

    def expand_fuzzy(
        self,
        word: str,
        max_dist: int = 1,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> list[str]:
        """Fuzzy (edit-distance) expansion: every indexed term within
        Levenshtein distance `max_dist` of `word`, capped at
        `max_expansions` by (distance ASC, df DESC, term ASC) — closest
        matches first, ties broken toward frequent terms (Lucene
        FuzzyQuery's TopTermsBlendedFreqScoringRewrite ordering, minus
        the blending). Distance runs JVM-side (F.levenshtein) over the
        vocab-sized lexicon scan."""
        if not word:
            return []
        dist = F.levenshtein(F.col("term"), F.lit(word))
        # necessary condition precomputed from cheap column stats: a term
        # within edit distance d differs in length by at most d — the
        # length band prunes the vocabulary before any DP runs (Lucene
        # uses a Levenshtein automaton; the band is the cheap declarative
        # subset of that and costs one codegen'd comparison per row)
        band = (
            F.abs(F.length("term") - F.lit(len(word))) <= F.lit(max_dist)
        )
        rows = (
            self._lexicon_src()
            .filter(band)
            .withColumn("dist", dist)
            .filter(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term", "df")
            .collect()
        )
        return self._cache_dfs(rows)

    @staticmethod
    def _glob_to_like(pattern: str) -> str:
        """Translate a term glob (`*` = any run, `?` = one char) to a SQL
        LIKE pattern. Vocabulary terms are [a-z0-9]+ by analysis, and the
        pattern grammar admits only [a-z0-9*?] — no escaping hazards."""
        if not re.fullmatch(r"[a-z0-9*?]+", pattern):
            raise ValueError(
                "wildcard pattern must be [a-z0-9*?]+, got "
                f"{pattern!r}"
            )
        return pattern.replace("*", "%").replace("?", "_")

    def expand_wildcard(
        self, pattern: str, max_expansions: int = DEFAULT_MAX_EXPANSIONS
    ) -> list[str]:
        """General wildcard (`te*t`, `t?st`, `*ing`) expansion against
        the stored vocabulary — the mid-/leading-wildcard generalization
        of expand_prefix, matched as SQL LIKE over the same vocab-sized
        lexicon scan and capped by the same deterministic (df DESC, term
        ASC) TopTermsRewrite rule. Leading wildcards can't narrow the
        scan (Lucene pays a full term-dict walk there too); the lexicon
        is vocab-sized, so that is one bounded columnar scan, not a
        postings scan."""
        pattern = pattern.strip().lower()
        if not pattern.strip("*?"):
            return []  # no literal chars: refuse the vocabulary dump
        like = self._glob_to_like(pattern)
        rows = (
            self._lexicon_src()
            .filter(F.col("term").like(like))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .select("term", "df")
            .collect()
        )
        return self._cache_dfs(rows)

    def _expansion_df(
        self, terms: list[str], k: int, wand: bool = False
    ) -> DataFrame:
        """Top-k of a server-derived term expansion (prefix, fuzzy,
        wildcard, synonyms, mlt) ranked as a bag-of-words OR query: each
        term multiplicity 1, true build-time df, no gate — the one
        scoring shape every multi-term rewrite shares. With `wand` it
        runs on the block-max WAND hot path (rank+score identical to the
        exact plan, parity pinned in tests/test_multiterm.py) when the
        index has a blocks companion; an empty expansion matches
        nothing."""
        if not terms:
            return self._empty_results()

        def exact():
            return self._score(
                self._exploded(terms, with_df=True), sorted(terms), None, k
            )

        return self._wand_df(sorted(terms), k, exact) if wand else exact()

    def search_prefix_df(
        self,
        prefix: str,
        k: int = DEFAULT_TOP_K,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> DataFrame:
        """Prefix query `pre*` as a scoring-boolean rewrite: expand
        against the lexicon, then rank the expansion exactly like a
        bag-of-words OR query (_expansion_df) — the reference scorer
        applied to a server-derived term set. The distributed plan is
        identical in shape to the normal path: bucket-pruned postings
        scan over <= max_expansions terms."""
        self._ensure_fresh()
        return self._expansion_df(
            self.expand_prefix(prefix, max_expansions), k
        )

    def search_prefix_wand_df(
        self,
        prefix: str,
        k: int = DEFAULT_TOP_K,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> DataFrame:
        """search_prefix_df on the block-max WAND hot path (falls back to
        the exact plan without a blocks companion)."""
        self._ensure_fresh()
        return self._expansion_df(
            self.expand_prefix(prefix, max_expansions), k, wand=True
        )

    def search_fuzzy_df(
        self,
        word: str,
        k: int = DEFAULT_TOP_K,
        max_dist: int = 1,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> DataFrame:
        """Fuzzy query `word~max_dist`: Levenshtein expansion against the
        lexicon, ranked as a bag-of-words OR query over the expansion —
        same scoring-boolean rewrite as search_prefix_df."""
        self._ensure_fresh()
        return self._expansion_df(
            self.expand_fuzzy(word, max_dist, max_expansions), k
        )

    def search_wildcard_df(
        self,
        pattern: str,
        k: int = DEFAULT_TOP_K,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> DataFrame:
        """General wildcard query (`te*t`, `t?st`, `*ing`): LIKE
        expansion against the lexicon, ranked as a bag-of-words OR query
        over the expansion — the same scoring-boolean rewrite as
        search_prefix_df, reached when the pattern has a wildcard
        anywhere but the tail (parser.parse_spec)."""
        self._ensure_fresh()
        return self._expansion_df(
            self.expand_wildcard(pattern, max_expansions), k
        )

    def search_wildcard_wand_df(
        self,
        pattern: str,
        k: int = DEFAULT_TOP_K,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    ) -> DataFrame:
        """search_wildcard_df on the block-max WAND hot path (see
        search_prefix_wand_df)."""
        self._ensure_fresh()
        return self._expansion_df(
            self.expand_wildcard(pattern, max_expansions), k, wand=True
        )

    def search_near_df(
        self,
        word1: str,
        word2: str,
        slop: int = 3,
        k: int = DEFAULT_TOP_K,
        ordered: bool = False,
    ) -> DataFrame:
        """NEAR/slop proximity query: ranked top-k of docs where the two
        (analyzed) words occur within `slop` positions of each other in
        either order — the classic proximity operator the exact-phrase
        path generalizes to (slop=1 ordered == adjacency; default
        unordered). With `ordered=True` only word1-before-word2 pairs
        match: the Lucene sloppy-phrase shape, exposed as the
        `"w1 w2"~k` query syntax. Candidate bounding and scoring follow
        the phrase path exactly: the df-chosen rarest-term bound
        (_bounded) before the aggregate, fused Arrow positions
        predicate, filtered-df recount (Q12) and first-word gate (Q7) —
        so NEAR results are scored consistently with phrase results."""
        self._ensure_fresh()
        t1 = parser.stem(word1.strip().lower())
        t2 = parser.stem(word2.strip().lower())
        if not t1 or not t2:
            return self._empty_results()
        terms = [t1, t2]
        filtered = self._proximity_filtered(
            terms, _near_match_udf(t1, t2, slop, ordered=ordered)
        )
        words = sorted(set(terms))
        return self._score(filtered, words, t1, k)

    def search_sloppy_df(
        self,
        words: list[str],
        slop: int = 2,
        k: int = DEFAULT_TOP_K,
    ) -> DataFrame:
        """N-term sloppy phrase (Lucene PhraseQuery slop, in-order
        chains): docs containing a strictly-increasing occurrence chain
        of the analyzed stems of `words` with span excess
        (p_n - p_1) - (n - 1) <= slop; slop=0 is the exact phrase.
        Generalizes search_near_df(ordered=True) beyond two terms — for
        n=2 the two APIs relate by span = slop + 1 (the legacy two-word
        `"w1 w2"~k` syntax keeps its distance-<=k semantics; this one is
        the Lucene-slop shape the r4 VERDICT asked for). Candidate
        bounding and scoring follow the phrase path exactly: the
        df-chosen rarest-term bound (_bounded) before the single fat
        aggregate, fused Arrow greedy chain predicate, filtered-df
        recount (Q12) and first-word gate (Q7). The reference engine
        has no slop at all (S/processor/QueryProcessor.java:130-173 is
        exact adjacency) — extension surface, scored consistently with
        phrases."""
        self._ensure_fresh()
        stems = [parser.stem(w.strip().lower()) for w in words]
        stems = [t for t in stems if t]
        if len(stems) < 2:
            return self._empty_results()
        filtered = self._proximity_filtered(
            stems, _sloppy_match_udf(stems, slop)
        )
        return self._score(filtered, stems, stems[0], k)

    def search_field_df(
        self, field: str, query: str, k: int = DEFAULT_TOP_K
    ) -> DataFrame:
        """Fielded search `field:term...` over the heading channels the
        reference's tag model stores (title = the transcript tool name,
        h1 = the turn role under the fixture adapter; h2/h3 reserved):
        every scoring term must have >= 1 occurrence TAGGED with the
        channel in a doc for that doc to match (T6's substring-count tag
        assignment decides what counts as 'in the field'). Postings are
        restricted to n_<field> > 0 and df is recounted over the
        restriction — the quirk-Q12 semantics the phrase path already
        has — then the reference scorer runs unchanged. Plan shape ==
        normal path plus one more small-int array zipped off the same
        pruned segments (no extra scan)."""
        if field not in self._FIELD_COLS:
            raise ValueError(
                f"field must be one of {sorted(self._FIELD_COLS)}"
            )
        self._ensure_fresh()
        parsed = parser.parse(query)
        words = parsed.bag_words
        if not words:
            return self._empty_results()
        sp = (
            self._exploded(words, with_field=field)
            .filter(F.col("n_field") > 0)
            .drop("n_field")
        )
        return self._score(sp, words, None, k)

    def suggest_spelling_df(
        self,
        words: list[str],
        max_dist: int = 2,
        k: int = 1,
    ) -> DataFrame:
        """Spell correction ("did you mean"): for every query word whose
        analyzed stem is NOT in the index vocabulary, the k nearest
        vocabulary terms by (levenshtein ASC, df DESC, term ASC) within
        `max_dist` — Lucene DirectSpellChecker semantics over the stem
        space the index actually stores. Returns (word, suggestion,
        dist, df) ordered (word ASC, rank ASC); in-vocabulary words and
        words with no candidate within max_dist produce no row.

        Plan: unknown-word detection is the existing driver-side pruned
        lexicon lookup (term_dfs); candidates are ONE vocab-sized
        lexicon scan joined to the tiny broadcast word list under the
        |len(term) - len(word)| <= max_dist band, ranked per word with a
        window — no postings touched."""
        self._ensure_fresh()
        from apt_search_engine_spark.analysis.analyzer import _admit

        stems: dict[str, str] = {}
        for w in words:
            w = w.strip().lower()
            # never "correct" words the analyzer wouldn't index anyway
            # (stopwords, single chars, pure digits) — their absence from
            # the vocabulary is by design, not a typo
            if w and _admit(w):
                stems.setdefault(w, parser.stem(w))
        if not stems:
            return local_frame(
                self.spark, [], "word string, suggestion string, dist int, df long"
            )
        dfs = self.term_dfs(sorted(set(stems.values())))
        unknown = sorted(
            w for w, s in stems.items() if dfs.get(s, 0) == 0
        )
        if not unknown:
            return local_frame(
                self.spark, [], "word string, suggestion string, dist int, df long"
            )
        wl = self.spark.createDataFrame(
            [(w, stems[w]) for w in unknown], "word string, stem string"
        )
        band = (
            F.abs(F.length("term") - F.length("stem")) <= F.lit(max_dist)
        )
        cand = (
            self._lexicon_src()
            .join(F.broadcast(wl), band)
            .withColumn("dist", F.levenshtein(F.col("term"), F.col("stem")))
            .filter(F.col("dist") <= max_dist)
        )
        rank = F.row_number().over(
            Window.partitionBy("word").orderBy(
                F.asc("dist"), F.desc("df"), F.asc("term")
            )
        )
        return (
            cand.withColumn("rank", rank)
            .filter(F.col("rank") <= k)
            .select(
                "word",
                F.col("term").alias("suggestion"),
                F.col("dist").cast("int").alias("dist"),
                F.col("df").cast("long").alias("df"),
            )
            .orderBy(F.asc("word"), F.asc("dist"), F.desc("df"),
                     F.asc("suggestion"))
        )

    def suggest_spelling(self, words: list[str], max_dist: int = 2) -> dict:
        """Driver-side helper for the serving layer: {word: best
        suggestion} for the unknown words of a query (one row per word,
        k=1)."""
        return {
            r.word: r.suggestion
            for r in self.suggest_spelling_df(words, max_dist, k=1).collect()
        }

    def mlt_terms(
        self, doc_id: str, max_terms: int = DEFAULT_MLT_MAX_TERMS
    ) -> list[str]:
        """More-like-this term selection (Lucene MoreLikeThis): the seed
        document's `max_terms` most characteristic terms by
        occ * floor(idf_num / df) — integer arithmetic, so the selection
        order is exactly reproducible in SQL (ties broken term ASC). The
        seed's term vector is recovered by re-analyzing its stored
        doc_meta text driver-side (one doc — the analog of reading one
        Lucene term vector; occurrence counts are invariant under the
        sentence-split round trip because analysis splits on whitespace);
        dfs come from the driver-side pruned lexicon lookup."""
        cache = self._mlt_cache
        ck = (doc_id, max_terms)
        if ck in cache:
            return list(cache[ck])
        # ONE driver round trip (r4 VERDICT ask: fold the serial seed-
        # text fetch + lexicon df lookup): the seed's stored text is
        # re-analyzed WORKER-side (mapInPandas over the one pruned
        # doc_meta row — the analog of reading one Lucene term vector),
        # its term vector joins the lexicon inside the same job
        # (broadcast of the 1-doc term list against the vocab-sized
        # lexicon scan), and (term, occ, df) collects together. The old
        # shape serialized two ~0.2 s jobs before the scoring job.
        meta = (
            self._read(self.doc_meta_path)
            .filter(F.col("doc_id") == doc_id)
            .select("ps")
        )

        def _term_vector(batches):
            from apt_search_engine_spark.analysis.analyzer import (
                analyze_batch_flat,
            )

            for pdf in batches:
                texts = pdf["ps"].map(
                    lambda ps: " ".join(ps) if ps is not None else ""
                )
                flat = analyze_batch_flat(texts, tags_as_counts=True)
                yield pd.DataFrame(
                    {"term": flat["term"], "occ": flat["occ"]}
                )

        tv = meta.mapInPandas(_term_vector, "term string, occ int")
        lex = self._read(self.lexicon_path).select("term", "df")
        rows = F.broadcast(tv).join(lex, "term").collect()
        if not rows:
            cache[ck] = ()
            return []
        occs = {r.term: int(r.occ) for r in rows}
        dfs = {r.term: int(r.df) for r in rows}
        for t, d in dfs.items():
            # seed the per-engine df memo: the scoring plan's _exploded
            # (with_df=True) over the selected terms then costs no
            # further lexicon job
            self._df_cache.setdefault(t, d)
        scored = [
            (occs[t] * (self.idf_numerator // dfs[t]), t)
            for t in occs
            if dfs.get(t, 0) > 0
        ]
        scored.sort(key=lambda x: (-x[0], x[1]))
        out = [t for _, t in scored[:max_terms]]
        cache[ck] = tuple(out)
        return out

    def more_like_this_df(
        self,
        doc_id: str,
        k: int = DEFAULT_TOP_K,
        max_terms: int = DEFAULT_MLT_MAX_TERMS,
    ) -> DataFrame:
        """More-like-this: rank the corpus against the seed document's
        most characteristic terms (mlt_terms), excluding the seed itself
        from the results — the seed's top-`max_terms` terms scored as a
        bag-of-words OR query with true build-time dfs, exactly the
        multi-term rewrite shape (same plan as search_prefix_df). The
        seed exclusion scores top-(k+1) and drops the seed AFTER the
        <=(k+1)-row translation: removing one element from a correctly
        ordered top-(k+1) and trimming IS the top-k of the rest, and it
        costs no extra doc_map lookup job. The cut runs in the driver
        and the rows come back as a local relation: an orderBy/limit
        tail over the <=(k+1)-row relation would plan a range exchange
        and run three jobs to collect it."""
        self._ensure_fresh()
        top = self._expansion_df(self.mlt_terms(doc_id, max_terms), k + 1)
        # translate_topk rows are already in (score desc, doc_id asc) order
        rows = [(r.doc_id, r.score) for r in top.collect()
                if r.doc_id != doc_id]
        return local_frame(self.spark, rows[:k], wand.RESULT_SCHEMA)

    def expand_synonyms(
        self, words: list[str], synonyms: DataFrame
    ) -> list[str]:
        """Query-time synonym expansion (Lucene SynonymGraphFilter at
        query time): `synonyms` is a (term, synonym) frame in STEM space
        (one row per directed pair — symmetry is the table author's
        choice, as in a Solr synonyms file). Returns the sorted distinct
        union of the query words and their mapped synonyms. The lookup
        filters the synonym table by the query's words — bounded by
        query length x fanout, never table-sized."""
        if not words:
            return []
        rows = (
            synonyms.filter(F.col("term").isin(sorted(set(words))))
            .select("synonym")
            .collect()
        )
        terms = set(words)
        terms.update(r.synonym for r in rows)
        return sorted(terms)

    def search_synonym_df(
        self, query: str, synonyms: DataFrame, k: int = DEFAULT_TOP_K
    ) -> DataFrame:
        """Bag-of-words search with query-time synonym expansion: each
        query word contributes itself plus its mapped synonyms, the
        union scored as the standard multi-term rewrite (_expansion_df).
        Synonyms absent from the index vocabulary contribute nothing (no
        postings rows), matching Lucene's behavior for unindexed synonym
        targets. Phrase-family queries are refused (_synonym_terms)."""
        self._ensure_fresh()
        return self._expansion_df(self._synonym_terms(query, synonyms), k)

    def _synonym_terms(self, query: str, synonyms: DataFrame) -> list[str]:
        """The synonym expansion of a bag-of-words query. Flattening a
        phrase (or a NOT branch) into an expanded bag would silently
        drop adjacency/exclusion semantics, so phrase-family queries
        raise ValueError."""
        parsed = parser.parse(query)
        words = _bag_words(parsed)
        if words is None:
            raise ValueError(
                "synonym expansion applies to bag-of-words queries only "
                f"(got {parsed.qtype})"
            )
        return self.expand_synonyms(words, synonyms)

    def suggest_terms_df(
        self, prefix: str, k: int = DEFAULT_TOP_K
    ) -> DataFrame:
        """Server-side query suggestions: the k highest-df indexed terms
        starting with `prefix`, as (term, df) — the reference ships
        suggestions client-side over localStorage history (SURVEY §2);
        this is the server-side equivalent a multi-user deployment needs,
        computed from the corpus vocabulary instead of one browser's
        history. Fully declarative: one lexicon scan -> TakeOrdered(k)."""
        self._ensure_fresh()
        if not prefix:
            return local_frame(self.spark, [], "term string, df long")
        return (
            self._lexicon_src()
            .filter(F.col("term").startswith(prefix))
            .select("term", F.col("df").cast("long").alias("df"))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
        )

    def facet_counts_df(self, query: str, facets: DataFrame) -> DataFrame:
        """Facet counts over the query's OR match set: for each value of
        `facets` (a (doc_id, facet) table — language, source, date
        bucket, ...), the number of distinct matching non-deleted docs,
        as (facet, n_docs) ordered by count DESC. Match set = docs with
        >= 1 posting of any query word (pure boolean OR — the candidate
        semantics of P3, before scoring). Plan shape at scale: bucket-
        pruned postings scan -> distinct doc keys (match-set-sized) ->
        hash join with the facet table on doc_id -> tiny groupBy."""
        self._ensure_fresh()
        parsed = parser.parse(query)
        words = parsed.bag_words
        if not words:
            return local_frame(self.spark, [], "facet string, n_docs long")
        docs = (
            self._exploded(words)
            .select("doc_ord")
            .distinct()
            .join(self._doc_map(), "doc_ord")
            .select("doc_id")
        )
        return (
            docs.join(facets.select("doc_id", "facet"), "doc_id")
            .groupBy("facet")
            .agg(F.count("*").alias("n_docs"))
            .orderBy(F.desc("n_docs"), F.asc("facet"))
        )

    def _bm25(self, words: list[str], k1: float, b: float) -> _BM25:
        """The BM25 constants of one query over `words`: the one place
        they are computed, for the exact, WAND and batch plans. Refuses a
        pre-v6 index (no total_len) rather than misscore."""
        if not self.total_len:
            raise ValueError(
                "index meta has no total_len (pre-v6 layout): rebuild"
            )
        dfs = self.term_dfs(words)
        avgdl = self.total_len / self.n_docs
        return _BM25(
            {w: bm25_idf(dfs[w], self.n_docs) for w in words if dfs.get(w)},
            k1 + 1.0,
            k1 * (1.0 - b),
            k1 * b / avgdl,
        )

    def _fold_topk(self, sp: DataFrame, contrib: str, k: int) -> DataFrame:
        """Top-k of the per-doc sums of the SQL expression `contrib` over
        the posting rows `sp`, folded in ascending term order."""
        scored = sp.selectExpr(
            "doc_ord", "term", f"{contrib} AS contrib"
        ).groupBy("doc_ord").agg(F.expr(f"{_TERM_FOLD} AS score"))
        return wand.translate_topk(self.spark, scored, self._doc_ids, k)

    def search_bm25_df(
        self,
        query: str,
        k: int = DEFAULT_TOP_K,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ) -> DataFrame:
        """Okapi BM25 ranked top-k (doc_id, score) — the industry-standard
        scorer offered ALONGSIDE the reference-parity scorer (search_df;
        the reference's own formula is tf*floor(N/df)*prior,
        Ranker.java:168-342 — this method is the standard alternative the
        BASELINE.json metric names). Retrieval (candidate set) is the
        shared dispatch (_filtered_plan) — bag-of-words / phrase
        adjacency / boolean set algebra — only the scorer differs:

          score(d) = sum_t idf(t) * occ*(k1+1) / (occ + k1*(1-b+b*dl/avgdl))

        with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) on the TRUE corpus
        df from the lexicon (no Q12 filtered-df quirk — BM25 is the
        standard formula, not a reference quirk), occ = raw occurrence
        count (size(positions); the stored tf is the reference's
        normalized variant), dl from the doc_len table and
        avgdl = total_len/n_docs (meta, layout v6).

        Determinism/oracle contract: idf and the k1/b/avgdl-derived
        constants are computed driver-side in Python (_bm25) and enter the
        plan as double literals; the distributed expression is
        fixed-association IEEE-754 arithmetic and the per-doc sum folds
        in ascending term order — bit-identical to the DuckDB oracle
        evaluating the same literals (extras/search_oracle.bm25_topk_sql).

        Scale shape: bucket-pruned postings scan with the stored
        per-posting occ/dl columns exploded in place (layout v7 postings
        carry both; dl is analyzer-stamped, identical to the doc_len
        table's value for every posted doc) -> partial-aggregated per-doc
        fold in ordinal space -> TakeOrderedAndProject and point-lookup
        doc_map translation of the final k rows, both in translate_topk.
        NO joins anywhere in the bag-of-words plan."""
        self._ensure_fresh()
        filtered, words, _ = self._filtered_plan(
            parser.parse(query), with_occ_dl=True
        )
        bm = self._bm25(sorted(set(words)), k1, b)
        if not bm.idfs:
            return self._empty_results()
        return self._fold_topk(
            filtered.where(sql_in("term", list(bm.idfs))),
            bm.contrib("CAST(occ AS DOUBLE)"),
            k,
        )

    def search_bm25f_df(
        self,
        query: str,
        k: int = DEFAULT_TOP_K,
        k1: float = BM25_K1,
        b: float = BM25_B,
        weights: dict[str, float] | None = None,
    ) -> DataFrame:
        """Simple BM25F (Robertson/Zaragoza's field-weighted BM25) over
        the stored channel tag counts: per-term weighted frequency

          tfw = w_title*n_title + w_h1*n_h1 + w_h2*n_h2 + w_h3*n_h3
                + w_body*(occ - n_title - n_h1 - n_h2 - n_h3)

        fed through the standard saturation, score(d) = sum_t idf(t) *
        tfw*(k1+1) / (tfw + K(dl)). Default weights are the reference's
        own tag-weight vector (Ranker.java:43-66 — title 4.0, h1 2.5,
        h2 2.0, h3 1.5, body 0.5), i.e. the reference's field emphasis
        applied inside a principled scorer. The simple variant: one
        document-level length normalization (dl/avgdl), not per-field
        lengths — the layout stores a single analyzer-stamped dl, and
        the per-field generalization would need per-field length
        columns. Retrieval is the shared dispatch (_filtered_plan): a
        phrase or boolean query's set algebra decides which docs match,
        and the field-weighted postings of those docs score. Same
        no-join bag-of-words plan as search_bm25_df with four more
        small-int arrays zipped off the pruned segments. Float-parity
        contract as bm25: Python-computed double literals in SQL text
        with every sub-expression parenthesized, the association of the
        generated oracle SQL (extras/search_oracle.bm25f_topk_sql)."""
        self._ensure_fresh()
        w = dict(BM25F_WEIGHTS)
        if weights:
            w.update(weights)
        cand, words, gate = self._filtered_plan(parser.parse(query))
        bm = self._bm25(sorted(set(words)), k1, b)
        if not bm.idfs:
            return self._empty_results()
        sp = self._exploded(
            list(bm.idfs), with_occ_dl=True, with_all_fields=True
        )
        if gate is not None:
            # a phrase or boolean plan: its doc set is the candidate set
            sp = sp.join(
                cand.select("doc_ord").distinct(), "doc_ord", "left_semi"
            )
        lit = {f: _sql_lit(float(v)) for f, v in w.items()}
        n = {f: f"CAST(n_{f} AS DOUBLE)" for f in ("title", "h1", "h2", "h3")}
        # textual left-association mirrored in the oracle SQL
        tfw = f"({lit['title']} * {n['title']})"
        body = "CAST(occ AS DOUBLE)"
        for f in ("h1", "h2", "h3"):
            tfw = f"({tfw} + ({lit[f]} * {n[f]}))"
        for f in ("title", "h1", "h2", "h3"):
            body = f"({body} - {n[f]})"
        tfw = f"({tfw} + ({lit['body']} * {body}))"
        return self._fold_topk(sp, bm.contrib(tfw), k)

    def search_bm25_wand_df(
        self,
        query: str,
        k: int = DEFAULT_TOP_K,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ) -> DataFrame:
        """Okapi BM25 top-k via block-max WAND over the compressed blocks
        companion — the north rule's combination (BM25 scoring +
        posting-list block-max pruning + bounded per-partition heap ->
        global top-k), through the same WAND entry and kernel as
        search_df_wand with the BM25 block scorer
        (query/wand.bm25_scorer). Results are bit-identical to the exact
        plan (search_bm25_df; parity pinned in tests/test_bm25.py): both
        paths evaluate the same Python-computed idf / K(dl) doubles in
        the same IEEE order and fold per-doc contributions ascending by
        term. Phrase/boolean queries need positions and fall back to the
        exact BM25 plan."""
        self._ensure_fresh()
        return self._wand_df(
            _bag_words(parser.parse(query)),
            k,
            lambda: self.search_bm25_df(query, k, k1, b),
            bm25=(k1, b),
        )

    def search_bm25_batch_df(
        self,
        queries: dict[str, str],
        k: int = DEFAULT_TOP_K,
        k1: float = BM25_K1,
        b: float = BM25_B,
    ) -> DataFrame:
        """Batched multi-query BM25: the top-k of EVERY query in `queries`
        ({query_id: query_string}) computed in ONE Spark job, returned as
        (query_id, doc_id, score). Per-query rows are bit-identical to
        search_bm25_df (parity pinned in tests/test_bm25.py): same
        Python-computed idf doubles, same tf-norm expression, same
        ascending-term per-doc fold — only the execution is shared.

        Scale shape (the query-THROUGHPUT path the north rule's p50
        latency metric complements): one bucket-pruned scan of the UNION
        of all queries' terms -> broadcast hash join against the tiny
        (query_id, term, idf) table fans each posting out to the queries
        that want it (JVM-side, no per-row Python) -> one aggregate keyed
        (query_id, doc) -> per-query window top-k -> point-lookup doc_map
        translation of the <= Q*k surviving ordinals, sorted in the
        driver and returned as a local relation (collecting it runs no
        job). Amortizes scan,
        scheduling and shuffle setup across the whole reference query set
        instead of paying per-query job latency Q times — at 10^12 docs
        the postings scan dominates, and this reads each pruned bucket
        once however many queries share it. Phrase/boolean queries need
        positions and run through the exact per-query plan; their rows
        join the local result.
        """
        self._ensure_fresh()
        out_schema = "query_id string, doc_id string, score double"
        bag: dict[str, list[str]] = {}
        fallback: dict[str, str] = {}
        for qid, qs in queries.items():
            words = _bag_words(parser.parse(qs))
            if words is None:
                fallback[qid] = qs
            else:
                bag[qid] = words
        bm = self._bm25(sorted({w for ws in bag.values() for w in ws}), k1, b)
        qt_rows = [
            (qid, w, bm.idfs[w])
            for qid, ws in sorted(bag.items())
            for w in ws
            if w in bm.idfs
        ]
        out: list[tuple] = []
        if qt_rows:
            # a local relation: broadcasting it runs no job, where
            # createDataFrame parallelizes
            qt = local_frame(
                self.spark, qt_rows, "query_id string, term string, idf double"
            )
            present = sorted({t for _, t, _ in qt_rows})
            scored = (
                self._exploded(present, with_occ_dl=True)
                .join(F.broadcast(qt), "term")
                .selectExpr(
                    "query_id",
                    "doc_ord",
                    "term",
                    f"{bm.contrib('CAST(occ AS DOUBLE)', 'idf')} AS contrib",
                )
                .groupBy("query_id", "doc_ord")
                .agg(F.expr(f"{_TERM_FOLD} AS score"))
            )
            rows = scored.selectExpr(
                "query_id",
                "doc_ord",
                "score",
                "row_number() OVER (PARTITION BY query_id ORDER BY score DESC,"
                " doc_ord ASC) AS rn",
            ).where(f"rn <= {int(k)}").collect()
            # bounded materialization (<= Q*k rows), then the same
            # point-read translation as translate_topk
            id_map = self._doc_ids([int(r.doc_ord) for r in rows])
            out += [
                (r.query_id, id_map[int(r.doc_ord)], float(r.score))
                for r in rows
            ]
        for qid in sorted(fallback):
            # a local relation too: collecting it runs no job
            out += [
                (qid, r.doc_id, float(r.score))
                for r in self.search_bm25_df(fallback[qid], k, k1, b).collect()
            ]
        # the <= Q*k rows sort in the driver: an orderBy over the local
        # relation would plan a range exchange and run three jobs
        out.sort(key=lambda r: (r[0], -r[2], r[1]))
        return local_frame(self.spark, out, out_schema)

    def run(
        self,
        spec: parser.QuerySpec,
        k: int = DEFAULT_TOP_K,
        *,
        scorer: str = "reference",
        field: str | None = None,
        synonyms: DataFrame | None = None,
        count: bool = False,
        exact: bool = False,
        assemble: bool = True,
        snippets: bool = True,
    ) -> dict:
        """The one query router: the top-k of a classified query
        (parser.parse_spec, or an mlt spec) as a response body
        {"results", "totalCount"[, "didYouMean"][, "totalMatches"]}.

        Options: `scorer` bm25|bm25f swaps the reference formula for
        Okapi BM25 / BM25F, `field` restricts matching to a heading
        channel (search_field_df), `synonyms` expands the query words
        through a (term, synonym) stem table, `count` adds the exact
        size of the full ranked list (match_count_df). They apply only
        to a `text` spec under the reference scorer, at most one at a
        time, and synonyms only to a bag-of-words query; anything else
        raises ValueError rather than silently dropping an option.

        `exact=False` runs bag-of-words queries under the reference and
        BM25 scorers, and prefix/fuzzy/wildcard queries, on the
        block-max WAND hot path (rank+score identical to the exact
        plan). `assemble` attaches url, title and (with
        `snippets`) a highlighted snippet to each reference-scorer row;
        without it, and under bm25/bm25f, rows are {"doc_id", "score"}.
        A zero-hit reference `text` query without `field` carries a
        `didYouMean` rewrite: its out-of-vocabulary words replaced by
        their nearest vocabulary stems."""
        if scorer not in ("reference", "bm25", "bm25f"):
            raise ValueError("scorer must be reference|bm25|bm25f")
        opts = [
            name
            for name, on in (
                ("field", field),
                ("count", count),
                ("synonyms", synonyms is not None),
                (f"scorer={scorer}", scorer != "reference"),
            )
            if on
        ]
        if opts and spec.kind != "text":
            raise ValueError(
                f"{spec.kind} queries support only the reference scorer "
                f"without field/count/synonyms (got {', '.join(opts)})"
            )
        if len(opts) > 1:
            raise ValueError(
                "field, count, synonyms and a non-reference scorer apply "
                f"one at a time (got {', '.join(opts)})"
            )
        self._ensure_fresh()
        words: list[str] = []  # snippet highlight words
        if spec.kind == "text":
            parsed = parser.parse(spec.text)
            words = parsed.segments  # raw segments (Ranker.java:202)
            if synonyms is not None:
                words = self._synonym_terms(spec.text, synonyms)
                top = self._expansion_df(words, k)
            elif field:
                top = self.search_field_df(field, spec.text, k)
            else:
                if _bag_words(parsed) is None:
                    words = parsed.scoring_words
                top = getattr(self, _PLANS[scorer, bool(exact)])(spec.text, k)
        elif spec.kind in ("prefix", "fuzzy", "wildcard"):
            cap = spec.max_terms or DEFAULT_MAX_EXPANSIONS
            if spec.kind == "prefix":
                words = self.expand_prefix(spec.text, cap)
            elif spec.kind == "fuzzy":
                words = self.expand_fuzzy(spec.text, spec.max_dist, cap)
            else:
                words = self.expand_wildcard(spec.text, cap)
            top = self._expansion_df(words, k, wand=not exact)
        elif spec.kind in ("near", "sloppy"):
            if spec.kind == "sloppy" and len(spec.words) > 2:
                top = self.search_sloppy_df(list(spec.words), spec.slop, k)
            else:
                # the two-word `"w1 w2"~k` keeps its ordered distance-<=k
                # semantics on the NEAR machinery
                top = self.search_near_df(
                    *spec.words, slop=spec.slop, k=k,
                    ordered=spec.kind == "sloppy",
                )
            # the analyzed stems highlight like a phrase's scoring words
            words = [t for t in map(parser.stem, spec.words) if t]
        elif spec.kind == "mlt":
            cap = spec.max_terms or DEFAULT_MLT_MAX_TERMS
            top = self.more_like_this_df(spec.text, k, cap)
            words = self.mlt_terms(spec.text, cap)  # memoized
        else:
            raise ValueError(f"unknown query kind {spec.kind!r}")
        rows = top.collect()
        if assemble and scorer == "reference":
            results = self._assemble(rows, words, snippets)
        else:
            results = [{"doc_id": r.doc_id, "score": r.score} for r in rows]
        out = {"results": results, "totalCount": len(results)}
        plain = spec.kind == "text" and scorer == "reference" and not field
        if not results and plain:
            # one lexicon scan, on the empty-result path only
            qwords = parser.tokenize(spec.text)
            fixes = self.suggest_spelling(qwords)
            if fixes:
                out["didYouMean"] = " ".join(fixes.get(w, w) for w in qwords)
        if count:
            out["totalMatches"] = int(
                self.match_count_df(spec.text).collect()[0].n_matches
            )
        return out

    def search(
        self, query: str, k: int = DEFAULT_TOP_K, with_snippets: bool = True
    ) -> list[dict]:
        """Full search of a reference-grammar query: top-k + metadata +
        snippets (driver-side on k rows only, off the hot path — SURVEY.md
        R9)."""
        spec = parser.QuerySpec("text", query)
        return self.run(spec, k, exact=True, snippets=with_snippets)["results"]

    def search_prefix(
        self,
        prefix: str,
        k: int = DEFAULT_TOP_K,
        max_expansions: int = DEFAULT_MAX_EXPANSIONS,
        with_snippets: bool = True,
    ) -> list[dict]:
        """Full-response prefix search (search_prefix_df + the metadata
        and snippet assembly of search(); expanded terms highlight)."""
        spec = parser.QuerySpec("prefix", prefix, max_terms=max_expansions)
        return self.run(spec, k, exact=True, snippets=with_snippets)["results"]

    def _assemble(
        self, top, snippet_words: list[str], with_snippets: bool
    ) -> list[dict]:
        """Metadata + snippet pick for <=k collected (doc_id, score)
        rows — driver-side on k rows only (R9/P8). The doc_meta rows are
        a point read (query/pointread.py): doc_meta files are sorted by
        doc_id, so pyarrow opens only the row groups whose footer
        doc_id range holds a result, and no Spark job runs."""
        meta = {}
        # a streamed index has no doc_meta: the point read finds no
        # rows and url falls back to doc_id
        if top:
            meta = {
                m["doc_id"]: m
                for m in self._point_read(
                    self.doc_meta_path,
                    "doc_id",
                    [r.doc_id for r in top],
                    ["doc_id", "url", "title", "ps"],
                )
            }
        out = []
        for r in top:
            m = meta.get(r.doc_id)
            d = {
                "doc_id": r.doc_id,
                # the stored URL (doc_meta carries url_expr overrides —
                # reference RankedDocument.java:3-14 returns the document's
                # URL); doc_id is only the fallback when no metadata exists
                "url": m["url"] if m else r.doc_id,
                "score": r.score,
                "title": m["title"] if m else None,
            }
            if with_snippets:
                d["snippet"] = generate_snippet(
                    (m["ps"] or []) if m else [], snippet_words
                )
            out.append(d)
        return out

    def _empty_results(self) -> DataFrame:
        return local_frame(self.spark, [], wand.RESULT_SCHEMA)
