"""Engine constants, each tied to the reference behavior it reproduces."""

from __future__ import annotations

import os

# IDF numerator. The reference hardcodes its crawl cap (6000,
# server/src/main/java/Crawler/Crawler.java:41) into the ranking formula
# `tf * (6000 / df)` with Java int division
# (server/src/main/java/ranker/Ranker.java:58). It is a CONSTANT there, not
# the observed corpus size, so we keep it a constant too; parity tests and
# the oracle both use this value.
IDF_NUMERATOR = 6000


def idf_numerator(n_docs: int) -> int:
    """Scale generalization of the reference's hardcoded numerator.

    The Java can never see df > 6000 (MAX_PAGES caps its corpus at 6000),
    so `6000 / df` is always >= 1 there. Beyond that regime the literal
    constant DEGENERATES: floor(6000/df) = 0 for every term with
    df > 6000, zeroing all scores — at 10^12 turns every query would
    return nothing. max(6000, n_docs) is bit-identical to the Java inside
    its reachable regime (n_docs <= 6000, the only corpora it can build)
    and keeps the same floor-division semantics outside it, with the
    numerator meaning what MAX_PAGES meant: the corpus size."""
    return max(IDF_NUMERATOR, n_docs)

# Default top-k returned by a search (the reference returns everything and
# lets the client slice 10 per page — client/src/pages/ResultsPage.jsx:26-30;
# at 10^12 turns return-everything is not a contract we keep, SURVEY.md P9).
DEFAULT_TOP_K = 10

# Cap on lexicon expansion for multi-term (prefix / fuzzy) queries —
# Lucene's IndexSearcher.maxClauseCount spirit: a multi-term rewrite never
# scores more than this many expanded terms (kept deterministically:
# highest-df expansions win).
DEFAULT_MAX_EXPANSIONS = 50

# More-like-this: how many of the seed document's most characteristic
# terms (by occ * floor(idf_num/df), integer — deterministically
# reproducible in SQL) feed the bag-of-words rewrite (Lucene
# MoreLikeThis.DEFAULT_MAX_QUERY_TERMS).
DEFAULT_MLT_MAX_TERMS = 25

# Snippet: only paragraphs <= this length are eligible
# (server/src/main/java/ranker/Snippeterr.java:8).
SNIPPET_MAX_LEN = 1000

# Index layout -------------------------------------------------------------
# Number of hash buckets the postings tables are directory-partitioned by
# (partition column `term_bucket = pmod(xxhash64(term), N)`). Query-time
# term lookup prunes to |query terms| directories. At 100 TB this would be
# sized so one bucket ~= a few GB; 32 suits the local test scales.
N_TERM_BUCKETS = int(os.environ.get("APTSE_TERM_BUCKETS", "32"))

# Cap on postings per stored row. The merge shuffle range-partitions by
# (term, doc_id) — the doc_id shard is the "salt" that splits Zipfian head
# terms across tasks (SURVEY.md 4.2 item 1) — and the assembler emits one
# row per <=MAX_POSTINGS_PER_ROW run, so no term ever materializes as one
# unbounded row (a head term at 10^12 turns is ~10^11 postings).
MAX_POSTINGS_PER_ROW = int(os.environ.get("APTSE_MAX_POSTINGS_PER_ROW", "32768"))

# Candidate bound of the phrase / boolean positions aggregate
# (query/engine.py SearchEngine._bounded). Before the per-doc aggregate,
# a segment's postings may be semi-joined against the docs of its rarest
# term. The lexicon dfs the driver already holds decide: no bound when
# the bound is sure to cut fewer than BOUND_MIN_CUT_ROWS posting rows net
# of its probe (sum over the other terms of df(t) - df(rarest), minus
# df(rarest)), since a head-term phrase keeps nearly every row and the
# probe scan and its broadcast job would be pure cost; the semi-join
# otherwise. Set by measurement at local[4] on the 101k-doc index of
# gen_corpus_spark(spark, 4000, seed=1) (CHANGES.md).
BOUND_MIN_CUT_ROWS = 30_000

# Docs per compressed posting block (block-max WAND granularity).
POSTING_BLOCK_SIZE = 128

# Document adapter (FIXTURES.md section A): doc_id = conv_id '#' zero-padded
# turn_idx. Width 6 keeps lexicographic == numeric ordering to 10^6 turns
# per conversation (reference max is ~50).
TURN_PAD = 6


def doc_id_expr():
    """Spark Column for the adapter doc_id."""
    from pyspark.sql import functions as F

    return F.concat_ws(
        "#", F.col("conv_id"), F.lpad(F.col("turn_idx").cast("string"), TURN_PAD, "0")
    )


def make_doc_id(conv_id: str, turn_idx: int) -> str:
    return f"{conv_id}#{turn_idx:0{TURN_PAD}d}"
