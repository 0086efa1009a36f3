"""Document analyzer: T1-T6 of SURVEY.md section 2.2, batch-vectorized.

Reimplements, over Arrow/pandas batches, what the reference computes per
document in server/src/main/java/Indexer/Tokenizer.java:

  T1 normalize+split   (:37-38,90)     lower, [^a-z0-9]->space, split \\s+
  T2 positions         (:92,110)       index in the PRE-filter split array
  T3 admission filter  (:95)           drop len<=1 | all-digits | stopword
  T4 Porter stem       (:98-104)       memoized; empty stem -> drop
  T5 tf                (:108-116)      count = occurrences+1 (quirk Q1);
                                       totalTerms = kept positions +
                                       distinct terms (quirk Q2);
                                       tf = count/totalTerms
  T6 tags              (:135-192)      'body' default; heading channels
                                       overwrite by SUBSTRING count of the
                                       stem in the stem-processed heading
                                       text (quirk Q3), earliest positions
                                       first, channel order title,h1,h2,h3,
                                       h456

Java split() semantics note: a leading delimiter yields a leading empty
token (which then occupies position 0 and is dropped by the length filter);
Python's re.split does the same, so positions line up bit-for-bit.

The same function body serves the pure-Python oracle (tests/oracle.py runs
it one document at a time) and the Spark index build (pandas UDF runs it
one Arrow batch at a time) — parity by construction.
"""

from __future__ import annotations

import re
from typing import Iterable, Sequence

import numpy as np
import pandas as pd

from .porter import MemoStemmer
from .stopwords import STOPWORDS

_SPLIT_RE = re.compile(r"\s+")
_DIGITS_RE = re.compile(r"\d+")

# Heading channels in the order the reference applies them
# (server/src/main/java/Indexer/Tokenizer.java:143-171). Tag weights at
# ranker/Ranker.java:43-52 — note the stored tag for the h4/h5/h6 bucket is
# the string 'h456' (Tokenizer.java:169), which falls through to the
# DEFAULT arm of the weight switch; see TAG_WEIGHTS below.
HEADING_CHANNELS = ("title", "h1", "h2", "h3", "h456")

# Canonical pack order of the per-posting small ints inside the layout-v11
# `meta_vb` varbyte blob (one blob per posting row; encoder below, decoder
# indexing.build._decode_meta_np). Keep encoder and decoder on THIS tuple.
META_VB_COLS = ("occ", "dl", "xtra") + tuple(
    f"n_{c}" for c in HEADING_CHANNELS
)

TAG_WEIGHTS = {
    "title": 4.0,
    "h1": 2.5,
    "h2": 2.0,
    "h3": 1.5,
    "h4": 1.0,
    "h5": 1.0,
    "h6": 1.0,
    # every other tag -- including 'body' AND the literal 'h456' the indexer
    # writes (reference switch has no 'h456' arm) -- scores the default:
}
DEFAULT_TAG_WEIGHT = 0.5


def tag_weight(tag: str) -> float:
    return TAG_WEIGHTS.get(tag.lower(), DEFAULT_TAG_WEIGHT)


def normalize_split(text: str) -> list[str]:
    """T1 for one string: lower, non-alnum -> space, split on whitespace."""
    return _SPLIT_RE.split(re.sub(r"[^a-z0-9]", " ", text.lower()))


def _admit(word: str) -> bool:
    """T3: keep a raw token?"""
    return len(word) > 1 and not _DIGITS_RE.fullmatch(word) and word not in STOPWORDS


def process_heading_text(text: str, stemmer) -> str:
    """Reference processHeadingText (Tokenizer.java:42-65): T1+T3+T4 on a
    heading string, kept stems joined by single spaces."""
    out = []
    for w in normalize_split(text):
        if not _admit(w):
            continue
        s = stemmer(w)
        if s:
            out.append(s)
    return " ".join(out)


def _count_substring(text: str, word: str) -> int:
    """Reference countWordOccurrences (Tokenizer.java:122-133): left-to-right
    non-overlapping substring count == str.count."""
    return text.count(word) if word else 0


def analyze_doc(
    body: str,
    headings: Sequence[tuple[str, Iterable[str]]] = (),
    stemmer=None,
) -> dict[str, dict]:
    """Analyze ONE document. Returns {term: {tf, positions, tags}}.

    `headings` is an ordered sequence of (tag_name, texts) pairs, e.g.
    [("title", ["bash"]), ("h1", ["assistant"])]. Empty body -> {} (T7,
    Indexer.java:210-214).
    """
    if stemmer is None:
        stemmer = MemoStemmer()
    if body is None or not body.strip():
        return {}

    words = normalize_split(body)
    token_map: dict[str, dict] = {}
    for i, w in enumerate(words):
        if not _admit(w):
            continue
        s = stemmer(w)
        if not s:
            continue
        t = token_map.get(s)
        if t is None:
            # quirk Q1: constructor count=1 AND increment on first hit
            token_map[s] = t = {"count": 1.0, "positions": []}
        t["count"] += 1.0
        t["positions"].append(i)

    # quirk Q2: totalTerms = sum of int(count) = kept positions + n terms
    total_terms = sum(int(t["count"]) for t in token_map.values())
    if total_terms > 0:
        for t in token_map.values():
            t["count"] = t["count"] / total_terms

    # T6 tags
    for t in token_map.values():
        t["tags"] = ["body"] * len(t["positions"])
    for tag_name, texts in headings:
        for text in texts:
            if not text:
                continue
            processed = process_heading_text(text, stemmer)
            for term, t in token_map.items():
                n = _count_substring(processed, term)
                if n > 0:
                    replaced = 0
                    tags = t["tags"]
                    for i in range(len(tags)):
                        if replaced >= n:
                            break
                        if tags[i] == "body":
                            tags[i] = tag_name
                            replaced += 1

    return {
        term: {"tf": t["count"], "positions": t["positions"], "tags": t["tags"]}
        for term, t in token_map.items()
    }


# ---------------------------------------------------------------------------
# Batch path (Arrow/pandas) — used inside the Spark index build UDF.
# ---------------------------------------------------------------------------

def _proc_headings(series: pd.Series | None, stemmer):
    """Factorize a heading channel and stem-process each DISTINCT value
    once (per build there are only a handful: the literal 'title' and the
    role vocabulary). Returns (per-row codes, processed distinct strings)."""
    if series is None:
        return None, None
    codes, uniq = pd.factorize(series.fillna("").astype(str))
    proc = np.array(
        [process_heading_text(u, stemmer) if u else "" for u in uniq],
        dtype=object,
    )
    return codes, proc


def analyze_batch_flat(
    bodies: pd.Series,
    title: pd.Series | None = None,
    h1: pd.Series | None = None,
    h2: pd.Series | None = None,
    h3: pd.Series | None = None,
    h456: pd.Series | None = None,
    tags_as_counts: bool = False,
) -> pd.DataFrame:
    """Analyze a batch of documents, fully vectorized, returning the FLAT
    posting frame (doc, term, tf, positions, tags) with `doc` = row index
    into the batch.

    Tokenization, admission filtering, unique-term stemming, the
    (doc, term) grouping (lexsort + boundary split — no per-group Python
    aggregation) and the Q1/Q2 tf arithmetic are all numpy. Tag assignment
    (T6) reduces to a substring-count table of (distinct term x distinct
    processed heading) because heading channels have tiny vocabularies;
    tags are written as a ['title']*a + ['h1']*b + ['h2']*c + ['h3']*d +
    ['h456']*e + ['body']*rest prefix pattern, which is exactly the
    reference's earliest-body-tags-first overwrite order applied channel
    by channel in its fixed order (Tokenizer.java:143-171, 182-190).

    With tags_as_counts=True the frame carries one n_<channel> int
    column per heading channel instead of materialized tag lists — the
    index build stores these ints per posting and reconstructs the tags
    array natively at merge time (array_repeat concat), which keeps the
    analyze checkpoint small — plus an `occ` int column (the RAW
    occurrence count, == number of positions): the BM25 doc-length table
    aggregates sum(occ) per doc from a narrow (doc_id, occ) columnar
    scan instead of re-reading the fat positions arrays. Positions are
    emitted DELTA+VARBYTE-ENCODED as a `positions_vb` binary column
    (layout v9): per-posting int arrays were the fattest column of the
    merge shuffle after the v8 ordinal move (44% of build time is data
    movement on this box — BASELINE.md ladder analysis), and varbyte
    shrinks a typical position to ~1 byte. Encoding is ONE vectorized
    codec pass over the whole batch (codec.encode_doc_ids_segmented —
    delta chains restart per posting, so each slice decodes standalone);
    consumers decode only where positions are consumed (the phrase
    adjacency check, the reconstructed API view).
    """
    from apt_search_engine_spark.indexing import codec

    n = len(bodies)
    if tags_as_counts:
        empty = pd.DataFrame(
            {
                "doc": np.empty(0, np.int64),
                "term": [],
                "positions_vb": [],
                "meta_vb": [],
            }
            | {c: np.empty(0, np.int32) for c in ("occ", "dl")}
        )
    else:
        empty = pd.DataFrame(
            {
                "doc": np.empty(0, np.int64),
                "term": [],
                "tf": np.empty(0, np.float64),
                "positions": [],
                "tags": [],
            }
        )
    stemmer = MemoStemmer()
    b = bodies.fillna("").astype(str)
    nonblank = b.str.strip().str.len() > 0  # T7
    norm = b.str.lower().str.replace(r"[^a-z0-9]", " ", regex=True)
    split = norm.str.split(r"\s+")

    lens = np.fromiter(
        (len(x) if ok else 0 for x, ok in zip(split, nonblank)),
        dtype=np.int64, count=n,
    )
    total = int(lens.sum())
    if total == 0:
        return empty

    flat = np.empty(total, dtype=object)
    doc_idx = np.repeat(np.arange(n), lens)
    off = 0
    for i in range(n):
        if lens[i]:
            flat[off : off + lens[i]] = split.iat[i]
            off += lens[i]
    starts0 = np.zeros(n, dtype=np.int64)
    starts0[1:] = np.cumsum(lens)[:-1]
    pos = np.arange(total) - starts0[doc_idx]

    toks = pd.Series(flat)
    # T3 vectorized: length > 1, not all digits, not stopword
    keep = (
        (toks.str.len() > 1)
        & ~toks.str.fullmatch(r"\d+", na=False)
        & ~toks.isin(STOPWORDS)
    ).to_numpy()

    doc_k = doc_idx[keep]
    pos_k = pos[keep]

    # T4: stem once per distinct raw token in the batch
    codes, uniques = pd.factorize(toks[keep])
    stemmed_u = np.array([stemmer(u) for u in uniques], dtype=object)
    # factorize the stems of the distinct raw tokens -> distinct terms
    s_codes_u, term_uniq = pd.factorize(pd.Series(stemmed_u, dtype=object))
    t_codes = s_codes_u[codes] if len(codes) else np.empty(0, np.int64)
    nonempty = np.asarray(term_uniq != "", dtype=bool)
    keep2 = nonempty[t_codes] if len(t_codes) else np.empty(0, bool)
    doc_k, pos_k, t_codes = doc_k[keep2], pos_k[keep2], t_codes[keep2]
    if doc_k.size == 0:
        return empty
    term_uniq = np.asarray(term_uniq, dtype=object)

    # group by (doc, term): lexsort then boundary split
    order = np.lexsort((pos_k, t_codes, doc_k))
    d, t, p = doc_k[order], t_codes[order], pos_k[order]
    change = np.empty(d.size, dtype=bool)
    change[0] = True
    change[1:] = (d[1:] != d[:-1]) | (t[1:] != t[:-1])
    gstarts = np.flatnonzero(change)
    g_doc = d[gstarts]
    g_term = t[gstarts]
    sizes = np.diff(np.append(gstarts, d.size))
    counts = sizes + 1  # quirk Q1: occurrences + 1
    totals = np.zeros(n, dtype=np.int64)
    np.add.at(totals, g_doc, counts)  # quirk Q2 denominator
    tf = counts.astype(np.float64) / totals[g_doc]
    if tags_as_counts:
        # one segmented delta+varbyte pass over every kept position;
        # per-posting slices of the shared buffer (zero re-encoding)
        buf, off = codec.encode_doc_ids_segmented(p, gstarts)
        positions_vb = [
            buf[a:b] for a, b in zip(off[:-1].tolist(), off[1:].tolist())
        ]
    else:
        positions = np.split(p.astype(np.int32), gstarts[1:])

    # T6 tags: substring-count tables over the tiny heading vocabularies,
    # consumed channel by channel in the reference's order with the
    # remaining-body-positions cap applied sequentially
    channel_series = {"title": title, "h1": h1, "h2": h2, "h3": h3, "h456": h456}
    remaining = sizes.copy()
    capped: dict[str, np.ndarray] = {}
    for ch_name in HEADING_CHANNELS:
        series = channel_series[ch_name]
        raw = np.zeros(g_doc.size, dtype=np.int64)
        codes_r, proc = _proc_headings(series, stemmer)
        if proc is not None and len(proc):
            ct = np.array(
                [[h.count(u) for h in proc] for u in term_uniq], dtype=np.int64
            )
            raw = ct[g_term, codes_r[g_doc]]
        got = np.minimum(raw, remaining)
        capped[ch_name] = got
        remaining = remaining - got
    if tags_as_counts:
        # per-doc BM25 length (sum of raw occurrence counts), stamped on
        # every posting row AT ANALYZE TIME — the analyzer is the only
        # place that sees the whole doc, so dl reaches the index (and the
        # WAND blocks) with zero joins anywhere downstream
        dl_per_doc = np.zeros(n, dtype=np.int64)
        np.add.at(dl_per_doc, g_doc, sizes)
        # layout v10: tf and wtf are NOT emitted — they are exact
        # functions of small ints already on the row and would be 16
        # bytes/row of incompressible doubles through the analyze
        # checkpoint and the merge exchange (the measured data-movement
        # bottleneck). tf = (occ+1)/tt with tt = dl + xtra (quirk Q2
        # denominator: kept positions + distinct terms); consumers
        # recompute it as CAST(occ+1 AS DOUBLE)/CAST(dl+xtra AS DOUBLE)
        # — one IEEE division, bit-identical to the float64 division
        # here. xtra (per-doc distinct-term count) is the only new
        # column: a tiny low-entropy int.
        xtra = (totals - dl_per_doc)[g_doc].astype(np.int32)
        # layout v11: the eight per-posting small ints (occ, dl, xtra +
        # five tag counts) are packed into ONE varbyte binary per row
        # (META_VB_COLS order) for the checkpoint and the merge exchange.
        # Spark's UnsafeRow charges 8 bytes of fixed slot per FIELD
        # regardless of value, so 8 int fields were ~64 bytes/posting of
        # row structure through the range-shuffle sorter — the measured
        # memcpy-bound stage — against ~8-10 varbyte bytes. The assembler
        # unpacks in one vectorized codec pass; the STORED segment layout
        # (plural int arrays) and every query path are unchanged. Plain
        # occ/dl columns are still emitted for the narrow columnar
        # side-table scans (doc_len, lineage) — they parquet-RLE to
        # almost nothing and are never selected into the exchange.
        occ32 = sizes.astype(np.int32)
        dl32 = dl_per_doc[g_doc].astype(np.int32)
        meta_mat = np.empty((g_doc.size, 3 + len(HEADING_CHANNELS)),
                            dtype=np.int64)
        meta_mat[:, 0] = occ32
        meta_mat[:, 1] = dl32
        meta_mat[:, 2] = xtra
        for j, ch_name in enumerate(HEADING_CHANNELS):
            meta_mat[:, 3 + j] = capped[ch_name]
        width = meta_mat.shape[1]
        mbuf, moff = codec.varbyte_encode_segmented(
            meta_mat.ravel(),
            np.arange(g_doc.size, dtype=np.int64) * width,
        )
        meta_vb = [
            mbuf[a:b] for a, b in zip(moff[:-1].tolist(), moff[1:].tolist())
        ]
        return pd.DataFrame(
            {
                "doc": g_doc,
                "term": term_uniq[g_term],
                "positions_vb": positions_vb,
                "meta_vb": meta_vb,
                "occ": occ32,
                "dl": dl32,
            }
        )
    counts_lists = [capped[c].tolist() for c in HEADING_CHANNELS]
    tags = [
        [c for c, k in zip(HEADING_CHANNELS, ks) for _ in range(k)]
        + ["body"] * rem
        for *ks, rem in zip(*counts_lists, remaining.tolist())
    ]

    return pd.DataFrame(
        {
            "doc": g_doc,
            "term": term_uniq[g_term],
            "tf": tf,
            "positions": positions,
            "tags": tags,
        }
    )


def analyze_batch(
    bodies: pd.Series,
    title: pd.Series | None = None,
    h1: pd.Series | None = None,
    h2: pd.Series | None = None,
    h3: pd.Series | None = None,
    h456: pd.Series | None = None,
) -> list[list[dict]]:
    """Per-row view of analyze_batch_flat: a list of posting dicts
    {term, tf, positions, tags} per input row (empty for blank bodies).
    Kept as the parity surface tests compare against analyze_doc."""
    n = len(bodies)
    flat = analyze_batch_flat(bodies, title=title, h1=h1, h2=h2, h3=h3, h456=h456)
    results: list[list[dict]] = [[] for _ in range(n)]
    for doc, term, tf, positions, tags in zip(
        flat["doc"], flat["term"], flat["tf"], flat["positions"], flat["tags"]
    ):
        results[doc].append(
            {"term": term, "tf": tf, "positions": list(positions), "tags": tags}
        )
    return results
