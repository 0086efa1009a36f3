"""Expectations computed apart from the engine.

The benchmark checks every result against an inverted index that it builds
itself from the raw turns: one `analyze_doc` call per turn (the analyzer's
per-document path, not the Arrow batch path the index build runs), and plain
Python dicts for postings, document frequencies and document lengths. No
table the engine wrote is read here.

Scoring follows the engine's documented contract:

* reference scorer: `(tagsum * tf) * (numerator // df)` summed per document
  in ascending term order, times the uniform prior `1 / N`, with the
  numerator `max(6000, N)`. The literal 6000 of the original engine scores
  every head term 0 once `df > 6000`, so a corpus above 6,000 turns needs the
  scaled numerator;
* Okapi BM25: `idf * occ * (k1 + 1) / (occ + k1 * (1 - b) + k1 * b * dl /
  avgdl)` with `idf = ln(1 + (N - df + 0.5) / (df + 0.5))`, summed per
  document in ascending term order;
* ties break by doc_id ascending.
"""

from __future__ import annotations

import math
import re

from apt_search_engine_spark.analysis.analyzer import analyze_doc, tag_weight
from apt_search_engine_spark.analysis.porter import MemoStemmer

REF_IDF_FLOOR = 6000
K1 = 1.2
B = 0.75
MAX_EXPANSIONS = 50

_QUERY_CLEAN = re.compile(r"[^a-z0-9\s]")


def doc_id(conv_id: str, turn_idx: int) -> str:
    return f"{conv_id}#{int(turn_idx):06d}"


def ref_numerator(n_docs: int) -> int:
    return max(REF_IDF_FLOOR, n_docs)


def bm25_idf(df: int, n_docs: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def rank(scores: dict[str, float], k: int) -> list[tuple[str, float]]:
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]


class Posting:
    __slots__ = ("tf", "occ", "tagsum", "positions")

    def __init__(self, info: dict):
        self.tf = info["tf"]
        self.positions = info["positions"]
        self.occ = len(self.positions)
        tags = info["tags"]
        self.tagsum = sum(tag_weight(t) for t in tags) if tags else 0.5


class OracleIndex:
    """Inverted index over transcript turns, one document per turn."""

    def __init__(self):
        self.stem = MemoStemmer()
        self.postings: dict[str, dict[str, Posting]] = {}
        self.dl: dict[str, int] = {}
        self.title: dict[str, str | None] = {}
        self.n_docs = 0

    def add_turns(self, conv_ids, turn_idxs, roles, texts, tools) -> None:
        for conv, turn, role, text, tool in zip(conv_ids, turn_idxs, roles, texts, tools):
            did = doc_id(conv, turn)
            self.n_docs += 1
            self.title[did] = tool
            # the transcripts adapter: the title channel reads the literal
            # "title", the h1 channel the turn's role
            terms = analyze_doc(
                text, [("title", ["title"]), ("h1", [role] if role else [])], self.stem
            )
            dl = 0
            for term, info in terms.items():
                p = Posting(info)
                self.postings.setdefault(term, {})[did] = p
                dl += p.occ
            self.dl[did] = dl

    @classmethod
    def from_table(cls, table) -> "OracleIndex":
        """From a pyarrow table with the transcripts columns."""
        idx = cls()
        cols = table.select(["conv_id", "turn_idx", "role", "text", "tool"]).to_pydict()
        idx.add_turns(cols["conv_id"], cols["turn_idx"], cols["role"], cols["text"], cols["tool"])
        return idx

    # -- corpus statistics -------------------------------------------------
    def lexicon(self) -> dict[str, int]:
        return {t: len(d) for t, d in self.postings.items()}

    def total_len(self) -> int:
        return sum(self.dl.values())

    def n_pairs(self) -> int:
        return sum(len(d) for d in self.postings.values())

    # -- query side --------------------------------------------------------
    def query_terms(self, query: str) -> list[str]:
        cleaned = _QUERY_CLEAN.sub(" ", query.lower()).split()
        return [self.stem(w) for w in cleaned]

    def _ref_normal(self, terms, k: int) -> list[tuple[str, float]]:
        num = ref_numerator(self.n_docs)
        raw: dict[str, float] = {}
        for t in sorted(set(terms)):
            docs = self.postings.get(t)
            if not docs:
                continue
            idf = num // len(docs)
            for d, p in docs.items():
                c = (p.tagsum * p.tf) * idf
                if c != 0.0:
                    raw[d] = raw.get(d, 0.0) + c
        prior = 1.0 / self.n_docs
        return rank({d: v * prior for d, v in raw.items() if v != 0.0}, k)

    def _phrase_docs(self, terms: list[str]) -> set[str]:
        lists = [self.postings.get(t, {}) for t in terms]
        common = set(lists[0]) if lists else set()
        for lst in lists[1:]:
            common &= set(lst)
        out = set()
        for d in common:
            base = set(lists[0][d].positions)
            for i, lst in enumerate(lists[1:], start=1):
                base &= {p - i for p in lst[d].positions}
                if not base:
                    break
            if base:
                out.add(d)
        return out

    def _ref_gated(self, term_docs: dict[str, set[str]], words: list[str], k: int):
        """The reference phrase ranker: only documents matched for the
        first scoring word score; df is the matched-set size; repeated
        words count once per repeat."""
        num = ref_numerator(self.n_docs)
        prior = 1.0 / self.n_docs
        scores: dict[str, float] = {}
        for d in term_docs.get(words[0], ()):
            total = 0.0
            for w in sorted(words):
                docs = term_docs.get(w)
                if not docs or d not in docs:
                    continue
                p = self.postings[w][d]
                total += (p.tagsum * p.tf) * (num // len(docs))
            total *= prior
            if total != 0.0:
                scores[d] = total
        return rank(scores, k)

    def ref_bow(self, query: str, k: int = 10):
        return self._ref_normal(self.query_terms(query), k)

    def ref_phrase(self, query: str, k: int = 10):
        """`"w1 w2 ..."` — adjacent occurrence of every word."""
        words = self.query_terms(query)
        matched = self._phrase_docs(words)
        return self._ref_gated({w: matched for w in words}, words, k)

    def ref_boolean(self, phrase: str, op: str, word: str, k: int = 10):
        """`"<phrase>" <op> <word>` with op in AND / OR / NOT."""
        pw = self.query_terms(phrase)
        w = self.stem(word.lower())
        matched = self._phrase_docs(pw)
        with_w = set(self.postings.get(w, {}))
        merged = {"AND": matched & with_w, "OR": matched | with_w, "NOT": matched - with_w}[op]
        # the workload never repeats a phrase word as the boolean word
        term_docs = {t: matched & merged for t in pw}
        term_docs[w] = with_w & merged
        return self._ref_gated(term_docs, pw + [w], k)

    def expand_prefix(self, prefix: str) -> list[str]:
        hits = [(-len(d), t) for t, d in self.postings.items() if t.startswith(prefix)]
        return [t for _, t in sorted(hits)[:MAX_EXPANSIONS]]

    def ref_prefix(self, prefix: str, k: int = 10):
        return self._ref_normal(self.expand_prefix(prefix), k)

    def bm25(self, query: str, k: int = 10):
        """Bag-of-words Okapi BM25 over every document holding a query term."""
        n = self.n_docs
        avgdl = self.total_len() / n
        k1p1, c0, c1 = K1 + 1.0, K1 * (1.0 - B), K1 * B / avgdl
        scores: dict[str, float] = {}
        for t in sorted(set(self.query_terms(query))):
            docs = self.postings.get(t)
            if not docs:
                continue
            idf = bm25_idf(len(docs), n)
            for d, p in docs.items():
                tfnorm = (p.occ * k1p1) / (p.occ + (c0 + c1 * self.dl[d]))
                scores[d] = scores.get(d, 0.0) + idf * tfnorm
        return rank(scores, k)
