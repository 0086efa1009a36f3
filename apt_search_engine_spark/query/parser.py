"""Query parsing: classification, tokenization, boolean splitting.

Mirrors server/src/main/java/processor/QueryProcessor.java:32-38 (classify),
processor/Tokenizer.java:7-23 (tokenize — deliberately NO stopword/length/
digit filter, unlike the index side: a stopword-only query finds nothing
because stopwords were never indexed), and QueryProcessor.java:284-309
(splitQuery / extractQueryWordsWithBoolean).

Boolean detection is case-INsensitive (:116-119) but the split regex only
matches uppercase ' AND | OR | NOT ' (:285) — reproduced as-is: 'x and y'
classifies as boolean yet stays one segment.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from apt_search_engine_spark.analysis.porter import MemoStemmer

_stemmer = MemoStemmer()

_CLEAN = re.compile(r"[^a-z0-9\s]")
_WS = re.compile(r"\s+")
# Java lookaround split, rewritten with fixed-width lookbehind branches for
# Python's re; split points are identical.
_BOOL_SPLIT = re.compile(r"(?= AND | OR | NOT )|(?<= AND )|(?<= OR )|(?<= NOT )")

OPERATORS = ("AND", "OR", "NOT")

# Extension query syntax (NOT in the reference grammar), read only by
# parse_spec below: `pre*` (prefix expansion), `word~1` / `word~2`
# (fuzzy), `w1 NEAR/3 w2` (unordered proximity, slop 1-99). One bare
# term per wildcard; all case-insensitive (parse_spec lowercases the
# captured terms — the vocabulary is lowercase by analysis).
_MULTITERM_RE = re.compile(r"([a-z0-9]+)(?:(\*)|~([12]))", re.I)
_NEAR_RE = re.compile(r"([a-z0-9]+)\s+NEAR/([1-9][0-9]?)\s+([a-z0-9]+)", re.I)
# Sloppy phrase `"w1 w2"~k` (Lucene PhraseQuery with slop, two-word
# form): ordered proximity — w1 must precede w2 within k positions.
_SLOPPY_RE = re.compile(
    r'"\s*([a-z0-9]+)\s+([a-z0-9]+)\s*"~([1-9][0-9]?)', re.I
)
# N-word sloppy phrase `"w1 w2 w3 ..."~k` (>= 3 words): Lucene
# PhraseQuery slop over in-order chains — span excess <= k
# (engine.search_sloppy_df; k=0 is excluded here because `~0` is the
# exact phrase, which the plain quoted syntax already serves).
_SLOPPY_N_RE = re.compile(
    r'"\s*([a-z0-9]+(?:\s+[a-z0-9]+){2,})\s*"~([1-9][0-9]?)', re.I
)
# General wildcard pattern (`te*t`, `t?st`, `*ing`): `*` = any run, `?` =
# any single char, anywhere in the term. The trailing-star-only shape
# (`pre*`) is sent to the cheaper prefix path by _MULTITERM_RE first, so
# this matches only patterns the prefix rewrite can't serve. Requires at
# least one wildcard AND at least one literal char (a bare `*` / `??`
# would be an unbounded vocabulary dump, not a query).
_WILDCARD_RE = re.compile(
    r"(?=[a-z0-9*?]*[*?])(?=[*?]*[a-z0-9])[a-z0-9*?]+", re.I
)


@dataclass(frozen=True)
class QuerySpec:
    """One classified query: its `kind` and the arguments that kind
    needs (SearchEngine.run dispatches on it).

      text      `text` = the raw query, in the reference grammar
      prefix    `text` = the prefix of `pre*`
      fuzzy     `text` = the word of `word~d`, `max_dist` = d
      wildcard  `text` = the glob pattern (`te*t`, `t?st`, `*ing`)
      near      `words` = (w1, w2) of `w1 NEAR/k w2`, `slop` = k
      sloppy    `words` of `"w1 w2 ..."~k` (ordered), `slop` = k
      mlt       `text` = the seed doc_id (never parsed from query text)

    `max_terms` caps a rewrite's term count (prefix / fuzzy / wildcard
    expansions and mlt term selection); None = the engine default."""

    kind: str
    text: str = ""
    words: tuple[str, ...] = ()
    slop: int = 0
    max_dist: int = 0
    max_terms: int | None = None


def parse_spec(text: str) -> QuerySpec:
    """Classify `text` once: extension syntax in one fixed order (the
    regexes' full matches are disjoint except `pre*`, which both the
    multi-term and the wildcard shape accept and which goes to the
    cheaper prefix path), else a reference-grammar `text` query. The
    patterns match the lowercased text, so a letter whose lowercase is
    not one [a-z0-9] character (`İ`) never forms extension syntax. The
    text kind keeps the raw string: the boolean split is
    case-sensitive."""
    q = text.strip()
    ql = q.lower()
    if m := _SLOPPY_N_RE.fullmatch(ql):
        words = tuple(m[1].split())
        return QuerySpec("sloppy", q, words=words, slop=int(m[2]))
    if m := _SLOPPY_RE.fullmatch(ql):
        return QuerySpec("sloppy", q, words=(m[1], m[2]), slop=int(m[3]))
    if m := _NEAR_RE.fullmatch(ql):
        return QuerySpec("near", q, words=(m[1], m[3]), slop=int(m[2]))
    if m := _MULTITERM_RE.fullmatch(ql):
        if m[2]:
            return QuerySpec("prefix", m[1])
        return QuerySpec("fuzzy", m[1], max_dist=int(m[3]))
    if _WILDCARD_RE.fullmatch(ql):
        return QuerySpec("wildcard", ql)
    return QuerySpec("text", text)


def stem(word: str) -> str:
    """Reference Stemmer.stem lowercases before stemming
    (processor/Stemmer.java:9)."""
    return _stemmer(word.lower())


def tokenize(q: str) -> list[str]:
    cleaned = _CLEAN.sub(" ", q.lower()).strip()
    return [w for w in _WS.split(cleaned) if w]


def contains_boolean(q: str) -> bool:
    ql = q.lower()
    return " and " in ql or " or " in ql or " not " in ql


def classify(q: str) -> str:
    if '"' in q:
        return "phrase+boolean" if contains_boolean(q) else "phrase"
    return "normal+boolean" if contains_boolean(q) else "normal"


def split_query(q: str) -> list[str]:
    return [p.strip() for p in _BOOL_SPLIT.split(q)]


def is_operator(part: str) -> bool:
    return part.upper() in OPERATORS


def extract_operators(parts: list[str]) -> list[str]:
    return [p.upper() for p in parts if is_operator(p)]


@dataclass
class ParsedQuery:
    raw: str
    qtype: str            # normal | normal+boolean | phrase | phrase+boolean
    query_words: list[str]  # stemmed, in order (duplicates preserved)
    segments: list[str]     # raw operator-split segments (incl. operators)

    @property
    def bag_words(self) -> list[str]:
        """The distinct stems of a bag-of-words reading, in ascending
        order, operator words dropped (QueryProcessor.java:121-128)."""
        return sorted({w for w in self.query_words if not is_operator(w)})

    @property
    def scoring_words(self) -> list[str]:
        """Words the ranker iterates for phrase-family queries
        (Ranker.java:399-424, quirk Q8: boolean structure discarded)."""
        if self.qtype == "phrase":
            return self.query_words
        words: list[str] = []
        for part in self.segments:
            if is_operator(part):
                continue
            if part.startswith('"') and part.endswith('"'):
                part = part[1:-1]
            words.extend(stem(w) for w in part.split(" "))
        return words


def parse(query: str) -> ParsedQuery:
    qtype = classify(query)
    segments = split_query(query)
    if '"' in query:
        words: list[str] = []
        for part in segments:
            if is_operator(part):
                continue
            if part.startswith('"') and part.endswith('"'):
                words.extend(stem(w) for w in tokenize(part[1:-1]))
            else:
                words.append(stem(part))
        query_words = words
    else:
        query_words = [stem(w) for w in tokenize(query)]
    return ParsedQuery(raw=query, qtype=qtype, query_words=query_words, segments=segments)
