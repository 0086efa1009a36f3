"""REST serving surface: the analogue of the reference's Spring endpoint
`GET /search?query=...&page=...&size=...`
(server/src/main/java/com/example/demo/SearchController.java:51-70).

    python -m apt_search_engine_spark.jobs.serve --index-dir /data/idx \
        [--host 127.0.0.1] [--port 8080]

Response mirrors the reference's SearchResult JSON
(SearchController.java:19-41): {"results": [{"url", "score", "title",
"snippet"}], "totalCount", "totalTime"}. One documented deviation (P9,
SURVEY.md): the reference computes the FULL result list and lets the
client slice 10/page — at 10^12 turns return-everything is not a
contract worth keeping, so page/size are honored server-side via the
engine's top-k (k = page*size), and totalCount counts the scored
candidates actually materialized rather than every match.

Stdlib http.server on purpose: the serving layer is a thin driver-side
shim over SearchEngine (queries are driver-planned DataFrame jobs); a
production deployment would put any HTTP framework here unchanged.
"""

from __future__ import annotations

import os
import sys

# spark-submit / direct-path invocation puts THIS directory on sys.path,
# not the repo root — bootstrap the package like every entry script must
# when run without --py-files packaging
_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

import argparse
import json
import sys
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


# extension query syntax lives with the parser (query/parser.py); the
# aliases keep this module the historical import site for the jobs layer
from apt_search_engine_spark.query.parser import (  # noqa: E402
    MULTITERM_RE as _MULTITERM_RE,
    NEAR_RE as _NEAR_RE,
    SLOPPY_N_RE as _SLOPPY_N_RE,
    SLOPPY_RE as _SLOPPY_RE,
    WILDCARD_RE as _WILDCARD_RE,
    tokenize as _tokenize,
)


def make_handler(engine, synonyms_df=None, cache_size: int = 256):
    """`cache_size` > 0 enables a driver-side LRU over successful
    /search responses, keyed by (index state token, synonym-table
    fingerprint, full request line): identical repeated queries — the
    head of any real query distribution — skip their Spark job
    entirely, and any index commit (build / compact / recompact /
    purge) naturally invalidates every entry because the state token
    changes. The X-Cache response header says hit or miss; hits report
    their own (near-zero) totalTime, never the original run's.

    The synonym table is PINNED at handler creation: its rows are
    collected once and rebuilt as a driver-local DataFrame (synonym
    tables are config-file-sized, like a Solr synonyms file), so a
    parquet dir rewritten under a long-lived server can neither change
    responses mid-life nor serve stale cache entries — the fingerprint
    in the key records exactly what was pinned."""
    import hashlib
    import threading
    from collections import OrderedDict

    if synonyms_df is not None:
        # NULL-bearing rows are dropped (they matched nothing through
        # the expansion join anyway, and None breaks the sort)
        syn_rows = sorted(
            (r.term, r.synonym)
            for r in synonyms_df.select("term", "synonym").collect()
            if r.term is not None and r.synonym is not None
        )
        synonyms_df = engine.spark.createDataFrame(
            syn_rows or [("", "")], "term string, synonym string"
        )
        if not syn_rows:
            synonyms_df = synonyms_df.filter("term <> ''")
        syn_tok = hashlib.md5(repr(syn_rows).encode()).hexdigest()[:16]
    else:
        syn_tok = None

    lru: OrderedDict = OrderedDict()
    lru_lock = threading.Lock()

    def _cache_key(path: str):
        try:
            tok = engine._state_token()
        except Exception:
            return None  # in-memory engines have no commit marker
        return (tuple(tok) if isinstance(tok, list) else tok, syn_tok, path)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _suggest(self, u) -> None:
            """GET /suggest?prefix=...&k=... — server-side query
            suggestions from the corpus vocabulary (the reference client
            suggests from one browser's localStorage history; a
            multi-user deployment needs them server-derived)."""
            q = parse_qs(u.query)
            prefix = (q.get("prefix") or [""])[0].strip().lower()
            if not prefix:
                self._json(400, {"error": "empty prefix"})
                return
            try:
                k = int((q.get("k") or ["8"])[0])
            except ValueError:
                self._json(400, {"error": "k must be an integer"})
                return
            k = min(max(1, k), 100)
            t0 = time.time()
            rows = engine.suggest_terms_df(prefix, k=k).collect()
            self._json(
                200,
                {
                    "suggestions": [
                        {"term": r.term, "df": r.df} for r in rows
                    ],
                    "totalTime": int((time.time() - t0) * 1000),
                },
            )

        def _spell(self, u) -> None:
            """GET /spell?query=...&max_dist=... — spell suggestions for
            the query's out-of-vocabulary words (engine.suggest_spelling:
            Lucene DirectSpellChecker shape over the stem vocabulary)."""
            q = parse_qs(u.query)
            query = (q.get("query") or [""])[0]
            words = _tokenize(query)
            if not words:
                self._json(400, {"error": "empty query"})
                return
            try:
                max_dist = int((q.get("max_dist") or ["2"])[0])
            except ValueError:
                self._json(400, {"error": "max_dist must be an integer"})
                return
            max_dist = min(max(1, max_dist), 3)
            t0 = time.time()
            rows = engine.suggest_spelling_df(words, max_dist=max_dist).collect()
            self._json(
                200,
                {
                    "suggestions": [
                        {"word": r.word, "suggestion": r.suggestion,
                         "dist": r.dist, "df": r.df}
                        for r in rows
                    ],
                    "totalTime": int((time.time() - t0) * 1000),
                },
            )

        def _mlt(self, u) -> None:
            """GET /mlt?doc=...&k=...&max_terms=... — more-like-this:
            documents ranked against the seed doc's most characteristic
            terms (engine.more_like_this), seed excluded."""
            q = parse_qs(u.query)
            doc = (q.get("doc") or [""])[0].strip()
            if not doc:
                self._json(400, {"error": "empty doc"})
                return
            try:
                k = int((q.get("k") or ["10"])[0])
                max_terms = int((q.get("max_terms") or ["25"])[0])
            except ValueError:
                self._json(400, {"error": "k/max_terms must be integers"})
                return
            k = min(max(1, k), 100)
            max_terms = min(max(1, max_terms), 100)
            t0 = time.time()
            try:
                rows = engine.more_like_this(
                    doc, k=k, max_terms=max_terms, with_snippets=True
                )
            except ValueError as e:
                # e.g. an index without doc_meta (merge of meta-less
                # shards): a JSON 400 beats an escaped traceback
                self._json(400, {"error": str(e)})
                return
            self._json(
                200,
                {
                    "results": [
                        {"url": r["url"], "score": r["score"],
                         "title": r["title"], "snippet": r["snippet"]}
                        for r in rows
                    ],
                    "totalCount": len(rows),
                    "totalTime": int((time.time() - t0) * 1000),
                },
            )

        def _explain(self, u) -> None:
            """GET /explain?query=...&doc=... — per-term score breakdown
            for one (query, doc) pair (engine.explain: Lucene
            IndexSearcher.explain analog; the reproduced score is
            bit-exact vs the ranked plan)."""
            q = parse_qs(u.query)
            query = (q.get("query") or [""])[0]
            doc = (q.get("doc") or [""])[0].strip()
            if not query.strip() or not doc:
                self._json(400, {"error": "query and doc are required"})
                return
            t0 = time.time()
            try:
                exp = engine.explain(query, doc)
            except ValueError as e:
                self._json(400, {"error": str(e)})
                return
            exp["totalTime"] = int((time.time() - t0) * 1000)
            self._json(200, exp)

        def _json(self, code: int, obj, cache: str | None = None) -> None:
            body = obj if isinstance(obj, bytes) else json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            if cache is not None:
                self.send_header("X-Cache", cache)
            self.end_headers()
            self.wfile.write(body)

        def _cache_get(self):
            if cache_size <= 0:
                return None, None
            key = _cache_key(self.path)
            if key is None:
                return None, None
            t0 = time.time()
            with lru_lock:
                obj = lru.get(key)
                if obj is not None:
                    lru.move_to_end(key)
            if obj is None:
                return key, None
            # hits must not replay the original run's latency to clients
            obj = dict(obj)
            if "totalTime" in obj:
                obj["totalTime"] = int((time.time() - t0) * 1000)
            return key, obj

        def _cache_put(self, key, obj):
            if key is not None:
                with lru_lock:
                    lru[key] = obj
                    lru.move_to_end(key)
                    while len(lru) > cache_size:
                        lru.popitem(last=False)
            return obj

        def do_GET(self):
            try:
                self._route()
            except Exception as e:
                # any engine failure: a JSON 500 instead of a dropped
                # connection; the server keeps answering later requests
                self._json(500, {"error": f"{type(e).__name__}: {e}"})

        def _route(self):
            u = urlparse(self.path)
            if u.path == "/suggest":
                self._suggest(u)
                return
            if u.path == "/spell":
                self._spell(u)
                return
            if u.path == "/mlt":
                self._mlt(u)
                return
            if u.path == "/explain":
                self._explain(u)
                return
            if u.path != "/search":
                self._json(404, {"error": "not found"})
                return
            ckey, cbody = self._cache_get()
            if cbody is not None:
                self._json(200, cbody, cache="hit")
                return
            q = parse_qs(u.query)
            query = (q.get("query") or [""])[0]
            if not query.strip():
                self._json(400, {"error": "empty query"})
                return
            try:
                page = int((q.get("page") or ["1"])[0])
                size = int((q.get("size") or ["10"])[0])
            except ValueError:
                self._json(400, {"error": "page/size must be integers"})
                return
            # clamp rather than 400 on out-of-range values, mirroring the
            # reference client's forgiving pager; page=0 / negative size
            # previously produced wrong slices or a negative k
            page = max(1, page)
            size = max(1, size)
            scorer = (q.get("scorer") or ["reference"])[0]
            if scorer not in ("reference", "bm25", "bm25f"):
                self._json(
                    400, {"error": "scorer must be reference|bm25|bm25f"}
                )
                return
            # count=exact adds the reference's true totalCount (full
            # ranked-list size) as `totalMatches` — an extra aggregate
            # job, so opt-in per request
            want_exact_count = (q.get("count") or [""])[0] == "exact"
            # field=title|h1|h2|h3 restricts matching to a heading
            # channel (engine.search_field: title = tool name, h1 = turn
            # role under the fixture adapter)
            field = (q.get("field") or [""])[0]
            if field and field not in ("title", "h1", "h2", "h3"):
                self._json(
                    400, {"error": "field must be title|h1|h2|h3"}
                )
                return
            # synonyms=1 expands query words through the synonym table
            # the server was started with (--synonyms; stem space)
            want_syn = (q.get("synonyms") or [""])[0] == "1"
            if want_syn and synonyms_df is None:
                self._json(
                    400,
                    {"error": "server started without --synonyms"},
                )
                return
            if want_syn and (
                scorer != "reference" or field or want_exact_count
            ):
                self._json(
                    400,
                    {"error": "synonyms=1 supports only scorer=reference "
                              "without field/count"},
                )
                return
            t0 = time.time()
            # Lucene-style multi-term syntax, resolved at the serve layer
            # (the reference parser has no wildcards): `pre*` = prefix
            # expansion, `word~d` = fuzzy with edit distance d in {1,2}.
            # Expanded queries score as bag-of-words (engine rewrite) and
            # return the doc_id/score shape like the bm25 scorer.
            mt = _MULTITERM_RE.fullmatch(query.strip())
            nr = _NEAR_RE.fullmatch(query.strip())
            # sloppy phrase: `"w1 w2"~k` = ordered proximity (legacy
            # distance-<=k form); `"w1 w2 w3 ..."~k` (>= 3 words) =
            # Lucene n-term slop (span excess <= k)
            spn = (
                _SLOPPY_N_RE.fullmatch(query.strip()) if nr is None else None
            )
            sp = (
                _SLOPPY_RE.fullmatch(query.strip())
                if nr is None and spn is None
                else None
            )
            # general wildcard (`te*t` / `t?st` / `*ing`) — only when the
            # cheaper trailing-star prefix shape didn't already match
            wc = (
                _WILDCARD_RE.fullmatch(query.strip())
                if mt is None and nr is None and sp is None and spn is None
                else None
            )
            if (
                mt is not None
                or nr is not None
                or sp is not None
                or spn is not None
                or wc is not None
            ) and (scorer != "reference" or field or want_exact_count):
                # extension syntax only runs on the reference scorer and
                # cannot honor field/count yet: 400 beats silently
                # dropping the caller's explicit params
                self._json(
                    400,
                    {"error": "multi-term/NEAR syntax supports only "
                              "scorer=reference without field/count"},
                )
                return
            if field and scorer != "reference":
                self._json(
                    400,
                    {"error": "field= requires scorer=reference"},
                )
                return
            if want_syn and (
                mt is not None
                or nr is not None
                or sp is not None
                or spn is not None
                or wc is not None
            ):
                # expansion-on-expansion is undefined: 400 beats
                # silently dropping the caller's synonyms=1
                self._json(
                    400,
                    {"error": "synonyms=1 applies to plain bag-of-words "
                              "queries only"},
                )
                return
            if want_syn:
                try:
                    rows = engine.search_synonym(
                        query, synonyms_df, k=page * size, with_snippets=True
                    )
                except ValueError as e:
                    # phrase/boolean flattening would silently drop
                    # adjacency / NOT semantics — refuse instead
                    self._json(400, {"error": str(e)})
                    return
            elif wc is not None:
                rows = engine.search_wildcard(
                    query.strip().lower(), k=page * size, with_snippets=True
                )
            elif nr is not None:
                rows = engine.search_near(
                    nr.group(1).lower(), nr.group(3).lower(),
                    slop=int(nr.group(2)),
                    k=page * size, with_snippets=True,
                )
            elif spn is not None:
                rows = engine.search_sloppy(
                    spn.group(1).lower().split(),
                    slop=int(spn.group(2)),
                    k=page * size, with_snippets=True,
                )
            elif sp is not None:
                rows = engine.search_near(
                    sp.group(1).lower(), sp.group(2).lower(),
                    slop=int(sp.group(3)), ordered=True,
                    k=page * size, with_snippets=True,
                )
            elif mt is not None:
                word, wild, dist = (
                    mt.group(1).lower(), mt.group(2), mt.group(3),
                )
                if wild:
                    rows = engine.search_prefix(
                        word, k=page * size, with_snippets=True
                    )
                else:
                    rows = engine.search_fuzzy(
                        word, k=page * size, max_dist=int(dist),
                        with_snippets=True,
                    )
            elif field:
                rows = engine.search_field(
                    field, query, k=page * size, with_snippets=True
                )
            elif scorer in ("bm25", "bm25f"):
                # standard Okapi BM25 / field-weighted BM25F (extension
                # scorers; no snippet path — results carry doc_id/score
                # only, url == doc_id shape)
                fn = (
                    engine.search_bm25f_df
                    if scorer == "bm25f"
                    else engine.search_bm25_df
                )
                got = fn(query, k=page * size).collect()
                rows = [
                    {"url": r.doc_id, "score": r.score, "title": "",
                     "snippet": ""}
                    for r in got
                ]
            else:
                rows = engine.search(query, k=page * size, with_snippets=True)
            sliced = rows[(page - 1) * size : page * size]
            resp = {
                "results": [
                    {
                        "url": r["url"],
                        "score": r["score"],
                        "title": r["title"],
                        "snippet": r["snippet"],
                    }
                    for r in sliced
                ],
                "totalCount": len(rows),
                "totalTime": int((time.time() - t0) * 1000),
            }
            if (
                not rows
                and mt is None
                and nr is None
                and sp is None
                and spn is None
                and wc is None
                and not field
                and scorer == "reference"
            ):
                # zero hits on a plain query: offer "did you mean" from
                # the spell suggester (out-of-vocab words replaced by
                # their nearest vocabulary stem). One lexicon scan, only
                # on the empty-result path.
                fixes = engine.suggest_spelling(_tokenize(query))
                if fixes:
                    resp["didYouMean"] = " ".join(
                        fixes.get(w, w) for w in _tokenize(query)
                    )
            if (
                want_exact_count
                and mt is None
                and not field
                and scorer == "reference"
            ):
                resp["totalMatches"] = int(
                    engine.match_count_df(query).collect()[0].n_matches
                )
                resp["totalTime"] = int((time.time() - t0) * 1000)
            self._json(
                200,
                self._cache_put(ckey, resp),
                cache="miss" if ckey is not None else None,
            )

    return Handler


def serve(engine, host: str = "127.0.0.1", port: int = 8080,
          synonyms_df=None, cache_size: int = 256):
    """Returns the bound ThreadingHTTPServer (caller runs serve_forever,
    or drives it from a thread in tests)."""
    return ThreadingHTTPServer(
        (host, port),
        make_handler(engine, synonyms_df=synonyms_df, cache_size=cache_size),
    )


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--index-dir", required=True)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=8080)
    p.add_argument(
        "--synonyms", default=None,
        help="parquet dir of (term, synonym) stem pairs; enables the "
        "synonyms=1 query param",
    )
    args = p.parse_args(argv)

    from apt_search_engine_spark.query.engine import SearchEngine
    from apt_search_engine_spark.session import get_spark

    spark = get_spark("aptse-serve")
    engine = SearchEngine(spark, index_dir=args.index_dir)
    syn = spark.read.parquet(args.synonyms) if args.synonyms else None
    httpd = serve(engine, args.host, args.port, synonyms_df=syn)
    print(json.dumps({"serving": f"http://{args.host}:{args.port}/search"}))
    try:
        httpd.serve_forever()
    except KeyboardInterrupt:
        pass
    return 0


if __name__ == "__main__":
    sys.exit(main())
