"""`query`: one closed-loop client against an index built during set-up.

The measured operation is a round: one query of each family, in a fixed
order, then three requests to `jobs.serve` over the same index. Its latency
is the sum of the nine, so it moves with every family; the per-family
latencies are reported beside it.

* `bow`, `phrase`, `boolean`: `SearchEngine.search()` (reference scorer,
  full response with snippets);
* `bm25`: `search_bm25_df(...).collect()`; `wand`:
  `search_bm25_wand_df(...).collect()`;
* `prefix`: `search_prefix()` (lexicon expansion, reference scorer);
* `serve_page1`: `/search?scorer=bm25` for a new query, page 1;
  `serve_deep`: a new query, page 3 (top-30 computed); `serve_repeat`: the
  round's `serve_page1` request again, answered from serve's LRU.

Query words are drawn from the corpus's own token stream, so their
popularity follows its Zipf-like distribution; phrases are adjacent word
pairs drawn the same way. Every query of a run is distinct, so the engine's
per-term df memo and serve's LRU mostly miss; only `serve_repeat` hits, one
request in nine.

Set-up ends with one warm-up round of different queries. Without it, the
first call of each kind took 1.5-4x its later calls (plan compilation), and
a run of one measured round would measure that instead.
"""

from __future__ import annotations

import contextlib
import os
import re
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from checks import check_cache_hit, check_equal, check_topk
from harness import WORK, dur_ms, median, serve_get, spark_sum
from oracle import OracleIndex
from wl_build import table_bytes, write_corpus

N_CONVS = 400
K = 10
DEEP_PAGE = 3
MAX_ROUNDS = 200
API = ("bow", "phrase", "boolean", "bm25", "wand", "prefix")
SERVE = ("serve_page1", "serve_deep", "serve_repeat")
FAMILIES = API + SERVE
BOOL_OPS = ("AND", "OR", "NOT")
SPARK_KEYS = {"spark_jobs": "jobs", "spark_stages": "stages", "spark_tasks": "tasks",
              "input_bytes": "input_bytes", "shuffle_bytes": "shuffle_read_bytes"}
_TOKEN = re.compile(r"[^a-z0-9]")


class QueryPlan:
    """Seeded, distinct queries for every round (round 0 is the warm-up)."""

    def __init__(self, texts, seed: int, rounds: int):
        from apt_search_engine_spark.analysis.porter import MemoStemmer
        from apt_search_engine_spark.analysis.stopwords import STOPWORDS
        from apt_search_engine_spark.corpus import build_vocab

        vocab = {w for w in build_vocab() if len(w) > 1 and w not in STOPWORDS}
        self.stem = MemoStemmer()
        stream, pairs = [], []
        for text in texts:
            toks = _TOKEN.sub(" ", (text or "").lower()).split()
            for a, b in zip(toks, toks[1:] + [""]):
                if a in vocab:
                    stream.append(a)
                    if b in vocab and self.stem(a) != self.stem(b):
                        pairs.append((a, b))
        self.stream, self.pairs = stream, pairs
        self.rng = np.random.default_rng([seed, 20251019])
        self.used: set[str] = set()
        self.rounds = [self._round(r) for r in range(rounds)]

    def _word(self) -> str:
        return self.stream[int(self.rng.integers(len(self.stream)))]

    def _pair(self) -> tuple[str, str]:
        return self.pairs[int(self.rng.integers(len(self.pairs)))]

    def _distinct(self, make):
        for _ in range(1000):
            q = make()
            if q not in self.used:
                self.used.add(q)
                return q
        return q

    def _bag(self) -> str:
        return f"{self._word()} {self._word()}"

    def _boolean(self, op: str) -> str:
        a, b = self._pair()
        stems = {self.stem(a), self.stem(b)}
        c = self._word()
        while self.stem(c) in stems:
            c = self._word()
        return f'"{a} {b}" {op} {c}'

    def _round(self, r: int) -> dict:
        op = BOOL_OPS[r % len(BOOL_OPS)]
        return {
            "bow": self._distinct(self._bag),
            "phrase": self._distinct(lambda: '"%s %s"' % self._pair()),
            "boolean": self._distinct(lambda: self._boolean(op)),
            "bm25": self._distinct(self._bag),
            "wand": self._distinct(self._bag),
            "prefix": self._distinct(lambda: self._word()[:3]),
            "serve_page1": self._distinct(self._bag),
            "serve_deep": self._distinct(self._bag),
        }


def run(spark, seed: int, seconds: float, tracer, t_start: float) -> dict:
    from pyspark.sql.classic.dataframe import DataFrame

    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.jobs.serve import serve
    from apt_search_engine_spark.query.engine import SearchEngine

    marks = [time.perf_counter()]
    src = os.path.join(WORK, "turns")
    n_turns = write_corpus(spark, N_CONVS, seed, src)
    marks.append(time.perf_counter())
    index_dir = os.path.join(WORK, "idx")
    IndexBuilder(spark, index_dir, n_batches=1).build(spark.read.parquet(src))
    marks.append(time.perf_counter())
    engine = SearchEngine(spark, index_dir=index_dir)
    httpd = serve(engine, port=0)
    server = threading.Thread(target=httpd.serve_forever, daemon=True)
    server.start()
    port = httpd.server_address[1]
    plan = QueryPlan(pq.read_table(src, columns=["text"]).column("text").to_pylist(), seed,
                     MAX_ROUNDS + 1)

    def op(fam: str, rnd: dict, traced: bool = True):
        q = rnd.get(fam)
        if fam in ("bow", "phrase", "boolean"):
            return [(d["doc_id"], d["score"], d["title"], d["url"]) for d in engine.search(q, k=K)]
        if fam == "prefix":
            return [(d["doc_id"], d["score"], d["title"], d["url"]) for d in engine.search_prefix(q, k=K)]
        if fam in ("bm25", "wand"):
            call = engine.search_bm25_df if fam == "bm25" else engine.search_bm25_wand_df
            with tracer.span(f"query.{fam}.plan") if tracer and traced else contextlib.nullcontext():
                df = call(q, k=K)
            return [(r.doc_id, r.score) for r in df.collect()]
        if fam == "serve_page1":
            return serve_get(port, q)
        if fam == "serve_deep":
            return serve_get(port, q, DEEP_PAGE)
        return serve_get(port, rnd["serve_page1"])  # serve_repeat

    try:
        for fam in FAMILIES:  # warm-up round, untimed, unchecked
            op(fam, plan.rounds[0], traced=False)
        marks.append(time.perf_counter())
        setup_s = marks[-1] - t_start
        if tracer:
            tracer.wrap(SearchEngine, "search_df", "query.search_df")
            tracer.wrap(SearchEngine, "term_dfs", "query.engine.term_dfs")
            tracer.wrap(SearchEngine, "expand_prefix", "query.expand_prefix")
            tracer.wrap(DataFrame, "collect", "spark.collect")
        lat = {f: [] for f in FAMILIES}
        done, rounds = [], []
        t0 = time.perf_counter()
        for r, rnd in enumerate(plan.rounds[1:], start=1):
            t_round, ok = time.perf_counter(), True
            for fam in FAMILIES:
                if tracer:
                    tracer.request = f"{r}.{fam}"
                span = tracer.span(f"query.{fam}", spark=True) if tracer else contextlib.nullcontext()
                t = time.perf_counter()
                try:
                    with span:
                        res = op(fam, rnd)
                except Exception as e:  # reported, and the run goes on
                    ok = False
                    done.append((fam, rnd, e))
                    continue
                lat[fam].append(time.perf_counter() - t)
                done.append((fam, rnd, res))
            rounds.append((time.perf_counter() - t_round, ok))
            if time.perf_counter() - t0 >= seconds:
                break
        elapsed = time.perf_counter() - t0
    finally:
        if tracer:
            tracer.unwrap_all()
            tracer.request = None
        httpd.shutdown()
        httpd.server_close()
        server.join(timeout=60)

    api_ms = [x * 1000.0 for f in API for x in lat[f]]
    ok_ms = [x * 1000.0 for x, ok in rounds if ok]  # a failed round's time is not a latency
    out = {
        "attempted": len(rounds),
        "failed": sum(not ok for _, ok in rounds),
        "e2e": {"setup_s": setup_s, "op_p50_ms": median(ok_ms), "ops_per_s": len(rounds) / elapsed},
        "detail": {f"query_{f}_p50_ms": median([x * 1000.0 for x in lat[f]]) for f in FAMILIES}
        | {"api_queries": len(api_ms), "n_turns": n_turns,
           "setup_parts_s": dict(zip(("session", "corpus", "index", "serve_plan_warmup"),
                                     np.diff([t_start] + marks).tolist()))},
    }
    if tracer:
        out["layer"] = layer_metrics(tracer, lat, api_ms, elapsed, index_dir)
    out["errors"] = check_results(OracleIndex.from_table(pq.read_table(src)), done)
    return out


def layer_metrics(tracer, lat, api_ms, elapsed, index_dir) -> dict:
    layer = {f"query.{f}.p50_ms": median([x * 1000.0 for x in lat[f]]) for f in API}
    layer["query.queries_per_s"] = len(api_ms) / elapsed
    children: dict[int, list[dict]] = {}
    for s in tracer.spans:
        children.setdefault(s["parent"], []).append(s)
    for fam in API:
        tops = tracer.named(f"query.{fam}")
        plan_ms, exec_ms, asm_ms = [], [], []
        for s in tops:
            kids = sorted(children.get(s["id"], []), key=lambda c: c["start"])
            x = next((c for c in kids if c["name"] == "spark.collect"), None)
            if x is None:  # the operation failed before its top-k collect
                continue
            if fam in ("bm25", "wand"):
                p = next(c for c in kids if c["name"] == f"query.{fam}.plan")
                plan_ms.append(dur_ms(p))
                exec_ms.append(dur_ms(x))
            else:
                # search()/search_prefix(): everything before the top-k
                # collect plans the query, the collect runs it, the rest
                # (doc_meta fetch, snippets) assembles the response
                plan_ms.append((x["start"] - s["start"]) * 1000.0)
                exec_ms.append(dur_ms(x))
                asm_ms.append((s["end"] - x["end"]) * 1000.0)
        layer[f"query.{fam}.plan_ms"] = median(plan_ms)
        layer[f"query.{fam}.exec_ms"] = median(exec_ms)
        if asm_ms:
            layer[f"query.{fam}.assemble_ms"] = median(asm_ms)
        for key, field in SPARK_KEYS.items():
            layer[f"query.{fam}.{key}"] = spark_sum(tops, field) / len(tops)
    n_api = sum(len(tracer.named(f"query.{f}")) for f in API)
    dfs = tracer.named("query.engine.term_dfs")
    layer["query.engine.term_dfs_calls"] = len(dfs) / n_api
    layer["query.engine.term_dfs_ms"] = sum(dur_ms(s) for s in dfs) / n_api
    misses = lat["serve_page1"] + lat["serve_deep"]
    miss_spans = tracer.named("query.serve_page1") + tracer.named("query.serve_deep")
    layer.update({
        "jobs.serve.cache_hits": float(len(lat["serve_repeat"])),
        "jobs.serve.cache_misses": float(len(misses)),
        "jobs.serve.hit_p50_ms": median([x * 1000.0 for x in lat["serve_repeat"]]),
        "jobs.serve.miss_p50_ms": median([x * 1000.0 for x in misses]),
        "jobs.serve.page1_p50_ms": median([x * 1000.0 for x in lat["serve_page1"]]),
        "jobs.serve.deep_page_p50_ms": median([x * 1000.0 for x in lat["serve_deep"]]),
        "jobs.serve.spark_jobs_per_miss": spark_sum(miss_spans, "jobs") / len(miss_spans),
    })
    layer.update(table_bytes(index_dir))
    return layer


def check_results(oracle: OracleIndex, done) -> list[str]:
    errs = []
    misses: dict[str, dict] = {}
    for fam, rnd, res in done:
        if isinstance(res, Exception):
            continue
        q = rnd.get(fam, rnd["serve_page1"])
        label = f"{fam} {q!r}"
        if fam in ("bow", "phrase", "boolean", "prefix"):
            if fam == "bow":
                exp = oracle.ref_bow(q, K)
            elif fam == "phrase":
                exp = oracle.ref_phrase(q, K)
            elif fam == "boolean":
                phrase, op, word = re.fullmatch(r'"([^"]+)" (AND|OR|NOT) (\S+)', q).groups()
                exp = oracle.ref_boolean(phrase, op, word, K)
            else:
                exp = oracle.ref_prefix(q, K)
            errs += check_topk(label, [(d, s) for d, s, _, _ in res], exp, K)
            for d, _, title, url in res:
                errs += check_equal(f"{label} title of {d}", title, oracle.title.get(d))
                errs += check_equal(f"{label} url of {d}", url, d)
        elif fam in ("bm25", "wand"):
            errs += check_topk(label, res, oracle.bm25(q, K), K)
        else:
            status, cache, body = res
            errs += check_equal(f"{label} status", status, 200)
            if status != 200:
                continue
            got = [(r["url"], r["score"]) for r in body["results"]]
            if fam == "serve_repeat":
                errs += check_equal(f"{label} X-Cache", cache, "hit")
                if q in misses:
                    errs += check_cache_hit(label, body, misses[q])
                continue
            errs += check_equal(f"{label} X-Cache", cache, "miss")
            page = DEEP_PAGE if fam == "serve_deep" else 1
            exp = oracle.bm25(q, page * K)
            errs += check_topk(label, got, exp[(page - 1) * K:], K)
            errs += check_equal(f"{label} totalCount", body["totalCount"], len(exp))
            misses[q] = body
    return errs
