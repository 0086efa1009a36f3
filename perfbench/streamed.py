"""Streamed ingest under a live server: the `streaming` layer and serve's
behaviour across commits.

Runs inside a traced `build` run, after the measured build and outside its
window. It feeds only per-layer metrics, which only `--trace 1` reports.

The first BOOT_CONVS conversations of the run's corpus bootstrap a streamed
index (`stream_analyze` + `compact`), and `jobs.serve.serve()` starts on it in
a thread. Then N_INCREMENTS times: INC_CONVS more conversations are appended
to the stream's input directory, `stream_analyze` drains them and `compact`
commits them (ending in its auto-`recompact` check). After each commit one
seeded bm25 probe query is sent twice: the first request must miss, because
the commit changed the index state that keys serve's LRU, and the second must
hit.

Checks, against an oracle index grown from the same raw turns: after every
commit `n_docs` and `total_len` equal the turns ingested so far, the probe's
page equals the oracle's BM25 top-k, and the hit repeats its miss. At the
end the streamed lexicon equals the oracle's."""

from __future__ import annotations

import json
import os
import re
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from checks import check_cache_hit, check_equal, check_lexicon, check_topk
from harness import WORK, dur_ms, median, serve_get, spark_sum

BOOT_CONVS = 40
INC_CONVS = 20
N_INCREMENTS = 2
K = 10
_WORD = re.compile(r"[a-z]{4,}")


def probe_query(oracle, texts, seed: int) -> str:
    """Two words drawn from the bootstrap turns' own token stream, each
    with postings in the bootstrap."""
    words = [w for t in texts for w in _WORD.findall((t or "").lower())
             if all(s in oracle.postings for s in oracle.query_terms(w))]
    rng = np.random.default_rng([seed, 31])
    return " ".join(words[int(i)] for i in rng.integers(len(words), size=2))


def segments(index_dir: str) -> tuple[int, int]:
    """(postings rows, most segment rows of any one term), read from disk."""
    terms = pq.read_table(os.path.join(index_dir, "postings"), columns=["term"]).column("term")
    counts = pc.value_counts(terms).field("counts")
    return len(terms), int(pc.max(counts).as_py())


def run_stage(spark, src: str, tracer, seed: int) -> tuple[dict, list[str]]:
    from pyspark.sql import functions as F

    from apt_search_engine_spark.jobs.serve import serve
    from apt_search_engine_spark.query.engine import SearchEngine
    from apt_search_engine_spark.streaming import ingest
    from oracle import OracleIndex
    from wl_build import read_lexicon

    table = pq.read_table(src, columns=["conv_id", "turn_idx", "role", "text", "tool"])
    convs = sorted(set(table.column("conv_id").to_pylist()))
    parts = [convs[:BOOT_CONVS]] + [
        convs[BOOT_CONVS + i * INC_CONVS:BOOT_CONVS + (i + 1) * INC_CONVS] for i in range(N_INCREMENTS)]
    inp, sdir = os.path.join(WORK, "stream_in"), os.path.join(WORK, "sidx")
    turns = spark.read.parquet(src)
    oracle = OracleIndex()
    errs: list[str] = []
    inc_turns: list[int] = []
    after_commit_ms: list[float] = []

    def commit(i: int, ids: list[str]) -> None:
        turns.filter(F.col("conv_id").isin(ids)).write.mode("append").parquet(inp)
        part = table.filter(pc.is_in(table.column("conv_id"), pa.array(ids))).to_pydict()
        oracle.add_turns(part["conv_id"], part["turn_idx"], part["role"], part["text"], part["tool"])
        tracer.request = f"commit{i}"
        with tracer.span("streaming.ingest.increment"):
            ingest.stream_analyze(spark, inp, sdir)
            ingest.compact(spark, sdir)
        with open(os.path.join(sdir, "meta.json")) as f:
            meta = json.load(f)
        errs.extend(check_equal(f"commit {i} n_docs", meta["n_docs"], oracle.n_docs))
        errs.extend(check_equal(f"commit {i} total_len", meta["total_len"], oracle.total_len()))
        if i:
            inc_turns.append(len(part["conv_id"]))

    def probe(i: int, q: str) -> float:
        t = time.perf_counter()
        status, cache, body = serve_get(port, q, size=K)
        ms = (time.perf_counter() - t) * 1000.0
        label = f"commit {i} probe {q!r}"
        errs.extend(check_equal(f"{label} status", status, 200))
        if status == 200:
            errs.extend(check_equal(f"{label} X-Cache", cache, "miss"))
            exp = oracle.bm25(q, K)
            errs.extend(check_topk(label, [(r["url"], r["score"]) for r in body["results"]], exp, K))
            status2, cache2, body2 = serve_get(port, q, size=K)
            errs.extend(check_equal(f"{label} repeat X-Cache", cache2, "hit"))
            if status2 == 200:
                errs.extend(check_cache_hit(f"{label} repeat", body2, body))
        return ms

    for fn in ("stream_analyze", "compact", "recompact"):
        # compact calls recompact through the module global, so wrapping
        # the module attribute catches that call too
        tracer.wrap(ingest, fn, f"streaming.ingest.{fn}", spark=True)
    httpd = None
    try:
        commit(0, parts[0])
        q = probe_query(oracle, table.filter(pc.is_in(table.column("conv_id"), pa.array(parts[0])))
                        .column("text").to_pylist(), seed)
        httpd = serve(SearchEngine(spark, index_dir=sdir), port=0)
        server = threading.Thread(target=httpd.serve_forever, daemon=True)
        server.start()
        port = httpd.server_address[1]
        probe(0, q)
        for i, ids in enumerate(parts[1:], start=1):
            commit(i, ids)
            after_commit_ms.append(probe(i, q))
        rows, max_segs = segments(sdir)
    finally:
        tracer.unwrap_all()
        tracer.request = None
        if httpd is not None:
            httpd.shutdown()
            httpd.server_close()
            server.join(timeout=60)
    errs += check_lexicon("streamed lexicon", read_lexicon(os.path.join(sdir, "lexicon")),
                          oracle.lexicon(), oracle.n_pairs())

    def increments(name: str) -> list[dict]:
        return [s for s in tracer.named(f"streaming.ingest.{name}") if s["request"] != "commit0"]

    incs = increments("increment")
    work = increments("stream_analyze") + increments("compact")  # compact's totals hold recompact's
    layer = {
        "streaming.ingest.turns_per_s": sum(inc_turns) / sum(dur_ms(s) / 1000.0 for s in incs),
        "streaming.ingest.stream_analyze_s": median([dur_ms(s) / 1000.0 for s in increments("stream_analyze")]),
        "streaming.ingest.compact_s": median([dur_ms(s) / 1000.0 for s in increments("compact")]),
        "streaming.ingest.recompact_s": median([dur_ms(s) / 1000.0 for s in increments("recompact")]),
        "streaming.ingest.spark_jobs_per_increment": spark_sum(work, "jobs") / len(incs),
        "streaming.ingest.shuffle_write_bytes": spark_sum(work, "shuffle_write_bytes") / len(incs),
        "streaming.ingest.postings_rows": float(rows),
        "streaming.ingest.max_segments_per_term": float(max_segs),
        "jobs.serve.first_after_commit_ms": median(after_commit_ms),
    }
    return layer, errs
