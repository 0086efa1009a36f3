"""`build`: bulk index builds of one seeded corpus, no queries.

Set-up starts the session and writes the corpus. Each measured operation is
a full `IndexBuilder(..., n_batches=1).build()` into a fresh directory. The
first one runs in a fresh JVM and fresh Python workers, as a build job
submitted on its own does; there is no warm-up build, because a build job
pays that cost on every run.

A traced run then runs the streamed-ingest stage of `streamed.py` outside
the measured window: its figures are per-layer metrics only."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

import pyarrow.parquet as pq

import streamed
from checks import check_equal, check_lexicon
from harness import WORK, dir_bytes, dur_ms, median, spark_sum
from oracle import OracleIndex

N_CONVS = 400
PHASES = ("doc_map", "analyze", "merge", "blocks", "lineage_stats", "lexicon", "doc_len", "doc_meta")
TABLES = ("postings", "blocks", "lexicon", "doc_map", "doc_len", "doc_meta", "analyzed", "lineage")
SPARK_KEYS = {
    "spark_jobs": ("jobs", 1), "spark_stages": ("stages", 1), "spark_tasks": ("tasks", 1),
    "input_bytes": ("input_bytes", 1), "shuffle_write_bytes": ("shuffle_write_bytes", 1),
    "executor_run_s": ("run_ms", 1e-3), "executor_cpu_s": ("cpu_ns", 1e-9), "gc_s": ("gc_ms", 1e-3),
}


def write_corpus(spark, n_convs: int, seed: int, path: str) -> int:
    """Generated turns as parquet; returns the turn count read from the
    parquet footers, not from Spark."""
    from apt_search_engine_spark.corpus import gen_corpus_spark

    gen_corpus_spark(spark, n_convs, seed=seed).write.parquet(path)
    return parquet_rows(path)


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def read_lexicon(path: str) -> dict[str, int]:
    t = pq.read_table(path, columns=["term", "df"]).to_pydict()
    return dict(zip(t["term"], t["df"]))


def table_bytes(index_dir: str) -> dict[str, float]:
    return {f"indexing.table_bytes.{t}": float(dir_bytes(os.path.join(index_dir, t))) for t in TABLES}


def analyzer_batch_s(path: str) -> float:
    """Time of the Arrow-batch analyzer over the corpus in the driver, in
    the batches the build's UDF sees."""
    import pandas as pd

    from apt_search_engine_spark.analysis.analyzer import analyze_batch_flat

    pdf = pq.read_table(path, columns=["text", "role"]).to_pandas()
    t = time.perf_counter()
    for lo in range(0, len(pdf), 10000):
        part = pdf.iloc[lo:lo + 10000].reset_index(drop=True)
        analyze_batch_flat(part["text"], tags_as_counts=True,
                           title=pd.Series(["title"] * len(part)), h1=part["role"])
    return time.perf_counter() - t


def run(spark, seed: int, seconds: float, tracer, t_start: float) -> dict:
    from apt_search_engine_spark.indexing.build import IndexBuilder

    t_session = time.perf_counter()
    src = os.path.join(WORK, "turns")
    n_turns = write_corpus(spark, N_CONVS, seed, src)
    transcripts = spark.read.parquet(src)
    setup_s = time.perf_counter() - t_start

    if tracer:
        tracer.wrap(IndexBuilder, "analyze", "indexing.build.analyze", spark=True)
        tracer.wrap(IndexBuilder, "merge_and_write", "indexing.build.merge_and_write", spark=True)
    walls, phases = [], []
    t0 = time.perf_counter()
    while True:
        idx = os.path.join(WORK, f"idx{len(walls)}")
        builder = IndexBuilder(spark, idx, n_batches=1)
        span = tracer.span("indexing.build", spark=True) if tracer else contextlib.nullcontext()
        t = time.perf_counter()
        with span:
            builder.build(transcripts)
        walls.append(time.perf_counter() - t)
        phases.append(builder.phase_sec)
        if len(walls) > 1:
            shutil.rmtree(idx)  # keep the first build for the checks
        if time.perf_counter() - t0 >= seconds:
            break
    elapsed = time.perf_counter() - t0
    if tracer:
        tracer.unwrap_all()

    first = os.path.join(WORK, "idx0")
    index_bytes = dir_bytes(first)
    wall = median(walls)
    out = {
        "attempted": len(walls),
        "e2e": {"setup_s": setup_s, "op_p50_ms": wall * 1000.0, "ops_per_s": len(walls) / elapsed},
        "detail": {"build_turns_per_s": n_turns / wall, "index_bytes_per_turn": index_bytes / n_turns,
                   "n_turns": n_turns, "build_s": walls, "phase_s": phases,
                   "setup_parts_s": {"session": t_session - t_start, "corpus": setup_s - (t_session - t_start)}},
    }
    if tracer:
        layer = {"indexing.build.turns_per_s": n_turns / wall,
                 "indexing.build.index_bytes_per_turn": index_bytes / n_turns}
        for name in ("analyze", "merge_and_write"):
            layer[f"indexing.build.{name}_s"] = median(
                [dur_ms(s) / 1000.0 for s in tracer.named(f"indexing.build.{name}")])
        for ph in PHASES:
            layer[f"indexing.build.phase.{ph}_s"] = median([p.get(ph, 0.0) for p in phases])
        builds = tracer.named("indexing.build")
        for key, (field, scale) in SPARK_KEYS.items():
            layer[f"indexing.build.{key}"] = spark_sum(builds, field) * scale / len(builds)
        layer.update(table_bytes(first))
        layer["analysis.analyzer.batch_s"] = analyzer_batch_s(src)
        stream_layer, errs = streamed.run_stage(spark, src, tracer, seed)
        layer.update(stream_layer)
        out["layer"] = layer
    else:
        errs = []

    # checks, untimed: an inverted index built here from the raw turns
    oracle = OracleIndex.from_table(pq.read_table(src))
    with open(os.path.join(first, "meta.json")) as f:
        meta = json.load(f)
    errs += check_equal("build n_docs", meta["n_docs"], n_turns)
    errs += check_equal("build total_len", meta["total_len"], oracle.total_len())
    errs += check_lexicon("build lexicon", read_lexicon(os.path.join(first, "lexicon")),
                          oracle.lexicon(), oracle.n_pairs())
    out["errors"] = errs
    out["failed"] = 0
    return out
