"""Bench harness (driver contract): index-build throughput + query latency.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...}, "sf": ...}

What is measured (BASELINE.md targets):
  - index_build: full resumable build (analyze -> salted merge -> blocks ->
    doc_meta) over the seeded synthetic transcripts corpus scaled by sf
    (sf0.1 -> ~50k turns); reported as wall sec + turns/sec.
  - the reference query set (BASELINE.md: travel guide / "travel guide" /
    "travel guide" AND "europe tips") against the built disk index, p50 of 3
    runs each, exact scoring path and block-max WAND path.
  - a sample of the docops/dedup operator suite on the sf `documents` table.

Scaling-efficiency evidence (local[8] vs local[32]) is produced separately
by jobs/bench_scaling.py and recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else 0.1


def _time(fn, repeat: int = 1, setup=None) -> float:
    """Median of `repeat` timed runs; `setup` runs before each repeat
    OUTSIDE the timed region (cache teardown must not bill the op)."""
    runs = []
    for _ in range(repeat):
        if setup is not None:
            setup()
        t0 = time.time()
        fn()
        runs.append(time.time() - t0)
    return statistics.median(runs)


def ladder_artifacts(repo: str, host_cpus: int) -> tuple[dict, dict]:
    """The newest committed scaling ladder per cpu pair, labelled with
    its round, its cpus and `host_cpus`, split into (ladders this host
    could run, ladders that need more cpus than it has). The second
    kind cannot have been measured on this host, so the bench reports
    it apart from its own numbers, under `committed_artifacts`."""
    scaling: dict[str, object] = {}
    committed: dict[str, object] = {}
    for pair in ("1v4", "2v8", "8v32"):
        for rnd in ("r5", "r4", "r3", "r2"):
            p = os.path.join(repo, f"ladder_{rnd}_{pair}.json")
            if os.path.exists(p):
                with open(p) as f:
                    lad = json.load(f)
                entry = {
                    "round": rnd,
                    "low_cpus": lad["low"]["cpus"],
                    "high_cpus": lad["high"]["cpus"],
                    "host_cpus": host_cpus,
                    "low_turns_per_sec": lad["low"]["turns_per_sec_median"],
                    "high_turns_per_sec": lad["high"]["turns_per_sec_median"],
                    "efficiency": lad["scaling_efficiency"],
                    "repeats": lad.get("repeats", 1),
                    "artifact": os.path.basename(p),
                }
                if entry["high_cpus"] > host_cpus:
                    committed[pair] = entry
                else:
                    scaling[pair] = entry
                break
    return scaling, committed


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = _sf_from_dir(sf_dir)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from apt_search_engine_spark.session import get_spark

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from apt_search_engine_spark.corpus import gen_corpus_spark
    from apt_search_engine_spark.indexing.build import IndexBuilder
    from apt_search_engine_spark.query.engine import SearchEngine

    work = tempfile.mkdtemp(prefix="aptse_bench_")
    queries: dict[str, float] = {}
    try:
        # -- corpus (generation not timed: it stands in for the input table)
        n_convs = max(200, int(20000 * sf))
        tdir = os.path.join(work, "transcripts")
        gen_corpus_spark(spark, n_convs, partitions=cpus * 2).write.mode(
            "overwrite"
        ).parquet(tdir)
        transcripts = spark.read.parquet(tdir)
        n_turns = transcripts.count()

        # untimed warmup build on a tiny corpus: JIT/codegen + Python worker
        # spawn are one-time costs a long-lived cluster amortizes (same
        # methodology as jobs/bench_scaling.py / BASELINE.md)
        wdir = os.path.join(work, "warm")
        gen_corpus_spark(spark, 50, partitions=cpus).write.mode(
            "overwrite"
        ).parquet(wdir)
        IndexBuilder(spark, os.path.join(work, "warm_idx"), n_batches=1).build(
            spark.read.parquet(wdir)
        )

        # -- index build throughput -----------------------------------------
        # n_batches=1: batching exists for resumability (covered by
        # tests/test_build.py); throughput is measured on the single-pass
        # build a scheduler would run per increment
        idx = os.path.join(work, "index")
        t0 = time.time()
        IndexBuilder(spark, idx, n_batches=1).build(transcripts)
        build_sec = time.time() - t0
        queries["index_build"] = round(build_sec, 3)

        # -- reference query set, exact path + WAND path --------------------
        engine = SearchEngine(spark, index_dir=idx)
        qset = {
            "q_normal": "travel guide",
            "q_phrase": '"travel guide"',
            "q_boolean": '"travel guide" AND "europe tips"',
        }
        for name, q in qset.items():
            queries[name] = round(
                _time(lambda q=q: engine.search_df(q, k=10).collect(), repeat=3), 3
            )
        if hasattr(engine, "search_df_wand"):
            queries["q_normal_wand"] = round(
                _time(
                    lambda: engine.search_df_wand("travel guide", k=10).collect(),
                    repeat=3,
                ),
                3,
            )
        # BM25 top-10 p50 (the BASELINE.json metric's named scorer):
        # exact plan + the block-max WAND variant
        if hasattr(engine, "search_bm25_df"):
            queries["q_bm25"] = round(
                _time(
                    lambda: engine.search_bm25_df("travel guide", k=10).collect(),
                    repeat=3,
                ),
                3,
            )
        if hasattr(engine, "search_bm25_wand_df"):
            queries["q_bm25_wand"] = round(
                _time(
                    lambda: engine.search_bm25_wand_df(
                        "travel guide", k=10
                    ).collect(),
                    repeat=3,
                ),
                3,
            )
        # prefix multi-term rewrite: lexicon expansion (vocab-sized scan,
        # driver-capped) + bag-of-words scoring of the expansion
        if hasattr(engine, "search_prefix_df"):
            queries["q_prefix"] = round(
                _time(
                    lambda: engine.search_prefix_df("tra", k=10).collect(),
                    repeat=3,
                ),
                3,
            )
        # general wildcard rewrite (mid-string LIKE over the lexicon) on
        # the WAND hot path
        if hasattr(engine, "search_wildcard_wand_df"):
            queries["q_wildcard"] = round(
                _time(
                    lambda: engine.search_wildcard_wand_df(
                        "t*avel", k=10
                    ).collect(),
                    repeat=3,
                ),
                3,
            )
        # more-like-this: seed-doc term-vector fetch + expansion scoring
        if hasattr(engine, "more_like_this_df"):
            seed_row = engine._doc_map().limit(1).collect()
            if seed_row:
                seed = seed_row[0].doc_id
                queries["q_mlt"] = round(
                    _time(
                        lambda: engine.more_like_this_df(
                            seed, k=10
                        ).collect(),
                        repeat=3,
                    ),
                    3,
                )
        # batched multi-query BM25: 4 queries in ONE shared-scan job —
        # the query-THROUGHPUT path; compare against 4x q_bm25
        if hasattr(engine, "search_bm25_batch_df"):
            batch_qs = {
                "b1": "travel guide",
                "b2": "europe tips",
                "b3": "travel europe culture",
                "b4": "guide tips",
            }
            queries["q_bm25_batch4"] = round(
                _time(
                    lambda: engine.search_bm25_batch_df(
                        batch_qs, k=10
                    ).collect(),
                    repeat=3,
                ),
                3,
            )

        # -- docops / dedup operator sample on the sf documents table -------
        from apt_search_engine_spark.extras import docops
        from apt_search_engine_spark.extras.docops import SPARK_QUERIES

        def _clear_docops():
            # the docops suite memoizes+persists shared subtrees (the
            # admitted-token stream, LSH band rows) for the driver's
            # one-session correctness gate; a timed repeat must not serve
            # from that cache, so each repeat drops the memo and
            # unpersists FIRST — outside the timed region (teardown is
            # not the operator's cost) — and every repeat measures the
            # cold operator, with the same median-of-3 treatment as the
            # search keys (r4 VERDICT: single-shot artifact numbers
            # swung 2-3x with host contention)
            for df in docops._MEMO.values():
                df.unpersist(blocking=True)
            docops._MEMO.clear()

        for name in (
            "dedup_exact",
            "minhash_pairs",
            "bag_topk_score",
            "winnow_fingerprint",
            "sessionize",
            "tpch_pricing_summary",
        ):
            if name in SPARK_QUERIES:
                fn = SPARK_QUERIES[name]
                queries[name] = round(
                    _time(
                        lambda fn=fn: fn(spark, sf_dir).collect(),
                        repeat=3,
                        setup=_clear_docops,
                    ),
                    3,
                )

        # -- canonical pinned-scale build -----------------------------------
        # The sf-scaled point above is overhead-dominated at small corpora
        # (r1 VERDICT: rounds were not comparable across it). This block
        # builds a PINNED 12k-conv (~300k-turn) seeded corpus regardless of
        # sf, so BENCH_r{N}.canonical_turns_per_sec measures the engine
        # round over round. Skippable with SPARK_GRAFT_CANONICAL=0.
        extra: dict[str, float | int] = {}
        if os.environ.get("SPARK_GRAFT_CANONICAL", "1") != "0":
            cdir = os.path.join(work, "canonical_transcripts")
            gen_corpus_spark(spark, 12_000, partitions=cpus * 2).write.mode(
                "overwrite"
            ).parquet(cdir)
            canon = spark.read.parquet(cdir)
            c_turns = canon.count()
            # median of 3 builds: single-run canonical numbers have swung
            # 2-3x with host contention on this box (BASELINE.md), and this
            # key is THE round-over-round anchor, so it gets the same
            # medians-of-repeats treatment as the query keys and the
            # scaling ladders
            c_runs = []
            for i in range(3):
                cidx = os.path.join(work, f"canonical_index_{i}")
                t0 = time.time()
                IndexBuilder(spark, cidx, n_batches=1).build(canon)
                c_runs.append(time.time() - t0)
                shutil.rmtree(cidx, ignore_errors=True)
            c_sec = statistics.median(c_runs)
            queries["index_build_canonical"] = round(c_sec, 3)
            extra = {
                "canonical_n_turns": int(c_turns),
                "canonical_turns_per_sec": round(c_turns / c_sec, 1),
                "canonical_runs_sec": [round(r, 3) for r in c_runs],
            }

        # -- scaling-efficiency evidence (committed ladder artifacts) --------
        # The N-vs-4N criterion is measured by jobs/bench_scaling.py
        # (fresh taskset-pinned JVM per level, interleaved repeats,
        # medians — BASELINE.md methodology); re-running the full ladder
        # inside every bench would multiply its wall time ~20x, so this
        # block REPORTS the committed artifacts of the most recent ladder
        # run rather than re-measuring.
        scaling, committed = ladder_artifacts(
            os.path.dirname(os.path.abspath(__file__)),
            len(os.sched_getaffinity(0)),
        )
        if scaling:
            extra["scaling"] = scaling
        if committed:
            extra["committed_artifacts"] = committed

        total = round(sum(queries.values()), 3)
        print(
            json.dumps(
                {
                    "metric": "index_build_plus_query_suite_wall",
                    "value": total,
                    "unit": "sec",
                    "queries": queries,
                    "sf": sf,
                    "n_turns": int(n_turns),
                    "index_build_turns_per_sec": round(n_turns / build_sec, 1),
                    "cpus": cpus,
                    **extra,
                }
            )
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
