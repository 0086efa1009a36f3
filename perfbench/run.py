"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,query} --seed N --seconds S --trace {0,1}

Run from the repository root. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`. The line
before it carries the workload's own figures by name (`detail`). A traced
run also writes its spans to perfbench/_traces/<workload>-<seed>.jsonl.
"""

import time

T_START = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

WORKLOADS = {"build": "wl_build", "query": "wl_query"}
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # Spark's Python workers import the package from the checkout too
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import apt_search_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import harness

    work = harness.fresh_work_dir()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    module = __import__(WORKLOADS[args.workload])
    spark = harness.start_session()
    try:
        tracer = harness.Tracer(harness.SparkJobs(spark)) if args.trace else None
        res = module.run(spark, args.seed, args.seconds, tracer, T_START)
        if tracer:
            tracer.dump(os.path.join(harness.TRACES, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"]:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    if args.trace:
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit) in layer_metrics(res, tracer).items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res["e2e"].items()}
    print(json.dumps({"detail": res["detail"]}))
    print(json.dumps({"correct": not res["errors"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s"}


def layer_metrics(res: dict, tracer) -> dict:
    """Every per-layer metric named in BENCHMARK.json; a layer the workload
    does not run reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    got = dict(res["layer"])
    got["trace.spans"] = float(len(tracer.spans))
    got["trace.overhead_s"] = tracer.overhead_s
    got["trace.op_p50_ms"] = res["e2e"]["op_p50_ms"]
    undeclared = set(got) - {m["name"] for m in declared}
    if undeclared:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    return {m["name"]: (float(got.get(m["name"], 0.0)), m["unit"]) for m in declared}


if __name__ == "__main__":
    sys.exit(main())
