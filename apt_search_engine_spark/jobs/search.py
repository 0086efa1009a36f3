"""spark-submit entrypoint: top-k search against a built index.

    spark-submit --py-files aptse.zip apt_search_engine_spark/jobs/search.py \
        --index-dir /data/index --query '"travel guide" AND "europe tips"' \
        [-k 10] [--exact] [--no-snippets]

Extension syntax: `pre*` (prefix), `te*t` / `t?st` (wildcard), `word~1`
(fuzzy), `w1 NEAR/3 w2` (proximity), `"w1 w2 ..."~k` (sloppy phrase);
`--mlt DOC_ID` ranks the corpus against a seed document's characteristic
terms (more-like-this); `--synonyms DIR` expands plain queries through a
(term, synonym) stem table. A zero-hit plain query returns a
`didYouMean` spell-corrected rewrite. The query is classified by
query/parser.parse_spec and routed by SearchEngine.run; a flag that does
not apply to the query (extension syntax or --mlt with a non-reference
scorer, --synonyms with a phrase) exits 2 with a JSON error on stderr.

By default results carry url, title and a snippet and run the exact
plan; --no-snippets prints doc_id/score rows from the block-max WAND
plan for bag-of-words and prefix/fuzzy/wildcard queries (exact plan
otherwise); --exact prints doc_id/score rows from the exact plan;
--scorer bm25|bm25f switches to standard Okapi BM25 / field-weighted
BM25F (doc_id/score rows) instead of reference-parity scoring.
Prints one JSON object with the result rows and a timing field,
mirroring the reference's SearchResult payload
(server/src/main/java/com/example/demo/SearchController.java:19-41).
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


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--index-dir", required=True)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--query")
    g.add_argument(
        "--mlt",
        metavar="DOC_ID",
        help="more-like-this: rank the corpus against this document's "
        "most characteristic terms (seed excluded from results)",
    )
    p.add_argument("-k", type=int, default=10)
    p.add_argument("--exact", action="store_true")
    p.add_argument("--no-snippets", action="store_true")
    p.add_argument(
        "--synonyms",
        default=None,
        help="parquet dir of (term, synonym) stem pairs: expand plain "
        "bag-of-words queries through the table before scoring",
    )
    p.add_argument(
        "--scorer",
        choices=("reference", "bm25", "bm25f"),
        default="reference",
        help="reference = the parity formula tf*floor(N/df)*prior; "
        "bm25 = standard Okapi BM25; bm25f = field-weighted BM25F "
        "(reference tag-weight vector) — both without the snippets path",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    from apt_search_engine_spark.query.engine import SearchEngine
    from apt_search_engine_spark.query.parser import QuerySpec, parse_spec
    from apt_search_engine_spark.session import get_spark

    spark = get_spark("aptse-search")
    engine = SearchEngine(spark, index_dir=args.index_dir)
    t0 = time.time()
    if args.mlt is not None:
        spec = QuerySpec("mlt", args.mlt)
    else:
        spec = parse_spec(args.query)
    syn = spark.read.parquet(args.synonyms) if args.synonyms else None
    try:
        out = engine.run(
            spec,
            args.k,
            scorer=args.scorer,
            synonyms=syn,
            exact=args.exact or not args.no_snippets,
            assemble=not (args.no_snippets or args.exact),
        )
    except ValueError as e:
        print(json.dumps({"error": str(e)}), file=sys.stderr)
        return 2
    # totalTime after totalCount, then didYouMean, as the payload has it
    body = {k: out.pop(k) for k in ("results", "totalCount")}
    body["totalTime"] = int((time.time() - t0) * 1000)
    print(json.dumps({**body, **out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
