"""Driver-side point reads and job-free local relations for the query path.

A query ends in a bounded top-k, yet three lookups around it used to run
as full Spark plans: the lexicon df of the query terms, the ord -> doc_id
translation of the <=k surviving ordinals, and the doc_meta fetch of the
k results. Each reads a handful of rows from a table the build lays out
sorted on the lookup key:

  - lexicon files are term-sorted within each term_bucket directory;
  - doc_map files are range-partitioned and sorted by doc_id, with
    ordinals assigned in that order, so each file holds a disjoint
    doc_ord range;
  - doc_meta files are range-partitioned and sorted by doc_id.

So the parquet footer min/max of the key column tells which row groups
can hold a key. `read_rows` reads only those row groups with pyarrow in
the driver: no Spark job, no plan. The footers of a table are read once
and kept in a caller-owned memo (SearchEngine._footer_cache, cleared by
refresh() when a commit publishes a new index state). The layout only
bounds the cost; a row group whose footer lacks statistics is read too,
and every read filters on the key, so results never depend on it.

`local_frame` hands <=k driver rows back to Spark as an inline VALUES
table. Spark plans it as a LocalTableScan, whose collect runs no job,
unlike spark.createDataFrame, which parallelizes its rows into an RDD.

`_sql_lit` and `sql_in` write driver values into plan text: the exact
query plans are built from a few `where`/`selectExpr` steps over SQL
expressions, which the JVM parses in one call each, instead of Column
trees that cost a py4j round trip per node and per literal.
"""

from __future__ import annotations

import bisect
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _data_files(table_dir: str) -> list[str]:
    """Parquet data files under `table_dir`, skipping what Spark's own
    file listing hides (names starting with `_` or `.`: _SUCCESS,
    .crc files, _staging directories)."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        out += [
            os.path.join(root, f)
            for f in sorted(files)
            if not f.startswith(("_", "."))
        ]
    return out


def _footers(table_dir: str, key: str) -> list[tuple]:
    """(path, footer, [(row_group, min, max), ...]) per data file; min
    and max are None when a row group carries no statistics for `key`."""
    out = []
    for path in _data_files(table_dir):
        md = pq.read_metadata(path)
        col = [md.schema.column(j).path for j in range(md.num_columns)].index(key)
        ranges = []
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            if st is not None and st.has_min_max:
                ranges.append((i, st.min, st.max))
            else:
                ranges.append((i, None, None))
        out.append((path, md, ranges))
    return out


def read_rows(
    table_dir: str,
    key: str,
    keys,
    columns: list[str],
    footers: dict,
) -> list[dict]:
    """The rows of the parquet table at `table_dir` whose `key` is in
    `keys`, as dicts over `columns`. Only row groups whose footer
    [min, max] of `key` holds one of the keys are read. `footers` is the
    caller's memo of footer ranges per (table_dir, key); a missing
    directory reads as an empty table."""
    want = sorted(set(keys))
    if not want:
        return []
    memo_key = (table_dir, key)
    files = footers.get(memo_key)
    if files is None:
        files = _footers(table_dir, key) if os.path.isdir(table_dir) else []
        footers[memo_key] = files
    parts = []
    for path, md, ranges in files:
        groups = []
        for i, lo, hi in ranges:
            if lo is None:
                groups.append(i)
                continue
            j = bisect.bisect_left(want, lo)
            if j < len(want) and want[j] <= hi:
                groups.append(i)
        if groups:
            parts.append(
                pq.ParquetFile(path, metadata=md).read_row_groups(
                    groups, columns=columns
                )
            )
    if not parts:
        return []
    table = pa.concat_tables(parts)
    return table.filter(pc.is_in(table[key], pa.array(want))).to_pylist()


def _sql_lit(v) -> str:
    """A Spark SQL literal for one int, float or str. Ints that fit 32
    bits are bare (the column's type wins the IN-list coercion), wider
    ones carry `L`. Floats use their shortest round-trip repr, so a
    double written into plan text comes back bit-identical. Strings
    travel as hex binary literals cast back to string, so no quote,
    backslash or `${...}` can reach the SQL parser; constant folding
    turns them into plain literals before filter pushdown."""
    if isinstance(v, int):
        return str(v) if -(2**31) <= v < 2**31 else f"{v}L"
    if isinstance(v, float):
        return f"{v!r}D"
    return f"CAST(X'{v.encode('utf-8').hex()}' AS STRING)"


def sql_in(col: str, values) -> str:
    """`col IN (...)` as SQL text for `where`/`selectExpr`: the whole
    list is one string the JVM parses once, where Column.isin makes one
    py4j round trip per literal (9,500 literals took 1.6-1.9 s that way,
    3-8 ms as text). Duplicates are dropped; an empty list is `false`."""
    vals = list(dict.fromkeys(values))
    if not vals:
        return "false"
    return f"{col} IN ({', '.join(_sql_lit(v) for v in vals)})"


def local_frame(spark, rows: list[tuple], schema: str):
    """A DataFrame over driver-side `rows` whose collect runs no Spark
    job. `schema` is a DDL column list of simple types ("doc_id string,
    score double"); every column is cast to its declared type, and an
    empty `rows` gives an empty relation with the same schema."""
    cols = [c.split() for c in schema.split(",")]
    if not rows:
        sel = ", ".join(f"CAST(NULL AS {t}) AS `{n}`" for n, t in cols)
        return spark.sql(f"SELECT {sel} WHERE false")
    names = [f"c{i}" for i in range(len(cols))]
    sel = ", ".join(
        f"CAST({c} AS {t}) AS `{n}`" for c, (n, t) in zip(names, cols)
    )
    values = ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in r) + ")" for r in rows
    )
    return spark.sql(
        f"SELECT {sel} FROM VALUES {values} AS t({', '.join(names)})"
    )
