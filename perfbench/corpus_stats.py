#!/usr/bin/env python3
"""Print, side by side, the statistics of two or more corpora that decide
how much work graft's queries do: row counts, key cardinalities, join
fan-out, duplicate keys, vocabulary and value ranges.

    python3 perfbench/corpus_stats.py <corpus_dir> [<corpus_dir> ...]

Used to compare gen.py's tables with the project's test corpus at the same
scale factor; README.md records the comparison.
"""
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

STATS = [(f"{t} rows", f"SELECT count(*) FROM {t}") for t in TABLES] + [
    ("distinct c_nationkey", "SELECT count(DISTINCT c_nationkey) FROM customer"),
    ("distinct o_custkey", "SELECT count(DISTINCT o_custkey) FROM orders"),
    ("distinct l_orderkey", "SELECT count(DISTINCT l_orderkey) FROM lineitem"),
    ("distinct l_partkey", "SELECT count(DISTINCT l_partkey) FROM lineitem"),
    ("distinct l_suppkey", "SELECT count(DISTINCT l_suppkey) FROM lineitem"),
    ("distinct p_name", "SELECT count(DISTINCT p_name) FROM part"),
    ("distinct events.user_id", "SELECT count(DISTINCT user_id) FROM events"),
    ("orders without lines", "SELECT count(*) FROM orders WHERE o_orderkey "
     "NOT IN (SELECT l_orderkey FROM lineitem)"),
    ("lines per order: max", "SELECT max(n) FROM (SELECT count(*) n "
     "FROM lineitem GROUP BY l_orderkey)"),
    ("lines per order: 1/4/7", "SELECT string_agg(c::VARCHAR, '/' ORDER BY n) "
     "FROM (SELECT n, count(*) c FROM (SELECT count(*) n FROM lineitem "
     "GROUP BY l_orderkey) GROUP BY n) WHERE n IN (1, 4, 7)"),
    ("duplicate (orderkey, linenumber)", "SELECT count(*) FROM (SELECT 1 "
     "FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)"),
    ("orders per customer: max", "SELECT max(n) FROM (SELECT count(*) n "
     "FROM orders GROUP BY o_custkey)"),
    ("o_orderdate range", "SELECT min(o_orderdate)::DATE || '..' || "
     "max(o_orderdate)::DATE FROM orders"),
    ("l_shipdate range", "SELECT min(l_shipdate)::DATE || '..' || "
     "max(l_shipdate)::DATE FROM lineitem"),
    ("distinct l_discount", "SELECT count(DISTINCT l_discount) FROM lineitem"),
    ("events.value p50/p99", "SELECT round(quantile_cont(value, 0.5), 1) || "
     "'/' || round(quantile_cont(value, 0.99), 1) FROM events"),
    ("events.ts span days", "SELECT round(date_diff('second', min(ts), "
     "max(ts)) / 86400.0, 1) FROM events"),
    ("vocabulary", "SELECT count(DISTINCT w) FROM (SELECT unnest("
     "string_split(text, ' ')) w FROM documents)"),
    ("words per document min/max", "SELECT min(n) || '/' || max(n) FROM "
     "(SELECT len(string_split(text, ' ')) n FROM documents)"),
    ("near-duplicate documents", "SELECT count(*) FROM documents "
     "WHERE text LIKE '% dup'"),
    ("distinct documents.source", "SELECT count(DISTINCT source) FROM documents"),
    ("english documents", "SELECT count(*) FROM documents WHERE lang = 'en'"),
    ("embedding dims / labels", "SELECT max(len(embedding)) || ' / ' || "
     "count(DISTINCT label) FROM embeddings"),
]


def stats(path):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{path}/{t}.parquet')")
    return [str(con.execute(sql).fetchone()[0]) for _, sql in STATS]


def main():
    dirs = sys.argv[1:]
    if not dirs:
        sys.exit(__doc__)
    cols = [stats(d) for d in dirs]
    width = max(len(name) for name, _ in STATS)
    for i, (name, _) in enumerate(STATS):
        print(f"{name:{width}}  " + "  ".join(f"{c[i]:>21}" for c in cols))


if __name__ == "__main__":
    main()
