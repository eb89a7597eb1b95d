#!/usr/bin/env python3
"""Print the shape figures batch_ops depends on, for a directory of
input tables (the project's test tables or ``gen.write_tables`` output):

    python3 perfbench/shape.py <tables-dir>

Degrees of the customer-supplier trade graph that graph_kcore peels,
how many nodes each of the op's peel rounds removes, and the size,
vocabulary and near-duplicate share of the documents that
dedup_minhash_lsh and docs_bm25_search read.
"""
import sys

import duckdb

CORE_K = 8        # graph_kcore's k and rounds (GraphQueries.CoreK, PeelRounds)
PEEL_ROUNDS = 3


def quantiles(con, sql):
    q, mx = con.sql(f"SELECT quantile_cont(n, [0.1, 0.5, 0.9]), max(n) FROM ({sql})").fetchone()
    return f"p10 {q[0]:g}  p50 {q[1]:g}  p90 {q[2]:g}  max {mx:g}"


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    d = sys.argv[1]
    con = duckdb.connect()
    for t in ["customer", "supplier", "orders", "lineitem", "documents"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        print(f"{t:<24} {con.sql(f'SELECT count(*) FROM {t}').fetchone()[0]} rows")
    print("orders per customer     ",
          quantiles(con, "SELECT count(*) n FROM orders GROUP BY o_custkey"))
    print("lineitems per order     ",
          quantiles(con, "SELECT count(*) n FROM lineitem GROUP BY l_orderkey"))
    con.sql("""CREATE TABLE e0 AS WITH pairs AS (
                 SELECT DISTINCT o_custkey c, l_suppkey su
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
               SELECT 'c' t, c id, 's' dt, su did FROM pairs
               UNION ALL SELECT 's', su, 'c', c FROM pairs""")
    print("suppliers per customer  ",
          quantiles(con, "SELECT count(*) n FROM e0 WHERE t = 'c' GROUP BY id"))
    print("customers per supplier  ",
          quantiles(con, "SELECT count(*) n FROM e0 WHERE t = 's' GROUP BY id"))
    nodes = lambda e: con.sql(f"SELECT count(DISTINCT (t, id)) FROM {e}").fetchone()[0]
    n0 = nodes("e0")
    for r in range(1, PEEL_ROUNDS + 1):
        con.sql(f"""CREATE TABLE a{r} AS SELECT t, id FROM e{r - 1}
                    GROUP BY 1, 2 HAVING count(*) >= {CORE_K}""")
        con.sql(f"""CREATE TABLE e{r} AS SELECT e.* FROM e{r - 1} e
                    JOIN a{r} x ON e.t = x.t AND e.id = x.id
                    JOIN a{r} y ON e.dt = y.t AND e.did = y.id""")
        before, after = nodes(f"e{r - 1}"), nodes(f"e{r}")
        print(f"kcore round {r}           {before - after} of {n0} nodes peeled "
              f"({100.0 * (before - after) / n0:.2f}%)")
    print("words per document      ", quantiles(
        con, "SELECT len(string_split(text, ' ')) n FROM documents"))
    vocab = con.sql("""SELECT count(DISTINCT w) FROM
                       (SELECT unnest(string_split(text, ' ')) w FROM documents)""").fetchone()[0]
    print(f"vocabulary               {vocab} words")
    dups, docs = con.sql("""SELECT count(*) FILTER (WHERE EXISTS (
                              SELECT 1 FROM documents o
                              WHERE o.text = regexp_replace(x.text, ' dup$', ''))
                              AND x.text LIKE '% dup'), count(*)
                            FROM documents x""").fetchone()
    print(f"near-duplicates          {dups} of {docs} documents "
          f"({100.0 * dups / docs:.1f}%; another document's text plus ' dup')")


if __name__ == "__main__":
    main()
