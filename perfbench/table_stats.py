#!/usr/bin/env python3
"""Statistics of two table directories side by side, as a markdown table:
the statistics gen_data.py is fitted to (row counts, text vocabulary,
document lengths, duplicate and near-duplicate rates, key skew, value
distributions, embedding structure).

Usage: python3 perfbench/table_stats.py <reference_dir> <generated_dir>
"""
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)"
NEAR = "text LIKE '% dup'"
# (statistic, SQL returning one row)
STATS = [(f"rows {t}", f"SELECT count(*) FROM {t}") for t in TABLES[2:]] + [
    ("doc words min/p10/p50/p90/max (near-dups excluded)",
     "SELECT min(n), quantile_disc(n, 0.1), quantile_disc(n, 0.5), quantile_disc(n, 0.9),"
     f" max(n) FROM (SELECT len(string_split(text, ' ')) n FROM documents WHERE NOT {NEAR})"),
    ("doc chars p10/p50/p90",
     "SELECT quantile_disc(n_chars, 0.1), quantile_disc(n_chars, 0.5),"
     " quantile_disc(n_chars, 0.9) FROM documents"),
    ("doc vocabulary size", f"SELECT count(DISTINCT w) FROM {WORDS}"),
    ("doc word share max/min (excl. 'dup')",
     f"SELECT round(max(c) / sum(c), 4), round(min(c) / sum(c), 4) FROM"
     f" (SELECT count(*) c FROM {WORDS} WHERE w <> 'dup' GROUP BY w)"),
    ("doc near-duplicates (text = other doc + ' dup')",
     f"SELECT count(*) FROM documents a WHERE {NEAR} AND EXISTS (SELECT 1 FROM documents b"
     " WHERE b.text = left(a.text, length(a.text) - 4))"),
    ("doc near-duplicates whose source has a lower doc_id",
     f"SELECT count(*) FROM documents a WHERE {NEAR} AND EXISTS (SELECT 1 FROM documents b"
     " WHERE b.text = left(a.text, length(a.text) - 4) AND b.doc_id < a.doc_id)"),
    ("doc near-duplicates of near-duplicates", "SELECT count(*) FROM documents"
     " WHERE text LIKE '% dup dup'"),
    ("doc exact duplicate rows", "SELECT count(*) - count(DISTINCT text) FROM documents"),
    ("doc lang shares en/es/zh/de/fr",
     "SELECT " + ", ".join(f"round(avg((lang = '{x}')::INT), 3)"
                           for x in ["en", "es", "zh", "de", "fr"]) + " FROM documents"),
    ("doc sources / docs per source min/max",
     "SELECT count(*), min(c), max(c) FROM (SELECT count(*) c FROM documents GROUP BY source)"),
    ("emb dims / labels / docs per label min/max",
     "SELECT min(d), count(*), min(c), max(c) FROM (SELECT label, min(len(embedding)) d,"
     " count(*) c FROM embeddings GROUP BY label)"),
    ("emb mean cosine same label / other label (first 300)",
     "SELECT round(avg(c) FILTER (WHERE la = lb), 4), round(avg(c) FILTER (WHERE la <> lb), 4)"
     " FROM (SELECT a.label la, b.label lb, list_inner_product(a.embedding, b.embedding) c"
     " FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id AND b.vec_id < 300)"),
    ("events users / per-user p50/max / top-1% user share",
     "SELECT count(*), quantile_disc(c, 0.5), max(c), round((SELECT sum(c) FROM (SELECT c"
     " FROM (SELECT count(*) c FROM events GROUP BY user_id) ORDER BY c DESC"
     " LIMIT (SELECT greatest(1, count(DISTINCT user_id) // 100) FROM events))) / sum(c), 4)"
     " FROM (SELECT count(*) c FROM events GROUP BY user_id)"),
    ("events type shares (sorted)", "SELECT list(s ORDER BY s) FROM (SELECT round(count(*)"
     " / (SELECT count(*) FROM events), 3) s FROM events GROUP BY event_type)"),
    ("events value p50/p90/p99/mean",
     "SELECT round(quantile_cont(value, 0.5), 1), round(quantile_cont(value, 0.9), 1),"
     " round(quantile_cont(value, 0.99), 1), round(avg(value), 1) FROM events"),
    ("events ts days / ts order by event_id",
     "SELECT round((epoch(max(ts)) - epoch(min(ts))) / 86400, 1), bool_and(d) FROM"
     " (SELECT ts, ts >= lag(ts, 1, ts) OVER (ORDER BY event_id) d FROM events)"),
    ("lineitem distinct orderkey / max lines per order",
     "SELECT count(*), max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_orderkey)"),
    ("lineitem max lines per part / per supplier",
     "SELECT (SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_partkey)),"
     " (SELECT max(c) FROM (SELECT count(*) c FROM lineitem GROUP BY l_suppkey))"),
    ("lineitem extendedprice p10/p50/p90, corr with quantity",
     "SELECT round(quantile_cont(l_extendedprice, 0.1)), round(quantile_cont(l_extendedprice,"
     " 0.5)), round(quantile_cont(l_extendedprice, 0.9)),"
     " round(corr(l_quantity, l_extendedprice), 2) FROM lineitem"),
    ("lineitem shipdate range", "SELECT min(l_shipdate)::DATE, max(l_shipdate)::DATE FROM lineitem"),
    ("orders max orders per customer",
     "SELECT max(c) FROM (SELECT count(*) c FROM orders GROUP BY o_custkey)"),
    ("orders orderdate range", "SELECT min(o_orderdate)::DATE, max(o_orderdate)::DATE FROM orders"),
]


def stats(d):
    con = duckdb.connect(config={"threads": 2})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    return [" / ".join(str(v) for v in con.execute(sql).fetchone()) for _, sql in STATS]


def main():
    ref, gen = stats(sys.argv[1]), stats(sys.argv[2])
    print("| statistic | reference | generated |\n| --- | --- | --- |")
    for (name, _), a, b in zip(STATS, ref, gen):
        print(f"| {name} | {a} | {b} |")


if __name__ == "__main__":
    main()
