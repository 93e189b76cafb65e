"""Print the shapes of a curation corpus that drive the benchmark's gates.

    python3 pipebench/corpus_shape.py <corpus dir> [<corpus dir> ...]

A corpus dir holds documents/events/lineitem parquet files: the test corpus
(TESTDATA.md) or one rendered by gen.render_curation. One JSON line per dir:
document lengths, vocabulary, near-duplicate pairs and clusters (the dedup
gates), event users and value quantiles plus the gold_alerts band-join size,
and line-item order, part and edge counts (the graph gates).
"""
import collections
import json
import sys

import duckdb


def shape(d):
    c = duckdb.connect()
    for t in ("documents", "events", "lineitem"):
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    q = lambda sql: c.execute(sql).fetchone()  # noqa: E731
    out = {}
    out["docs"], out["words_min"], out["words_p50"], out["words_max"], out["dup_docs"] = q(
        "SELECT count(*), min(n), median(n), max(n), count(*) FILTER (WHERE dup) FROM "
        "(SELECT len(string_split(text, ' ')) AS n, list_contains(string_split(text, ' '), 'dup') "
        "AS dup FROM documents)")
    out["vocabulary"] = q("SELECT count(DISTINCT w) FROM "
                          "(SELECT unnest(string_split(text, ' ')) AS w FROM documents)")[0]
    # the capped 3-shingle cascade of the dedup gates (df <= 20, Jaccard >= 0.8)
    c.execute("""CREATE TABLE sh AS
        SELECT doc_id, list_distinct([array_to_string(l[i:i+2], ' ') FOR i IN range(1, len(l) - 1)]) AS ss
        FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS l FROM documents)""")
    c.execute("CREATE TABLE ex AS SELECT doc_id, unnest(ss) AS s FROM sh")
    out["shingles"], out["shingle_df_max"] = q(
        "SELECT count(*), max(n) FROM (SELECT count(*) AS n FROM ex GROUP BY s)")
    pairs = c.execute("""WITH rare AS (SELECT * FROM ex WHERE s IN
                               (SELECT s FROM ex GROUP BY s HAVING count(*) <= 20)),
        cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM rare a JOIN rare b
                 ON a.s = b.s AND a.doc_id < b.doc_id)
        SELECT d1, d2 FROM cand JOIN sh s1 ON d1 = s1.doc_id JOIN sh s2 ON d2 = s2.doc_id
        WHERE len(list_intersect(s1.ss, s2.ss)) * 1.0 /
              (len(s1.ss) + len(s2.ss) - len(list_intersect(s1.ss, s2.ss))) >= 0.8""").fetchall()
    up = {}

    def find(x):
        while up.setdefault(x, x) != x:
            x = up[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            up[max(ra, rb)] = min(ra, rb)
    out["near_dup_pairs"], out["cluster_docs"] = len(pairs), len(up)
    out["clusters"] = len(collections.Counter(find(n) for n in up))
    out["events"], out["users"], out["errors"], out["value_p50"], out["value_p90"], \
        out["value_p99"] = q("SELECT count(*), count(DISTINCT user_id), "
                             "count(*) FILTER (WHERE event_type = 'error'), "
                             "round(quantile_cont(value, 0.5), 1), round(quantile_cont(value, 0.9), 1), "
                             "round(quantile_cont(value, 0.99), 1) FROM events")
    out["alert_pairs"] = q("""WITH st AS (SELECT value FROM (SELECT value, row_number() OVER
                                (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events)
                              WHERE rn = 1)
        SELECT count(*) FROM events e JOIN st ON abs(e.value - st.value) < 5.0
        WHERE e.event_type = 'error'""")[0]
    out["lines"], out["orders"], out["parts"], out["suppliers"] = q(
        "SELECT count(*), count(DISTINCT l_orderkey), count(DISTINCT l_partkey), "
        "count(DISTINCT l_suppkey) FROM lineitem")
    out["lines_per_order_max"] = q("SELECT max(n) FROM (SELECT count(*) AS n FROM lineitem "
                                   "GROUP BY l_orderkey)")[0]
    out["supp_part_edges"] = q("SELECT count(*) FROM (SELECT DISTINCT l_suppkey, l_partkey "
                               "FROM lineitem)")[0]
    out["part_part_edges"] = q("""WITH pp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT count(*) FROM (SELECT DISTINCT x.l_partkey, y.l_partkey FROM pp x JOIN pp y
                              ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey)""")[0]
    return out


if __name__ == "__main__":
    for d in sys.argv[1:]:
        print(json.dumps(dict(corpus=d, **shape(d))))
