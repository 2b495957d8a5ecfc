"""Seeded generator of the analytics tables (TPC-H-like star schema plus
`events`, `documents` and `embeddings`), written as one parquet file per
table with the column names and types the headline queries read.

Every value is a hash of (seed, table, row id, column), so the same seed
gives the same files regardless of DuckDB's thread count. Sizes scale
linearly with `sf`; sf 0.1 gives 600k lineitem rows. Documents and
embeddings carry planted near-duplicates (every 20th document and every
50th vector copies an earlier one with small edits), so the dedup and
similarity queries find groups.
"""
import os

import duckdb

VOCAB = ("a batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data the vector join customer").split()
NOUNS = "anvil bolt gear lamp nut ring spring valve widget wheel bracket " \
        "chain drum".split()
ADJS = "blue hot large small red".split()


def generate(out_dir, seed, sf, threads=4):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    s = int(seed) & 0x7FFFFFFF
    # u: uniform in [0, 1); k: integer in [0, n); g: standard normal
    con.execute(f"CREATE MACRO u(t, i, c) AS "
                f"(hash({s}, t, i, c) % 1000003)::DOUBLE / 1000003")
    con.execute(f"CREATE MACRO k(t, i, c, n) AS "
                f"(hash({s}, t, i, c) % n::UBIGINT)::BIGINT")
    con.execute("CREATE MACRO g(t, i, c) AS "
                "sqrt(-2 * ln(1 - u(t, i, c || 'a'))) * "
                "cos(2 * pi() * u(t, i, c || 'b'))")

    n = {t: max(1, int(round(base * sf / 0.1))) for t, base in {
        "customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000, "users": 1500}.items()}

    def lst(xs):
        return "[" + ",".join(f"'{x}'" for x in xs) + "]"

    def write(table, sql):
        con.execute(f"COPY ({sql}) TO '{out_dir}/{table}.parquet' "
                    "(FORMAT PARQUET)")

    write("region", "SELECT i::INTEGER AS r_regionkey, "
          f"{lst(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}"
          "[i + 1] AS r_name FROM range(5) t(i)")
    write("nation", "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
          "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)")
    write("customer", f"""
      SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        k('c', i, 'n', 25)::INTEGER AS c_nationkey,
        round(-999.99 + u('c', i, 'b') * 10999.79, 2) AS c_acctbal,
        {lst(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])}
          [k('c', i, 'm', 5) + 1] AS c_mktsegment
      FROM range({n['customer']}) t(i)""")
    write("supplier", f"""
      SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        k('s', i, 'n', 25)::INTEGER AS s_nationkey,
        round(-999.99 + u('s', i, 'b') * 10999.79, 2) AS s_acctbal
      FROM range({n['supplier']}) t(i)""")
    write("part", f"""
      SELECT i AS p_partkey,
        {lst(ADJS)}[k('p', i, 'a', {len(ADJS)}) + 1] || ' ' ||
          {lst(NOUNS)}[k('p', i, 'o', {len(NOUNS)}) + 1] AS p_name,
        'Brand#' || (k('p', i, 'b', 25) + 1) AS p_brand,
        {lst(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])}
          [k('p', i, 't', 6) + 1] AS p_type,
        (k('p', i, 's', 50) + 1)::INTEGER AS p_size,
        round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
      FROM range({n['part']}) t(i)""")
    write("orders", f"""
      SELECT i AS o_orderkey, k('o', i, 'c', {n['customer']}) AS o_custkey,
        {lst('FOP')}[k('o', i, 's', 3) + 1] AS o_orderstatus,
        round(1000 + u('o', i, 'p') * 499000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(k('o', i, 'd', 2404)::INTEGER)
          AS o_orderdate,
        {lst(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])}
          [k('o', i, 'r', 5) + 1] AS o_orderpriority
      FROM range({n['orders']}) t(i)""")
    write("lineitem", f"""
      SELECT k('l', i, 'o', {n['orders']}) AS l_orderkey,
        k('l', i, 'p', {n['part']}) AS l_partkey,
        k('l', i, 's', {n['supplier']}) AS l_suppkey,
        (k('l', i, 'n', 7) + 1)::INTEGER AS l_linenumber,
        (k('l', i, 'q', 50) + 1)::DOUBLE AS l_quantity,
        round(900 + u('l', i, 'e') * 104099, 2) AS l_extendedprice,
        k('l', i, 'd', 11) / 100.0 AS l_discount,
        k('l', i, 't', 9) / 100.0 AS l_tax,
        {lst('ANR')}[k('l', i, 'f', 3) + 1] AS l_returnflag,
        {lst('FO')}[k('l', i, 'l', 2) + 1] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(k('l', i, 'h', 2498)::INTEGER)
          AS l_shipdate
      FROM range({n['lineitem']}) t(i)""")
    write("events", f"""
      SELECT i AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(k('e', i, 't', 2592000000000))
          AS ts,
        k('e', i, 'u', {n['users']}) AS user_id,
        {lst(['click', 'error', 'purchase', 'signup', 'view'])}
          [k('e', i, 'y', 5) + 1] AS event_type,
        round(-ln(1 - u('e', i, 'v')) * 50, 2) AS value,
        '{{"k": ' || k('e', i, 'k', 100) || '}}' AS props
      FROM range({n['events']}) t(i)""")
    write("documents", f"""
      WITH b AS (
        SELECT i, CASE WHEN i % 20 = 19 THEN i - 1 - k('d', i, 'b', least(i, 200))
                  ELSE i END AS base
        FROM range({n['documents']}) t(i)),
      w AS (
        SELECT i, base, array_to_string(list_transform(
            range(8 + k('d', base, 'n', 90)),
            p -> {lst(VOCAB)}[1 + CASE WHEN i <> base AND k('d', i, p, 12) = 0
                              THEN k('d', i, 'w' || p, {len(VOCAB)})
                              ELSE k('d', base, p, {len(VOCAB)}) END]), ' ') AS text
        FROM b)
      SELECT i AS doc_id, text,
        {lst(['de', 'en', 'es', 'fr', 'zh'])}[k('d', i, 'l', 5) + 1] AS lang,
        'src' || k('d', i, 's', 20) AS source,
        length(text)::BIGINT AS n_chars
      FROM w""")
    write("embeddings", f"""
      WITH b AS (
        SELECT i, CASE WHEN i % 50 = 49 THEN i - 1 - k('v', i, 'b', least(i, 20))
                  ELSE i END AS base
        FROM range({n['embeddings']}) t(i)),
      r AS (
        SELECT i, list_transform(range(64), d -> g('v', base, d::VARCHAR) +
            CASE WHEN i <> base THEN 0.02 * g('v', i, d::VARCHAR) ELSE 0 END)
          AS v
        FROM b)
      SELECT i AS vec_id,
        list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
          ::FLOAT[] AS embedding,
        k('v', i, 'l', 10)::INTEGER AS label
      FROM r""")
    con.close()
    return n


if __name__ == "__main__":
    import sys
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
