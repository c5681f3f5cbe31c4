"""Seeded input tables for the batch boards.

Writes the ten parquet tables the registered queries read (`region`,
`nation`, `customer`, `supplier`, `part`, `orders`, `lineitem`, `events`,
`documents`, `embeddings`) with the schemas and value ranges of the
repository's synthetic star schema, at 1/100 of its sf1 row counts and
500 documents / 500 embeddings. Every value is a function of the row id,
the column and the seed (DuckDB's `hash`), so the same seed always gives
the same files, whatever the thread count.
"""
import os

import duckdb

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}

WORDS = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, salt): uniform in [0, 1), a pure function of (seed, salt, row id)
    con.execute(f"CREATE MACRO u(i, salt) AS (hash(i, salt, {int(seed)}) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO n(i, salt, k) AS CAST(floor(u(i, salt) * k) AS BIGINT)")
    words = "[" + ",".join(f"'{w}'" for w in WORDS) + "]"
    tables = {
        "region": """SELECT CAST(i AS INTEGER) AS r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
            CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
            CAST(n(i, 1, 25) AS INTEGER) AS c_nationkey,
            round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][n(i, 3, 5) + 1] AS c_mktsegment
            FROM range({ROWS['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
            CAST(n(i, 11, 25) AS INTEGER) AS s_nationkey,
            round(-999.99 + u(i, 12) * 10999.98, 2) AS s_acctbal
            FROM range({ROWS['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
            ['blue','old','small','new','red','hot','large','cold'][n(i, 21, 8) + 1] || ' ' ||
            ['widget','gizmo','ring','gear','bolt','plate','anvil','rod'][n(i, 22, 8) + 1] AS p_name,
            'Brand#' || (n(i, 23, 25) + 1) AS p_brand,
            ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][n(i, 24, 6) + 1] AS p_type,
            CAST(n(i, 25, 50) + 1 AS INTEGER) AS p_size,
            round(900.0 + (i % 1000) * 0.1, 1) AS p_retailprice
            FROM range({ROWS['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, n(i, 31, {ROWS['customer']}) AS o_custkey,
            ['F','O','P'][n(i, 32, 3) + 1] AS o_orderstatus,
            round(1000.0 + u(i, 33) * 499000.0, 2) AS o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(CAST(n(i, 34, 2404) AS INTEGER)) AS o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][n(i, 35, 5) + 1] AS o_orderpriority
            FROM range({ROWS['orders']}) t(i)""",
        "lineitem": f"""SELECT n(i, 41, {ROWS['orders']}) AS l_orderkey,
            n(i, 42, {ROWS['part']}) AS l_partkey, n(i, 43, {ROWS['supplier']}) AS l_suppkey,
            CAST(n(i, 44, 7) + 1 AS INTEGER) AS l_linenumber,
            CAST(n(i, 45, 50) + 1 AS DOUBLE) AS l_quantity,
            round(900.0 + u(i, 46) * 104000.0, 2) AS l_extendedprice,
            n(i, 47, 11) / 100.0 AS l_discount, n(i, 48, 9) / 100.0 AS l_tax,
            ['A','N','R'][n(i, 49, 3) + 1] AS l_returnflag, ['F','O'][n(i, 50, 2) + 1] AS l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(CAST(n(i, 51, 2498) AS INTEGER)) AS l_shipdate
            FROM range({ROWS['lineitem']}) t(i)""",
        "events": f"""SELECT i AS event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(n(i, 61, 2592000000000)) AS ts,
            n(i, 62, 150) AS user_id,
            ['view','click','signup','purchase','error'][n(i, 63, 5) + 1] AS event_type,
            round(0.01 + u(i, 64) * 490.0, 2) AS value,
            '{{"k": ' || n(i, 65, 100) || '}}' AS props
            FROM range({ROWS['events']}) t(i)""",
        "documents": f"""SELECT doc_id, text,
            ['en','en','en','es','de','fr','zh'][n(doc_id, 72, 7) + 1] AS lang,
            'src' || n(doc_id, 73, 20) AS source, CAST(length(text) AS BIGINT) AS n_chars
            FROM (SELECT i AS doc_id, array_to_string(list_transform(range(10 + n(i, 71, 90)),
                j -> {words}[n(i * 1000 + j, 70, {len(WORDS)}) + 1]), ' ') AS text
                FROM range({ROWS['documents']}) t(i))""",
        "embeddings": f"""SELECT i AS vec_id,
            CAST(list_transform(range(64), j -> 0.2 * (u(i * 64 + j, 81) + u(i * 64 + j, 82)
                + u(i * 64 + j, 83) - 1.5)) AS FLOAT[]) AS embedding,
            CAST(n(i, 84, 10) AS INTEGER) AS label
            FROM range({ROWS['embeddings']}) t(i)""",
    }
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()
