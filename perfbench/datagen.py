"""Deterministic generator for the benchmark's base tables.

Writes the ten parquet tables the query catalog reads (`region nation
customer supplier part orders lineitem events documents embeddings`)
with the same column names, physical types and value domains as the
engine's TPC-H-ish test data, at any scale factor. Every value is a
function of (seed, table, row, column) through DuckDB's `hash`, so the
same seed and scale give byte-identical inputs on every run.

Usage: python3 perfbench/datagen.py <outDir> <sf> <seed>
"""
import os
import sys

import duckdb

VOCAB = ("query row stream the batch sort value hash filter big data dup "
         "spark line small fast group customer part column order scan a "
         "slow agg key window table merge vector join").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def sql_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def table_sql(sf, seed):
    """name -> SELECT producing the table. `u(i, salt)` is a uniform draw
    in [0, 1); `pick(list, i, salt)` a uniform element of a list."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(200, int(20_000 * sf))

    def u(i, salt):
        return f"(hash({seed}, '{salt}', {i}) % 1000000000) / 1e9"

    def ui(i, salt, n):
        return f"CAST(hash({seed}, '{salt}', {i}) % {n} AS BIGINT)"

    def pick(xs, i, salt):
        return f"{sql_list(xs)}[1 + {ui(i, salt, len(xs))}]"

    ts = "TIMESTAMP '1995-01-01' + to_days(CAST({} AS INTEGER))"
    return {
        "region": f"""
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   {sql_list(REGIONS)}[i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey,
                   'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey,
                   'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
                   CAST({ui('i', 'cn', 25)} AS INTEGER) AS c_nationkey,
                   round(-1000 + 11000 * {u('i', 'ca')}, 2) AS c_acctbal,
                   {pick(SEGMENTS, 'i', 'cs')} AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey,
                   'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
                   CAST({ui('i', 'sn', 25)} AS INTEGER) AS s_nationkey,
                   round(-1000 + 11000 * {u('i', 'sa')}, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   {pick(PART_ADJ, 'i', 'pa')} || ' ' || {pick(PART_NOUN, 'i', 'pn')}
                     AS p_name,
                   'Brand#' || (1 + {ui('i', 'pb', 25)}) AS p_brand,
                   {pick(PART_TYPES, 'i', 'pt')} AS p_type,
                   CAST(1 + {ui('i', 'ps', 50)} AS INTEGER) AS p_size,
                   round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   {ui('i', 'oc', n_cust)} AS o_custkey,
                   {pick(['F', 'O', 'P'], 'i', 'os')} AS o_orderstatus,
                   round(1000 + 499000 * {u('i', 'op')}, 2) AS o_totalprice,
                   {ts.format(ui('i', 'od', 2405))} AS o_orderdate,
                   {pick(PRIORITIES, 'i', 'oq')} AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""
            SELECT {ui('i', 'lo', n_ord)} AS l_orderkey,
                   {ui('i', 'lp', n_part)} AS l_partkey,
                   {ui('i', 'ls', n_supp)} AS l_suppkey,
                   CAST(1 + {ui('i', 'ln', 7)} AS INTEGER) AS l_linenumber,
                   CAST(1 + {ui('i', 'lq', 50)} AS DOUBLE) AS l_quantity,
                   round(901 + 104096 * {u('i', 'le')}, 2) AS l_extendedprice,
                   round(0.1 * {u('i', 'ld')}, 2) AS l_discount,
                   round(0.08 * {u('i', 'lt')}, 2) AS l_tax,
                   {pick(['A', 'N', 'R'], 'i', 'lr')} AS l_returnflag,
                   {pick(['F', 'O'], 'i', 'll')} AS l_linestatus,
                   {ts.format('1 + ' + ui('i', 'lh', 2499))} AS l_shipdate
            FROM range({n_line}) t(i)""",
        # ts strictly increases with event_id (exponential gaps spread over
        # 30 days), as a click stream would
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(CAST(
                     sum(-ln(1 - {u('i', 'eg')}) * {30 * 86400e6 / n_evt})
                       OVER (ORDER BY i) AS BIGINT)) AS ts,
                   {ui('i', 'eu', n_user)} AS user_id,
                   {pick(EVENT_TYPES, 'i', 'et')} AS event_type,
                   round(0.01 - 50 * ln(1 - {u('i', 'ev')}), 2) AS value,
                   '{{"k": ' || {ui('i', 'ek', 100)} || '}}' AS props
            FROM range({n_evt}) t(i)""",
        # bag-of-words texts; one doc in 500 is an exact copy of an earlier
        # one so the exact-dup paths have work
        "documents": f"""
            WITH base AS (
              SELECT i, array_to_string(list_transform(
                       range(8 + {ui('i', 'dn', 93)}),
                       j -> {sql_list(VOCAB)}[1 + CAST(hash({seed}, 'dw', i, j)
                                                % {len(VOCAB)} AS BIGINT)]), ' ')
                       AS text
              FROM range({n_doc}) t(i))
            SELECT b.i AS doc_id, coalesce(src.text, b.text) AS text,
                   {pick(LANGS, 'b.i', 'dl')} AS lang,
                   'src' || (b.i % 20) AS source,
                   CAST(length(coalesce(src.text, b.text)) AS BIGINT) AS n_chars
            FROM base b LEFT JOIN base src
              ON {ui('b.i', 'dd', 500)} = 0 AND b.i > 0
             AND src.i = {ui('b.i', 'dc', n_doc)} % b.i""",
        # unit vectors from Box-Muller normals
        "embeddings": f"""
            WITH raw AS (
              SELECT i, list_transform(range({EMBED_DIM}), j ->
                       sqrt(-2 * ln(1 - (hash({seed}, 'ea', i, j) % 1000000000) / 1e9))
                       * cos(2 * pi() * (hash({seed}, 'eb', i, j) % 1000000000) / 1e9))
                       AS v
              FROM range({n_vec}) t(i))
            SELECT i AS vec_id,
                   CAST(list_transform(v, x -> x / sqrt(list_sum(
                     list_transform(v, y -> y * y)))) AS FLOAT[]) AS embedding,
                   CAST({ui('i', 'el', 10)} AS INTEGER) AS label
            FROM raw""",
    }


def generate(out_dir, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # one thread keeps the output row order, and so the files, identical
    con.execute("SET threads TO 1")
    for name, sql in table_sql(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{path}' "
                    "(FORMAT parquet, COMPRESSION snappy)")
    con.close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
