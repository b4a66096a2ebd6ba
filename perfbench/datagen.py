"""Seeded input tables for the benchmark, written with DuckDB.

Every value is a hash of (row, seed, column salt), so one seed always
gives the same files. Schemas follow the repository's TPC-H-ish tables
(FIXTURES.md): `lineitem`, `documents` and `embeddings`.
"""

import duckdb


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def lineitem(path, seed, rows, parts, supps):
    """`rows` line items, four per order. Part keys are skewed towards low
    keys (square of a uniform draw)."""
    _con().execute(f"""
        COPY (
          SELECT
            (i // 4 + 1)::BIGINT AS l_orderkey,
            (1 + floor({parts} * pow((hash(i, {seed}, 1) % 1000000) / 1000000.0, 2)))::BIGINT
              AS l_partkey,
            (1 + hash(i, {seed}, 2) % {supps})::BIGINT AS l_suppkey,
            (i % 4 + 1)::INTEGER AS l_linenumber,
            (1 + hash(i, {seed}, 3) % 50)::DOUBLE AS l_quantity,
            round((1 + hash(i, {seed}, 3) % 50) * (900 + hash(i, {seed}, 4) % 1100) / 10.0, 2)
              AS l_extendedprice,
            (hash(i, {seed}, 5) % 11) / 100.0 AS l_discount,
            (hash(i, {seed}, 6) % 9) / 100.0 AS l_tax,
            ['A', 'N', 'R'][(1 + hash(i, {seed}, 7) % 3)::BIGINT] AS l_returnflag,
            ['F', 'O'][(1 + hash(i, {seed}, 8) % 2)::BIGINT] AS l_linestatus,
            TIMESTAMPTZ '1992-01-01 00:00:00+00'
              + to_days((hash(i, {seed}, 9) % 2500)::INTEGER) AS l_shipdate
          FROM range({rows}) t(i)
        ) TO '{path}' (FORMAT PARQUET)""")


def documents(path, seed, rows):
    """Documents of eight random hex words each: any two share no
    shingles, so the only near-duplicates are the twins a workload plants."""
    _con().execute(f"""
        COPY (
          SELECT i::BIGINT AS doc_id,
            array_to_string(list_transform(range(8),
              j -> md5(concat('{seed}-', i, '-', j))), ' ') AS text,
            ['en', 'de', 'fr', 'zh'][(1 + hash(i, {seed}, 1) % 4)::BIGINT] AS lang,
            concat('src', hash(i, {seed}, 2) % 5) AS source,
            (8 * 33 - 1)::BIGINT AS n_chars
          FROM range({rows}) t(i)
        ) TO '{path}' (FORMAT PARQUET)""")


def embeddings(path, seed, rows, dim=64):
    """Random `dim`-dimensional vectors (pairwise cosine far below 0.999)."""
    _con().execute(f"""
        COPY (
          SELECT i::BIGINT AS vec_id,
            list_transform(range({dim}),
              j -> ((hash(i, j, {seed}) % 20001)::DOUBLE - 10000.0) / 10000.0)::FLOAT[]
              AS embedding,
            (hash(i, {seed}, 1) % 10)::INTEGER AS label
          FROM range({rows}) t(i)
        ) TO '{path}' (FORMAT PARQUET)""")
