#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>

Writes the workload's input into <out_dir> plus <out_dir>/record.json, the
ground truth the benchmark checks the program's outputs against. It never
imports the program (no DumpRenderer), so a change to the program cannot
change its input. The same (workload, seed) always gives
byte-identical files: all randomness comes from DuckDB's `hash()` of
(row, seed, column) or from numpy's PCG64 with a fixed seed.

  convert_fact         plain .sql, lineitem (16 cols) + orders (9 cols),
                       1,000-row extended INSERTs, ~150 MB
  ops_mix              the TPC-H-ish Parquet fixture the operator queries
                       read (fixed content; the seed only orders queries)
"""
import hashlib
import json
import os
import sys

import duckdb

# Words for string columns: quotes, backslashes, a statement terminator,
# control characters and multi-byte UTF-8 all have to survive the
# dump's escaping and the program's parser.
WORDS = ["carefully", "final", "deposits", "sleep", "quickly", "regular",
         "it's", "back\\slash", "semi;colon", '"quoted"', "Zürich",
         "naïve", "façade", "東京", "データ", "Ελλάδα", "😀", "tab\there",
         "line\nbreak", "ends\\", "pending", "furious", "ideas", "packages"]

# Column kinds, as the program maps MySQL types: int -> LongType,
# float -> DoubleType, ts -> TimestampType, str -> StringType.
KIND_OF_TYPE = {"BIGINT": "int", "INT": "int", "DECIMAL(12,0)": "int",
                "DOUBLE": "float", "DATETIME": "ts", "VARCHAR(40)": "str",
                "TEXT": "str", "CHAR(8)": "str"}


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def words_list():
    return "[" + ",".join(sql_str(w) for w in WORDS) + "]"


class Col:
    """One generated column: SQL for its typed value and its dump literal."""

    def __init__(self, name, mysql_type, value_sql, nullable=True):
        self.name, self.mysql_type = name, mysql_type
        self.kind = KIND_OF_TYPE[mysql_type]
        self.value_sql, self.nullable = value_sql, nullable


def rnd(k, n, seed):
    """Uniform integer in [0, n) for row `i`, column salt `k`."""
    return f"(hash(i::BIGINT, {seed}::BIGINT, {k}::BIGINT) % {n})::BIGINT"


def int_col(name, mysql_type, k, lo, hi, seed, nullable=True):
    return Col(name, mysql_type, f"({lo} + {rnd(k, hi - lo + 1, seed)})", nullable)


def money_col(name, mysql_type, k, lo_cents, hi_cents, seed):
    # value in cents; the typed value is cents / 100 as a double
    return Col(name, mysql_type, f"({lo_cents} + {rnd(k, hi_cents - lo_cents + 1, seed)})")


def ts_col(name, mysql_type, k, seed, whole_days=False):
    span = 7 * 365 * 86400
    secs = rnd(k, span, seed)
    if whole_days:
        secs = f"({secs} // 86400 * 86400)"
    return Col(name, mysql_type, f"(TIMESTAMP '1992-01-01 00:00:00' + to_seconds({secs}))")


def str_col(name, mysql_type, k, nwords, seed, prefix=None):
    if prefix is not None:
        return Col(name, mysql_type, f"('{prefix}' || {rnd(k, 100000, seed)}::VARCHAR)")
    parts = " || ' ' || ".join(
        f"{words_list()}[1 + {rnd(k * 16 + j, len(WORDS), seed)}]" for j in range(nwords))
    return Col(name, mysql_type, f"({parts})")


def literal_sql(col, v):
    """SQL expression rendering typed value expression `v` as a dump literal."""
    if col.kind == "int":
        return f"{v}::VARCHAR"
    if col.kind == "float":
        # v is cents; whole values print without a point (integer literal in
        # a DOUBLE column, which the parser widens)
        return (f"CASE WHEN {v} % 100 = 0 THEN ({v} // 100)::VARCHAR ELSE "
                f"(CASE WHEN {v} < 0 THEN '-' ELSE '' END) || (abs({v}) // 100)::VARCHAR"
                f" || '.' || lpad((abs({v}) % 100)::VARCHAR, 2, '0') END")
    if col.kind == "ts":
        return f"'''' || strftime({v}, '%Y-%m-%d %H:%M:%S') || ''''"
    esc = v
    for a, b in [("\\", "\\\\"), ("'", "\\'"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r")]:
        esc = f"replace({esc}, {sql_str(a)}, {sql_str(b)})"
    return f"'''' || {esc} || ''''"


def typed_sql(col, v):
    return f"({v})::DOUBLE / 100.0" if col.kind == "float" else v


def canon_sql(name, kind):
    """Canonical typed form of a column for the content digest, the same on
    the generator's values and on the Parquet the program writes."""
    q = '"' + name + '"'
    return {"int": f"{q}::BIGINT", "float": f"{q}::DOUBLE",
            "ts": f"epoch_us({q})", "str": f"{q}::VARCHAR"}[kind]


def digest_sql(relation, columns):
    """Order-independent content digest: row count and the sum of per-row
    hashes of the canonical column values (NULLs hash too)."""
    h = "hash(" + ", ".join(canon_sql(n, k) for n, k in columns) + ")"
    return f"SELECT count(*)::BIGINT, coalesce(sum({h}::HUGEINT), 0)::VARCHAR FROM {relation}"


class DumpWriter:
    def __init__(self, path):
        self.path = path
        self.f = open(path, "wb")
        self.plain_bytes = 0

    def write(self, text):
        b = text.encode("utf-8")
        self.plain_bytes += len(b)
        self.f.write(b)

    def close(self):
        self.f.close()
        sha = hashlib.sha256()
        with open(self.path, "rb") as fh:
            for chunk in iter(lambda: fh.read(1 << 20), b""):
                sha.update(chunk)
        return sha.hexdigest()


def table_rows(con, name, cols, n, seed, null_every):
    """Materialize table `name` (typed values) with `n` rows in DuckDB."""
    sel = []
    for j, c in enumerate(cols):
        v = c.value_sql
        if c.nullable and null_every:
            v = f"CASE WHEN {rnd(1000 + j, null_every, seed)} = 0 THEN NULL ELSE {v} END"
        sel.append(f"{v} AS \"{c.name}\"")
    con.execute(f"CREATE OR REPLACE TABLE \"{name}\" AS SELECT i, {', '.join(sel)} "
                f"FROM range({n}) t(i)")


def insert_statements(con, table, dump_name, cols, per_stmt=1000):
    """mysqldump-style extended INSERTs for `table`, in row order."""
    lits = []
    for c in cols:
        q = '"' + c.name + '"'
        lits.append(f"CASE WHEN {q} IS NULL THEN 'NULL' ELSE {literal_sql(c, q)} END")
    row = "'(' || " + " || ',' || ".join(lits) + " || ')'"
    rows = con.execute(
        f"SELECT string_agg({row}, ',' ORDER BY i) FROM \"{table}\" "
        f"GROUP BY i // {per_stmt} ORDER BY i // {per_stmt}").fetchall()
    return [f"INSERT INTO `{dump_name}` VALUES {r[0]};\n" for r in rows]


def create_statement(dump_name, cols, pk):
    lines = []
    for c in cols:
        null = " NOT NULL" if not c.nullable else " DEFAULT NULL"
        lines.append(f"  `{c.name}` {c.mysql_type.lower()}{null}")
    lines.append(f"  PRIMARY KEY (`{pk}`)")
    return (f"DROP TABLE IF EXISTS `{dump_name}`;\n"
            f"/*!40101 SET @saved_cs_client     = @@character_set_client */;\n"
            f"/*!50503 SET character_set_client = utf8mb4 */;\n"
            f"CREATE TABLE `{dump_name}` (\n" + ",\n".join(lines) +
            "\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;\n"
            "/*!40101 SET character_set_client = @saved_cs_client */;\n\n")


HEADER = ("-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n--\n"
          "-- Host: localhost    Database: bench\n"
          "-- ------------------------------------------------------\n"
          "/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;\n"
          "/*!50503 SET NAMES utf8mb4 */;\n"
          "/*!40014 SET @OLD_UNIQUE_CHECKS=@@UNIQUE_CHECKS, UNIQUE_CHECKS=0 */;\n\n")
FOOTER = "/*!40101 SET CHARACTER_SET_CLIENT=@OLD_CHARACTER_SET_CLIENT */;\n\n-- Dump completed\n"


def table_section(w, con, key, dump_name, cols, pk):
    w.write(create_statement(dump_name, cols, pk))
    w.write(f"LOCK TABLES `{dump_name}` WRITE;\n"
            f"/*!40000 ALTER TABLE `{dump_name}` DISABLE KEYS */;\n")
    for s in insert_statements(con, key, dump_name, cols):
        w.write(s)
    w.write(f"/*!40000 ALTER TABLE `{dump_name}` ENABLE KEYS */;\nUNLOCK TABLES;\n\n")


def table_record(con, key, cols):
    columns = [[c.name, c.kind] for c in cols]
    typed = ", ".join(f"{typed_sql(c, chr(34) + c.name + chr(34))} AS \"{c.name}\"" for c in cols)
    n, h = con.execute(digest_sql(f"(SELECT {typed} FROM \"{key}\")", columns)).fetchone()
    return {"rows": n, "digest": [n, h], "columns": columns}


def gen_fact(seed, out):
    con = duckdb.connect()
    s = seed
    lineitem = [
        # order key and line number follow mysqldump's primary-key order
        Col("l_orderkey", "BIGINT", "(i // 4)", nullable=False),
        int_col("l_partkey", "BIGINT", 2, 1, 200000, s),
        int_col("l_suppkey", "INT", 3, 1, 10000, s),
        Col("l_linenumber", "INT", "(i % 4 + 1)", nullable=False),
        int_col("l_quantity", "DECIMAL(12,0)", 5, 1, 50, s),
        money_col("l_extendedprice", "DOUBLE", 6, 90000, 10500000, s),
        money_col("l_discount", "DOUBLE", 7, 0, 10, s),
        money_col("l_tax", "DOUBLE", 8, -500, 499, s),
        str_col("l_returnflag", "CHAR(8)", 9, 1, s),
        str_col("l_linestatus", "CHAR(8)", 10, 1, s),
        ts_col("l_shipdate", "DATETIME", 11, s),
        ts_col("l_commitdate", "DATETIME", 12, s),
        ts_col("l_receiptdate", "DATETIME", 13, s),
        str_col("l_shipinstruct", "VARCHAR(40)", 14, 2, s),
        str_col("l_shipmode", "VARCHAR(40)", 15, 0, s, prefix="MODE-"),
        str_col("l_comment", "TEXT", 16, 4, s),
    ]
    orders = [
        Col("o_orderkey", "BIGINT", "i", nullable=False),
        int_col("o_custkey", "INT", 22, 1, 150000, s),
        str_col("o_orderstatus", "CHAR(8)", 23, 1, s),
        money_col("o_totalprice", "DOUBLE", 24, 100000, 50000000, s),
        ts_col("o_orderdate", "DATETIME", 25, s, whole_days=True),
        str_col("o_orderpriority", "VARCHAR(40)", 26, 0, s, prefix="PRIO-"),
        str_col("o_clerk", "VARCHAR(40)", 27, 0, s, prefix="Clerk#"),
        int_col("o_shippriority", "INT", 28, -5, 5, s),
        str_col("o_comment", "TEXT", 29, 5, s),
    ]
    n_line = 640_000
    table_rows(con, "lineitem", lineitem, n_line, s, 20)
    table_rows(con, "orders", orders, n_line // 4, s, 20)
    path = os.path.join(out, "dump.sql")
    w = DumpWriter(path)
    w.write(HEADER)
    tables = {}
    for key, cols, pk in [("orders", orders, "o_orderkey"), ("lineitem", lineitem, "l_orderkey`,`l_linenumber")]:
        table_section(w, con, key, key, cols, pk)
        tables[key] = table_record(con, key, cols)
    w.write(FOOTER)
    sha = w.close()
    return {"input": "dump.sql", "sha256": sha, "uncompressed_bytes": w.plain_bytes,
            "tables": tables, "orphan_inserts": 0}


def gen_ops(out):
    """The TPC-H-ish fixture (schemas and value domains as the repository's
    sf0.01 test tables) for the operator queries. Content is fixed; only the
    query order depends on the benchmark seed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.Generator(np.random.PCG64(42))
    n_cust, n_supp, n_part, n_ord, n_line, n_ev, n_doc, n_emb = \
        1500, 100, 2000, 15000, 60000, 10000, 500, 500

    def cents(lo, hi, n):
        return rng.integers(lo, hi, n) / 100.0

    def day_ts(start, n_days, n, unit):
        d = np.datetime64(start, "D") + rng.integers(0, n_days, n).astype("timedelta64[D]")
        return pa.array(d.astype(f"datetime64[{unit}]"), pa.timestamp(unit))

    def pick(vals, n):
        return pa.array([vals[k] for k in rng.integers(0, len(vals), n)], pa.string())

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{k}" for k in range(25)],
                            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": cents(-99999, 1000000, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": cents(-99999, 1000000, n_supp)})
    adj = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
    noun = ["ring", "bolt", "widget", "gear", "gizmo", "plate", "anvil", "nut"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pick([f"Brand#{k}" for k in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": [900 + (k % 1000) / 10.0 for k in range(n_part)]})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": cents(100000, 50000000, n_ord),
        "o_orderdate": day_ts("1995-01-01", 2400, n_ord, "ms"),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": cents(90000, 10500000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": day_ts("1995-01-02", 2500, n_line, "ms")})
    gaps = rng.integers(1, 500_000_000, n_ev)  # microseconds between events
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": cents(1, 49003, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    vocab = ["a", "the", "data", "spark", "query", "table", "row", "column", "scan",
             "filter", "join", "sort", "hash", "group", "agg", "window", "stream",
             "batch", "merge", "key", "value", "part", "line", "order", "customer",
             "vector", "fast", "slow", "big", "small"]
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(vocab[k] for k in rng.integers(0, len(vocab), int(rng.integers(8, 90)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": pa.array([f"src{k % 20}" for k in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    sha = hashlib.sha256()
    for name in sorted(t):
        p = os.path.join(out, f"{name}.parquet")
        pq.write_table(t[name], p, compression="snappy")
        with open(p, "rb") as fh:
            sha.update(name.encode() + b"\0" + fh.read())
    size = sum(os.path.getsize(os.path.join(out, f"{n}.parquet")) for n in t)
    return {"input": ".", "sha256": sha.hexdigest(), "uncompressed_bytes": size,
            "tables": {n: {"rows": t[n].num_rows} for n in sorted(t)}, "orphan_inserts": 0}


def main():
    workload, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    os.makedirs(out, exist_ok=True)
    if workload == "convert_fact":
        rec = gen_fact(seed, out)
    elif workload == "ops_mix":
        rec = gen_ops(out)
    else:
        sys.exit(f"unknown workload {workload}")
    rec.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "record.json"), "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
