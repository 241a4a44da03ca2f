#!/usr/bin/env python3
"""DuckDB side of the `queries` output check.

For each query, runs its oracle SQL (from `SparkEntry.oracleSql`) in DuckDB
over the same parquet tables and writes `name<TAB>rows<TAB>hash`, where the
hash sums, over all rows, the first 40 bits of the md5 of the row's values
rendered by the rules of `perfbench.Canon.value` and joined in sorted
column-name order. Runs outside every timed section.

    python3 perfbench/oracle.py <sf_dir> <oracle_sql.tsv> <out.tsv>
"""
import datetime
import decimal
import hashlib
import math
import os
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)


def num(d):
    r = CTX.plus(d)
    if r == 0:
        return "d0e0"
    sign, digits, exp = r.normalize(CTX).as_tuple()
    n = int("".join(map(str, digits)))
    return "d%s%de%d" % ("-" if sign else "", n, exp)


def value(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return num(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D%d" % (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def fingerprint(con, sql):
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = rel.fetchall()
    total = 0
    for row in rows:
        s = "\x1f".join(value(row[i]) for i in order)
        total += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big") >> 24
    return len(rows), total


def main(sf_dir, sql_path, out_path):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    lines = []
    with open(sql_path) as f:
        for line in f:
            if not line.strip():
                continue
            name, sql = line.rstrip("\n").split("\t", 1)
            sql = re.sub(r"\\(.)", lambda m: {"n": "\n", "t": "\t"}.get(m.group(1), m.group(1)), sql)
            n, h = fingerprint(con, sql)
            lines.append(f"{name}\t{n}\t{h}\n")
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        f.writelines(lines)
    os.replace(tmp, out_path)


if __name__ == "__main__":
    main(*sys.argv[1:4])
