#!/usr/bin/env python3
"""Cross-check the benchmark's query outputs against the engine's oracle
SQL in DuckDB, and (with --write) pin their fingerprints.

Usage (from the root of a checkout):
  python3 perfbench/crosscheck.py            # compare only
  python3 perfbench/crosscheck.py --write    # and rewrite perfbench/expected.json

Builds like run.py, asks the engine for every benchmark query's result
fingerprint and its `SparkEntry.oracleSql` text, runs that SQL in DuckDB
over the same generated tables, and fingerprints the DuckDB result the
same way as graftbench.Canon. Only queries on which both agree are pinned.
"""
import decimal
import hashlib
import json
import math
import os
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()
CTX = decimal.Context(prec=200)
NINE = decimal.Decimal(1).scaleb(-9)


def type_class(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "dec"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    raise ValueError(f"no canonical form for result type {t}")


def canon_float(f):
    if math.isnan(f):
        return "nan"
    if math.isinf(f):
        return "inf" if f > 0 else "-inf"
    s = format(decimal.Decimal(f).quantize(NINE, rounding=decimal.ROUND_HALF_EVEN,
                                           context=CTX), "f")
    if s.startswith("-") and set(s) <= set("-0."):
        s = s[1:]
    return s


def canon(v, t):
    if v is None:
        return "null"
    kind = type_class(t)
    if kind == "float":
        return canon_float(float(v))
    if kind == "int":
        return str(int(v))
    if kind == "dec":
        return format(v, "f")
    if kind == "bool":
        return "true" if v else "false"
    return str(v)


def fingerprint(tbl):
    cols = sorted(tbl.column_names)
    types = [tbl.schema.field(c).type for c in cols]
    header = "|".join(f"{c}:{type_class(t)}" for c, t in zip(cols, types))
    data = [tbl.column(c).to_pylist() for c in cols]
    lines = sorted("|".join(canon(data[i][r], types[i]) for i in range(len(cols)))
                   for r in range(tbl.num_rows))
    body = header + "\n" + "\n".join(lines)
    return hashlib.sha256(body.encode("utf-8")).hexdigest(), tbl.num_rows


def duck(data):
    con = duckdb.connect()
    for t in TABLES:
        tbl = pq.read_table(os.path.join(data, f"{t}.parquet"))
        if t == "events" and pa.types.is_int64(tbl.schema.field("ts").type):
            # the engine stores event time as epoch nanos; DuckDB's oracle
            # SQL expects a timestamp column
            i = tbl.schema.get_field_index("ts")
            tbl = tbl.set_column(i, "ts", tbl.column("ts").cast(pa.timestamp("ns")))
        con.register(t, tbl)
    return con


def main():
    write = "--write" in sys.argv[1:]
    classpath, data = bench.build()
    work = os.path.join(bench.BUILD, "crosscheck")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    dump = os.path.join(work, "dump.json")
    bench.run_checked(bench.java_cmd(classpath, work, ["dump", data, dump]),
                      bench.BUILD_TIMEOUT_S, os.path.join(work, "dump.log"))
    entries = json.load(open(dump))
    con = duck(data)
    pinned, bad = {}, 0
    for q in sorted(entries):
        e = entries[q]
        try:
            fp, n = fingerprint(con.execute(e["sql"]).arrow())
        except Exception as ex:  # noqa: BLE001 — reported, counted as a mismatch
            fp, n = f"error: {ex}", -1
        ok = fp == e["fingerprint"] and n == e["rows"]
        bad += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {q:32s} rows {e['rows']:6d} duckdb {n:6d} "
              f"{e['fingerprint'][:12]} {fp[:12]}")
        if ok:
            pinned[q] = {"fingerprint": fp, "rows": n}
    print(f"{len(entries) - bad} agree / {bad} differ")
    if write:
        with open(os.path.join(bench.HERE, "expected.json"), "w") as fh:
            json.dump(pinned, fh, indent=1, sort_keys=True)
            fh.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
