#!/usr/bin/env python3
"""Regenerate the committed oracle answers of the benchmark's workloads.

Usage (from the repository root): python3 benchmark/make_answers.py [workload...]

Picks each workload's keys, runs each key's DuckDB oracle SQL (dumped from
`SparkEntry.oracleSql`) over the workload's tables in `benchmark/data`, and
writes `benchmark/answers/<workload>.json`: per key the row count, the column
types and a SHA-256 over the values. Types are `tools/compare.py`'s `tclass`
and values its `to_pylist` rendering, encoded as `Answers.scala` encodes
Spark rows; the two encoders must change together.
"""
import calendar
import datetime
import hashlib
import json
import math
import os
import shutil
import struct
import sys
import time

import duckdb
import pyarrow.types as pt

import run

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import compare  # noqa: E402

# Oracles no DuckDB run finishes at sf0.1 (recursive doc-pair components).
NO_ORACLE_AT_SF01 = {"c17", "c51", "c75"}


def select(workload, keys):
    """The fixed key set of each workload."""
    if workload == "adhoc-cold":
        # every fourteenth key in name order: a sample of all three families
        return keys[::14]
    if workload == "nested-sf0.1":
        return [k for k in keys if k.startswith("a")]
    raise KeyError(workload)


def tjson(tc):
    return [tjson(x) for x in tc] if isinstance(tc, tuple) else tc


NAN_BITS = b"\x7f\xf8\x00\x00\x00\x00\x00\x00"


def encode(v, t, out):
    if v is None:
        out += b"N"
    elif pt.is_integer(t):
        out += b"i%d;" % v
    elif pt.is_floating(t):
        d = float(v)
        bits = NAN_BITS if math.isnan(d) else bytes(8) if d == 0.0 else struct.pack(">d", d)
        out += b"f" + bits.hex().encode()
    elif pt.is_decimal(t):
        out += b"d" + format(v, "f").encode() + b";"
    elif pt.is_boolean(t):
        out += b"b1" if v else b"b0"
    elif pt.is_string(t) or pt.is_large_string(t):
        b = v.encode("utf-8")
        out += b"s%d:" % len(b) + b
    elif pt.is_binary(t) or pt.is_large_binary(t):
        out += b"x%d:" % len(v) + v
    elif pt.is_date(t):
        out += b"D" + v.isoformat().encode() + b";"
    elif pt.is_timestamp(t):
        if hasattr(v, "value") and not isinstance(v, datetime.datetime):
            us = v.value // 1000
        else:
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            us = calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
        out += b"T%d;" % us
    elif pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        out += b"[%d:" % len(v)
        for x in v:
            encode(x, t.value_type, out)
        out += b"]"
    elif pt.is_struct(t):
        out += b"{"
        for f in t:
            encode(v[f.name], f.type, out)
        out += b"}"
    elif pt.is_map(t):
        out += b"<%d:" % len(v)
        for k, x in v:
            encode(k, t.key_type, out)
            encode(x, t.item_type, out)
        out += b">"
    else:
        b = str(v).encode("utf-8")
        out += b"?%d:" % len(b) + b


def answer(table):
    names = sorted(table.column_names)
    types = [[n, tjson(compare.tclass(table.schema.field(n).type))] for n in names]
    cols = [(table.column(n).to_pylist(), table.schema.field(n).type) for n in names]
    h = hashlib.sha256()
    buf = bytearray()
    for i in range(table.num_rows):
        for vals, t in cols:
            encode(vals[i], t, buf)
        buf += b"\n"
        if len(buf) > 1 << 16:
            h.update(buf)
            buf.clear()
    h.update(buf)
    return dict(rows=table.num_rows, types=json.dumps(types, separators=(",", ":"),
                                                      ensure_ascii=False),
                digest=h.hexdigest())


def main(workloads):
    os.chdir(run.ROOT)
    classes = run.build()
    os.makedirs(run.OUT, exist_ok=True)
    dump = os.path.join(run.OUT, "oracles.json")
    if run.jvm(classes, ["oracles", dump], os.path.join(run.OUT, "oracles.log")) != 0:
        sys.exit("make_answers: could not dump the oracle SQL")
    shutil.rmtree(run.WORK, ignore_errors=True)
    with open(dump) as fh:
        oracles = json.load(fh)
    for w in workloads:
        sf = run.WORKLOADS[w]["sf"]
        keys = select(w, sorted(oracles))
        if sf == "0.1":
            keys = [k for k in keys if k.split("_")[0] not in NO_ORACLE_AT_SF01]
        con = duckdb.connect()
        data = os.path.join(run.BENCH, "data", "sf" + sf)
        for t in compare.TABLES:
            p = os.path.join(data, t + ".parquet")
            if os.path.exists(p):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for k in keys:
            t0 = time.time()
            out[k] = answer(con.sql(oracles[k]).arrow())
            print(f"{w} {k}: {out[k]['rows']} rows, {time.time() - t0:.1f} s", file=sys.stderr)
        with open(os.path.join(run.BENCH, "answers", w + ".json"), "w") as fh:
            json.dump(dict(workload=w, sf=sf, keys=out), fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1:] or sorted(run.WORKLOADS))
